"""Dictionary+regex mention tagger.

Stands in for the reference's PubTator-provided NER annotations
(anns.txt TSV `pmid, start, end, mention, type, id, section`, written
src/renet2/parse_data.py:424, read src/renet2/raw.py:721-753). The
north_star requires "a dictionary + regex tagger equivalent to
GNormPlus/DNorm-style NER inputs".

:func:`tag_mentions` is pure DataFrame: tokenize natively
(split/posexplode, whole-stage codegen) then broadcast-hash-join
token==surface against the entity dictionary. The corpus side is
never shuffled; the dictionary side is O(MB) and broadcast. This is
the 100 TB path. Multi-word surfaces go through :func:`tag_multiword`.

Output schema (FIXTURES.md §6, reference anns.txt analogue):
    mentions(doc_id, sent_no, tok_no, start, end, mention, type, raw_id)
start/end are char offsets into the whole reconstructed doc text
(reference uses doc-level offsets, parse_data.py:242-248); sent_no is
the section/sentence index (they coincide in this corpus — one derived
sentence per text span).

Raw punctuated text takes one Python pass, :func:`raw_tokens`: split
sentences, tokenize, locate each token in the text and keep its span
only where the text there equals the token (reference F5,
parse_data.py:137-144). :func:`tag_mentions_raw` tags its located
tokens. Span-derived mentions (PubTator/BioC ingest) are checked by
:func:`verify_mentions`, which drops rows whose doc substring !=
mention.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dictionaries import entity_dict_df


def tokenize_sentences(sentences: DataFrame) -> DataFrame:
    """sentences(doc_id, sent_no, sentence, offset) ->
    tokens(doc_id, sent_no, tok_no, token [, sentence, offset]).

    Whitespace tokenizer (the corpus is pre-normalized; the
    reference's 50-rule punctuation tokenizer lives in
    functions/text.py and is applied by raw_tokens for raw text —
    reference: src/renet2/utils/tokenizer.py:16-110).

    Narrow posexplode, O(tokens) allocation. Char offsets are NOT
    computed here: a per-token prefix fold is O(T^2) allocation and
    measurably collapses scaling at high core counts (GC-bound at 32
    threads); offsets are attached downstream to mention rows only
    (:func:`mention_offsets`) — a small fraction of tokens.
    """
    toks = F.split(F.col("sentence"), " ")
    return sentences.select(
        "doc_id",
        "sent_no",
        "offset",
        "sentence",
        F.posexplode(toks).alias("tok_no", "token"),
    )


def mention_offsets(tagged: DataFrame) -> DataFrame:
    """Attach global char start/end to tagged token rows that still
    carry (sentence, offset, tok_no): start = sentence offset + length
    of the ' '-joined token prefix. O(T) per mention row."""
    prefix = F.array_join(
        F.slice(F.split(F.col("sentence"), " "), 1, F.col("tok_no")), " "
    )
    start = F.col("offset") + F.when(F.col("tok_no") == 0, 0).otherwise(
        F.length(prefix) + 1
    )
    return (
        tagged.withColumn("start", start.cast("int"))
        .withColumn("end", (start + F.length("token")).cast("int"))
        .drop("sentence", "offset")
    )


def tag_mentions(sentences: DataFrame, spark: SparkSession,
                 entity_dict: DataFrame | None = None,
                 with_offsets: bool = True) -> DataFrame:
    """Token-level dictionary tagger: broadcast join tokens x dict.

    with_offsets=False (r7, guide §2.3) omits the char start/end
    columns: consumers that never read them (the neural scoring chain
    keys everything by sent_no/tok_no) skip the per-mention prefix
    string build of mention_offsets AND keep the sentence/offset
    columns out of the token join entirely."""
    d = entity_dict if entity_dict is not None else entity_dict_df(spark)
    toks = tokenize_sentences(sentences)
    if not with_offsets:
        toks = toks.drop("sentence", "offset")
    tagged = toks.join(
        F.broadcast(d), F.lower(toks.token) == d.surface, "inner"
    )
    if not with_offsets:
        return tagged.select(
            "doc_id",
            "sent_no",
            "tok_no",
            F.col("token").alias("mention"),
            "type",
            "raw_id",
        )
    return mention_offsets(tagged).select(
        "doc_id",
        "sent_no",
        "tok_no",
        "start",
        "end",
        F.col("token").alias("mention"),
        "type",
        "raw_id",
    )


def tag_multiword(documents: DataFrame, spark: SparkSession) -> DataFrame:
    """Multi-token (bigram) dictionary tagger over the DOC-level word
    stream — unlike the per-sentence token tagger it can emit spans
    that straddle a sentence boundary (token 9 -> 10), which is exactly
    what the cross-sentence drop (anncleaner.drop_cross_sentence,
    reference ann_utils.py:13-23) exists to remove, and spans that
    overlap single-token mentions (overlap merge, sequence_utils.py:
    42-80). Row-local bigram fan-out from the word array (narrow), then
    a broadcast dictionary join — same scale shape as tag_mentions.

    Output schema matches tag_mentions; sent_no/tok_no are the FIRST
    token's coordinates (reference anchors a tag at its begin token,
    ann_utils.py:209-226)."""
    from ..corpus import SENT_WORDS
    from ..dictionaries import MULTIWORD_DISEASE
    from ..session import local_table

    mw_dict = local_table(
        spark,
        [(s, "Disease", r) for s, (r, _c) in MULTIWORD_DISEASE.items()],
        "surface string, type string, raw_id string",
    )
    words = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - 2, F.lit(0))),
        lambda i: F.struct(
            i.cast("int").alias("k"),
            # F.get is 0-indexed and null (not ANSI error) out of bounds
            F.get(words, i).alias("t1"),
            F.get(words, i + 1).alias("t2"),
            # char offset of token i in the ' '-joined text
            F.when(i == 0, F.lit(0))
            .otherwise(F.length(F.array_join(F.slice(words, 1, i), " ")) + 1)
            .cast("int")
            .alias("start"),
        ),
    )
    tok = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(grams).alias("g"),
    ).filter(F.col("g.t2").isNotNull())
    surface = F.lower(F.concat_ws(" ", F.col("g.t1"), F.col("g.t2")))
    return (
        tok.join(F.broadcast(mw_dict), surface == mw_dict.surface, "inner")
        .select(
            "doc_id",
            (F.col("g.k") / SENT_WORDS).cast("int").alias("sent_no"),
            F.pmod(F.col("g.k"), F.lit(SENT_WORDS)).cast("int").alias("tok_no"),
            F.col("g.start").alias("start"),
            (
                F.col("g.start")
                + F.length("g.t1") + F.lit(1) + F.length("g.t2")
            ).cast("int").alias("end"),
            F.concat_ws(" ", F.col("g.t1"), F.col("g.t2")).alias("mention"),
            "type",
            "raw_id",
        )
    )


def verify_mentions(mentions: DataFrame, documents: DataFrame) -> DataFrame:
    """Drop mentions whose doc-text substring mismatches (reference F5,
    parse_data.py:137-144 / 287-295). Joins the doc text back on
    doc_id with a plain join (no broadcast hint: the text side is the
    whole corpus), so the planner picks the strategy by size."""
    docs = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return (
        mentions.join(docs, "doc_id")
        .filter(
            F.expr("substring(text, start + 1, end - start)") == F.col("mention")
        )
        .drop("text")
    )


_RAW_TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("sent_no", T.IntegerType()),
        T.StructField("tok_no", T.IntegerType()),
        T.StructField("token", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
    ]
)


def locate(sentence: str, tok: str, cur: int) -> int:
    """First boundary-valid occurrence of tok in sentence at/after cur,
    else -1. Tokens appear in source order and the tokenizer only
    inserts spaces or rewrites a closed clitic/expansion set, so a
    forward cursor scan finds each token's source span.

    Boundary rule (round-3 ADVICE): an alnum token edge must not touch
    an alnum source char, so a fragment the tokenizer REWROTE out of a
    longer word ('Can'/'not' from 'Cannot', 'do'/"n't" from "don't")
    never gets a partial-word span that the text check would wrongly
    pass; punctuation edges are exempt (',' between digits, clitic
    "'s" after its host word are real occurrences).

    Bounded retry (r4 ADVICE): boundary-failed retries may cross at
    most ONE whitespace GAP (a maximal run of whitespace — multi-
    space/tab separators count once) beyond the first raw find. A
    legitimate retry happens when the first find lands inside the
    immediately adjacent longer word ('a' inside 'banana a'),
    which never skips more than one gap; an occurrence further
    away is almost surely a DIFFERENT occurrence of a tokenizer-
    REWRITTEN fragment ('can' from 'cannot' matching a later
    standalone 'can') — accepting it would advance the cursor past
    every intervening token and silently drop their mentions.

    No-complete-token-skip (r5 ADVICE): the one-gap bound alone
    still accepted a wrong occurrence exactly one gap away when
    the first find sat at a word START and its word was longer
    ('can' at the head of 'cannot can' retrying onto the
    standalone 'can'); a retry may therefore never move past the
    END of the word containing the first find when that find was
    word-initial — doing so skips a complete source token. In the
    legitimate adjacent-word case the first find is mid-word, so
    the rule never fires there. Rejected tokens resolve to -1
    and leave the cursor anchored for the tokens that follow."""
    first = sentence.find(tok, cur)
    if first >= 0:
        first_at_word_start = first == 0 or sentence[first - 1].isspace()
        wend = first
        while wend < len(sentence) and not sentence[wend].isspace():
            wend += 1
    pos = first
    while pos >= 0:
        if first_at_word_start and pos >= wend:
            return -1
        gaps = 0
        in_ws = False
        for ch in sentence[first:pos]:
            if ch.isspace():
                if not in_ws:
                    gaps += 1
                    in_ws = True
            else:
                in_ws = False
        if gaps > 1:
            return -1
        end = pos + len(tok)
        ok_lead = not (
            tok[0].isalnum() and pos > 0 and sentence[pos - 1].isalnum()
        )
        ok_trail = not (
            tok[-1].isalnum()
            and end < len(sentence)
            and sentence[end].isalnum()
        )
        if ok_lead and ok_trail:
            return pos
        pos = sentence.find(tok, pos + 1)
    return -1


def raw_tokens(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> token rows (doc_id, sent_no, tok_no,
    token, start, end) with REAL char offsets into the raw text, in one
    Arrow-batched pass. Per batch, split_tokenize does steps 1-2:

    1. split_sentences (the reference's snt_split automaton) cuts each
       text into exact substrings, so a sentence's char offset is the
       running sum of the lengths before it;
    2. tokenize_series (the reference-parity rule chain,
       utils/tokenizer.py:16-110) tokenizes all of the batch's
       sentences at once;
    3. :func:`locate` finds each token in its sentence;
    4. a token keeps its span only if text[start:end] == token (the
       reference's F5 mention-vs-text check, parse_data.py:137-144),
       so a consumer that keeps start >= 0 holds verified spans and
       needs no join back to the text.

    An unlocated token carries start=end=-1. A sentence that
    tokenizes to nothing has no rows. mapInPandas: embarrassingly
    parallel, no shuffle, one crossing of the Python boundary. This is
    the raw-INGEST path (the reference shells out to the GENIA C++
    splitter for step 1, parse_data.py:456-467); the packed-corpus hot
    path never enters Python."""
    from ..functions.text import split_tokenize

    cols = _RAW_TOKEN_SCHEMA.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text, sents in zip(
                pdf["doc_id"], pdf["text"], split_tokenize(pdf["text"])
            ):
                offset = 0
                for sent_no, (sentence, tl) in enumerate(sents):
                    cur = 0
                    for tok_no, tok in enumerate(tl):
                        pos = locate(sentence, tok, cur)
                        start = end = -1
                        if pos >= 0:
                            cur = pos + len(tok)
                            if text[offset + pos : offset + cur] == tok:
                                start, end = offset + pos, offset + cur
                        out.append((doc_id, sent_no, tok_no, tok, start, end))
                    offset += len(sentence)
            yield pd.DataFrame(out, columns=cols)

    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).mapInPandas(run, schema=_RAW_TOKEN_SCHEMA)


def tag_mentions_raw(documents: DataFrame, spark: SparkSession,
                     entity_dict: DataFrame | None = None,
                     verify: bool = True) -> DataFrame:
    """Raw punctuated text -> token-granularity mentions with real char
    offsets: the one-pass :func:`raw_tokens` (split, tokenize, locate,
    check against the text), then the located tokens (start >= 0, only
    when `verify`) broadcast-join the dictionary. This is the pipeline
    the reference's whole predict path starts from (raw.py:615-895,
    parse_data.py:43-67,456-467); schema matches tag_mentions, plus
    entity_id instead of raw_id when a fused dictionary is passed.
    The corpus side never shuffles. verify=False keeps the unlocated
    tokens' dictionary hits (start=end=-1), to count what the check
    drops."""
    d = entity_dict if entity_dict is not None else entity_dict_df(spark)
    id_cols = [c for c in ("raw_id", "entity_id") if c in d.columns]
    toks = raw_tokens(documents)
    if verify:
        toks = toks.where("start >= 0")
    return toks.join(
        F.broadcast(d), F.lower(toks.token) == d.surface, "inner"
    ).select(
        "doc_id",
        "sent_no",
        "tok_no",
        "start",
        "end",
        F.col("token").alias("mention"),
        "type",
        *id_cols,
    )


def tag_mentions_fast(documents: DataFrame, spark: SparkSession,
                      entity_dict: DataFrame | None = None) -> DataFrame:
    """Allocation-lean tagger for the scoring pipeline: split once,
    posexplode word positions, broadcast-join the dictionary —
    sentence strings are never materialized (sent_no/tok_no derive
    arithmetically from the global word index k: the corpus packs
    exactly SENT_WORDS words per sentence). Char offsets are omitted;
    downstream pair generation/scoring never reads them, and the
    offset-bearing variant (tag_mentions) serves extraction queries.

    Rationale: the sentence-string path allocates O(doc chars) per
    sentence + per mention; at 32 local cores the job became memory-
    bandwidth/GC-bound and stopped scaling. This path's only per-token
    allocation is the token string itself.

    CORPUS CONTRACT: sent_no/tok_no derive arithmetically from the
    global word index, valid ONLY for corpora packing exactly
    SENT_WORDS words per sentence (the derive_spans contract this
    corpus is defined by). For span corpora with variable sentence
    lengths use tag_mentions (positional sentence ids) — this function
    would silently mis-coordinate there. The contract IS gated at
    runtime: a document is packed iff functions.text.PACKED_OK holds on
    its text (the splitter and tokenizer are the identity on it), and
    plans.pipeline.build_mentions(corpus='auto') sends every other
    document to tag_mentions_raw (the one-pass split/tokenize/locate
    chain, raw_tokens), so the CLI can never reach this function on
    punctuated text (tests/test_rawtext.py).
    """
    from ..corpus import SENT_WORDS

    d = entity_dict if entity_dict is not None else entity_dict_df(spark)
    id_cols = [c for c in ("raw_id", "entity_id") if c in d.columns]
    tok = documents.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id", "posexplode(split(text, ' ')) AS (k, token)"
    )
    return tok.join(F.broadcast(d), F.expr("lower(token) = surface"), "inner").selectExpr(
        "doc_id",
        f"CAST(k / {SENT_WORDS} AS INT) AS sent_no",
        f"CAST(pmod(k, {SENT_WORDS}) AS INT) AS tok_no",
        "token AS mention",
        "type",
        *id_cols,
    )
