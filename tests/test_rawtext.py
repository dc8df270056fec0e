"""Raw-text pipeline: corpus-contract probe, raw tagger offsets, CLI
routing on variable-sentence-length corpora (round-2 verdict #1), and
cache hygiene (#8)."""

import shutil
import tempfile

from pyspark.sql import functions as F

from renet2_spark.corpus import (
    load_documents,
    raw_text_twin,
    raw_text_twin_messy,
)
from renet2_spark.plans import pipeline
from tests.conftest import SF_SMOKE

# variable-sentence-length punctuated fixture: punctuation is
# space-separated so the general whitespace tagger and the raw
# tokenizer see the SAME token stream — any mention mismatch is then
# purely a sentence-coordination bug. Sentence lengths vary (4/9/3 and
# 6/4/2 tokens), so the arithmetic 10-words/sentence tagger must
# mis-coordinate. Doc 1's (scan, slow) pair co-occurs in 3 sentences
# with 3+3 mentions -> clears the default vote cutoff, so the CLI
# emits at least one edge. Surfaces are from the tagger dictionary
# (genes scan/merge, diseases slow/big/stream).
_VAR_DOCS = [
    ("1", "scan causes slow ! the scan gene hits slow and big now ? scan slow !"),
    ("2", "slow and scan drive big ! merge hits stream ! scan !"),
]
# hand-derived STRIPPED sentences (doc_id, sent_no, sentence, offset):
# the reference splitter cuts unconditionally at '!'/'?'+space and
# keeps the leading space on following sentences; the tokenizer strips
# it, so token streams (and tok_no) align with these stripped strings,
# whose offsets point at the first non-space char.
_VAR_SENTS = [
    ("1", 0, "scan causes slow !", 0),
    ("1", 1, "the scan gene hits slow and big now ?", 19),
    ("1", 2, "scan slow !", 57),
    ("2", 0, "slow and scan drive big !", 0),
    ("2", 1, "merge hits stream !", 26),
    ("2", 2, "scan !", 46),
]


def _var_df(spark):
    return spark.createDataFrame(_VAR_DOCS, "doc_id string, text string")


def test_probe_contract(spark):
    docs = load_documents(spark, SF_SMOKE)
    assert pipeline.probe_corpus_contract(docs) is True
    assert pipeline.probe_corpus_contract(raw_text_twin(docs)) is False
    assert pipeline.probe_corpus_contract(_var_df(spark)) is False
    # decision + sample size are RETURNED to the caller (r4 ADVICE:
    # no module-global — concurrent probes can't clobber each other)
    info = pipeline.probe_corpus_contract_info(_var_df(spark))
    assert info == {"packed": False, "sampled_docs": 2}
    assert not hasattr(pipeline, "last_probe")


def test_probe_rejects_mixed_corpus(spark):
    """A packed-head / raw-tail UNION (what incremental ingest
    produces) must route raw: the probe samples every partition's
    head, not an arrival-order prefix (round-3 verdict wrong #1)."""
    docs = load_documents(spark, SF_SMOKE).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    raw_tail = raw_text_twin(docs.filter("doc_id % 5 = 0"))
    mixed = docs.filter("doc_id % 5 != 0").unionByName(raw_tail)
    info = pipeline.probe_corpus_contract_info(mixed)
    assert info["packed"] is False
    # same corpus with the raw docs FIRST must (still) route raw
    mixed2 = raw_tail.unionByName(docs.filter("doc_id % 5 != 0"))
    assert pipeline.probe_corpus_contract(mixed2) is False
    # and the pure packed head alone still routes packed
    assert pipeline.probe_corpus_contract(docs.filter("doc_id % 5 != 0"))


def test_raw_edges_match_packed_on_twin_corpus(spark):
    """The raw chain (splitter -> tokenizer -> offsets -> tag ->
    verify) must reconstruct the packed corpus's edges exactly on the
    '!'-twin corpus — this is the invariant the kg_edges_rawtext driver
    query hash-checks against the packed oracle."""
    docs = load_documents(spark, SF_SMOKE)
    a = sorted(map(tuple, pipeline.build_edges(spark, docs).collect()))
    b = sorted(
        map(
            tuple,
            pipeline.build_edges(
                spark, raw_text_twin(docs), corpus="raw"
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_raw_mentions_match_general_tagger_on_variable_corpus(spark):
    """On a variable-sentence-length corpus the auto-routed mentions
    must equal the general tagger run over hand-derived sentences —
    and the arithmetic fast tagger must NOT (proving the guard is
    load-bearing)."""
    from renet2_spark.operators.anncleaner import fuse_joint_tags
    from renet2_spark.operators.normalize import canonicalize_mentions
    from renet2_spark.operators.tagger import tag_mentions

    docs = _var_df(spark)
    sents = spark.createDataFrame(
        _VAR_SENTS, "doc_id string, sent_no int, sentence string, offset int"
    )
    cols = ["doc_id", "sent_no", "tok_no", "mention", "type", "entity_id"]
    expected = {
        tuple(r)
        for r in fuse_joint_tags(
            canonicalize_mentions(tag_mentions(sents, spark))
        )
        .select(*cols)
        .collect()
    }
    got = {
        tuple(r)
        for r in pipeline.build_mentions(spark, docs, corpus="auto")
        .select(*cols)
        .collect()
    }
    assert got == expected and len(got) > 0
    fast = {
        tuple(r)
        for r in pipeline.build_mentions(spark, docs, corpus="packed")
        .select(*cols)
        .collect()
    }
    assert fast != expected  # the contract violation the probe catches


def test_raw_tagger_offsets_are_real(spark):
    """tag_mentions_raw offsets must index the ORIGINAL raw text
    (verify=True keeps only substring-exact mentions; assert they all
    survive AND spot-check a known position)."""
    from renet2_spark.operators.tagger import tag_mentions_raw

    docs = _var_df(spark)
    m = tag_mentions_raw(docs, spark, verify=False)
    v = tag_mentions_raw(docs, spark, verify=True)
    assert m.count() == v.count() > 0
    texts = dict(_VAR_DOCS)
    for r in v.collect():
        t = texts[r["doc_id"]]
        assert t[r["start"] : r["end"]] == r["mention"]
    # first 'slow' in doc 1 (sentence 0) spans chars [12, 16)
    row = [
        r
        for r in v.collect()
        if r["doc_id"] == "1" and r["mention"] == "slow" and r["sent_no"] == 0
    ][0]
    assert (row["start"], row["end"]) == (12, 16)


def test_raw_edges_match_packed_on_messy_twin_corpus(spark):
    """The FULL parity surface end-to-end: on the punctuation-rich twin
    (abbreviation-guarded '.' cuts, '?', 'cannot' rewrites, clitics,
    brackets, commas, multi-space) the raw chain must still reproduce
    the packed corpus's edges exactly — the invariant the
    kg_edges_rawtext_messy driver query hash-checks."""
    docs = load_documents(spark, SF_SMOKE)
    messy = raw_text_twin_messy(docs)
    # the probe must route this corpus raw
    assert pipeline.probe_corpus_contract(messy) is False
    a = sorted(map(tuple, pipeline.build_edges(spark, docs).collect()))
    b = sorted(
        map(
            tuple,
            pipeline.build_edges(spark, messy, corpus="raw").collect(),
        )
    )
    assert a == b and len(a) > 0


def test_messy_twin_abbreviation_guard(spark):
    """A sentence whose last word is splitter-protected ('al') must get
    '!' instead of '.' (a '.' there would NOT cut and two sentences
    would merge)."""
    from renet2_spark.functions.text import split_sentences

    # doc_id 2, sentence 0: (2+0)%3 == 2 -> '.' selected -> guard fires
    docs = spark.createDataFrame(
        [("2", " ".join(["a"] * 9 + ["al"] + ["b"] * 10))],
        "doc_id string, text string",
    )
    [t] = [r["text"] for r in raw_text_twin_messy(docs).collect()]
    assert "al!" in t and "al." not in t
    assert len(split_sentences(t)) == 2


def test_rewritten_fragments_get_no_partial_word_span(spark):
    """Round-3 ADVICE: tokenizer-rewritten fragments ('Can'/'not' out
    of 'Cannot') must NOT receive partial-word char spans the verify
    substring check would wrongly pass — they carry start=end=-1 and
    verify drops them even when a dictionary surface matches."""
    from renet2_spark.operators.tagger import raw_tokens, tag_mentions_raw

    docs = spark.createDataFrame(
        [("1", "We cannot scan .")], "doc_id string, text string"
    )
    toks = {
        r["token"]: (r["start"], r["end"])
        for r in raw_tokens(docs).collect()
    }
    # rewrite fragments: no span (NOT a partial match inside
    # 'cannot'/'scan'); real tokens: exact spans
    assert toks["can"] == (-1, -1)
    assert toks["not"] == (-1, -1)
    assert toks["scan"] == (10, 14)
    assert toks["We"] == (0, 2)
    # a dictionary surface equal to a rewrite fragment must yield NO
    # verified mention (the partial-word span used to survive verify)
    trap = spark.createDataFrame(
        [("not", "Disease", "D042"), ("scan", "Gene", "3082")],
        "surface string, type string, raw_id string",
    )
    got = {
        r["mention"]
        for r in tag_mentions_raw(docs, spark, entity_dict=trap).collect()
    }
    assert got == {"scan"}


def test_rewrite_fragment_does_not_overshoot_cursor(spark):
    """r4 ADVICE: a rewritten fragment ('can' from 'cannot') with a
    later boundary-valid occurrence in the SAME sentence must not jump
    the cursor past the intervening tokens — the retry window is capped
    at one whitespace gap, so the fragment resolves -1 and every
    legitimate token (including the later standalone 'can'/'not')
    keeps its true span."""
    from renet2_spark.operators.tagger import raw_tokens

    docs = spark.createDataFrame(
        [("1", "You cannot run but can not walk .")],
        "doc_id string, text string",
    )
    rows = sorted(
        (
            (r["tok_no"], r["token"], r["start"], r["end"])
            for r in raw_tokens(docs).collect()
        )
    )
    assert rows == [
        (0, "You", 0, 3),
        (1, "can", -1, -1),   # fragment of 'cannot' — no span
        (2, "not", -1, -1),   # fragment of 'cannot' — no span
        (3, "run", 11, 14),   # previously stranded by the overshoot
        (4, "but", 15, 18),
        (5, "can", 19, 22),   # the REAL standalone 'can'
        (6, "not", 23, 26),
        (7, "walk", 27, 31),
        (8, ".", 32, 33),
    ]


def test_rewrite_fragment_one_gap_standalone_not_stolen(spark):
    """r5 ADVICE #3: the one-gap retry bound alone still let a
    word-INITIAL fragment ('can' at the head of 'cannot') steal a
    standalone occurrence exactly one gap away ('cannot can'),
    advancing the cursor past intervening tokens. The
    no-complete-token-skip rule rejects any retry past the end of the
    first find's word when the find was word-initial: the fragment
    resolves -1 and NO token ever receives a wrong span (the ambiguous
    standalone drops too — safe, verify-consistent)."""
    from renet2_spark.operators.tagger import raw_tokens

    docs = spark.createDataFrame(
        [("1", "You cannot can .")], "doc_id string, text string"
    )
    rows = sorted(
        (
            (r["tok_no"], r["token"], r["start"], r["end"])
            for r in raw_tokens(docs).collect()
        )
    )
    assert rows == [
        (0, "You", 0, 3),
        (1, "can", -1, -1),  # head fragment of 'cannot' — must NOT
        (2, "not", -1, -1),  # land on the standalone 'can' at 11
        (3, "can", -1, -1),  # ambiguous with the fragment — dropped
        (4, ".", 15, 16),
    ]


def test_cli_predict_routes_raw_on_variable_corpus(spark):
    """CLI predict (default --corpus auto) on a punctuated
    variable-length corpus must produce the general tagger's edges
    (round-2 verdict #1: the CLI used to silently mis-coordinate)."""
    from renet2_spark.cli import main
    from renet2_spark.operators.anncleaner import fuse_joint_tags
    from renet2_spark.operators.normalize import canonicalize_mentions
    from renet2_spark.operators.pairgen import edge_relations
    from renet2_spark.operators.scorer import CUTOFF, score_and_vote
    from renet2_spark.operators.tagger import tag_mentions

    d = tempfile.mkdtemp(prefix="cli_raw_")
    _var_df(spark).write.parquet(d + "/docs")
    assert main(["predict", "--input", d + "/docs", "--output", d + "/out"]) == 0
    got = {
        (r["pmid"], r["geneId"], r["diseaseId"], r["g_name"], r["d_name"],
         float(r["prob_avg"]))
        for r in spark.read.parquet(d + "/out").collect()
    }
    # expected edges: general tagger over hand-derived sentences,
    # through the same downstream operator chain as build_edges
    sents = spark.createDataFrame(
        _VAR_SENTS, "doc_id string, sent_no int, sentence string, offset int"
    )
    mentions = fuse_joint_tags(
        canonicalize_mentions(tag_mentions(sents, spark))
    )
    voted = score_and_vote(edge_relations(mentions)[0], cutoff=CUTOFF)
    expected = {
        (r["doc_id"], r["gene_id"], r["disease_id"], r["g_name"], r["d_name"],
         float(r["prob_avg"]))
        for r in voted.collect()
    }
    assert got == expected and len(got) > 0
    shutil.rmtree(d, ignore_errors=True)


def test_no_leaked_caches_after_pipeline_queries(spark):
    """Round-2 verdict #8: driver queries must not leak persisted RDDs.
    Neither build_nodes, build_edges_neural nor the two near-dup
    operators persists anything."""
    from renet2_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard

    # an earlier test's cached relations would hide a new one behind
    # its own release
    spark.catalog.clearCache()
    docs = load_documents(spark, SF_SMOKE)
    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    pipeline.build_nodes(spark, docs).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base
    pipeline.build_edges_neural(spark, docs).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base
    for build in (dedup_minhash_lsh, dedup_ngram_jaccard):
        build(docs).collect()
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == base, build


def test_neural_raw_corpus_routing(spark):
    """build_edges_neural on a punctuated corpus must route through the
    raw chain: sentences are reconstructed from the REAL tokenizer's
    token stream (so the encoder's whitespace split sees real tokens)
    and mentions carry raw-tagger coordinates. Smoke-level: runs end to
    end, emits edges for the high-evidence pair, and coordinates stay
    consistent (no crash / no empty join)."""
    docs = _var_df(spark)
    edges = pipeline.build_edges_neural(spark, docs, cutoff=1, corpus="auto")
    rows = edges.collect()
    assert len(rows) > 0
    pairs = {(r["gene_id"], r["disease_id"]) for r in rows}
    # doc 1's (scan, slow) co-occurs in all three sentences
    assert ("1001", "D0001") in pairs


def test_raw_sentence_arrays_are_tokenized_sentences(spark):
    """The raw neural input: each doc's sentence array is its
    split_sentences sentences in order, each the parity tokenizer's
    tokens joined by single spaces; a sentence that tokenizes to
    nothing is omitted, and a doc left with no sentence (NULL text)
    has no row."""
    from renet2_spark.functions.text import split_sentences, tokenize_text
    from renet2_spark.operators.tagger import raw_sentence_arrays

    docs = raw_text_twin_messy(
        load_documents(spark, SF_SMOKE)
        .select(F.col("doc_id").cast("string"), "text")
        .unionByName(
            spark.createDataFrame([("-1", None)], "doc_id string, text string")
        )
    )
    got = {
        r["doc_id"]: list(r["_sents"])
        for r in raw_sentence_arrays(docs).collect()
    }
    want = {}
    for r in docs.collect():
        sents = [
            " ".join(tokenize_text(s)) for s in split_sentences(r["text"] or "")
        ]
        if any(sents):
            want[r["doc_id"]] = [s for s in sents if s]
    assert "-1" not in want and len(want) > 1
    assert got == want


def test_concurrent_probes_record_own_decisions(spark):
    """r4 verdict #6 / ADVICE: two concurrent corpus='auto' builds on
    one driver must each record THEIR OWN probe decision (packed vs
    raw) into their stores — no shared mutable state to clobber."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from renet2_spark.sources.checkpoint import CheckpointStore

    packed = load_documents(spark, SF_SMOKE).limit(60)
    raw = raw_text_twin(packed)

    def run(docs):
        store = CheckpointStore(spark, tempfile.mkdtemp(prefix="probe_"))
        pipeline.build_edges(spark, docs, store=store, corpus="auto").count()
        m = {
            (r["stage"], r["metric"]): r["value"]
            for r in store.metrics().collect()
        }
        return m[("probe", "packed")]

    with ThreadPoolExecutor(2) as ex:
        f_packed = ex.submit(run, packed)
        f_raw = ex.submit(run, raw)
        assert f_packed.result() == 1.0
        assert f_raw.result() == 0.0
