"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship KG-construction query on sf0.001.
queries()         — one callable per implemented operator (SURVEY §2).
oracle_sql()      — DuckDB-equivalent SQL per query (same column names).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# executor python workers must import renet2_spark too (UDF closures
# reference it); PYTHONPATH covers workers forked before/without
# addPyFile, addPyFile covers drivers launched from another cwd
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

_PKG_SHIPPED: set[str] = set()


def _ship_pkg(spark) -> None:
    """Make renet2_spark importable on executor python workers via a
    zip + addPyFile (equivalent of spark-submit --py-files). The zip is
    named by the application id, so two drivers on one host never
    rewrite each other's."""
    app = spark.sparkContext.applicationId
    if app in _PKG_SHIPPED:
        return
    import tempfile

    from renet2_spark.packaging import build_pyfiles_zip

    zpath = os.path.join(tempfile.gettempdir(), f"renet2_spark_pkg_{app}.zip")
    spark.sparkContext.addPyFile(build_pyfiles_zip(zpath))
    _PKG_SHIPPED.add(app)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from renet2_spark import oracles
from renet2_spark.corpus import (
    derive_spans,
    load_documents,
    media_from_spans,
    sentences_from_spans,
)
from renet2_spark.operators.normalize import canonicalize_mentions
from renet2_spark.operators.pairgen import doc_pair_candidates, pair_features
from renet2_spark.operators.scorer import score_and_vote
from renet2_spark.operators.tagger import tag_mentions
from renet2_spark.operators import dedup as dd
from renet2_spark.operators import similarity as sim
from renet2_spark.functions import textstats as ts
from renet2_spark.operators import curation as cur
from renet2_spark.operators import multimodal as mm
from renet2_spark.plans import pipeline
from renet2_spark.plans import relational as rel


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG edge extraction over sf0.001."""
    return pipeline.run(spark, "/root/testdata/sf0.001")


# ---- spark-side query callables -----------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renet2_spark.corpus import ingest_parallelism_floor

    # scan-heavy contract queries (shingle dedup, raw tokenize, text
    # profiling) do their expensive work BEFORE their first shuffle —
    # floor the scan parallelism so it isn't single-task on the
    # sandbox's one-split files (no-op on multi-split corpora; see
    # ingest_parallelism_floor + BENCH.md r6 A/B)
    return ingest_parallelism_floor(load_documents(spark, sf_dir), spark)


def _docs_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # flagship-chain queries (build_edges/build_nodes) shuffle within
    # a few narrow ops of the scan — the floor's extra exchange only
    # costs there (interleaved sf0.1 A/B, BENCH.md "Contract wiring":
    # kg_edges +32%, kg_nodes +17%, kg_edges_incremental +31% with the
    # floor), matching pipeline.run's own plain scan
    return load_documents(spark, sf_dir)


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = derive_spans(_docs(spark, sf_dir))
    return canonicalize_mentions(
        tag_mentions(sentences_from_spans(spans), spark)
    )


def q_corpus_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = derive_spans(_docs(spark, sf_dir))
    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] != F.lit("figure"))
    media = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("figure"))
    total = F.aggregate(
        text_spans, F.lit(0).cast("bigint"), lambda a, s: a + F.length(s["text"])
    ) + F.size(text_spans) - 1
    return spans.select(
        "doc_id",
        F.size(text_spans).cast("int").alias("n_text_spans"),
        F.size(media).cast("int").alias("n_media_spans"),
        F.size("spans").cast("int").alias("n_spans"),
        total.cast("bigint").alias("total_chars"),
    )


def q_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sentences_from_spans(derive_spans(_docs(spark, sf_dir)))


def q_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_from_spans(derive_spans(_docs(spark, sf_dir)))


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mentions(spark, sf_dir).select(
        "doc_id", "sent_no", "tok_no", "start", "end", "mention", "type",
        "entity_id",
    )


def q_mentions_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = derive_spans(_docs(spark, sf_dir))
    return tag_mentions(sentences_from_spans(spans), spark).select(
        "doc_id", "sent_no", "tok_no", "start", "end", "mention", "type",
        "raw_id",
    )


def q_mentions_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation-cleaning chain over span-bearing mentions (reference
    hot path order: clean_anns cross-sentence drop -> make_tags joint
    fusion -> overlap merge; raw.py:615-895, ann_utils.py:13-23,
    sequence_utils.py:2-80). Uses the extension dictionary + the
    bigram tagger so every rule observably fires on the driver corpus
    (see dictionaries.py)."""
    from renet2_spark.dictionaries import entity_dict_ext_df
    from renet2_spark.operators.anncleaner import (
        drop_cross_sentence,
        fuse_joint_tags,
        merge_overlaps,
    )
    from renet2_spark.operators.tagger import tag_multiword

    docs = _docs(spark, sf_dir)
    sentences = sentences_from_spans(derive_spans(docs))
    base = tag_mentions(sentences, spark, entity_dict=entity_dict_ext_df(spark))
    mw = tag_multiword(docs, spark)
    mentions = base.unionByName(mw.select(*base.columns))
    mentions = canonicalize_mentions(mentions)
    mentions = drop_cross_sentence(mentions, sentences)
    mentions = merge_overlaps(fuse_joint_tags(mentions))
    return mentions.select(
        "doc_id", "sent_no", "tok_no", "start", "end", "mention", "type",
        "entity_id",
    )


def q_mentions_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc truncation caps in the mention path (reference
    raw.py:648-698). The reference constants (500 sents / 512 tokens /
    135k chars) never bind on this corpus, so the query runs the SAME
    operators with tightened constants (4 sents / 7 tokens / 200
    chars) to make the rules observable; the operators' defaults stay
    the reference's."""
    from renet2_spark.operators.caps import (
        cap_mentions,
        cap_sentences,
        cap_tokens,
    )

    sentences = sentences_from_spans(derive_spans(_docs(spark, sf_dir)))
    capped = cap_tokens(
        cap_sentences(sentences, max_sents=4, max_chars=200), max_tokens=7
    )
    mentions = cap_mentions(
        tag_mentions(capped, spark), max_sents=4, max_tokens=7
    )
    return canonicalize_mentions(mentions).select(
        "doc_id", "sent_no", "tok_no", "start", "end", "mention", "type",
        "entity_id",
    )


def q_mentions_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 mention-vs-text verification end-to-end (reference
    parse_data.py:137-144): every mention whose (sent_no+tok_no)%5==2
    gets its start offset corrupted by +1; verify_mentions must drop
    exactly those (the extracted substring's length no longer matches
    the mention's)."""
    from renet2_spark.operators.tagger import verify_mentions

    docs = _docs(spark, sf_dir)
    m = tag_mentions(sentences_from_spans(derive_spans(docs)), spark)
    bad = F.pmod(F.col("sent_no") + F.col("tok_no"), F.lit(5)) == 2
    corrupted = m.withColumn(
        "start", F.when(bad, F.col("start") + 1).otherwise(F.col("start"))
    )
    return verify_mentions(corrupted, docs).select(
        "doc_id", "sent_no", "tok_no", "start", "end", "mention", "type",
        "raw_id",
    )


def q_tokens_rnn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 Filter_rnn end-to-end (reference sequence_utils.py:170-198):
    punctuation tokens are injected deterministically into the token
    stream ('(' at k%13==4, '<=' at k%17==9 — the latter pins the
    SUBSTRING-membership drop rule), entity positions come from the
    dictionary; filter_rnn must drop the punctuation, keep entities,
    and renumber survivors."""
    from renet2_spark.dictionaries import entity_dict_df
    from renet2_spark.functions.text import filter_rnn
    from renet2_spark.corpus import SENT_WORDS

    docs = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    tok = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(words).alias("k", "token"),
    )
    inj = (
        F.when(F.pmod(F.col("k"), F.lit(13)) == 4, F.lit("("))
        .when(F.pmod(F.col("k"), F.lit(17)) == 9, F.lit("<="))
        .otherwise(F.col("token"))
    )
    toks = tok.select(
        "doc_id",
        (F.col("k") / SENT_WORDS).cast("int").alias("sent_no"),
        F.pmod(F.col("k"), F.lit(SENT_WORDS)).cast("int").alias("tok_no"),
        inj.alias("token"),
    )
    d = entity_dict_df(spark).select("surface")
    ments = toks.join(
        F.broadcast(d), F.lower(toks.token) == F.col("surface"), "inner"
    ).select("doc_id", "sent_no", "tok_no")
    return filter_rnn(toks, ments).select(
        "doc_id", "sent_no", "tok_no", "orig_tok_no", "token"
    )


def q_bioc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/F2/F4 BioC-JSON parse + section routing end-to-end: each doc
    is rendered as a BioC document (title WITHOUT section_type — the
    real-world shape that used to null out the skip predicate — plus
    abstract, a skip-listed funding passage, a RESULTS paragraph, a
    whitelist-excluded METHODS passage, and a figure passage), then
    parsed back by parse_bioc; the oracle builds the expected kept
    spans directly."""
    from renet2_spark.sources.bioc import parse_bioc

    docs = _docs(spark, sf_dir)
    ws = F.split(F.col("text"), " ")
    title = F.array_join(F.slice(ws, 1, 10), " ")
    abstract = F.array_join(F.slice(ws, 11, 10), " ")
    body = F.array_join(F.slice(ws, 21, 1 << 30), " ")
    nul = F.lit(None).cast("string")

    def passage(ptype, stype, text, offset, media=None):
        return F.struct(
            F.struct(
                F.lit(ptype).alias("type"),
                (F.lit(stype) if stype is not None else nul).alias(
                    "section_type"
                ),
            ).alias("infons"),
            text.alias("text"),
            offset.cast("int").alias("offset"),
            (media if media is not None else nul).alias("media_ref"),
        )

    raw = docs.select(
        F.to_json(
            F.struct(
                F.col("doc_id").cast("string").alias("pmid"),
                F.array(
                    passage("title", None, title, F.lit(0)),
                    passage("abstract", "ABSTRACT", abstract,
                            F.length(title) + 1),
                    passage("paragraph", "funding", F.lit("funded by x"),
                            F.lit(9000)),
                    passage("paragraph", "RESULTS", body,
                            F.length(title) + F.length(abstract) + 2),
                    passage("paragraph", "METHODS", F.lit("methods text"),
                            F.lit(9001)),
                    passage(
                        "fig", "FIGURE", F.lit(""), F.lit(9002),
                        media=F.concat(
                            F.lit("img://"), F.col("doc_id").cast("string")
                        ),
                    ),
                ).alias("passages"),
            )
        ).alias("doc_json")
    )
    spans = parse_bioc(raw)
    return spans.select(
        "doc_id", F.posexplode("spans").alias("span_no", "s")
    ).select(
        "doc_id",
        F.col("span_no").cast("int").alias("span_no"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def q_pubtator_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 PubTator abstract-format parser driven end-to-end: each doc
    is rendered as PubTator lines (pmid|t|title, pmid|a|abstract — docs
    with doc_id%7==0 get a <3-char abstract to exercise the '$$$'
    sentinel, reference parse_data.py:52 — plus a Gene annotation TSV
    line for every doc, a Disease line for doc_id%3==0, and a Chemical
    line that the type filter must drop), then parsed back by
    parse_pubtator; the oracle builds the expected spans/ann counts
    directly."""
    from renet2_spark.sources.pubtator import parse_pubtator

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    ws = F.split(F.col("text"), " ")
    title = F.array_join(F.slice(ws, 1, 10), " ")
    abstract = (
        F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.lit("xy"))
        .otherwise(F.array_join(F.slice(ws, 11, 10), " "))
    )
    first = F.get(ws, 0)
    tsv = lambda *cols: F.concat_ws("\t", *cols)
    lines = docs.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.concat(did, F.lit("|t|"), title),
                    F.concat(did, F.lit("|a|"), abstract),
                    tsv(did, F.lit("0"), F.lit("4"), first, F.lit("Gene"),
                        F.concat(F.lit("G"), did)),
                    tsv(did, F.lit("5"), F.lit("9"), first, F.lit("Chemical"),
                        F.lit("C1")),
                    F.when(
                        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
                        tsv(did, F.lit("2"), F.lit("7"), first,
                            F.lit("Disease"), F.concat(F.lit("D"), did)),
                    ),
                )
            )
        ).alias("value")
    )
    spans, anns = parse_pubtator(lines)
    sp = spans.select(
        "doc_id",
        F.size("spans").cast("int").alias("n_spans"),
        F.col("spans")[0]["text"].alias("title_text"),
        F.col("spans")[1]["text"].alias("abstract_text"),
        F.col("spans")[1]["offset"].cast("int").alias("abstract_offset"),
    )
    na = anns.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_anns"),
        F.concat_ws(",", F.sort_array(F.collect_list("raw_id"))).alias(
            "ann_ids"
        ),
    )
    return sp.join(na, "doc_id")


def q_corpus_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 count-stats metrics (reference check_rec_full truncation
    metrics, raw_handler.py:98-114): corpus-level fill/truncation
    statistics against the neural pad shape (32 sents x 54 tokens)."""
    from renet2_spark.operators.neural import MAX_SENTS

    docs = _docs(spark, sf_dir)
    ws = F.split(F.col("text"), " ")
    n_tok = F.size(ws)
    n_sent = F.ceil(n_tok / F.lit(10)).cast("int")
    return docs.select(
        n_tok.alias("n_tok"), n_sent.alias("n_sent")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_sent").cast("bigint").alias("n_sents"),
        F.sum(F.when(F.col("n_sent") > MAX_SENTS, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_over_snt_cap"),
        F.round(
            F.sum("n_tok").cast("double") / F.sum("n_sent").cast("double"), 5
        ).alias("avg_tokens_per_sent"),
    )


def q_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the flagship's candidate pairs (pairgen.DOC_PAIRS), features dropped
    return pair_features(_mentions(spark, sf_dir)).drop("n_g", "n_d")


def q_pairs_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_pair_candidates(_mentions(spark, sf_dir))


def q_pairs_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 labels join IN the KG pipeline (reference raw_handler.py:
    35-49): sentence-cooccurrence pairs left-join the deterministic
    label fixture (values 0/0.5/1; ~half the pairs unlabeled) +
    fillna(0)."""
    from renet2_spark.operators.labels import join_labels, synthetic_labels

    m = _mentions(spark, sf_dir)
    labels = synthetic_labels(doc_pair_candidates(m))
    return join_labels(pair_features(m).drop("n_g", "n_d"), labels)


def q_silver_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 silver-vote merge (reference train.py:451-480): all-negative
    pairs across 4 deterministic tool stand-ins, minus the annotated
    set, labeled 0."""
    from renet2_spark.operators.labels import silver_negatives, synthetic_labels

    pairs = doc_pair_candidates(_mentions(spark, sf_dir))
    return silver_negatives(pairs, synthetic_labels(pairs))


def q_unify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 per-doc id unification driven end-to-end (reference
    normalize_ann.py:26-49): mentions are salted with a token-parity
    id suffix so the same surface carries TWO ids per doc; unify must
    rewrite every member to the component representative — the id with
    the highest per-doc mention count, ties broken by id desc."""
    from renet2_spark.operators.normalize import unify_doc_ids

    m = _mentions(spark, sf_dir)
    salted = m.withColumn(
        "entity_id",
        F.concat(
            F.col("entity_id"),
            F.lit("_"),
            F.pmod(F.col("tok_no"), F.lit(2)).cast("string"),
        ),
    )
    return unify_doc_ids(salted).select(
        "doc_id", "sent_no", "tok_no", "mention", "type", "entity_id"
    )


def q_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble scoring incl. prob_X formatting (T8, reference
    predict.py:131-136 '{:,.5f}' — probs <= 1.0 so the comma grouping
    never appears; format_number replicates it above 1000). r4 verdict
    #1: the former kg_scores_probx query's column folded in, one
    driver hash pins both the score math and the formatting."""
    scored = score_and_vote(pair_features(_mentions(spark, sf_dir)), cutoff=0)
    return scored.select(
        "doc_id", "gene_id", "disease_id", "n_cooc_sents", "n_g", "n_d",
        "hit_cnt", "prob_avg", "prob_X",
    )


def q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # driver testdata is the packed contract by construction ->
    # declare it: one scan, no raw branch (per-document routing is
    # exercised by tests/test_rawtext.py)
    return pipeline.build_edges(
        spark, _docs_plain(spark, sf_dir), corpus="packed"
    )


def q_edges_rawtext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-TEXT flagship, BOTH twin corpora in one query (r4 verdict
    #1 consolidation): the corpus is rewritten as real punctuated text
    and edges are built through the FULL raw chain (one Python pass:
    split_sentences automaton -> reference-parity tokenizer ->
    boundary-guarded char-offset cursor scan -> mention-vs-text check;
    then broadcast dict tagging -> pairgen -> scoring).

    variant='bang': corpus.raw_text_twin, '!'-terminated sentences
    (an unconditional cut in the reference splitter).
    variant='messy': corpus.raw_text_twin_messy — abbreviation-guarded
    '.' cuts, '?', clitic possessives, 'cannot' rewrites, bracket/
    comma tokens, multi-space separators.

    By construction the raw chain must reconstruct the packed corpus's
    sentence/token stream exactly on BOTH variants, so the packed
    kg_edges oracle (tagged per variant) stays an EXACT oracle."""
    from renet2_spark.corpus import raw_text_twin, raw_text_twin_messy

    _ship_pkg(spark)
    docs = _docs(spark, sf_dir)
    bang = pipeline.build_edges(
        spark, raw_text_twin(docs), corpus="raw"
    ).withColumn("variant", F.lit("bang"))
    messy = pipeline.build_edges(
        spark, raw_text_twin_messy(docs), corpus="raw"
    ).withColumn("variant", F.lit("messy"))
    return bang.unionByName(messy)


def q_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.build_nodes(
        spark, _docs_plain(spark, sf_dir), corpus="packed"
    )


def _ram_tmpdir(prefix: str) -> str:
    """A fresh directory on the RAM disk when there is one, removed when
    the interpreter exits: the query's DataFrame reads it lazily, so it
    must outlive the call. The RAM disk because a local /tmp disk can
    throttle intermittently (BENCH.md r6 — identical writes varied
    3s..69s); a production cluster provisions local SSD/NVMe or an
    object store for stage tables."""
    import atexit
    import shutil
    import tempfile

    tmp_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    path = tempfile.mkdtemp(prefix=prefix, dir=tmp_base)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def q_edges_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 incremental micro-batch execution driven through the EXACT
    flagship oracle: a fresh CheckpointStore scores the corpus in
    bucketed micro-batches with per-partition lineage (reference
    bounded-memory loop raw.py:1384-1638 made idempotent), and the
    read-back committed stage table must hash-equal kg_edges — proving
    the checkpoint write/read path loses and duplicates nothing."""
    from renet2_spark.sources.checkpoint import CheckpointStore
    from renet2_spark.streaming.incremental import run_incremental

    store = CheckpointStore(spark, _ram_tmpdir("kg_inc_"))
    return run_incremental(
        spark, _docs_plain(spark, sf_dir), store, buckets=8, corpus="packed"
    )


def q_nodes_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 table sink driven through the EXACT kg_nodes oracle: nodes
    are written via write_table (Iceberg when the runtime is on the
    classpath, parquet otherwise — same layout contract) partitioned
    by entity type, read back via read_table, and must hash-equal the
    directly-computed nodes."""
    from renet2_spark.sources.tables import read_table, write_table

    path = _ram_tmpdir("kg_nodes_tbl_") + "/nodes"
    nodes = pipeline.build_nodes(
        spark, _docs_plain(spark, sf_dir), corpus="packed"
    )
    write_table(nodes, path, partition_by=["type"])
    return read_table(spark, path)


def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 class balance end-to-end (reference raw_handler.py:326-377):
    label_distribution's per-class counts ride on every sampled row
    (n_label_orig), and the rows themselves are the deterministic
    content-hash stratified downsample (negatives to ~2x positives).
    One driver hash pins BOTH the distribution and the sample (r4
    verdict #1: the former kg_label_distribution query folded in; the
    seeded sampleBy variant stays bounds-tested in pytest)."""
    from renet2_spark.operators.caps import (
        label_distribution,
        sample_balanced_hash,
    )
    from renet2_spark.operators.labels import synthetic_labels

    labels = synthetic_labels(doc_pair_candidates(_mentions(spark, sf_dir)))
    dist = label_distribution(labels).withColumnRenamed("n", "n_label_orig")
    return sample_balanced_hash(labels).join(F.broadcast(dist), "label").select(
        "doc_id", "gene_id", "disease_id", "label", "n_label_orig"
    )


def q_pair_tensors_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest of the neural ENCODE stage (deterministic int tensors:
    vocab lookup, MX_id_n entity remap, feature codes 0-6, pad/
    truncate) — one row (n_pairs, digest) hash-checked against a
    frozen independent NumPy/DuckDB recompute (oracles.
    PAIR_TENSOR_DIGESTS, drift-guarded in tests/test_neural.py);
    since r6 the forward pass itself is also exactly oracled
    (kg_edges_neural's row-level golden), so this digest isolates
    WHERE an encode-stage regression lives."""
    from renet2_spark.operators.neural import pair_tensor_digests

    _ship_pkg(spark)
    texts = _docs(spark, sf_dir).selectExpr(
        "CAST(doc_id AS STRING) AS doc_id", "text", "true AS packed"
    )
    d = pair_tensor_digests(_mentions(spark, sf_dir), texts)
    row = F.concat_ws("|", "doc_id", "gene_id", "disease_id", "tensor_md5")
    return d.select(row.alias("r")).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.md5(F.array_join(F.sort_array(F.collect_list("r")), "\n")).alias(
            "digest"
        ),
    )


def q_edges_neural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The neural CNN+BiGRU flagship, hash-checked ROW-LEVEL against a
    frozen independent NumPy+DuckDB recompute — probability digits
    included (r5 verdict next #1). The r6 deterministic forward kernel
    (operators/neural.py: exactly-rounded fixed-order ops, no
    BLAS/libm) makes every probability bitwise independent of Arrow
    batch composition, so the full row surface freezes cleanly; the
    goldens live in tests/golden/ (scripts/freeze_neural_golden.py,
    drift guards in tests/test_neural.py). The P/R >= 0.95 golden test
    vs the reference metric stays on top
    (benchmark/calculate_metrics_with_input.py:21-26)."""
    _ship_pkg(spark)
    return pipeline.run_neural(spark, sf_dir)


def q_media_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing in one query (r4 verdict #1): the binary
    payload table flows through BOTH the Arrow-batched decode
    (media_features) and the native frame-sampling explode
    (media_frames); the decode features join onto every sampled
    frame row on (doc_id, media_ref)."""
    _ship_pkg(spark)
    media = mm.media_table(derive_spans(_docs(spark, sf_dir)))
    feats = mm.decode_media(media)
    frames = mm.sample_frames(media)
    return feats.join(frames, ["doc_id", "media_ref"]).select(
        "doc_id", "media_no", "media_ref", "bytes_len", "width", "height",
        "n_channels", "f0", "f1", "n_frames", "frame_no",
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both survivor rules in one query (r4 verdict #1): rule=
    'pairwise' is the keep-smallest-of-each-pair rule, rule='cc' keeps
    one representative per transitive near-dup connected component —
    the star-structure divergence between them is part of the hashed
    surface. ONE shingle-array relation feeds both rules: it is
    localCheckpointed, like the CC propagation rounds, so the shingle
    pass runs once and the relation lives as long as the result."""
    docs = _docs(spark, sf_dir)
    sh = dd.doc_shingle_arrays(docs).localCheckpoint()
    a = dd.dedup_survivors(docs, shingles=sh).withColumn(
        "rule", F.lit("pairwise")
    )
    b = dd.dedup_survivors_cc(docs, shingles=sh).withColumn(
        "rule", F.lit("cc")
    )
    return a.unionByName(b)


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing end-to-end: deterministic emails / intl phone
    numbers / IPv4 addresses are injected into the corpus text
    (doc_id%3 / %5 / %7 — the corpus itself is PII-free word salad,
    same make-the-rule-observable pattern as kg_tokens_rnn), then
    pii_scrub must count each class and mask it; the driver hash pins
    counts AND the full masked text."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    txt = F.col("text")
    txt = F.when(
        F.pmod(did, 3) == 0,
        F.concat(txt, F.lit(" contact user"), did.cast("string"),
                 F.lit("@example.com now")),
    ).otherwise(txt)
    txt = F.when(
        F.pmod(did, 5) == 0,
        F.concat(txt, F.lit(" call +1-555-"),
                 (F.lit(1000) + F.pmod(did, 9000)).cast("string")),
    ).otherwise(txt)
    txt = F.when(
        F.pmod(did, 7) == 0,
        F.concat(txt, F.lit(" from 10.0."), F.pmod(did, 250).cast("string"),
                 F.lit("."), F.pmod(did, 200).cast("string")),
    ).otherwise(txt)
    injected = docs.select(
        did.cast("string").alias("doc_id"), txt.alias("text")
    )
    return ts.pii_scrub(injected)


def q_corpus_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted TF-IDF top-3 keywords per document. The corpus
    is a 31-word salad where every word's df ~= n_docs (idf ~= 0), so
    deterministic rare/unique terms are injected to make the corpus
    statistic observable (the kg_tokens_rnn / text_pii
    make-the-rule-observable pattern): docs with doc_id%3==0 gain one
    of 13 'termN' words (mid-frequency df), docs with doc_id%11==0
    gain a 'uniq<doc_id>' word (df=1 — must rank first for its doc).
    The doc-level mean unigram surprisal under the corpus's own LM
    (functions.textstats.unigram_surprisal — decimal-summed, so the
    float aggregate is order/engine independent) rides on every
    keyword row. The driver hash pins tf, doc length, df, the rounded
    tfidf value, the rank cut, and the surprisal."""
    did = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.when(
            F.pmod(did, 3) == 0,
            F.concat(F.lit(" term"), F.pmod(did, 13).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(did, 11) == 0,
            F.concat(F.lit(" uniq"), did.cast("string")),
        ).otherwise(F.lit("")),
    )
    injected = _docs(spark, sf_dir).select(
        did.alias("doc_id"), txt.alias("text")
    )
    return ts.tfidf_topk(injected, k=3).join(
        ts.unigram_surprisal(injected).select("doc_id", "surprisal"),
        "doc_id",
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # 50 queries — exactly the driver's correctness-window cap, so
    # EVERY entry below gets a CORRECTNESS row each round (r4 verdict
    # #1: round 4's 65 entries silently evicted 15 from the window;
    # the single-operator text_*, media_*, probx, messy-twin,
    # label-distribution and cc-survivor queries are folded into
    # composite plans with composite oracles — the underlying
    # operators stay as the library surface and keep their own pytest
    # coverage; the relational operator classes exist only inside the
    # three rel_suite_* plans). tests/test_plans.py::
    # test_query_window_cap guards the cap: adding a 51st entry fails
    # loudly instead of silently evicting (r5 ADVICE #1).
    return {
        # knowledge-graph construction pipeline (SURVEY §2)
        "kg_corpus_spans": q_corpus_spans,
        "kg_sentences": q_sentences,
        "kg_media": q_media,
        "kg_mentions": q_mentions,
        "kg_mentions_raw": q_mentions_raw,
        "kg_mentions_clean": q_mentions_clean,
        "kg_mentions_capped": q_mentions_capped,
        "kg_mentions_verified": q_mentions_verified,
        "kg_tokens_rnn": q_tokens_rnn,
        "kg_bioc_roundtrip": q_bioc_roundtrip,
        "kg_pubtator_roundtrip": q_pubtator_roundtrip,
        "kg_corpus_metrics": q_corpus_metrics,
        "kg_pairs": q_pairs,
        "kg_pairs_doc": q_pairs_doc,
        "kg_pairs_labeled": q_pairs_labeled,
        "kg_silver_negatives": q_silver_negatives,
        "kg_unify": q_unify,
        # scores incl. prob_X formatting (former kg_scores_probx)
        "kg_scores": q_scores,
        "kg_edges": q_edges,
        # BOTH raw-text twins ('!'-cut + punctuation-rich) through the
        # full raw chain, tagged by variant; exact packed-edges oracle
        "kg_edges_rawtext": q_edges_rawtext,
        "kg_nodes": q_nodes,
        # S9 incremental micro-batches + S8 checkpoint read-back, and
        # S6 table sink roundtrip — both against EXACT oracles
        "kg_edges_incremental": q_edges_incremental,
        "kg_nodes_table_roundtrip": q_nodes_table_roundtrip,
        # A8: distribution counts riding on the deterministic
        # stratified sample (former kg_label_distribution folded in)
        "kg_sample_balanced": q_sample_balanced,
        # neural CNN+BiGRU ensemble — EXACT row-level frozen-golden
        # oracle incl. probability digits (r6: deterministic kernel);
        # the NumPy-oracle golden test additionally enforces the
        # reference P/R >= 0.95 metric
        "kg_edges_neural": q_edges_neural,
        # corpus-weighted TF-IDF top-k keywords (df/idf — the
        # corpus-level statistic class; took the slot of
        # kg_pair_tensors_digest, whose encode digest is strictly
        # subsumed by kg_edges_neural's exact row-level oracle and now
        # runs in tests/test_library_oracle_parity.py)
        "corpus_tfidf": q_corpus_tfidf,
        # cross-document repeated-substring spans (run-length merge of
        # repeated positioned n-grams — r5 verdict next #2, promoted
        # from SQL-mirror pytest into the driver contract)
        "dedup_spans": lambda s, d: dd.repeated_spans(_docs(s, d)),
        # deduplication suite
        "dedup_exact": lambda s, d: dd.dedup_exact(_docs(s, d)),
        "dedup_ngram_jaccard": lambda s, d: dd.dedup_ngram_jaccard(_docs(s, d)),
        "dedup_minhash_lsh": lambda s, d: dd.dedup_minhash_lsh(_docs(s, d)),
        "dedup_simhash": lambda s, d: dd.dedup_simhash(_docs(s, d)),
        "dedup_embedding": lambda s, d: sim.dedup_embedding(_emb(s, d)),
        # LSH-blocked scale path — EXACT oracle (deterministic
        # hyperplane literals shared by both engines)
        "dedup_embedding_lsh": lambda s, d: sim.dedup_embedding_lsh(_emb(s, d)),
        # both survivor rules (pairwise + transitive CC representative)
        "dedup_survivors": q_dedup_survivors,
        # connected components of the dup-pair graph (min-label
        # propagation vs recursive-CTE oracle)
        "dedup_components": lambda s, d: dd.dedup_components(_docs(s, d)),
        # similarity search
        "ann_topk_brute": lambda s, d: sim.ann_topk_brute(_emb(s, d)),
        "ann_topk_lsh": lambda s, d: sim.ann_topk_lsh(_emb(s, d)),
        # IVF scale path — EXACT oracle (frozen deterministic centroids,
        # see oracle_sql); recall vs brute also asserted in
        # tests/test_similarity.py; needs the package on executor
        # python workers (pandas UDF closure)
        "ann_topk_ivf": lambda s, d: (_ship_pkg(s), sim.ann_topk_ivf(_emb(s, d)))[1],
        # training-corpus curation: packing / decontamination / sampling
        "pack_sequences": lambda s, d: cur.pack_sequences(_docs(s, d)),
        "decontaminate": lambda s, d: cur.decontaminate(
            _docs(s, d).filter(F.pmod(F.col("doc_id"), F.lit(97)) != 3),
            _docs(s, d).filter(F.pmod(F.col("doc_id"), F.lit(97)) == 3),
        ),
        "sample_hash": lambda s, d: cur.sample_hash(_docs(s, d)),
        # the COMPOSED curation chain (quality -> CC dedup -> decon ->
        # sample -> pack) as one declarative plan with one exact
        # oracle; r5: ONE shared shingle pass feeds dedup + decon
        "curation_pipeline": lambda s, d: cur.curation_pipeline(
            _docs(s, d).filter(F.pmod(F.col("doc_id"), F.lit(97)) != 3),
            _docs(s, d).filter(F.pmod(F.col("doc_id"), F.lit(97)) == 3),
        ),
        # the full per-doc text-analysis profile in ONE row-local scan
        # (text_stats + fingerprint + simhash, plus the lang_id,
        # token_counts and text_repetition columns that live only here)
        "text_profile": lambda s, d: ts.text_profile(_docs(s, d)),
        # PII scrubbing (emails/phones/IPv4 -> typed masks) over
        # deterministically-injected PII
        "text_pii": q_text_pii,
        # multimodal plumbing: Arrow-batched decode features joined
        # onto the native frame-sampling fan-out
        "media_suite": q_media_suite,
        # metrics join (J5) + threshold-sweep argmax (§2.6)
        "kg_pr_vs_strong_cooc": rel.kg_pr_vs_strong_cooc,
        "kg_threshold_sweep": rel.kg_threshold_sweep,
        # generic relational operator coverage (SURVEY §2.2-2.7) as
        # three COMPOSED suites: join (semi+anti+union+left+fillna+agg),
        # window (rank+lag+topk), setagg (union+distinct+json+having+
        # broadcast join+decimal-exact Q1)
        "rel_suite_join": rel.rel_suite_join,
        "rel_suite_window": rel.rel_suite_window,
        "rel_suite_setagg": rel.rel_suite_setagg,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_corpus_spans": oracles.q_corpus_spans(),
        "kg_sentences": oracles.q_sentences(),
        "kg_media": oracles.q_media(),
        "kg_mentions": oracles.q_mentions(canon=True),
        "kg_mentions_raw": oracles.q_mentions(canon=False),
        "kg_mentions_clean": oracles.q_mentions_clean(),
        "kg_mentions_capped": oracles.q_mentions_capped(),
        "kg_mentions_verified": oracles.q_mentions_verified(),
        "kg_tokens_rnn": oracles.q_tokens_rnn(),
        "kg_bioc_roundtrip": oracles.q_bioc_roundtrip(),
        "kg_pubtator_roundtrip": oracles.q_pubtator_roundtrip(),
        "kg_corpus_metrics": oracles.q_corpus_metrics(),
        "kg_pairs": oracles.q_pairs(),
        "kg_pairs_doc": oracles.q_pairs_doc(),
        "kg_pairs_labeled": oracles.q_pairs_labeled(),
        "kg_silver_negatives": oracles.q_silver_negatives(),
        "kg_unify": oracles.q_unify(),
        "kg_scores": oracles.q_scores(),
        "kg_edges": oracles.q_edges(),
        # the raw-text chain must reproduce the packed pipeline's edges
        # bit-for-bit on BOTH twin corpora -> packed oracle per variant
        "kg_edges_rawtext": oracles.q_edges_rawtext_suite(),
        "kg_nodes": oracles.q_nodes(),
        # incremental micro-batched execution reproduces the flagship
        # bit-for-bit; the table sink roundtrips nodes bit-for-bit
        "kg_edges_incremental": oracles.q_edges(),
        "kg_nodes_table_roundtrip": oracles.q_nodes(),
        "kg_sample_balanced": oracles.q_sample_balanced(),
        # row-level frozen-golden oracle, probability digits included
        # (independent NumPy+DuckDB recompute, scale-adaptive probe;
        # drift-guarded in tests/test_neural.py)
        "kg_edges_neural": oracles.q_edges_neural_golden(),
        "dedup_spans": oracles.q_repeated_spans(),
        "dedup_exact": oracles.q_dedup_exact(),
        "dedup_ngram_jaccard": oracles.q_dedup_ngram(),
        "dedup_minhash_lsh": oracles.q_dedup_minhash(),
        "dedup_simhash": oracles.q_dedup_simhash(),
        "dedup_embedding": oracles.q_dedup_embedding(),
        "dedup_survivors": oracles.q_dedup_survivors_suite(),
        "dedup_components": oracles.q_dedup_components(),
        "ann_topk_brute": oracles.q_ann_topk(),
        # IVF has an exact oracle at the driver's correctness scale:
        # the trained centroids are deterministic constants of the
        # sf0.01 corpus, frozen as literals (drift-guarded in pytest)
        "ann_topk_ivf": oracles.q_ann_topk_ivf(),
        # frozen independent-recompute digest of the neural encode
        # stage; scale-adaptive (fingerprint probe, r5 verdict #4)
        "corpus_tfidf": oracles.q_corpus_tfidf(k=3),
        # LSH queries have EXACT oracles: the hyperplanes are
        # deterministic literals both engines share
        "dedup_embedding_lsh": oracles.q_dedup_embedding_lsh(),
        "ann_topk_lsh": oracles.q_ann_topk_lsh(),
        "pack_sequences": oracles.q_pack_sequences(),
        "decontaminate": oracles.q_decontaminate(),
        "sample_hash": oracles.q_sample_hash(),
        "curation_pipeline": oracles.q_curation_pipeline(),
        "text_profile": oracles.q_text_profile(),
        "text_pii": oracles.q_text_pii(),
        "media_suite": oracles.q_media_suite(),
        "kg_pr_vs_strong_cooc": oracles.q_kg_pr_vs_strong_cooc(),
        "kg_threshold_sweep": oracles.q_kg_threshold_sweep(),
        "rel_suite_join": oracles.q_rel_suite_join(),
        "rel_suite_window": oracles.q_rel_suite_window(),
        "rel_suite_setagg": oracles.q_rel_suite_setagg(),
    }
