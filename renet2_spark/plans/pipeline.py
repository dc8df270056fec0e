"""End-to-end KG construction plan: documents -> nodes/edges.

Mirrors the reference predict path (SURVEY §3.1,
src/renet2/predict.py:338-448) as one declarative DataFrame DAG:

  flat documents --(tag_mentions_fast: split+posexplode+broadcast join,
                    zero string allocation)--> raw mentions
    --canonicalize (narrow)--> mentions [optionally materialized as a
                    lineage-tracked stage table via CheckpointStore]
    --doc_entities: repartition(doc_id) (the ONE shuffle)
        --groupBy(doc,type,entity): count, names, sentence set-->
        --groupBy(doc): gene / disease struct lists-->
    --inline(DOC_PAIRS): genes x diseases, |sentence intersection|
          filtered > 0 inside the array--> candidate pairs
    --score_and_vote (row-local codegen, 10 models one pass)--> edges
  mentions --salted two-phase agg--> nodes

Corpus contract: a document is packed iff the SQL predicate
functions.text.PACKED_OK holds on its text. `corpus` declares it for
the whole input ('packed' / 'raw'); 'auto' routes each document by the
predicate within the plan: the fast tagger over the packed documents,
unioned with the raw-text chain over the rest.

The neural edge plan (build_edges_neural) is the same plan down to
the per-doc entity row, which there also collects the doc's mention
coordinates: the row joins the doc's text, is repartitioned to a fixed
count of scoring tasks, and the CNN+BiGRU ensemble scores its
DOC_PAIRS in a Python worker, which derives the doc's sentences from
the text itself, before the shared ensemble_vote.

Every shuffle is keyed by doc_id — document-uniform, so hot entities
(the 'join' gene appears in ~77% of docs) never skew a partition.
Entity-GLOBAL rollups (nodes) go through salted two-phase aggregation
(operators/skew.py). See BENCH.md for the measured evolution of this
plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..corpus import load_documents
from ..functions.text import PACKED_OK
from ..operators.scorer import CUTOFF

# the edge table (reference gda_rst.tsv columns, predict.py:203-213 /
# README.md:227-234) with its fixed predicate
_EDGE_COLUMNS = (
    "doc_id",
    "gene_id",
    "'associated_with' AS predicate",
    "disease_id",
    "g_name",
    "d_name",
    "prob_avg",
    "hit_cnt",
)


def probe_corpus_contract_info(documents: DataFrame) -> dict:
    """Whether every document is packed. Exists only for perfbench;
    goes with the next benchmark change."""
    return {"packed": documents.where(f"NOT {PACKED_OK}").isEmpty()}


def _route(documents: DataFrame, corpus: str, packed, raw) -> DataFrame:
    """`packed(docs)` or `raw(docs)` as `corpus` declares; 'auto' is
    the union of `packed` over the documents PACKED_OK holds for and
    `raw` over the rest: a plan, not a job, exact per document. Neither
    misroute is safe: the arithmetic tagger mis-coordinates raw text,
    and the raw chain reads packed text as one sentence (sf0.001: 285
    edges become 0)."""
    if corpus == "packed":
        return packed(documents)
    if corpus == "raw":
        return raw(documents)
    if corpus != "auto":
        raise ValueError(f"corpus must be auto|packed|raw, got {corpus!r}")
    return packed(documents.where(PACKED_OK)).unionByName(
        raw(documents.where(f"NOT {PACKED_OK}"))
    )


def build_mentions(
    spark: SparkSession, documents: DataFrame, corpus: str = "auto"
) -> DataFrame:
    # allocation-lean tagger: no sentence strings, no char offsets
    # (pair-gen/scoring never read them); equals the span-derived
    # tagger on (doc_id, sent_no, tok_no, mention, type) — asserted
    # in tests/test_invariant.py
    #
    # Cleaning chain (reference hot path raw.py:615-895 + make_tags):
    # canonicalization (parse_ann_id), MeSH validity and joint-tag
    # fusion are PRE-FOLDED into the broadcast dictionary
    # (dictionaries.entity_dict_fused_df) — for a token-granularity
    # tagger, same-(doc,sent,tok,mention) collisions can only arise
    # from dictionary collisions, so dimension-side fusion is exactly
    # equivalent to tag -> canonicalize -> fuse_joint_tags (asserted
    # in tests/test_invariant.py) at ZERO runtime shuffles. The
    # span-granularity rules (overlap merge, cross-sentence drop) live
    # on the span-bearing extraction path (kg_mentions_clean in
    # __spark_entry__, tag_mentions + tag_multiword).
    #
    # corpus routing: 'packed' = the arithmetic fast tagger (valid only
    # under the derive_spans contract), 'raw' = the raw-text chain, one
    # Python pass (split -> tokenize -> locate -> text check) then the
    # broadcast dictionary join, 'auto' = each document by PACKED_OK
    # (_route). Both paths tag against the same fused dictionary, so
    # downstream consumers see one schema:
    # (doc_id, sent_no, tok_no, mention, type, entity_id).
    from ..dictionaries import entity_dict_fused_df
    from ..operators.tagger import tag_mentions_fast, tag_mentions_raw

    d = entity_dict_fused_df(spark)
    return _route(
        documents,
        corpus,
        lambda docs: tag_mentions_fast(docs, spark, entity_dict=d),
        lambda docs: tag_mentions_raw(docs, spark, entity_dict=d).drop(
            "start", "end"
        ),
    )


def build_edges(
    spark: SparkSession,
    documents: DataFrame,
    cutoff: int = CUTOFF,
    store=None,
    corpus: str = "auto",
) -> DataFrame:
    """documents -> edges (the flagship query). With a store, the
    mentions are a resumable stage table, and corpus='auto' records its
    exact routing (metric rows routing/packed_docs, routing/raw_docs),
    counted in the stage's own pass."""
    from ..operators.pairgen import edge_relations
    from ..operators.scorer import score_and_vote

    routing = None
    if store is not None and corpus == "auto":
        routing = Observation()
        documents = documents.observe(
            routing,
            F.count_if(F.expr(PACKED_OK)).alias("packed_docs"),
            F.count_if(~F.expr(PACKED_OK)).alias("raw_docs"),
        )
    mentions = build_mentions(spark, documents, corpus=corpus)
    if store is not None:
        # production path: mentions materialized as a lineage-tracked,
        # resumable stage table; the edge plan below reads it columnar
        # instead of recomputing the tag chain
        mentions = store.run_stage("mentions", mentions, lambda df: df)
        if routing is not None:
            store.record_metrics("routing", routing.get)
    # doc-local plan: ONE shuffle (repartition by doc_id) serves the
    # per-entity and per-doc aggregations, the gene x disease fan-out
    # is one inline of DOC_PAIRS, so there is no join and no persist; the
    # scorer is row-local codegen over the fanned-out pairs
    pairs, _ = edge_relations(mentions)
    return score_and_vote(pairs, cutoff=cutoff).selectExpr(*_EDGE_COLUMNS)


def build_nodes(
    spark: SparkSession, documents: DataFrame, corpus: str = "auto"
) -> DataFrame:
    """Entity node table with corpus-wide stats. Entity-keyed with a
    hot-key skew story, handled EXPLICITLY by plan choice (bench.py
    --skew, BENCH.md round 6): Spark plans count(*) + countDistinct
    via planAggregateWithOneDistinct, whose FIRST exchange hashes on
    (type, entity_id, doc_id) — the hot entity's rows spread over the
    whole doc space, so no reducer ever owns a hot key's full doc set.
    Measured at 640k docs with one disease in 52% of them: this plan
    is balanced (max/p50 reduce-task records 99k/98k, time ratio 1.4)
    and 40% faster than the salted two-phase variant
    (skew.salted_count), which pays an extra exchange for a spread the
    rewrite already provides. salted_count remains the right tool for
    aggregations Spark does NOT auto-spread (see operators/skew.py)."""
    mentions = build_mentions(spark, documents, corpus=corpus)
    return (
        mentions.groupBy("type", "entity_id")
        .agg(
            F.count("*").cast("long").alias("n_mentions"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )


def build_edges_neural(
    spark: SparkSession,
    documents: DataFrame,
    cutoff: int = CUTOFF,
    corpus: str = "auto",
    mode: str = "abs",
) -> DataFrame:
    """Edges scored by the CNN+BiGRU NumPy ensemble (operators/neural)
    instead of the deterministic scorer; vote semantics identical
    (reference predict.py:104-140, threshold 0.5 train.py:564).

    The flagship plan down to the pairs: build_mentions, then the same
    per-doc entity row (pairgen.doc_entities), which also collects each
    doc's mention coordinates; that row joins the doc's text and feeds
    the scorer, then scorer.ensemble_vote. No persist, and no join
    besides the text's.

    The text carries its route as a literal `packed` flag, set by
    _route as the mentions are routed; the scoring worker turns each
    text into word rows itself (neural.word_rows), raw text with the
    raw tagger's splitter and tokenizer, so no second raw pass runs.

    mode selects the reference input shape (predict.py:291-294:
    "recommend [for abs 32, for ft 400]"): 'abs' caps documents at 32
    sentences, 'ft' (full-text) at 400."""
    from ..operators.neural import MAX_SENTS, MAX_SENTS_FT, neural_score_pairs
    from ..operators.scorer import ensemble_vote

    if mode not in ("abs", "ft"):
        raise ValueError(f"mode must be abs|ft, got {mode!r}")
    max_sents = MAX_SENTS_FT if mode == "ft" else MAX_SENTS
    mentions = build_mentions(spark, documents, corpus=corpus)
    texts = _route(
        documents.selectExpr("CAST(doc_id AS STRING) AS doc_id", "text"),
        corpus,
        lambda docs: docs.withColumn("packed", F.lit(True)),
        lambda docs: docs.withColumn("packed", F.lit(False)),
    )
    scored = neural_score_pairs(mentions, texts, max_sents=max_sents)
    voted = ensemble_vote(scored, cutoff=cutoff)
    return voted.selectExpr(*_EDGE_COLUMNS)


def run(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the driver testdata IS the packed contract by construction
    # (derive_spans defines it) — declare it: one scan, no raw branch;
    # user-facing entry points (CLI) keep corpus="auto"
    return build_edges(spark, load_documents(spark, sf_dir), corpus="packed")


def run_neural(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_edges_neural(
        spark, load_documents(spark, sf_dir), corpus="packed"
    )
