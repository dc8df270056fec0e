"""Candidate (gene, disease) pair generation.

Reference: Generate_data_rnn (plain per-doc cross product of gene ids
x disease ids, src/renet2/utils/sequence_utils.py:370-438) and
Generate_data_rnn_v (pairs restricted to co-occurrence within one
section, sequence_utils.py:255-304 — section pair set `tar_p_set` at
291, cross at 301-304). The reference loops per doc in Python; here
the fan-out is a declarative plan:

  mentions --groupBy(doc_id, sent_no)--> per-sentence entity sets
           --explode x explode--> co-occurring pairs
           --groupBy(doc_id, g, d)--> n_cooc_sents

One shuffle (the groupBy); the cross product is generated row-locally
by nested explode, so no join and **no skew on hot entities** — the
shuffle key is (doc_id, sent_no), which is uniformly distributed no
matter how hot an entity is. This is the explicit skew defusal the
north_rule asks for: keying fan-out by document, never by entity.
Entity-keyed aggregations downstream use salted two-phase aggs
(operators/skew.py). The edge plans (flagship and neural) key every
step by doc_id alone, so they share one shuffle: doc_entities builds
a per-document entity row and DOC_PAIRS derives its pairs in place.

Feature columns for the scorer (document-level evidence, the same
signals the reference's feature codes 4/5/6 mark per token,
sequence_utils.py:325-349): n_cooc_sents, n_gene_mentions,
n_disease_mentions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sentence_pair_candidates(mentions: DataFrame) -> DataFrame:
    """Sentence/section co-occurrence variant (_v). Output:
    (doc_id, gene_id, disease_id, n_cooc_sents)."""
    per_sent = mentions.groupBy("doc_id", "sent_no").agg(
        F.collect_set(
            F.when(F.col("type") == "Gene", F.col("entity_id"))
        ).alias("genes"),
        F.collect_set(
            F.when(F.col("type") != "Gene", F.col("entity_id"))
        ).alias("diseases"),
    )
    pairs = (
        per_sent.select(
            "doc_id", "sent_no", F.explode("genes").alias("gene_id"), "diseases"
        )
        .select(
            "doc_id", "sent_no", "gene_id", F.explode("diseases").alias("disease_id")
        )
    )
    return pairs.groupBy("doc_id", "gene_id", "disease_id").agg(
        F.countDistinct("sent_no").cast("int").alias("n_cooc_sents")
    )


def doc_pair_candidates(mentions: DataFrame) -> DataFrame:
    """Plain variant: per-doc distinct genes x distinct diseases
    (reference sequence_utils.py:370-438). Output:
    (doc_id, gene_id, disease_id)."""
    per_doc = mentions.groupBy("doc_id").agg(
        F.collect_set(
            F.when(F.col("type") == "Gene", F.col("entity_id"))
        ).alias("genes"),
        F.collect_set(
            F.when(F.col("type") != "Gene", F.col("entity_id"))
        ).alias("diseases"),
    )
    return (
        per_doc.select("doc_id", F.explode("genes").alias("gene_id"), "diseases")
        .select("doc_id", "gene_id", F.explode("diseases").alias("disease_id"))
    )


def doc_entities(mentions: DataFrame) -> DataFrame:
    """(doc_id, gs, ds, ments): one row per document after ONE shuffle.
    Every key below starts with doc_id, so the HashPartitioning(doc_id)
    of the repartition satisfies both aggregations: no other exchange,
    no join, no persist (the reference likewise builds candidates one
    document at a time, sequence_utils.py:255-304).

    gs / ds: the doc's Gene / non-Gene entities (every non-Gene tag,
    composites included, is on the disease side, reference
    ann_utils.py:195-207) as struct(id, n, name, sents): entity_info's
    mention count and sorted-distinct '|'-joined name, plus the set of
    its sentence numbers. ments: the doc's mention coordinates
    struct(sent_no, tok_no, type, entity_id), the neural encoder's
    input. All three are top-level aggregate outputs, so a plan that
    never reads ments prunes it (and tok_no with it) below the
    shuffle."""
    ent = "struct(entity_id AS id, n_mentions AS n, name, sents)"
    return (
        mentions.repartition("doc_id")
        .groupBy("doc_id", "type", "entity_id")
        .agg(
            F.expr("CAST(count(*) AS INT) AS n_mentions"),
            F.expr("concat_ws('|', sort_array(collect_set(mention))) AS name"),
            F.expr("collect_set(sent_no) AS sents"),
            F.expr("collect_list(struct(sent_no, tok_no, type, entity_id)) AS ments"),
        )
        .groupBy("doc_id")
        .agg(
            F.expr(f"collect_list(CASE WHEN type = 'Gene' THEN {ent} END) AS gs"),
            F.expr(f"collect_list(CASE WHEN NOT (type = 'Gene') THEN {ent} END) AS ds"),
            F.expr("flatten(collect_list(ments)) AS ments"),
        )
    )


# A doc_entities row's candidate pairs: genes x diseases that share a
# sentence, as struct(gene_id, disease_id, n_cooc_sents, n_g, n_d,
# g_name, d_name). n_cooc_sents = |g.sents & d.sents| is computed once
# per pair and the zero pairs are filtered INSIDE the array: as a
# projected column, Catalyst would push a downstream predicate on it
# (the vote cutoff) through the projection and evaluate the
# intersection once per reference.
DOC_PAIRS = (
    "flatten(transform(gs, g -> filter(transform(ds, d -> struct("
    "g.id AS gene_id, d.id AS disease_id,"
    " size(array_intersect(g.sents, d.sents)) AS n_cooc_sents,"
    " g.n AS n_g, d.n AS n_d, g.name AS g_name, d.name AS d_name)),"
    " p -> p.n_cooc_sents > 0)))"
)


def edge_relations(mentions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(pairs, docs) for the flagship edge plan: docs is
    doc_entities(mentions), pairs its DOC_PAIRS inlined to
    (doc_id, gene_id, disease_id, n_cooc_sents, n_g, n_d, g_name,
    d_name)."""
    docs = doc_entities(mentions)
    return docs.selectExpr("doc_id", f"inline({DOC_PAIRS})"), docs


def entity_info(mentions: DataFrame) -> DataFrame:
    """(doc_id, type, entity_id, n_mentions, name) — ONE aggregation
    serving both the scorer's evidence counts and the edge table's
    name attachment (reference computes these in two separate passes,
    predict.py:162-203; we share the shuffle)."""
    return mentions.groupBy("doc_id", "type", "entity_id").agg(
        F.count("*").cast("int").alias("n_mentions"),
        F.concat_ws("|", F.sort_array(F.collect_set("mention"))).alias("name"),
    )


def pair_features(
    mentions: DataFrame, info: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs + evidence features:
    (doc_id, gene_id, disease_id, n_cooc_sents, n_g, n_d), a projection
    of edge_relations. `info` is accepted and ignored: the counts come
    from the same per-doc row as the pairs."""
    return edge_relations(mentions)[0].select(
        "doc_id", "gene_id", "disease_id", "n_cooc_sents", "n_g", "n_d"
    )
