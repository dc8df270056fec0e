"""Label table + the J1 labels join in the KG pipeline.

Reference semantics (src/renet2/raw_handler.py:35-49, also
src/renet2/raw.py:1656-1658): candidate pairs LEFT-join labels on the
(pmid, geneId, diseaseId) triple, unmatched pairs fillna(0); labels
take values {0, 0.5, 1} where 0.5 marks an "ambiguous association"
(raw_handler.py:35-49, kept as a double through training,
src/renet2/model.py:627-629).

The driver testdata ships no labels.parquet and the task forbids
external data, so :func:`synthetic_labels` derives a deterministic
label table from the candidate-pair id triple (md5 first hex digit):
~half the pairs carry a label row (values 0/0.5/1), the rest are
absent so the fillna(0) path is observably exercised. Both engines
(Spark + the DuckDB oracle) compute the same md5, so the table is
reproducible anywhere — the exact analogue of a labels fixture file.

Scale: the labels join is keyed by the full (doc_id, gene_id,
disease_id) triple — document-uniform, no hot-entity skew; at real
scale the labels side is a fraction of pairs and broadcastable
per-batch, otherwise it shuffles on the same triple as pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

AMBIGUOUS = 0.5  # reference raw_handler.py:35-49


def _label_digit(doc: Column, gene: Column, dis: Column) -> Column:
    """First hex digit (0-15) of md5('doc:gene:disease')."""
    h = F.md5(F.concat_ws(":", doc, gene, dis))
    return F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1


def synthetic_labels(pairs: DataFrame) -> DataFrame:
    """(doc_id, gene_id, disease_id, label) — deterministic pseudo-label
    fixture over candidate pairs: digit<4 -> 1.0, 4..5 -> 0.5
    (ambiguous), 6..7 -> 0.0, >=8 -> no label row."""
    d = _label_digit(F.col("doc_id"), F.col("gene_id"), F.col("disease_id"))
    return (
        pairs.select("doc_id", "gene_id", "disease_id")
        .distinct()
        .withColumn("_d", d)
        .filter(F.col("_d") < 8)
        .select(
            "doc_id",
            "gene_id",
            "disease_id",
            F.when(F.col("_d") < 4, F.lit(1.0))
            .when(F.col("_d") < 6, F.lit(AMBIGUOUS))
            .otherwise(F.lit(0.0))
            .alias("label"),
        )
    )


N_SILVER_TOOLS = 4  # reference train.py:454-470: RENET/BeFree/DTMiner/BioBERT


def tool_votes(pairs: DataFrame) -> DataFrame:
    """Deterministic stand-ins for the 4 external tools' outputs
    (reference train.py:345-376 reads BeFree/DTMiner/BioBERT result
    files): tool i sees a pair iff hex digit of md5('ti:triple') < 8
    and predicts positive iff < 2. LONG format (doc_id, gene_id,
    disease_id, tool, pred), produced by ONE scan + a row-local
    explode of the per-tool votes — the Spark-first replacement for
    the reference's 4-frame outer-join chain (train.py:454-470); a
    union of 4 per-tool branches would recompute the upstream pair
    pipeline 4x (Spark does not CSE across union branches)."""
    tools = []
    for i in range(N_SILVER_TOOLS):
        d = _label_digit(
            F.concat(F.lit(f"t{i}:"), F.col("doc_id")),
            F.col("gene_id"),
            F.col("disease_id"),
        )
        tools.append(
            F.struct(
                F.lit(i).alias("tool"),
                d.alias("_d"),
                (d < 2).cast("int").alias("pred"),
            )
        )
    return (
        pairs.select("doc_id", "gene_id", "disease_id")
        .distinct()
        .select(
            "doc_id",
            "gene_id",
            "disease_id",
            F.explode(F.array(*tools)).alias("v"),
        )
        .filter(F.col("v._d") < 8)
        .select(
            "doc_id",
            "gene_id",
            "disease_id",
            F.col("v.tool").alias("tool"),
            F.col("v.pred").alias("pred"),
        )
    )


def silver_negatives(pairs: DataFrame, annotated: DataFrame) -> DataFrame:
    """J6 silver-vote merge (reference train.py:451-480): pairs seen by
    >= 1 tool where EVERY observed prediction is negative become
    silver negatives (label 0), minus already-annotated pairs
    (left-anti; the reference's new_label.isnull() filter at 468-469).
    The 2x-positives downsampling lives in caps.sample_balanced_hash
    (deterministic per-row md5 rule)."""
    keys = ["doc_id", "gene_id", "disease_id"]
    agg = tool_votes(pairs).groupBy(*keys).agg(
        F.max("pred").alias("_any_pos"),
        F.count("*").cast("int").alias("n_tools"),
    )
    return (
        agg.filter(F.col("_any_pos") == 0)
        .join(annotated.select(*keys), keys, "left_anti")
        .select(*keys, "n_tools", F.lit(0.0).alias("label"))
    )


def join_labels(pairs: DataFrame, labels: DataFrame) -> DataFrame:
    """J1: pairs LEFT-join labels on the id triple + fillna(0)
    (reference raw_handler.py:45-47). Ambiguous 0.5 rows pass through
    unchanged."""
    return pairs.join(
        labels, ["doc_id", "gene_id", "disease_id"], "left"
    ).na.fill({"label": 0.0})
