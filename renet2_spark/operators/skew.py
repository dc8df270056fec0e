"""Skew-defusal helpers: salted two-phase aggregation / salted joins.

The reference is single-node and has no skew story (SURVEY §4). At
cluster scale, entity-keyed aggregations are dominated by hot entities
(our fixture: gene 'join' occurs in ~77% of documents; real-world:
TP53 / 'Neoplasms' D009369). The north_rule requires skew handled
EXPLICITLY.

Pattern: stage 1 aggregates on (key, salt) where salt = a uniform
function of an orthogonal column (doc_id), spreading one hot key over
`salt_buckets` reducers; stage 2 re-aggregates the (at most
`salt_buckets` x |keys|) partials — tiny.

WHEN TO SALT — measured guidance (bench.py --skew at 640k docs, hot
disease in 52% of them; BENCH.md round 6):

* count(*) / countDistinct(doc): DON'T. Spark's own
  planAggregateWithOneDistinct hashes its first exchange on
  (key, doc) — the hot key is already spread over the doc space, and
  map-side partial aggregation collapses the plain-count side. The
  unsalted plan measured balanced (reduce-task max/p50 records
  99k/98k) and 40% FASTER than salted_count, whose extra exchange
  buys a spread the rewrite already provides. build_nodes uses the
  plain plan for exactly this reason.
* holistic aggs whose VALUES are materialized (collect_set /
  collect_list of a high-cardinality column under a hot key): salting
  splits stage-1 reducer input 16-way, but note stage 2 still merges
  the hot key's full value set in one task — at true hot-set sizes
  the right fix is to keep the (key, value) relation relational (what
  the KG plan does), cap the set, or use a sketch; salted_collect_set
  is the middle ground when exact bounded sets are required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, doc_col: str, salt_buckets: int) -> DataFrame:
    salt = F.pmod(F.xxhash64(F.col(doc_col)), F.lit(salt_buckets))
    return df.withColumn("_salt", salt.cast("int"))


def salted_count(
    df: DataFrame,
    keys: list[str],
    doc_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """groupBy(keys).agg(count, countDistinct(doc)) with salting:
    output (keys..., n_mentions, n_docs)."""
    stage1 = (
        with_salt(df, doc_col, salt_buckets)
        .groupBy(*keys, "_salt")
        .agg(
            F.count("*").alias("_cnt"),
            # distinct docs within a salt bucket; buckets partition the
            # doc space (salt = f(doc)), so stage-2 SUM is exact
            F.countDistinct(doc_col).alias("_docs"),
        )
    )
    return stage1.groupBy(*keys).agg(
        F.sum("_cnt").cast("long").alias("n_mentions"),
        F.sum("_docs").cast("long").alias("n_docs"),
    )


def salted_collect_set(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase collect_set salted by doc_id: per-salt partial sets,
    then union+dedupe. Output (keys..., values array<...>, sorted)."""
    stage1 = (
        with_salt(df, "doc_id", salt_buckets)
        .groupBy(*keys, "_salt")
        .agg(F.collect_set(value_col).alias("_vals"))
    )
    return stage1.groupBy(*keys).agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_vals")))
        ).alias("values")
    )
