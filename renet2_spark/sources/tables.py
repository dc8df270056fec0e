"""Table sink abstraction: Iceberg when available, parquet otherwise.

The production design (north_rule) materializes nodes/edges and stage
tables as Iceberg — snapshot isolation gives the idempotent-overwrite
semantics the CheckpointStore needs for free (REPLACE of a partition
is one atomic snapshot commit), plus hidden partitioning and schema
evolution. This sandbox has no iceberg-spark runtime jar on the
classpath, so the writer degrades to parquet, where an overwrite
replaces the whole path as createOrReplace replaces the whole table
(same layout contract, weaker atomicity) — the switch is a
capability probe, not a config flag, so the identical code promotes
itself on a real cluster launched with
``--packages org.apache.iceberg:iceberg-spark-runtime-...``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame, path_or_name: str, partition_by: list[str] | None = None
) -> str:
    """Overwrite df as an Iceberg table (by name) if the runtime is on
    the classpath, else as parquet (by path). Returns
    'iceberg'/'parquet'."""
    spark = df.sparkSession
    if iceberg_available(spark):
        w = df.writeTo(path_or_name)
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return "iceberg"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path_or_name)
    return "parquet"


def read_table(spark: SparkSession, path_or_name: str) -> DataFrame:
    if iceberg_available(spark):
        from pyspark.errors import AnalysisException

        try:
            return spark.read.table(path_or_name)
        except AnalysisException:
            # name not registered in the catalog -> it was written as a
            # parquet path by the degraded writer; fall through
            pass
    return spark.read.parquet(path_or_name)
