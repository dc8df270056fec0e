"""Per-stage checkpointing with partition lineage + metrics tables.

north_rule: "checkpoints per-partition progress with lineage and
metrics tables so any stage resumes idempotently". The reference's
analogue is the pickle feature cache keyed by build params
(src/renet2/raw_handler.py:117-187) and per-batch result files later
unioned (src/renet2/predict.py:383-443) — single-node, no lineage.

Design (Iceberg in production, parquet dirs here — same layout):

  <root>/<stage>/data/part_key=<k>/...   output per hash bucket of the
                                         key, rows stamped with their
                                         bucket's input_fingerprint
  <root>/<stage>/lineage/                (stage, part_key,
                                         input_fingerprint, status,
                                         rows_out, updated_at)
  <root>/metrics/                        (stage, metric, value)

``run_stage`` commits in one pass: one ``collect`` of the input's
per-bucket fingerprints against the latest COMMITTED lineage (new or
changed = to-do), one write of the to-do buckets' transform with each
row stamped ``input_fingerprint = map(k -> fp)[part_key]``, one
lineage append. A row keyed outside the to-do set stamps NULL: it is
dropped before the dynamic partition overwrite, counted by an in-pass
``Observation``, and raises after the write with no lineage row, so
committed buckets are untouched. The readback keeps only rows stamped
with the input's current fingerprints: a bucket whose recompute
emitted nothing, or whose input is gone, serves none of its old
files. The observe sits above the ``repartition`` exchange: below it,
an empty shuffle lets AQE's empty-relation propagation drop the
CollectMetrics node and ``Observation.get`` fails. part_key is a hash
bucket of the key, so the unit of resume is stable under
repartitioning and cluster size.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "stage string, part_key int, input_fingerprint string, status string, "
    "rows_out long, updated_at timestamp"
)


def with_part_key(df: DataFrame, key_col: str = "doc_id", buckets: int = 32) -> DataFrame:
    """Bucket rows by a TYPE-NORMALIZED hash of the key: the key is cast
    to string before hashing so input buckets (often bigint doc_id) and
    output buckets (often string doc_id after pipeline casts) agree —
    xxhash64(7::bigint) != xxhash64('7'), and that mismatch made
    partial resume overwrite committed partitions with rows rebucketed
    elsewhere (round-1 advice, high)."""
    return df.withColumn(
        "part_key",
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(buckets)).cast(
            "int"
        ),
    )


def input_fingerprint(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """(part_key, input_fingerprint) — order-insensitive digest per
    partition bucket over FULL row content (md5 of the JSON-encoded
    row struct, summed per bucket): changes iff any of the bucket's
    input rows change, including non-key columns (round-1 advice:
    hashing only doc_id served stale output for edited docs)."""
    cols = sorted(c for c in df.columns if c != "part_key")
    h = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    return (
        df.groupBy("part_key")
        .agg(
            F.count("*").alias("n"),
            # xor-fold of row hashes: commutative -> order-insensitive
            F.sum(F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)"))
            .cast("string")
            .alias("digest"),
        )
        .select(
            "part_key",
            F.md5(F.concat_ws(":", "n", "digest")).alias("input_fingerprint"),
        )
    )


def _fingerprint_of(fps: dict[int, str]) -> Column:
    """The fingerprint of the row's bucket in `fps`, NULL outside it."""
    kvs = [F.lit(x) for kv in fps.items() for x in kv]
    return F.create_map(*kvs).cast("map<int,string>")[F.col("part_key")]


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage, "lineage")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.root, stage, "data")

    def lineage(self, stage: str) -> DataFrame:
        """The stage's lineage rows; empty only if none was ever written."""
        try:
            return self.spark.read.parquet(self._lineage_path(stage))
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    def committed(self, stage: str) -> DataFrame:
        """Latest lineage row per part_key, filtered to COMMITTED."""
        from pyspark.sql import Window as W

        lin = self.lineage(stage)
        w = W.partitionBy("part_key").orderBy(F.desc("updated_at"))
        return (
            lin.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("status") == "COMMITTED"))
            .drop("_rn")
        )

    def run_stage(
        self,
        stage: str,
        inp: DataFrame,
        transform,
        key_col: str = "doc_id",
        buckets: int = 32,
    ) -> DataFrame:
        """Compute `transform(inp)` checkpointed per partition bucket;
        resumes past COMMITTED buckets whose input fingerprint is
        unchanged. Returns the stage output DataFrame (reading back
        from the checkpoint so downstream stages see one lineage)."""
        keyed = with_part_key(inp, key_col, buckets)
        done = self.committed(stage).select(
            "part_key", F.col("input_fingerprint").alias("_done_fp")
        )
        fps, todo = {}, {}
        for r in input_fingerprint(keyed, key_col).join(done, "part_key", "left").collect():
            fps[r["part_key"]] = r["input_fingerprint"]
            if r["_done_fp"] != r["input_fingerprint"]:
                todo[r["part_key"]] = r["input_fingerprint"]
        data = self.spark.read
        if todo:
            subset = keyed.filter(F.col("part_key").isin(list(todo))).drop("part_key")
            out = with_part_key(transform(subset), key_col, buckets).withColumn(
                "input_fingerprint", _fingerprint_of(todo)
            )
            # the readback's schema is the written one: an empty output
            # leaves no file to infer it from
            data = data.schema(out.schema)
            obs = Observation()
            # one task (one file) per bucket: without the repartition every
            # task writes into every bucket dir (measured 1,024 files vs
            # 32). The observe sits above the exchange (module docstring).
            out.repartition("part_key").observe(
                obs,
                F.count_if(F.col("input_fingerprint").isNull()).alias("stray"),
                *[F.count_if(F.col("part_key") == k).alias(f"n{k}") for k in todo],
            ).filter("input_fingerprint IS NOT NULL").write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("part_key").parquet(self._data_path(stage))
            n = obs.get
            # a transform that rewrites key values emits rows bucketed
            # OUTSIDE the recomputed set: they were not written, and a
            # commit would lose them — fail loudly
            if n["stray"]:
                raise ValueError(
                    f"run_stage('{stage}'): transform emitted {n['stray']} rows "
                    f"whose {key_col} hashes outside the recomputed buckets "
                    f"{sorted(todo)} — transforms must preserve "
                    f"{key_col} values (per-bucket idempotent resume)"
                )
            self.spark.createDataFrame(
                [(stage, k, fp, "COMMITTED", n[f"n{k}"], None) for k, fp in todo.items()],
                LINEAGE_SCHEMA,
            ).withColumn("updated_at", F.current_timestamp()).write.mode(
                "append"
            ).parquet(self._lineage_path(stage))
        return (
            data.parquet(self._data_path(stage))
            .filter(_fingerprint_of(fps) == F.col("input_fingerprint"))
            .drop("part_key", "input_fingerprint")
        )

    def record_metrics(self, stage: str, metrics: dict[str, float]) -> None:
        self.spark.createDataFrame(
            [(stage, k, float(v)) for k, v in metrics.items()],
            "stage string, metric string, value double",
        ).withColumn("updated_at", F.current_timestamp()).write.mode(
            "append"
        ).parquet(os.path.join(self.root, "metrics"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "metrics"))
