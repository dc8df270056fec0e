"""SparkSession factory.

Local-mode testing stands in for a multi-executor cluster; every knob
here is chosen so the same plans scale: AQE for runtime re-planning and
skew-join splitting, Arrow for all pandas-UDF traffic, shuffle-partition
count matched to parallelism (at cluster scale this is set to
2-3x total cores via spark-submit conf, not hardcoded).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def local_table(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-side literal table (dictionaries, grids, stats) as
    a DataFrame via the pandas/Arrow path.

    Why (r7, guide §4.1): `createDataFrame(list)` builds a PYTHON RDD
    sliced into defaultParallelism partitions, so every materialization
    — e.g. each BroadcastExchange branch of a plan that joins the
    table several times — runs ~32 python-worker tasks for a 74-row
    dictionary. Measured at local[32]: 0.97s per broadcast build vs
    0.16s through Arrow (stage profile: 3 such builds were 13.7 of
    kg_edges' 15.8 task-seconds). The Arrow path converts on the
    driver and ships JVM-side record batches — no executor python.
    Values/schema are identical (explicit schema, object-dtype
    passthrough). pandas is a hard dependency, so there is no
    fallback: a row that does not convert raises."""
    import pandas as pd
    from pyspark.sql import types as _T

    if isinstance(schema, _T.StructType):
        names = schema.fieldNames()
    else:
        names = [f.split()[0] for f in str(schema).split(",")]
    rows = list(rows)
    pdf = pd.DataFrame(
        (tuple(r) for r in rows), columns=names, dtype=object
    ) if rows else pd.DataFrame({n: [] for n in names}, dtype=object)
    return spark.createDataFrame(pdf, schema=schema)


def get_spark(
    app_name: str = "renet2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # local[N] -> 4N shuffle partitions (load-balance reduce stages;
    # N-partition reduces gate on the slowest task). On a real cluster
    # pass shuffle_partitions explicitly (2-3x total cores).
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 128 if n == "*" else max(8, 4 * int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64MB advisory size coalesces this sandbox's small
        # shuffles down to ~core-count partitions, gating each reduce
        # stage on its slowest task (measured: coalescing off took the
        # 16-core flagship 16.1s -> 10.9s). 2MB keeps toy-scale data
        # parallel; production deployments override via spark-submit.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE (incl. partition coalescing) apply INSIDE cached-plan
        # materialization: off, every persisted relation materializes
        # at the raw shuffle-partition count, so plans that persist
        # small intermediates (minhash keys/cand, the neural doc
        # caches) run hundreds of near-empty tasks (r7 A/B, sf0.1
        # local[32]: minhash 3.49->2.98s, neural 3.67->3.36s with
        # first-sample 7.3->3.6s). Scale-independent: the flag only
        # permits AQE to change a cached plan's output partitioning.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # allow shuffled-hash join where its size conditions hold
        # instead of always sorting both sides (guide §3.1/§9; r7
        # interleaved A/B at sf0.1: kg_edges 1.90->1.72s, neural
        # 3.62->3.30s, minhash 3.13->2.98s). The planner still only
        # picks SHJ when the build side fits its per-partition bound,
        # and AQE can rewrite at runtime; sort-merge remains the
        # fallback for anything larger.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
