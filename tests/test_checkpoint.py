"""Resumability: kill-and-resume semantics via the per-partition
lineage table (north_rule)."""

import hashlib
import os
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from renet2_spark.sources.checkpoint import CheckpointStore, with_part_key
from tests.conftest import SF_SMOKE, sql_conf


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )


def _lose_lineage(store, root, stage, part_keys):
    """Simulate a crash that lost some buckets' lineage commits."""
    lin = store.lineage(stage).filter(~F.col("part_key").isin(part_keys))
    lin.write.mode("overwrite").parquet(f"{root}/{stage}/lineage_tmp")
    shutil.rmtree(f"{root}/{stage}/lineage")
    shutil.move(f"{root}/{stage}/lineage_tmp", f"{root}/{stage}/lineage")


def test_stage_runs_and_resumes_noop(spark, root):
    store = CheckpointStore(spark, root)
    calls = []

    def transform(df):
        calls.append(1)
        return df.withColumn("n_chars2", F.length("text"))

    out1 = store.run_stage("stats", _docs(spark), transform)
    assert out1.count() == 500
    assert store.committed("stats").count() == 32
    # resume: nothing to do, transform not invoked again
    n_calls = len(calls)
    out2 = store.run_stage("stats", _docs(spark), transform)
    assert out2.count() == 500
    assert len(calls) == n_calls


def test_partial_failure_resume_recomputes_only_missing(spark, root):
    store = CheckpointStore(spark, root)

    def transform(df):
        return df.withColumn("n_chars2", F.length("text"))

    store.run_stage("stats", _docs(spark), transform)
    _lose_lineage(store, root, "stats", [0, 1, 2])
    assert store.committed("stats").count() == 29

    seen = []

    def transform2(df):
        seen.append(df.select("doc_id").count())
        return df.withColumn("n_chars2", F.length("text"))

    out = store.run_stage("stats", _docs(spark), transform2)
    # only the 3 lost buckets were recomputed...
    keyed = with_part_key(_docs(spark))
    expected = keyed.filter(F.col("part_key").isin([0, 1, 2])).count()
    assert seen == [expected]
    # ...and the final output is complete and deduplicated
    assert out.count() == 500
    assert out.select("doc_id").distinct().count() == 500


def test_input_change_invalidates_bucket(spark, root):
    store = CheckpointStore(spark, root)

    def transform(df):
        return df.withColumn("n_chars2", F.length("text"))

    store.run_stage("stats", _docs(spark), transform)
    # drop one doc -> exactly the buckets containing it recompute
    docs2 = _docs(spark).filter(F.col("doc_id") != "7")
    out = store.run_stage("stats", docs2, transform)
    assert out.count() == 499


def test_resume_survives_key_type_change_in_transform(spark, root):
    """ADVICE r1 (high) repro: bigint doc_id input + a transform that
    (like build_edges) emits string doc_id. Buckets must agree between
    input fingerprinting and output partitioning, or a partial resume
    dynamic-overwrites committed partitions holding other buckets'
    rows."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )  # doc_id stays BIGINT here

    def transform(df):
        return df.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.length("text").alias("n_chars2"),
        )

    store = CheckpointStore(spark, root)
    out1 = store.run_stage("edges", docs, transform, buckets=8)
    assert out1.count() == 500
    _lose_lineage(store, root, "edges", [0])

    out2 = store.run_stage("edges", docs, transform, buckets=8)
    assert out2.count() == 500  # was 61/500 before the fix
    assert out2.select("doc_id").distinct().count() == 500


def test_text_change_same_ids_invalidates_bucket(spark, root):
    """ADVICE r1 (medium) repro: same doc_id set, changed text content
    must invalidate the bucket's fingerprint and serve fresh output."""
    docs = _docs(spark)

    def transform(df):
        return df.select("doc_id", F.length("text").alias("n_chars2"))

    store = CheckpointStore(spark, root)
    store.run_stage("stats", docs, transform)
    docs2 = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == "7", F.concat(F.col("text"), F.lit(" x")))
        .otherwise(F.col("text")),
    )
    out = store.run_stage("stats", docs2, transform)
    want = docs2.filter(F.col("doc_id") == "7").select(
        F.length("text")
    ).collect()[0][0]
    got = out.filter(F.col("doc_id") == "7").collect()[0]["n_chars2"]
    assert got == want  # stale before the fix (fingerprint was id-only)


def test_key_rewriting_transform_fails_loudly(spark, root):
    """A transform that REWRITES key values cannot resume idempotently;
    run_stage must refuse rather than silently lose partitions."""
    store = CheckpointStore(spark, root)
    store.run_stage("bad", _docs(spark), lambda df: df)
    # partial resume (one bucket lost) with a key-rewriting transform:
    # rewritten keys hash into OTHER buckets -> must refuse
    lin = store.lineage("bad")
    keep = lin.filter(F.col("part_key") != 0)
    keep.write.mode("overwrite").parquet(root + "/bad/lineage_tmp")
    shutil.rmtree(root + "/bad/lineage")
    shutil.move(root + "/bad/lineage_tmp", root + "/bad/lineage")

    def bad(df):
        return df.select(
            F.concat(F.lit("x"), F.col("doc_id")).alias("doc_id"), "text"
        )

    with pytest.raises(ValueError, match="hashes outside"):
        store.run_stage("bad", _docs(spark), bad)


def test_recompute_emitting_nothing_serves_no_stale_rows(spark, root):
    """A bucket whose recompute emits no rows keeps its old files on
    disk (dynamic overwrite replaces only partitions that receive
    rows); the readback must not serve them."""
    store = CheckpointStore(spark, root)

    def transform(df):
        return df.filter(F.col("text") != "").withColumn("n_chars2", F.length("text"))

    docs = with_part_key(_docs(spark))
    store.run_stage("stats", docs.drop("part_key"), transform)
    edited = docs.withColumn(
        "text", F.when(F.col("part_key") == 0, F.lit("")).otherwise(F.col("text"))
    ).drop("part_key")
    out = store.run_stage("stats", edited, transform)
    gone = {r["doc_id"] for r in docs.filter("part_key = 0").collect()}
    assert gone
    got = {r["doc_id"] for r in out.collect()}
    assert not got & gone
    assert out.count() == 500 - len(gone)


def test_bucket_with_all_docs_removed_serves_no_stale_rows(spark, root):
    """A bucket whose input docs are all gone has no fingerprint row,
    so it is never recomputed; the readback must drop its old rows."""
    store = CheckpointStore(spark, root)

    def transform(df):
        return df.withColumn("n_chars2", F.length("text"))

    store.run_stage("stats", _docs(spark), transform)
    rest = with_part_key(_docs(spark)).filter("part_key != 0").drop("part_key")
    out = store.run_stage("stats", rest, transform)
    assert out.count() < 500
    assert sorted(out.collect()) == sorted(transform(rest).collect())


def test_stage_emitting_nothing_reads_back_empty(spark, root):
    """A fresh stage whose transform emits no rows writes no data file;
    the readback still returns an empty DataFrame with the transform's
    columns instead of failing to infer a schema."""
    store = CheckpointStore(spark, root)

    def transform(df):
        return df.filter("length(text) < 0").withColumn("n", F.length("text"))

    out = store.run_stage("empty", _docs(spark), transform)
    assert out.columns == ["doc_id", "text", "n"]
    assert out.count() == 0
    assert store.committed("empty").count() == 32


def _checksums(path):
    """md5 of every file under `path`, keyed by relative path."""
    return {
        str(f.relative_to(path)): hashlib.md5(f.read_bytes()).hexdigest()
        for f in Path(path).rglob("*")
        if f.is_file()
    }


def test_stray_rows_leave_committed_buckets_untouched(spark, root):
    """A partial resume whose transform rewrites keys raises after its
    write, leaves every committed bucket's files byte-identical and
    commits nothing; the next run with a key-preserving transform
    serves the full, deduplicated output."""
    store = CheckpointStore(spark, root)
    store.run_stage("bad", _docs(spark), lambda df: df)
    _lose_lineage(store, root, "bad", [0])
    data = f"{root}/bad/data"
    committed = {
        k: _checksums(f"{data}/{k}")
        for k in os.listdir(data)
        if k.startswith("part_key=") and k != "part_key=0"
    }
    assert len(committed) == 31
    n_lineage = store.lineage("bad").count()

    def bad(df):
        return df.select(
            F.concat(F.lit("x"), F.col("doc_id")).alias("doc_id"), "text"
        )

    with pytest.raises(ValueError, match="hashes outside"):
        store.run_stage("bad", _docs(spark), bad)
    assert {k: _checksums(f"{data}/{k}") for k in committed} == committed
    assert store.lineage("bad").count() == n_lineage

    out = store.run_stage("bad", _docs(spark), lambda df: df)
    assert sorted(out.collect()) == sorted(_docs(spark).collect())


def test_store_leaves_session_overwrite_mode_alone(spark, root):
    """The dynamic overwrite is a write option: creating a store and
    running a stage must not change the session's setting, which every
    later partitioned overwrite in the session reads."""
    key = "spark.sql.sources.partitionOverwriteMode"
    with sql_conf(spark, {key: "STATIC"}):
        store = CheckpointStore(spark, root)
        store.run_stage("stats", _docs(spark), lambda df: df)
        assert spark.conf.get(key) == "STATIC"


def test_fresh_stage_is_one_pass(spark, root):
    """A fresh-store run_stage persists nothing and evaluates the
    transform once per input row, in a pinned number of Spark jobs:
    the fingerprint collect, the write and the lineage append."""
    sc = spark.sparkContext
    rows = sc.accumulator(0)

    @F.udf("int")
    def n_chars(text):
        rows.add(1)
        return len(text)

    docs = _docs(spark)
    cached = set(sc._jsc.getPersistentRDDs().keySet())
    store = CheckpointStore(spark, root)
    try:
        sc.setJobGroup("ckpt-one-pass", "fresh run_stage")
        store.run_stage("stats", docs, lambda df: df.withColumn("n", n_chars("text")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(sc._jsc.getPersistentRDDs().keySet()) == cached
    assert rows.value == 500
    # the status tracker is fed by the listener bus: drain it first.
    # 4 jobs for the fingerprint collect (AQE query stages), 2 for the
    # write (the exchange's query stage, then the files) and 1 for the
    # lineage append; the readback is given the written schema, so no
    # job infers it from a file footer
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("ckpt-one-pass")
    assert len(jobs) == 7, sorted(jobs)


def test_lineage_read_failure_is_not_an_empty_lineage(spark, root):
    """Only a missing lineage path reads as "nothing committed"; an
    unreadable one raises."""
    store = CheckpointStore(spark, root)
    assert store.lineage("never").count() == 0
    os.makedirs(f"{root}/broken/lineage")
    with open(f"{root}/broken/lineage/part-0.parquet", "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception, match="not a Parquet file"):
        store.lineage("broken")


def test_metrics_roundtrip(spark, root):
    store = CheckpointStore(spark, root)
    store.record_metrics("tag", {"docs_per_sec": 123.4, "mentions": 11233})
    m = {r["metric"]: r["value"] for r in store.metrics().collect()}
    assert m["docs_per_sec"] == 123.4


def test_auto_probe_decision_lands_in_metrics(spark, root):
    """build_edges with corpus='auto' + a store must record the probe
    routing decision as metric rows (round-3 verdict wrong #1: the
    routing was unobservable)."""
    from renet2_spark.plans.pipeline import build_edges

    store = CheckpointStore(spark, root)
    build_edges(spark, _docs(spark), store=store, corpus="auto").collect()
    m = {
        (r["stage"], r["metric"]): r["value"]
        for r in store.metrics().collect()
    }
    assert m[("probe", "packed")] == 1.0
    assert m[("probe", "sampled_docs")] >= 1.0


def test_write_table_parquet_fallback(spark, root):
    """S6 sink: no Iceberg runtime on this classpath -> write_table
    degrades to parquet with the same layout contract."""
    from renet2_spark.sources.tables import (
        iceberg_available,
        read_table,
        write_table,
    )

    df = spark.createDataFrame(
        [("1", "Gene", 3), ("2", "Disease", 5)],
        "doc_id string, type string, n int",
    )
    path = root + "/nodes"
    fmt = write_table(df, path, partition_by=["type"])
    assert fmt == ("iceberg" if iceberg_available(spark) else "parquet")
    back = read_table(spark, path)
    assert back.count() == 2
    assert {r["type"] for r in back.collect()} == {"Gene", "Disease"}
