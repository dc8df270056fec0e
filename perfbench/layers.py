"""Per-layer measurement from outside the program.

Each layer is measured by materializing the plan prefix that ends in
that layer's public function to Spark's ``noop`` sink, under a job
group named after the layer. Wall time and output rows (through an
in-pass ``Observation``) are taken on the driver; task time, shuffle
bytes, GC time, Python-worker time and file-write time are read back
per job group from Spark's event log once the session has stopped. Self time of layer k
is the prefix through k minus the prefix through k-1.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# accumulable names this Spark version emits for Python UDF stages
PY_TIME = "time to run Python workers"  # ms
PY_SENT = "data sent to Python workers"  # bytes
PY_RETURNED = "data returned from Python workers"  # bytes
# physical plan node of an SQL execution that writes files
WRITE_NODE = "InsertIntoHadoopFsRelationCommand"

MB = 2**20


def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@contextmanager
def job_group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def materialize(dfs: list[DataFrame]) -> list[int]:
    """Run each DataFrame to the noop sink; returns each one's output
    rows, counted in the same pass."""
    rows = []
    for i, df in enumerate(dfs):
        obs = Observation(f"rows{i}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        rows.append(obs.get["n"])
    return rows


class Tracer:
    """Collects wall time and output rows per layer job group."""

    def __init__(self, spark, reps: int = 3):
        self.spark = spark
        self.reps = reps
        self.wall: dict[str, float] = {}
        self.rows: dict[str, list[int]] = {}
        self.drift: list[str] = []  # layers whose row counts changed between reps

    def layer(self, name: str, build) -> float:
        """Build and materialize `build()` (a DataFrame or a list of
        them) `reps` times under job group `name`; keeps the median wall
        time and returns it."""
        walls = []
        with job_group(self.spark, name):
            for _ in range(self.reps):
                t = time.perf_counter()
                dfs = build()
                rows = materialize(dfs if isinstance(dfs, list) else [dfs])
                walls.append(time.perf_counter() - t)
                if self.rows.setdefault(name, rows) != rows:
                    self.drift.append(name)
        self.wall[name] = statistics.median(walls)
        return self.wall[name]

    def per_materialization(self, groups: dict) -> None:
        """Divide the event-log sums of every layer group by its number
        of repetitions, in place."""
        for name in self.wall:
            for k in groups.get(name, {}):
                groups[name][k] /= self.reps

    def self_s(self, name: str, prev: str | None) -> float:
        return self.wall[name] - (self.wall[prev] if prev else 0.0)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group (None = no group), plus
    ``write_s``: the wall time of the group's SQL executions that write
    files."""
    stage_group: dict[int, str | None] = {}
    writes: dict[int, tuple[str | None, int]] = {}  # execution -> (group, start ms)
    out: dict = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev.endswith("SparkListenerSQLExecutionStart"):
                    if WRITE_NODE in e.get("physicalPlanDescription", ""):
                        writes[e["executionId"]] = (e.get("jobGroupId"), e["time"])
                elif ev.endswith("SparkListenerSQLExecutionEnd"):
                    if e["executionId"] in writes:
                        group, start = writes.pop(e["executionId"])
                        out[group]["write_s"] += (e["time"] - start) / 1000
                elif ev == "SparkListenerStageSubmitted":
                    props = e.get("Properties") or {}
                    stage_group[e["Stage Info"]["Stage ID"]] = props.get(
                        "spark.jobGroup.id"
                    )
                elif ev == "SparkListenerTaskEnd":
                    m = out[stage_group.get(e["Stage ID"])]
                    tm = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    m["tasks"] += 1
                    m["task_s"] += tm.get("Executor Run Time", 0) / 1000
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                    m["shuffle_mb"] += (
                        tm.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        / MB
                    )
                    if info.get("Attempt", 0) > 0 or info.get("Failed"):
                        m["retries"] += 1
                    for acc in info.get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if upd is None:
                            continue
                        if name == PY_TIME:
                            m["py_s"] += float(upd) / 1000
                        elif name == PY_SENT:
                            m["py_sent_mb"] += float(upd) / MB
                        elif name == PY_RETURNED:
                            m["py_returned_mb"] += float(upd) / MB
    return out


def totals(groups: dict) -> dict[str, float]:
    t: dict = defaultdict(float)
    for m in groups.values():
        for k, v in m.items():
            t[k] += v
    return t


def cached_mb(spark) -> float:
    """In-memory plus on-disk size of every persisted RDD right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB
