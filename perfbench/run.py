"""Repository benchmark: seeded KG and dedup workloads on local Spark.

Run from the repository root:

    python3 perfbench/run.py --workload kg_packed --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke          # every workload once, tiny inputs

One driver process runs a closed loop on ``local[4]``: each timed
operation starts only after the previous one has finished and its
output has been checked. With ``--trace 0`` the run reports the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` it reports the
per-layer metrics, measured by materializing each layer's plan prefix
under its own job group and reading the task metrics back from Spark's
event log (see layers.py).

Set-up is repeated SETUP_ROUNDS times in one run; each round starts a
Spark session, ships the package, generates and writes the inputs from
the seed, and runs the workload at the timed size as its warm-up. The
first round also launches the JVM and warms it up with several runs.
``setup_s`` is the median round.

The last line of standard output is the result object the benchmark
contract asks for; the line before it (``perfbench-record``) holds the
full record: input properties, host fingerprint, samples and metrics.
The same record is written under ``.perfbench/results/``. All scratch
output goes to one directory under ``.perfbench/`` that is removed on
exit. Seed CONFIRM_SEED is reserved for confirming claims; do not tune
against it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
MASTER = "local[4]"
SETUP_ROUNDS = 3
FIRST_WARM_RUNS = 2
MIN_ITERS = 2
CONFIRM_SEED = 1_000_003
SMOKE_SEED = 7


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="run every workload once on tiny inputs with all checks")
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    a = p.parse_args(argv)
    if not a.smoke and not a.workload:
        p.error("--workload is required")
    return a


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Run:
    """One benchmark run: scratch root, Spark sessions, JVM lifetime."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.spark = None
        self.sessions = 0

    def start(self, event_log: str | None = None):
        from renet2_spark.packaging import build_pyfiles_zip
        from renet2_spark.session import get_spark

        import layers

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(self.tmp, "java"),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(layers.event_log_conf(event_log))
        self.spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
        self.sessions += 1
        zip_path = os.path.join(self.tmp, f"renet2_spark-{self.sessions}.zip")
        self.spark.sparkContext.addPyFile(build_pyfiles_zip(zip_path))
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop the session and the JVM, and wait for the JVM to exit."""
        self.stop()
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Py4JError:
            pass  # the JVM side is already gone
        if proc is not None:
            # the JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def setup_round(run: Run, wl, r: int, checks: Checks):
    """One set-up: session start + package ship, input generation and
    write, and warm-up executions at the timed size: FIRST_WARM_RUNS in
    the first round, which also launches the JVM and whose first runs
    are several times slower than the steady state, one in later
    rounds. Warm-up outputs are checked outside the timing. Returns
    (paths, seconds)."""
    t = time.perf_counter()
    spark = run.start()
    paths = wl.write(os.path.join(run.tmp, f"inputs-{r}"))
    outs = [wl.op(spark, paths) for _ in range(FIRST_WARM_RUNS if r == 0 else 1)]
    dt = time.perf_counter() - t
    for out in outs:
        checks.record(wl.check(out))
    return paths, dt


class Checks:
    """Output checks counted against operations attempted."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool):
        self.attempted += 1
        self.failed += not ok


def timed_loop(run: Run, wl, paths, seconds: float, checks: Checks) -> list:
    """Time the workload's operation until `seconds` have passed (at
    least MIN_ITERS times); every output is checked outside the timed
    region. Returns the wall seconds of each operation."""
    walls = []
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_ITERS or time.perf_counter() < deadline:
        # start every operation from a collected heap, outside the timing
        run.spark.sparkContext._jvm.System.gc()
        t = time.perf_counter()
        try:
            out = wl.op(run.spark, paths)
        except Exception:  # counted as a failed operation
            traceback.print_exc()
            checks.record(False)
            if checks.failed > 3:
                raise
            continue
        walls.append(time.perf_counter() - t)
        checks.record(wl.check(out))
    return walls


def run_untraced(run: Run, wl, seconds: float, checks: Checks) -> tuple[dict, dict]:
    setups = []
    for r in range(SETUP_ROUNDS):
        if r:
            run.stop()
        paths, dt = setup_round(run, wl, r, checks)
        setups.append(dt)
    walls = timed_loop(run, wl, paths, seconds, checks)
    wall = statistics.median(walls)
    metrics = {
        "docs_per_s": wl.n_docs() / wall,
        "wall_s": wall,
        "setup_s": statistics.median(setups),
    }
    samples = {"setup_s": setups, "wall_s": walls}
    return metrics, samples


def run_traced(run: Run, wl, seconds: float, checks: Checks) -> tuple[dict, dict]:
    """A warm-up session, then a traced and an untraced session over
    the same inputs, each timing the operation the same way after one
    warm-up run of its own. The tracing overhead is the traced wall
    time minus the untraced one."""
    import layers

    paths, _ = setup_round(run, wl, 0, checks)

    # traced session: event log on, every job under a named group
    run.stop()
    log_dir = os.path.join(run.tmp, "eventlog")
    spark = run.start(log_dir)
    checks.record(wl.check(wl.op(spark, paths)))  # restart warm-up
    construct, plan, execute, traced = [], [], [], []
    for _ in range(MIN_ITERS):
        spark.sparkContext._jvm.System.gc()  # as timed_loop does
        split, out = [0.0, 0.0, 0.0], []
        with layers.job_group(spark, "pipeline"):
            for build in wl.builders(spark, paths):
                t0 = time.perf_counter()
                df = build()
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                out.append(df.toPandas())
                t3 = time.perf_counter()
                for i, dt in enumerate((t1 - t0, t2 - t1, t3 - t2)):
                    split[i] += dt
        checks.record(wl.check(out))
        construct.append(split[0])
        plan.append(split[1])
        execute.append(split[2])
        traced.append(sum(split))
    tr = layers.Tracer(spark)
    wl.layers(spark, tr, paths, run.tmp)
    checks.record(not tr.drift)  # counts must repeat exactly
    run.stop()  # flushes and closes the event log

    spark = run.start()
    checks.record(wl.check(wl.op(spark, paths)))  # restart warm-up
    untraced = timed_loop(run, wl, paths, 0.0, checks)

    groups = layers.read_event_log(log_dir)
    everything = layers.totals(groups)
    tr.per_materialization(groups)
    metrics, attempted, failed = wl.layer_metrics(tr, groups)
    checks.attempted += attempted
    checks.failed += failed
    metrics.update(
        {
            "pipeline.construct_s": statistics.median(construct),
            "pipeline.plan_s": statistics.median(plan),
            "pipeline.execute_s": statistics.median(execute),
            "spark.task_retries": everything.get("retries", 0.0),
            "spark.gc_s": everything.get("gc_s", 0.0),
            "trace.overhead_s": statistics.median(traced) - statistics.median(untraced),
        }
    )
    samples = {
        "untraced_wall_s": untraced,
        "traced_wall_s": traced,
        "layer_wall_s": tr.wall,
        "layer_rows": tr.rows,
        "count_drift": tr.drift,
        "groups": {str(k): dict(v) for k, v in groups.items()},
    }
    return metrics, samples


def run_one(args, spec: dict) -> int:
    import host
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    smoke = args.size == "smoke"
    wl = WORKLOADS[args.workload](args.seed, smoke=smoke)
    fingerprint = host.fingerprint()
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "t")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    run, checks = Run(tmp), Checks()
    try:
        wl.want()  # the oracle, computed once before any set-up
        fn = run_traced if args.trace else run_untraced
        metrics, samples = fn(run, wl, args.seconds, checks)
    except Exception:
        # a run that cannot finish reports its failed checks instead of
        # crashing; its metrics read 0
        traceback.print_exc()
        checks.record(False)
        metrics, samples = {}, {}
    finally:
        run.shutdown()
        shutil.rmtree(tmp, ignore_errors=True)

    unknown = sorted(set(metrics) - set(units))
    if unknown:
        return fail(f"metrics missing from BENCHMARK.json {kind}: {unknown}")
    fingerprint["loadavg_after"] = list(os.getloadavg())
    values = {k: float(metrics.get(k, 0.0)) for k in units}
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "size": args.size,
        "confirm_seed": args.seed == CONFIRM_SEED,
        "inputs": wl.properties(),
        "host": fingerprint,
        "emitted": sorted(metrics),
        "samples": samples,
        "metrics": values,
    }
    results = os.path.join(scratch, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}-{args.size}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        print_table(wl.name, values, units)
    print("perfbench-record " + json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": checks.failed == 0,
                "attempted": checks.attempted,
                "failed": checks.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


def print_table(workload: str, values: dict, units: dict) -> None:
    print(f"per-layer table: {workload}")
    for k in sorted(values):
        print(f"  {k:<42} {values[k]:>14.4f} {units[k]}")


def smoke(spec: dict) -> int:
    """The benchmark's own test: every workload, traced and untraced,
    once on tiny inputs with all output checks on."""
    from workloads import WORKLOADS

    problems, emitted = [], set()
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(SMOKE_SEED), "--seconds", "1", "--trace", str(trace),
                   "--size", "smoke"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                problems.append(f"{name} trace={trace}: exit {proc.returncode}\n"
                                + proc.stderr[-2000:])
                continue
            res = json.loads(lines[-1])
            rec = json.loads(lines[-2].split(" ", 1)[1])
            emitted |= set(rec["emitted"])
            m = rec["metrics"]
            if not res["correct"] or res["failed"]:
                problems.append(f"{name} trace={trace}: {res['failed']} failed checks")
            if trace and name == "kg_packed":
                for k in ("neural.py_s", "tagger.raw.py_s"):
                    if m[k] <= 0:
                        problems.append(f"kg_packed: {k} is 0")
                if m["checkpoint.resume_recomputed_buckets"] != 0:
                    problems.append("kg_packed: resume recomputed buckets")
            print(f"smoke {name} trace={trace}: attempted={res['attempted']} "
                  f"failed={res['failed']}", flush=True)
    declared = {m["name"] for m in spec["per_layer"] + spec["end_to_end"]}
    if declared - emitted:
        problems.append(f"declared but never emitted: {sorted(declared - emitted)}")
    for p in problems:
        print("FAIL " + p)
    print("smoke: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "renet2_spark")):
        return fail("run from the repository root: renet2_spark/ not found")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        return fail("BENCHMARK.json not found in the working directory")
    sys.path[:0] = [HERE, ROOT]
    spec = benchmark_spec()
    # SIGTERM unwinds through the finally blocks that stop the JVM and
    # remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return smoke(spec) if args.smoke else run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
