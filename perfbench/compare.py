"""Compare two benchmark records, refusing records from different hosts.

    python3 perfbench/compare.py BASE.json NEW.json

Each file is a record written by run.py (``.perfbench/results/*.json``,
or the JSON after ``perfbench-record`` on its output). Records are
comparable only when their host fingerprints agree on the fields in
host.COMPARABLE: core count, Spark, Python and NumPy versions, memory
and architecture. Otherwise the script exits with status 3 and names
the fields that differ. Comparable records print one line per metric
with the change against each end-to-end metric's bound.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host  # noqa: E402


def load(path: str) -> dict:
    with open(path) as f:
        text = f.read().strip()
    if text.startswith("perfbench-record "):
        text = text.split(" ", 1)[1]
    return json.loads(text)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (load(p) for p in argv)
    differ = host.comparable(base["host"], new["host"])
    if differ:
        for k in differ:
            print(f"host {k}: {base['host'].get(k)!r} != {new['host'].get(k)!r}")
        print("refusing to compare results from different hosts")
        return 3
    if (base["workload"], base["trace"]) != (new["workload"], new["trace"]):
        print("refusing to compare different workloads or trace modes")
        return 3
    spec_path = os.path.join(os.getcwd(), "BENCHMARK.json")
    spec = {}
    if os.path.isfile(spec_path):
        with open(spec_path) as f:
            spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    for k, b in base["metrics"].items():
        n = new["metrics"].get(k)
        if n is None:
            continue
        change = (n - b) / b if b else float("nan")
        line = f"{k:<42} {b:>14.4f} {n:>14.4f} {change:>+8.1%}"
        m = spec.get(k)
        if m:
            worse = -change if m["better"] == "higher" else change
            line += "  REGRESSED" if worse > m["bound"] else "  within bound"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
