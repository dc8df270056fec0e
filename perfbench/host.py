"""Host fingerprint: what must match for two results to be comparable."""

from __future__ import annotations

import os
import platform
import shutil

# fingerprint fields that must match for two results to be comparable;
# load averages are recorded but describe the run, not the host
COMPARABLE = (
    "nproc",
    "spark_version",
    "python_version",
    "numpy_version",
    "mem_total_mb",
    "machine",
)


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024)
    return 0.0


def fingerprint() -> dict:
    import numpy
    import pyspark

    shm = shutil.disk_usage("/dev/shm") if os.path.isdir("/dev/shm") else None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "numpy_version": numpy.__version__,
        "mem_total_mb": _mem_total_mb(),
        "machine": platform.machine(),
        "shm_free_mb": round(shm.free / 2**20) if shm else None,
        "loadavg_before": list(os.getloadavg()),
    }


def comparable(a: dict, b: dict) -> list[str]:
    """Names of the fingerprint fields on which `a` and `b` differ."""
    return [k for k in COMPARABLE if a.get(k) != b.get(k)]
