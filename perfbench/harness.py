"""Run isolation, Spark session lifetime, and the small statistics the
workloads report.

Everything a run writes -- stores, fixtures, Spark local and warehouse
dirs, JVM and Python temp files -- goes under one per-run directory inside
the checkout, removed when the run ends.
"""

from __future__ import annotations

import os
import platform
import shlex
import statistics
import sys
import time
from pathlib import Path


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def isolate(tmp: Path, cpus: int) -> None:
    """Point every temp and scratch location of Python, Spark and the JVM
    into ``tmp``; size the session. Must run before pyspark is imported."""
    import tempfile

    for sub in ("py", "java", "local", "warehouse"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp / "py")
    tempfile.tempdir = str(tmp / "py")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "--driver-java-options", f"-Djava.io.tmpdir={tmp / 'java'} -XX:-UsePerfData",
        "--conf", f"spark.local.dir={tmp / 'local'}",
        "--conf", f"spark.sql.warehouse.dir={tmp / 'warehouse'}",
        # keep every job of a run in the status store for per-op counts
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


class Session:
    """The run's SparkSession, built through ``dariadb_spark.session``."""

    def __init__(self, cpus: int):
        from dariadb_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus)
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of this process plus its JVM child, from /proc."""
        return (_status_kb("self", "VmHWM") + _status_kb(str(self.jvm.pid), "VmHWM")) / 1024.0

    def retained_mb(self) -> float:
        """Memory the run leaves held: this process's RSS plus the JVM heap
        still in use after a full collection. Unlike peak RSS it does not
        depend on when the collector chose to grow the heap. The pause lets
        Spark's cleaner and listener threads release what the first
        collection made unreachable; without it the figure varies by a
        third between runs."""
        rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        rt.gc()
        time.sleep(1.0)
        for _ in range(2):
            rt.gc()
        heap = rt.totalMemory() - rt.freeMemory()
        return _status_kb("self", "VmRSS") / 1024.0 + heap / 2**20

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm.stdin is not None:
            self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=30)
        except Exception:
            self.jvm.kill()
            self.jvm.wait(timeout=30)

    def versions(self) -> dict:
        return {
            "spark": self.spark.version,
            "python": platform.python_version(),
            "cpus": cpu_count(),
        }


def _status_kb(pid: str, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def tail_q(n: int) -> int:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it."""
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return 50


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
