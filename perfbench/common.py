"""Shared plumbing: environment pinning, statistics, result lines."""

from __future__ import annotations

import json
import math
import os
import platform
import shlex
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment() -> None:
    """Spark gets one partition per core and a private scratch
    directory inside the checkout (never a shared tmpfs another job may
    wipe mid-run); the program is imported from the checkout."""
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    # The JIT flags make the JVM reach steady speed before the timed
    # window. A run lasts about a minute. With the default C2 compiler,
    # JIT threads still used 2-4 s of CPU in every 5 s after 60 s of
    # server jobs on 4 cores, and one run's window differed from the
    # next by 15-20 %. C1 alone (TieredStopAtLevel=1) was as fast, but
    # server throughput still rose by a quarter across the window,
    # because methods called once per job reach the compile threshold
    # only after dozens of jobs. CompileThresholdScaling=0.1 compiles
    # them during the set-ups; the larger code cache keeps C1 from
    # filling the 48 MB default and switching itself off.
    java_opts = (f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
                 " -XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.1"
                 " -XX:ReservedCodeCacheSize=256m")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, as
    (percentile, value). Below 44 samples a quarter of them stands in
    for the 10, so a window of a dozen slow ops reports its upper
    quartile rather than its single slowest op."""
    xs = sorted(xs)
    n = len(xs)
    beyond = min(10, n // 4)
    k = n - 1 - beyond  # index with exactly `beyond` samples above it
    return round(100.0 * (k + 1) / n, 1), xs[k]


def stop_jvm(timeout: float = 60.0) -> None:
    """End the Spark JVM this process launched and wait for it: closing
    its stdin pipe is the gateway's signal to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def versions() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
    }


def emit(correct: bool, attempted: int, failed: int, metrics: dict, info: dict) -> None:
    """Human-readable lines first, then the one JSON result line."""
    for k, v in info.items():
        print(f"# {k}: {v}")
    print(f"# failed_ratio: {failed / attempted:.6f} ratio ({failed}/{attempted})")
    for name, m in metrics.items():
        print(f"{name:36s} {m['value']:>16.6f} {m['unit']}")
    for m in metrics.values():
        if not (isinstance(m["value"], (int, float)) and math.isfinite(m["value"])):
            raise ValueError(f"metric not finite: {m}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }), flush=True)
