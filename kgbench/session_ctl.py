"""Start and stop the Spark session the way the benchmark measures it."""

from __future__ import annotations

import subprocess
import time

# the console progress bar only adds stderr noise to benchmark output
EXTRA_CONF = {"spark.ui.showConsoleProgress": "false"}


def start(nproc: int):
    """Fresh session plus one trivial job that boots the Python workers.

    Returns (spark, start_s, first_job_s): ``get_spark`` alone, then the
    job. Their sum is the set-up time a CLI run pays."""
    from kgpipe.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("kgbench", extra_conf=EXTRA_CONF)
    t1 = time.perf_counter()
    n = spark.sparkContext.parallelize(range(nproc), nproc).map(
        lambda x: x + 1).count()
    t2 = time.perf_counter()
    if n != nproc:
        raise RuntimeError("trivial job returned a wrong count")
    return spark, t1 - t0, t2 - t1


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for the JVM to exit. The JVM leaves when
    its stdin closes; the Python workers leave with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
