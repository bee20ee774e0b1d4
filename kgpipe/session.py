"""SparkSession construction with the configs this engine assumes.

Local mode is the sandbox test bed; the same builder args translate to a
multi-executor `spark-submit` deployment unchanged (SURVEY.md §4.4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgpipe",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    * AQE on (runtime shuffle coalescing + skew-join splitting — the backstop
      for skewed join keys, SURVEY.md §4.1/§4.2).
    * Arrow on for all pandas-UDF boundaries (BASELINE.json input_hint:
      "vectorized pandas/Arrow UDFs (no per-row Python)").
    * Session timezone pinned to UTC so results hash identically against the
      DuckDB oracle (DuckDB timestamps are UTC-naive).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores, not the 200 default (right-sized for sf<=0.1;
        # on a real cluster this scales with input volume instead).
        shuffle_partitions = max(8, int(cpus) if cpus.isdigit() else 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: one JVM hosts the driver AND all executor threads plus
        # the block-manager cache. Heap sizing is a measured tradeoff, not
        # "more is better": at 48g the young gen grows to tens of GB and
        # every GC cycle re-zeroes/page-faults it across 32 allocating
        # threads, saturating memory bandwidth (measured 4x slowdown at
        # local[32] vs a 16g heap on the identical job). 16g + ParallelGC
        # was fastest and stable at both local[8] and local[32].
        .config("spark.driver.memory", os.environ.get("KGPIPE_DRIVER_MEM", "16g"))
        .config("spark.driver.extraJavaOptions",
                os.environ.get("KGPIPE_JAVA_OPTS", "-XX:+UseParallelGC"))
        # UI off (startup cost): per-stage shuffle/spill/CPU counters come
        # from the in-process status store, which runs without it
        # (kgpipe/stage_counters.py — scaling evidence)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
