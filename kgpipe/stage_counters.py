"""Per-stage execution counters from Spark's in-process status store.

Scaling-efficiency evidence needs the JOB'S OWN counters, not only host
probes: if the identical pipeline shows identical shuffle/input bytes but
inflated executor CPU time at a higher parallelism level, the slowdown is
host contention (memory bandwidth), not a plan that grew extra work. The
driver's status store is fed by the listener bus with or without the Spark
UI, and its ``stageList`` returns the status API's v1 ``StageData`` model
(same fields, same units), read here through py4j: no UI, no HTTP.
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

_SUM_FIELDS = [
    "inputBytes", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
    "executorRunTime", "executorCpuTime",
    "numTasks",
]


def stage_counters(spark: SparkSession) -> dict:
    """Aggregate counters over all completed stages, plus the 8 stages with
    the most shuffle-write bytes.

    ``executorCpuTime`` is nanoseconds (v1 contract); ``executorRunTime``
    is milliseconds. Both are summed across tasks."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    try:  # the store is fed asynchronously: drain the bus, at most 10 s
        jsc.listenerBus().waitUntilEmpty(10_000)
    except Py4JJavaError as e:  # counters are evidence, never a failure cause
        warnings.warn(f"stage counters may miss the last stages: {e}")
    stages = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        jsc.statusStore().stageList(
            [jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE],
            False, False, sc._gateway.new_array(jvm.double, 0), []))
    rows = [{"stageId": s.stageId(), "name": (s.name() or "")[:100],
             **{f: getattr(s, f)() for f in _SUM_FIELDS}} for s in stages]

    totals = {f: sum(r[f] for r in rows) for f in _SUM_FIELDS}
    totals["numStages"] = len(rows)
    top = sorted(rows, key=lambda r: -r["shuffleWriteBytes"])[:8]
    return {"totals": totals, "top_stages_by_shuffle_write": top}
