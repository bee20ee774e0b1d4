"""The run report's stage counters come from the in-process status store,
so they are there with the Spark UI off (the shared test session's
setting)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgpipe.stage_counters import _SUM_FIELDS, stage_counters


def test_stage_counters_with_ui_off(spark):
    assert spark.sparkContext.uiWebUrl is None
    (spark.range(0, 200_000, numPartitions=4)
     .groupBy((F.col("id") % 97).alias("k")).count().collect())

    c = stage_counters(spark)
    totals, top = c["totals"], c["top_stages_by_shuffle_write"]
    assert set(totals) == {*_SUM_FIELDS, "numStages"}
    assert totals["numStages"] >= 2
    assert totals["shuffleWriteBytes"] > 0
    assert totals["executorCpuTime"] > 0
    assert 0 < len(top) <= 8
    assert all(list(s) == ["stageId", "name", *_SUM_FIELDS] for s in top)
    w = [s["shuffleWriteBytes"] for s in top]
    assert w == sorted(w, reverse=True)
