"""``metrics.measured``: each block counts its own jobs, the caller's
job group survives it, and a read that finds nothing raises."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from etl_notifier_pipeline_spark import metrics
from etl_notifier_pipeline_spark.metrics import measured


def _one_job(spark):
    spark.sparkContext.parallelize(range(4), 2).count()


def test_nested_blocks_count_their_own_jobs(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller")
    try:
        with measured(spark, "outer") as outer:
            _one_job(spark)
            with measured(spark, "inner") as inner:
                _one_job(spark)
                _one_job(spark)
            assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        with measured(spark, "inner") as again:
            _one_job(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (outer["jobs"], inner["jobs"], again["jobs"]) == (1, 2, 1)
    assert outer["sec"] >= inner["sec"] > 0


def test_a_full_store_counts_every_stage_that_ran(spark):
    """Past ``spark.ui.retainedStages`` the store evicts skipped stages
    first, even ones the measured block has just skipped. They count 0,
    so a block still counts every stage that ran."""
    retained = int(spark.sparkContext.getConf().get("spark.ui.retainedStages", "1000"))
    for _ in range(retained + 200):
        spark.range(1, numPartitions=1).collect()  # one stage, none skipped

    def query(i):
        spark.range(100).groupBy((F.col("id") % (i + 2)).alias("g")).count().collect()

    one_by_one = 0
    for i in range(40):
        with measured(spark, f"full-store-{i}") as m:
            query(i)
        one_by_one += m["shuffleWriteBytes"]
    with measured(spark, "full-store-all") as m:
        for i in range(40):
            query(i)
    assert m["jobs"] == 80
    assert m["shuffleWriteBytes"] == one_by_one > 0


def test_jobs_without_stages_raise(spark, monkeypatch):
    monkeypatch.setattr(metrics, "_stages", lambda store, job_ids: [])
    with pytest.raises(metrics.MeasurementError, match="none of their stages"):
        with measured(spark, "no-stages"):
            _one_job(spark)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_a_missing_peak_heap_raises(spark, monkeypatch):
    """An executor whose heartbeat has not sampled its heap reports no
    peak metrics, or a heap of 0."""
    unset = SimpleNamespace(isDefined=lambda: False)
    zero = SimpleNamespace(
        isDefined=lambda: True, get=lambda: SimpleNamespace(getMetricValue=lambda name: 0)
    )
    for peak in (unset, zero):
        executor = SimpleNamespace(peakMemoryMetrics=lambda peak=peak: peak)
        monkeypatch.setattr(metrics, "_executors", lambda store: [executor])
        with pytest.raises(metrics.MeasurementError, match="peak JVM heap"):
            metrics.peak_heap(spark)
