"""obs.overlap: the one helper that runs Spark actions from several
driver threads."""

from __future__ import annotations

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.obs import overlap


def test_overlap_keeps_order_and_inherits_job_group(spark):
    """Results come back in argument order, and jobs submitted from the
    helper threads land in the CALLER's job group (a plain thread pool
    under pinned-thread mode leaves them unassigned)."""
    sc = spark.sparkContext
    group = "obs-overlap-test"
    sc.setJobGroup(group, "overlap test")
    try:
        got = overlap(lambda: spark.range(5).count(),
                      lambda: sc.getLocalProperty("spark.jobGroup.id"),
                      lambda: spark.range(7).count())
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert got == [5, group, 7]
    assert len(jobs) >= 2, jobs


def test_overlap_of_nothing_is_empty(spark):
    assert overlap() == []


def test_kq_exact_ranks_no_targets(spark):
    """No target quantiles: no probes, an empty answer (a thread pool
    sized by the target count used to raise on zero workers)."""
    from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import (
        _kq_exact_ranks,
    )

    li = spark.range(100).select(F.col("id").cast("double").alias("v"))
    assert _kq_exact_ranks(spark, li, []) == ({}, 100)
