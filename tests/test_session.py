"""Session helpers: the job-label context manager and the conditional
widening of scan-width-bound inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.session import (
    job_label,
    shuffle_partition_count,
    widen_narrow_input,
)


def _description(spark):
    return spark.sparkContext.getLocalProperty("spark.job.description")


def test_job_label_restores_previous_description_on_error(spark):
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        with pytest.raises(RuntimeError):
            with job_label(spark, "op: step"):
                assert _description(spark) == "op: step"
                raise RuntimeError("boom")
        assert _description(spark) == "outer"
    finally:
        sc.setJobDescription(None)
    with job_label(spark, "op: step"):
        pass
    assert _description(spark) is None


def test_widen_narrow_input_sees_through_broadcast_exchange(spark, tmp_path):
    # a one-file scan broadcast-joined to a small dim is still
    # scan-width-bound: its BroadcastExchange (and the word
    # "Exchange" inside a literal) is not a shuffle, so it is widened
    npart = max(2, shuffle_partition_count(spark))
    path = str(tmp_path / "scan")
    spark.range(64).select("id", (F.col("id") % 3).alias("k")).coalesce(
        1
    ).write.parquet(path)
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "k LONG, name STRING"
    )
    df = (
        spark.read.parquet(path)
        .join(F.broadcast(dim), "k")
        .withColumn("note", F.lit("Exchange rate"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan and "Exchange rate" in plan
    out = widen_narrow_input(df, "id")
    assert out is not df
    assert out.rdd.getNumPartitions() == npart
    assert out.count() == 64


def test_widen_narrow_input_passes_shuffled_frame_unprobed(spark):
    # a frame whose plan already shuffles is returned as-is, and the
    # width probe (which would execute the upstream stage) never runs
    sc = spark.sparkContext
    df = spark.range(100).groupBy((F.col("id") % 2).alias("k")).count()
    sc.setJobGroup("widen-probe", "widen_narrow_input probe")
    try:
        out = widen_narrow_input(df, "k")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out is df
    assert sc.statusTracker().getJobIdsForGroup("widen-probe") == []
