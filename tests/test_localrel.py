"""``localrel.bounded_collect``, the probe every driver tier decides with:
at most ``cap`` rows come back as one Arrow table, more give ``None``, a
zero cap starts no job, and the jobs it does start carry its label while
the caller's job description survives."""

import pytest
from pyspark.sql import functions as F

from monster_etl_spark import metrics
from monster_etl_spark.localrel import bounded_collect


def test_cap_rows_return_a_table_and_one_more_returns_none(spark):
    df = spark.range(5).select(F.col("id").alias("x"))
    before = metrics.snapshot(spark)
    tbl = bounded_collect(df, 5, "test")
    jobs = metrics.jobs(before, metrics.snapshot(spark))
    assert tbl is not None and sorted(tbl.column("x").to_pylist()) == [0, 1, 2, 3, 4]
    assert jobs
    assert {j["desc"] for j in jobs} == {"driver-tier test probe: collect <= 5 rows"}
    assert bounded_collect(df, 4, "test") is None


def test_empty_frame_returns_an_empty_table(spark):
    tbl = bounded_collect(spark.range(0), 3, "test")
    assert tbl is not None and tbl.num_rows == 0


def test_zero_cap_returns_none_and_starts_no_job(spark):
    df = spark.range(5)
    before = metrics.snapshot(spark)
    assert bounded_collect(df, 0, "test") is None
    assert metrics.jobs(before, metrics.snapshot(spark)) == []


def test_caller_description_comes_back_when_the_collect_raises(spark):
    sc = spark.sparkContext
    df = spark.range(3).select(F.raise_error(F.lit("probe failed")).alias("x"))
    sc.setJobDescription("caller")
    try:
        with pytest.raises(Exception, match="probe failed"):
            bounded_collect(df, 10, "test")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
