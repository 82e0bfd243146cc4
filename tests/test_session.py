"""The engine session leaves AQE, its partition coalescing and its
skew-join splitting to Spark's defaults; all three must read on. Batch
shuffles start at 1024 partitions whatever the core count."""

import pytest


@pytest.mark.parametrize(
    "key",
    [
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ],
)
def test_aqe_on_by_default(spark, key):
    assert spark.conf.get(key) == "true"


def test_initial_partitions_floor(spark):
    """``local[4]`` with 4 shuffle partitions still starts batch shuffles
    at 1024, for AQE to coalesce by bytes."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "1024"
