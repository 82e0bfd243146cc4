"""The engine session leaves AQE, its partition coalescing and its
skew-join splitting to Spark's defaults; all three must read on."""

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
