"""Session defaults that depend on the host, and the `spread` repartition guard."""

from __future__ import annotations

import pytest

from mangaextractor_spark.session import driver_memory, spread

GB = 2**30


@pytest.mark.parametrize(
    "physical, heap",
    [
        (2 * GB, "1g"),  # clamped up: a sixth would round to 0
        (15 * GB, "2g"),
        (16_000_000_000, "2g"),
        (31 * GB, "5g"),
        (48 * GB, "8g"),
        (288 * GB, "48g"),
        (1024 * GB, "48g"),  # clamped down
    ],
)
def test_driver_memory_is_a_sixth_of_ram_clamped(physical, heap):
    assert driver_memory(physical) == heap


def test_spread_splits_a_single_partition_frame(spark):
    df = spark.range(100, numPartitions=1)
    out = spread(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_leaves_a_well_split_frame_alone(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 100, 1, numPartitions=n)
    out = spread(df)
    assert out is df
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
