"""Session defaults that depend on the host."""

from __future__ import annotations

import pytest

from mangaextractor_spark.session import driver_memory

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
