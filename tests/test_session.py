"""Session defaults that need no running Spark."""

from __future__ import annotations

from sling_spark.session import default_driver_memory

GB = 1 << 30


def test_driver_memory_is_half_of_host_capped_at_48g():
    assert default_driver_memory(15 * GB) == "7680m"
    assert default_driver_memory(96 * GB) == "49152m"
    assert default_driver_memory(512 * GB) == "49152m"  # 48g cap
    # no argument: read from the host, so always a positive size
    assert int(default_driver_memory()[:-1]) > 0
