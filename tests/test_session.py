"""Session defaults that do not need a running session."""

from __future__ import annotations

from gtfsrt2lc_spark.session import default_driver_memory

GIB = 1 << 20  # KiB per GiB, the unit of /proc/meminfo


def test_default_driver_memory_is_40_percent_of_host_capped():
    assert default_driver_memory(16_479_424) == "6g"  # a 15.7 GiB host
    assert default_driver_memory(10 * GIB) == "4g"
    assert default_driver_memory(40 * GIB) == "16g"
    assert default_driver_memory(256 * GIB) == "16g"  # cap
    assert default_driver_memory(2 * GIB) == "1g"  # floor
    assert default_driver_memory(None) == "16g"  # size unknown
