"""Session sizing: the default driver heap follows physical RAM, so a
small box does not get a heap its kernel cannot back (no Spark needed)."""

import os

from wos_crawler_spark.session import driver_memory

GB = 2**30


def test_driver_memory_is_half_of_ram_within_bounds():
    assert driver_memory(15 * GB) == "7g"
    assert driver_memory(64 * GB) == "32g"
    assert driver_memory(GB) == "1g"  # floor
    assert driver_memory(512 * GB) == "48g"  # cap


def test_driver_memory_defaults_to_host_ram():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert driver_memory() == driver_memory(ram)
