"""Session memory sizing: the default driver heap and off-heap sizes
follow the host's memory (cgroup limit included), so the engine's own
defaults fit a small host and stay 24g + 16g on a large one."""

import os

from go_bqloader_spark.session import default_memory, host_memory_bytes

GIB = 2**30


def test_default_memory_caps_at_large_hosts():
    assert default_memory(64 * GIB) == ("24g", "16g")
    assert default_memory(512 * GIB) == ("24g", "16g")


def test_default_memory_scales_below_the_cap():
    assert default_memory(16 * GIB) == ("6g", "4g")
    assert default_memory(32 * GIB) == ("12g", "8g")
    assert default_memory(15 * GIB + 512 * 2**20) == ("5952m", "3968m")


def test_default_memory_floors_on_tiny_hosts():
    assert default_memory(GIB) == ("1g", "512m")
    assert default_memory(0) == ("1g", "512m")


def test_host_memory_within_physical():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < host_memory_bytes() <= phys
