"""Host-derived session sizing (session.default_driver_memory)."""

from fast_er_spark.session import default_driver_memory

GIB = 1024 ** 3
MEMINFO_16G = "MemTotal:       16777216 kB\nMemFree:         1000000 kB\n"


def test_cgroup_limit_bounds_the_heap():
    # a 4 GiB container on a 16 GiB host sizes from the container
    assert default_driver_memory(MEMINFO_16G, f"{4 * GIB}\n") == "2457m"


def test_cgroup_max_falls_back_to_memtotal():
    assert default_driver_memory(MEMINFO_16G, "max\n") == "9830m"


def test_no_cgroup_file_uses_memtotal():
    assert default_driver_memory(MEMINFO_16G, None) == "9830m"


def test_large_host_capped_at_48g():
    meminfo = f"MemTotal: {256 * 1024 * 1024} kB\n"
    assert default_driver_memory(meminfo, None) == f"{48 * 1024}m"


def test_nothing_known_keeps_spark_default():
    assert default_driver_memory(None, None) == "1g"
