"""SparkSession factory with the engine's standard configuration.

Tuned for correctness tests on local[N]; every setting is also what we would
ship on a real multi-executor cluster (AQE on, Arrow on, skew-join on).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "default_driver_memory"]

_log = logging.getLogger(__name__)

# local mode = one JVM for driver + all executor threads: size the heap for
# N concurrent tasks' sort/join buffers or they spill — measured local[32]
# SLOWER than local[8] at 8g (per-task execution memory 4x smaller). Any
# fixed size either starves a big host or gets the JVM OOM-killed on a small
# one, so the default is a share of the memory this process may use.
_HEAP_SHARE = 0.6
_HEAP_CAP_MB = 48 * 1024
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"


def default_driver_memory(meminfo: str | None, cgroup_max: str | None) -> str:
    """Default ``spark.driver.memory``: ~60% of the usable host memory,
    capped at 48g. Usable memory is the cgroup v2 limit (``cgroup_max``,
    the text of ``memory.max``) when it is a number, else ``MemTotal`` from
    ``meminfo`` (the text of /proc/meminfo); the smaller of the two when
    both are known. Neither known -> Spark's own 1g default."""
    limits = []
    if cgroup_max is not None and cgroup_max.strip().isdigit():
        limits.append(int(cgroup_max.strip()) // (1024 * 1024))
    for line in (meminfo or "").splitlines():
        if line.startswith("MemTotal:"):
            limits.append(int(line.split()[1]) // 1024)  # kB -> MiB
            break
    if not limits:
        return "1g"
    return f"{max(1, min(int(min(limits) * _HEAP_SHARE), _HEAP_CAP_MB))}m"


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def get_spark(
    app_name: str = "fast-er-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(
        _read("/proc/meminfo"), _read(_CGROUP_MEMORY_MAX)
    )
    _log.info("get_spark: local[%d], spark.driver.memory=%s", cpus, memory)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", memory)
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # scan parallelism: the default 128 MB split makes a ~500 MB stage
        # table read back as ~4 tasks, starving per-row kernel stages (JVM
        # anchors/signatures) of cores right after every checkpoint read —
        # measured 62 s vs 14 s for the anchor stage at 500k docs. 16 MB
        # keeps small stage tables at >= cores tasks; at real corpus scale
        # files outnumber cores anyway and this setting is irrelevant.
        .config("spark.sql.files.maxPartitionBytes", "16MB")
        # UI off by default (saves a jetty server per test session); profiling
        # scripts export SPARK_UI_ENABLED=true to read the stage REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


def stop_spark(spark: SparkSession) -> None:
    spark.stop()
