"""Host facts, session sizing and the process environment of a benchmark run.

Everything a run writes stays under one directory inside the checkout: the
JVM kernel jar cache (via HOME), Python and JVM temp files, Spark's local
dirs, generated inputs and stage tables. The directory lives for one run, so
every set-up compiles the JVM kernels.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

# heap share of host RAM, clamped: local mode runs driver and executors in one
# JVM, and the host is shared, so leave most of the RAM to everything else
HEAP_SHARE = 0.25
HEAP_MIN_MIB = 1024
HEAP_MAX_MIB = 8192


def cores() -> int:
    """Cores this process may run on (what `nproc` prints without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mib(mem_total: int) -> int:
    return max(HEAP_MIN_MIB, min(HEAP_MAX_MIB, int(mem_total * HEAP_SHARE)))


def steal_s() -> float:
    """Hypervisor CPU steal since boot, in seconds summed over all CPUs:
    field 9 of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mib(pid: int) -> float:
    """Peak resident set (VmHWM) of a process; 0 for one that holds no
    memory (a zombie)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_hwm(pid: int) -> None:
    """Set a process's VmHWM back to its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, e.g. the JVM's Python workers and
    the daemon that forks them."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # exited meanwhile
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def speed_probe() -> float:
    """Seconds for a fixed single-threaded pure-Python loop: how fast the
    host runs this process right now. Recorded next to the timings, so a
    drift of the whole host shows apart from a change of the program."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def prepare_env(root: str, scratch: str, heap: int) -> None:
    """Point every file the run writes into ``scratch`` and make the library
    importable by Python UDF workers, whatever the working directory.

    Must run before the JVM starts: the JVM and its Python workers inherit
    this environment."""
    home = os.path.join(scratch, "home")
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (home, tmp, local):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    # the JVM kernel jar is cached under ~/.cache
    env["HOME"] = home
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    # a fixed-size, pre-touched heap: left to itself G1 grows and touches the
    # heap as GC timing dictates, which moved timings and the JVM's resident
    # set between identical runs. The heap the program uses is read from the
    # JVM's memory pools instead (see run.py, peak_mem_mb)
    env["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options="-Xms{heap}m -XX:+AlwaysPreTouch" pyspark-shell'
    )
    # the local equivalent of --py-files: workers import fast_er_spark from
    # the checkout, and run the same interpreter as the driver
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    # every JVM the run starts (javac, the Spark launcher, the driver) keeps
    # its temp files and perf data out of the system temp dir
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p
        for p in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")
        if p
    )
    tempfile.tempdir = None  # forget a temp dir resolved before TMPDIR was set
