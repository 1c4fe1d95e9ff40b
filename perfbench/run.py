#!/usr/bin/env python3
"""fast_er_spark benchmark: closed-loop batch jobs over seeded synthetic
inputs, one client and one job at a time, from reading the input to a fully
materialized result.

    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all      # every workload in BENCHMARK.json

One run: generate the input from the seed; set up (Spark session sized from
the host, JVM kernels, one untimed warm-up pass); then run the job back to
back for ``--seconds``, checking every output against the workload's oracle;
when the host stole more than STEAL_LIMIT of every job's CPU time, one more
job runs.
With ``--trace 1`` a traced job and one more untraced job follow, and the
per-layer metrics replace the end-to-end ones. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}. The run record (host, heap,
steal, every job's time) goes to stderr and to .bench_run/records.jsonl;
spans of a traced run go to .bench_run/spans/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".bench_run")
REQUIRED = ("fast_er_spark/__init__.py", "fixtures/synth.py", "oracle/reference.py")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "records/s",
    "recall": "ratio",
    "precision": "ratio",
    "peak_mem_mb": "MiB",
}
LAYER_COUNTERS = {
    "self_s": "s", "rows_out": "count", "jobs": "count", "cpu_s": "s",
    "busy": "ratio", "shuffle_mb": "MiB", "spill_mb": "MiB",
}
LAYER_EXTRAS = {
    "lsh.star_share": "ratio",
    "verify.keep_ratio": "ratio",
    "substring_verify.keep_ratio": "ratio",
    "components.edges_in": "count",
    "counts.agreeing_pairs": "count",
    "estimation.iterations": "count",
    "similarity.pairs_out": "count",
}
# a job during which the hypervisor stole more than this share of the vCPU
# time is disturbed; when every job of the window was, the window runs one
# more, and wall_s is the median of the undisturbed jobs where there are any
STEAL_LIMIT = 0.05
TRACE_TOTALS = {
    "trace.total_s": "s",  # the traced job
    "trace.overhead_s": "s",  # traced total minus the untraced jobs around it
    "trace.bookkeeping_s": "s",  # listener-bus drains and status-store reads
    "trace.unattributed_s": "s",  # job time outside every layer span
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import LAYERS

    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in LAYER_COUNTERS.items()}
    units.update(LAYER_EXTRAS)
    units.update(TRACE_TOTALS)
    return units


def _process_start() -> float:
    """When this process started, on the time.perf_counter clock, at 10 ms
    resolution."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _memory_probe(spark):
    """Start measuring the memory the job uses; returns a function that
    stops and gives (peak_mem_mb, its parts).

    The heap is fixed and pre-touched, so the JVM's resident set holds all
    of it whatever the job does. The heap part is therefore the peak use of
    the heap pools other than eden: eden is the young generation's
    allocation buffer, which the collector sizes to its pause goal and
    empties at every young collection, so its peak follows the GC policy,
    not the data the program holds. Added to that: the JVM's resident
    memory outside the heap (VmHWM minus the committed heap), and the
    resident memory of this Python driver and of the JVM's Python workers.
    Every peak is reset when the window starts."""
    from perfbench import host

    jvm = spark._jvm  # noqa: SLF001
    mf = jvm.java.lang.management.ManagementFactory
    pools = [
        p for p in mf.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP" and "Eden" not in p.getName()
    ]
    jvm_pid = jvm.ProcessHandle.current().pid()
    for p in pools:
        p.resetPeakUsage()
    for pid in [os.getpid(), jvm_pid, *host.descendants(jvm_pid)]:
        try:
            host.reset_hwm(pid)
        except OSError:  # exited meanwhile
            pass

    def stop() -> tuple[float, dict]:
        heap = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
        committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20
        native = host.vm_hwm_mib(jvm_pid) - committed
        python = host.vm_hwm_mib(os.getpid())
        for pid in host.descendants(jvm_pid):
            try:
                python += host.vm_hwm_mib(pid)
            except OSError:  # exited meanwhile
                pass
        parts = {"mem_heap_mb": heap, "mem_jvm_native_mb": native, "mem_python_mb": python}
        return heap + native + python, parts

    return stop


def timed_window(job, seconds: float, cores: int, steal_s, clock=time.perf_counter):
    """The closed loop: run ``job`` while the next run still fits in
    ``seconds``, and at least once. When the host stole more than
    STEAL_LIMIT of every timed job's vCPU time, run one more. ``job``
    returns (wall seconds, ...) or None if it failed. Returns the walls and
    each one's steal share."""
    walls: list[float] = []
    stolen: list[float] = []
    attempted, retried = 0, False
    t0 = clock()
    while True:
        steal = steal_s()
        done = job()
        attempted += 1
        if done:
            walls.append(done[0])
            stolen.append((steal_s() - steal) / (done[0] * cores))
        elapsed = clock() - t0
        if elapsed + elapsed / attempted <= seconds:
            continue
        if not retried and stolen and min(stolen) > STEAL_LIMIT:
            retried = True
            continue
        return walls, stolen


def window_wall(walls: list[float], stolen: list[float]) -> float:
    """Median of the undisturbed jobs, or of all jobs if none is."""
    return statistics.median([w for w, x in zip(walls, stolen) if x <= STEAL_LIMIT] or walls)


def _release(spark, workdir: str) -> None:
    """Drop what one job left behind, so the next starts from the same state."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
    for rid in list(rdds.keySet()):
        rdds.get(rid).unpersist(True)
    shutil.rmtree(workdir, ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit. Its
    Python workers exit when the JVM closes their pipes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, run_id: str, scratch: str) -> tuple[dict, dict]:
    from perfbench import host
    from perfbench.spans import NullTracer, SparkCounters, Tracer, layer_rollup
    from perfbench.workloads import LAYERS, make

    wl = make(args.workload)
    indir = os.path.join(scratch, "input")
    os.makedirs(indir)
    t = time.perf_counter()
    wl.generate(args.seed, indir)
    gen_s = time.perf_counter() - t

    import pyspark

    from fast_er_spark.functions.jvm_sketch import ensure_jvm_udfs
    from fast_er_spark.session import get_spark

    cpus = host.cores()
    record = {
        "run_id": run_id, "workload": wl.name, "seed": args.seed, "n": wl.n,
        "records": wl.records, "seconds": args.seconds, "trace": args.trace,
        "cores": cpus, "mem_total_mib": host.mem_total_mib(),
        "heap": os.environ["SPARK_DRIVER_MEMORY"], "pyspark": pyspark.__version__,
        "python": platform.python_version(), "gen_s": gen_s,
    }
    steal0 = host.steal_s()
    checks = []
    attempted = 0
    spark = get_spark("perfbench", cpus=cpus)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        record["jdk"] = spark._jvm.System.getProperty("java.version")  # noqa: SLF001
        record["jvm_kernels"] = ensure_jvm_udfs(spark)
        workdir = os.path.join(scratch, "work")
        t = time.perf_counter()
        wl.iterate(spark, NullTracer(), workdir)  # warm-up
        record["warmup_s"] = time.perf_counter() - t
        _release(spark, workdir)
        setup_s = time.perf_counter() - _process_start() - gen_s
        steal1 = host.steal_s()

        def job(tracer):
            """One checked job: (wall seconds, counters), or None if it failed."""
            nonlocal attempted
            attempted += 1
            try:
                t = time.perf_counter()
                with tracer.span("iteration"):
                    out, counters = wl.iterate(spark, tracer, workdir)
                wall = time.perf_counter() - t
                checks.append(wl.check(out))
                return wall, counters
            except Exception:
                _log(traceback.format_exc(limit=5))
                return None
            finally:
                _release(spark, workdir)

        memory = _memory_probe(spark)
        walls, stolen = timed_window(lambda: job(NullTracer()), args.seconds, cpus, host.steal_s)
        steal2 = host.steal_s()
        peak_mem, mem_parts = memory()
        record.update(mem_parts)
        record["probe_s"] = statistics.median(host.speed_probe() for _ in range(3))

        layers = None
        if args.trace and walls:
            # traced job between two untraced ones: jobs still speed up as
            # the JVM warms, and the mean of the two cancels a steady trend
            tracer = Tracer(run_id, SparkCounters(spark))
            done = job(tracer)
            after = job(NullTracer())
            if done and after:
                counters = done[1]
                layers = layer_rollup(tracer.spans, tracer.jobs, cpus)
                root = next(s for s in tracer.spans if s.name == "iteration")
                traced_total = root.end - root.start
                untraced = (walls[-1] + after[0]) / 2
                os.makedirs(os.path.join(OUT_DIR, "spans"), exist_ok=True)
                with open(os.path.join(OUT_DIR, "spans", run_id + ".json"), "w") as f:
                    json.dump(tracer.to_json(), f)
    finally:
        _stop_spark(spark)

    failed = attempted - len(checks)
    correct = failed == 0 and all(ok for _, _, ok in checks)
    record.update(
        setup_s=setup_s, walls=walls, checks=checks, attempted=attempted, failed=failed,
        fail_frac=failed / attempted, correct=correct, peak_mem_mb=peak_mem,
        steal_setup_s=steal1 - steal0, steal_window_s=steal2 - steal1, steal_shares=stolen,
    )
    metrics: dict[str, float] = {}
    if walls:
        wall = window_wall(walls, stolen)
        recall = min(c[0] for c in checks)
        precision = min(c[1] for c in checks)
        values = {
            "setup_s": setup_s, "wall_s": wall, "records_per_s": wl.records / wall,
            "recall": recall, "precision": precision, "peak_mem_mb": peak_mem,
        }
        units = END_TO_END
        if layers is not None:
            values = {k: 0.0 for k in per_layer_units()}
            for layer in LAYERS:
                for c in LAYER_COUNTERS:
                    if c != "rows_out":
                        values[f"{layer}.{c}"] = layers.get(layer, {}).get(c, 0.0)
            values.update(counters)
            values["trace.total_s"] = traced_total
            values["trace.overhead_s"] = traced_total - untraced
            values["trace.bookkeeping_s"] = layers.get("trace.bookkeeping", {}).get("self_s", 0.0)
            values["trace.unattributed_s"] = layers["iteration"]["self_s"]
            units = per_layer_units()
            record["layers"] = layers
        if args.trace and layers is None:
            values = {}  # the traced job failed: no per-layer metrics
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, record


def run_all(args) -> int:
    """Every workload of BENCHMARK.json, one process each; prints each
    end-to-end metric by name with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            _log(f"{name}: exit {proc.returncode}")
            merged["correct"] = False
            continue
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        fail_frac = res["failed"] / res["attempted"]
        print(f"{name}: correct={res['correct']} fail_frac={fail_frac:g}")
        for k, m in res["metrics"].items():
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
            merged["metrics"][f"{name}.{k}"] = m
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        _log(f"not a fast_er_spark checkout: {ROOT} lacks {', '.join(missing)}")
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)} or all")
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    scratch = os.path.join(OUT_DIR, run_id)
    host.prepare_env(ROOT, scratch, host.heap_mib(host.mem_total_mib()))
    try:
        result, record = run(args, run_id, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(OUT_DIR, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    _log(json.dumps({k: v for k, v in record.items() if k != "layers"}))
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
