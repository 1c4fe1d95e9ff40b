"""Tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import oracles, workloads  # noqa: E402
from perfbench.spans import (  # noqa: E402
    BOOKKEEPING,
    JobStats,
    Span,
    Tracer,
    attribute_jobs,
    layer_rollup,
    self_times,
)


def _span(i, name, parent, start, end, lo=0, hi=0):
    return Span(i, name, parent, "r", start, end, lo, hi)


# ------------------------------------------------------------ span rollup
def test_self_time_is_duration_minus_children_cover():
    spans = [
        _span(0, "root", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 3.0, 6.0),  # overlaps a: together they cover 1..6
        _span(3, "c", 1, 2.0, 3.0),
        _span(4, "d", 0, 9.0, 12.0),  # runs past its parent: clipped to 9..10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_self_times_sum_to_root_duration_for_nested_spans():
    spans = [
        _span(0, "root", None, 0.0, 8.0),
        _span(1, "a", 0, 0.5, 3.0),
        _span(2, "b", 1, 1.0, 2.0),
        _span(3, "a", 0, 4.0, 7.5),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


def test_jobs_go_to_the_innermost_span_whose_range_holds_them():
    spans = [
        _span(0, "root", None, 0, 10, lo=0, hi=10),
        _span(1, "a", 0, 1, 5, lo=2, hi=5),
        _span(2, "b", 1, 2, 3, lo=3, hi=4),
        _span(3, BOOKKEEPING, 0, 6, 7),  # empty range: owns nothing
    ]
    owner = attribute_jobs(spans, range(12))
    assert owner == {0: 0, 1: 0, 2: 1, 3: 2, 4: 1, 5: 0, 6: 0, 7: 0, 8: 0, 9: 0}


def test_layer_rollup_sums_per_name():
    spans = [
        _span(0, "root", None, 0.0, 10.0, 0, 4),
        _span(1, "lsh", 0, 0.0, 2.0, 0, 2),
        _span(2, "lsh", 0, 4.0, 6.0, 2, 3),
    ]
    jobs = {
        0: JobStats(cpu_s=2.0, shuffle_bytes=2**20),
        1: JobStats(cpu_s=1.0, spill_bytes=2**21),
        2: JobStats(cpu_s=1.0),
        3: JobStats(cpu_s=0.5),
    }
    layers = layer_rollup(spans, jobs, cores=2)
    lsh = layers["lsh"]
    assert lsh["self_s"] == pytest.approx(4.0)
    assert lsh["jobs"] == 3
    assert lsh["cpu_s"] == pytest.approx(4.0)
    assert lsh["busy"] == pytest.approx(4.0 / (4.0 * 2))
    assert lsh["shuffle_mb"] == pytest.approx(1.0)
    assert lsh["spill_mb"] == pytest.approx(2.0)
    assert layers["root"]["jobs"] == 1
    assert layers["root"]["self_s"] == pytest.approx(6.0)


class _FakeCounters:
    """Job ids advance by the jobs each span body 'submits'."""

    def __init__(self):
        self.next_job = 0

    def boundary(self):
        return self.next_job

    def collect(self, job_ids):
        return {j: JobStats(cpu_s=1.0) for j in job_ids}


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def test_tracer_records_ranges_and_keeps_bookkeeping_out_of_layers():
    counters = _FakeCounters()
    tr = Tracer("run", counters, clock=_Clock())
    with tr.span("iteration"):
        counters.next_job += 1
        with tr.span("counts"):
            counters.next_job += 3
        with tr.span("transform"):
            pass
    named = {s.name: s for s in tr.spans if s.name != BOOKKEEPING}
    assert (named["iteration"].job_lo, named["iteration"].job_hi) == (0, 4)
    assert (named["counts"].job_lo, named["counts"].job_hi) == (1, 4)
    assert named["transform"].job_lo == named["transform"].job_hi == 4
    assert named["counts"].parent == named["iteration"].span_id
    assert sorted(tr.jobs) == [0, 1, 2, 3]
    layers = layer_rollup(tr.spans, tr.jobs, cores=1)
    assert layers["counts"]["jobs"] == 3
    assert layers["iteration"]["jobs"] == 1
    # every tick of the fake clock is one second: the span bodies took one
    # tick each, and the bookkeeping spans are not part of any layer
    assert layers["counts"]["self_s"] == pytest.approx(1.0)
    root = named["iteration"]
    total = sum(v["self_s"] for k, v in layers.items() if k != "iteration")
    total += layers["iteration"]["self_s"]
    assert total == pytest.approx(root.end - root.start + 2.0)  # + its own bookkeeping


# --------------------------------------------------------------- oracles
def test_pages_oracle_keeps_only_near_pairs_inside_groups():
    base = " ".join(f"w{i}" for i in range(40))
    near = base + " extra"  # 38 of 39 shingles shared
    far = " ".join(f"v{i}" for i in range(40))
    texts = [base, near, far, base]
    group_of = [0, 0, 0, 3]  # doc 3 copies doc 0 but sits in another group
    assert oracles.pages_oracle_pairs(texts, group_of) == {(1, 0)}
    assert oracles.brute_force_jaccard_pairs(texts) == {(1, 0), (3, 0), (3, 1)}


def test_cluster_recall_precision():
    group_of = [0, 0, 0, 3, 4]
    oracle_pairs = {(1, 0), (2, 0), (2, 1)}
    perfect = {0: 0, 1: 0, 2: 0, 3: 3, 4: 4}
    assert oracles.cluster_recall_precision(perfect, oracle_pairs, group_of) == (1.0, 1.0)
    split = {0: 0, 1: 0, 2: 2, 3: 3, 4: 4}
    assert oracles.cluster_recall_precision(split, oracle_pairs, group_of) == (1 / 3, 1.0)
    merged = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4}  # 6 co-clustered pairs, 3 inside a group
    assert oracles.cluster_recall_precision(merged, oracle_pairs, group_of) == (1.0, 0.5)


def test_quantization_rounds_half_away_from_zero():
    q = oracles.quantize_half_up(np.array([[0.005, -0.005, 0.0149, -0.015]]))
    assert q.tolist() == [[1, -1, 1, -2]]


def test_embedding_oracle_matches_float_cosine_off_the_boundary():
    rng = np.random.default_rng(3)
    base = rng.standard_normal((30, 8))
    vecs = np.concatenate([base, base[:10] + 0.01 * rng.standard_normal((10, 8)), -base[:5]])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    got = oracles.embedding_oracle_pairs(vecs, 9, 10, block=7)
    q = oracles.quantize_half_up(vecs).astype(float)
    cos = (q @ q.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(q, axis=1))
    want = {(i, j) for i in range(len(q)) for j in range(i) if cos[i, j] >= 0.9}
    assert got == want
    assert {(30 + k, k) for k in range(10)} <= got
    assert not any(i >= 40 and j < 30 and j == i - 40 for i, j in got)


# ------------------------------------------------- workload output checks
def test_pages_check_gates_on_recall():
    wl = workloads.PagesDedup(4)
    wl.group_of = [0, 0, 2, 2]
    wl.oracle = {(1, 0), (3, 2)}
    assert wl.check({0: 0, 1: 0, 2: 2, 3: 2}) == (1.0, 1.0, True)
    assert wl.check({0: 0, 1: 0, 2: 2, 3: 3})[2] is False


def test_voters_linkage_check_against_ncid_truth():
    wl = workloads.VotersLinkage(10)
    wl.n_shared = 5
    assert wl.check((5, 5)) == (1.0, 1.0, True)
    r, p, ok = wl.check((10, 5))
    assert (r, p, ok) == (1.0, 0.5, False)


def test_embeddings_check_requires_exact_precision():
    wl = workloads.EmbeddingsNearDup(3)
    wl.oracle = {(1, 0), (2, 1)}
    assert wl.check({(1, 0), (2, 1)}) == (1.0, 1.0, True)
    assert wl.check({(1, 0), (2, 1), (2, 0)})[2] is False


def test_near_dup_check_needs_every_part():
    pages = workloads.PagesDedup(2)
    pages.group_of, pages.oracle = [0, 0], {(1, 0)}
    emb = workloads.EmbeddingsNearDup(2)
    emb.oracle = {(1, 0)}
    wl = workloads.NearDup(pages, emb)
    assert wl.check([{0: 0, 1: 0}, {(1, 0)}]) == (1.0, 1.0, True)
    assert wl.check([{0: 0, 1: 1}, {(1, 0)}]) == (0.0, 1.0, False)


def test_pages_oracle_assumption_holds_by_brute_force():
    """No pair across planted groups reaches the Jaccard threshold, so the
    within-group oracle is the full answer (checked at the benchmark's
    size)."""
    from fixtures.synth import pages

    rows, _, root_of = pages(n=workloads.PAGES_N, seed=42)
    texts = [r["text"] for r in rows]
    group_of = [root_of[i] for i in range(len(rows))]
    within = oracles.pages_oracle_pairs(texts, group_of)
    assert len(within) > 500
    assert oracles.brute_force_jaccard_pairs(texts) == within


# ------------------------------------------------------------ the window
def _fake_window(shares, seconds=5.0, cores=2):
    """Jobs of 10 s each; the host steals ``shares[i]`` of job i's vCPU time."""
    from perfbench.run import timed_window

    now, steal, todo = [0.0], [0.0], iter(shares)

    def job():
        share = next(todo)
        now[0] += 10.0
        steal[0] += share * 10.0 * cores
        return (10.0,)

    return timed_window(job, seconds, cores, lambda: steal[0], clock=lambda: now[0])


def test_window_times_one_more_job_only_when_every_job_was_disturbed():
    from perfbench.run import STEAL_LIMIT, window_wall

    calm, hit = STEAL_LIMIT / 2, STEAL_LIMIT * 2
    walls, stolen = _fake_window([calm])
    assert walls == [10.0]
    assert stolen == pytest.approx([calm])
    assert len(_fake_window([hit, calm])[0]) == 2
    assert len(_fake_window([hit, hit, calm])[0]) == 2  # one more job at most
    assert window_wall([20.0, 12.0], [hit, calm]) == 12.0
    assert window_wall([20.0, 22.0], [hit, hit]) == 21.0


# ------------------------------------------------------------ host facts
def test_descendants_and_peak_resident_set_of_a_child():
    from perfbench import host

    child = subprocess.Popen(
        [sys.executable, "-c", "import sys; b = bytearray(64 << 20); sys.stdin.read()"],
        stdin=subprocess.PIPE,
    )
    try:
        deadline = time.monotonic() + 30
        while host.vm_hwm_mib(child.pid) < 64 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in host.descendants(os.getpid())
        assert host.vm_hwm_mib(child.pid) >= 64
    finally:
        child.communicate(b"")


# ---------------------------------------------------------------- the CLI
def test_run_fails_without_the_library(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "near_dup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_spark_counters_attribute_a_real_job():
    pytest.importorskip("pyspark")
    from fast_er_spark.session import get_spark
    from perfbench.spans import SparkCounters

    spark = get_spark("perfbench-test", cpus=2, shuffle_partitions=2)
    try:
        tr = Tracer("t", SparkCounters(spark))
        with tr.span("outer"):
            spark.range(1000).count()
            with tr.span("inner"):
                spark.range(20_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        layers = layer_rollup(tr.spans, tr.jobs, cores=2)
        assert layers["inner"]["jobs"] >= 1
        assert layers["inner"]["cpu_s"] > 0
        assert layers["inner"]["shuffle_mb"] > 0
        assert layers["outer"]["jobs"] >= 1
    finally:
        spark.stop()


def test_memory_probe_adds_up_its_parts():
    pytest.importorskip("pyspark")
    from fast_er_spark.session import get_spark
    from perfbench.run import _memory_probe

    spark = get_spark("perfbench-test", cpus=2, shuffle_partitions=2)
    try:
        stop = _memory_probe(spark)
        spark.range(200_000).selectExpr("id % 13 AS k").groupBy("k").count().collect()
        total, parts = stop()
        assert set(parts) == {"mem_heap_mb", "mem_jvm_native_mb", "mem_python_mb"}
        assert all(v > 0 for v in parts.values())
        assert total == pytest.approx(sum(parts.values()))
    finally:
        spark.stop()
