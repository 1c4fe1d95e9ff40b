"""Spans around the benchmark's calls into library layers, and the Spark
counters of the jobs each span ran.

A span records its name (the layer), start, end, parent span and run id.
Spans stay in memory and are written out when the run ends. Jobs are
attributed by job-id range: a span owns the jobs submitted between its
start and its end that no child span owns. Job groups cannot be used,
because the library submits jobs from its own thread pools, whose threads
inherit no job group.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

# bookkeeping intervals (listener-bus drain, status-store reads) are recorded
# as child spans of this name, so no layer's self time includes them
BOOKKEEPING = "trace.bookkeeping"


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    job_lo: int = 0  # first job id the span may own
    job_hi: int = 0  # one past the last


@dataclass
class JobStats:
    cpu_s: float = 0.0  # executor CPU time
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # bytes spilled to disk


class SparkCounters:
    """Job boundaries and per-job stage metrics from the application status
    store, which works with the UI disabled. It keeps only the most recent
    ~1,000 jobs and stages, so read them at each span's end."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._store = self._sc.statusStore()
        self._seen_stages: set[int] = set()

    def _drain(self) -> None:
        # the store is fed by the asynchronous listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def boundary(self) -> int:
        """Id the next submitted job will get."""
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def _wait_ended(self, jid: int, timeout: float = 5.0):
        """The job's store entry once its end event is processed. An action
        returns before the scheduler posts the stage-completed and job-end
        events, and stage metrics land with them."""
        deadline = time.perf_counter() + timeout
        while True:
            job = self._store.job(jid)
            if job.status().toString() != "RUNNING" or time.perf_counter() > deadline:
                return job
            time.sleep(0.005)
            self._drain()

    def collect(self, job_ids) -> dict[int, JobStats]:
        """Stats of the given jobs; each stage counts once, for the first
        job that ran it (later jobs list it as skipped)."""
        out = {}
        for jid in job_ids:
            try:
                job = self._wait_ended(jid)
            except Exception:  # evicted from the store
                continue
            stage_ids = job.stageIds()
            st = JobStats()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:
                    continue
                st.cpu_s += sd.executorCpuTime() / 1e9
                st.shuffle_bytes += sd.shuffleWriteBytes()
                st.spill_bytes += sd.diskBytesSpilled()
            out[jid] = st
        return out


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, run_id: str, counters: SparkCounters | None = None, clock=time.perf_counter):
        self.run_id = run_id
        self.counters = counters
        self.clock = clock
        self.spans: list[Span] = []
        self.jobs: dict[int, JobStats] = {}
        self._stack: list[Span] = []

    def _open(self, name: str, job_lo: int = 0) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, self.clock(), job_lo=job_lo)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = self.clock()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        lo = 0
        if self.counters is not None:
            b = self._open(BOOKKEEPING)
            lo = self.counters.boundary()
            self._close(b)
        s = self._open(name, lo)
        try:
            yield s
        finally:
            self._close(s)
            s.job_hi = lo
            if self.counters is not None:
                b = self._open(BOOKKEEPING)
                s.job_hi = self.counters.boundary()
                new = [j for j in range(s.job_lo, s.job_hi) if j not in self.jobs]
                self.jobs.update(self.counters.collect(new))
                self._close(b)

    def to_json(self) -> dict:
        return {
            "run_id": self.run_id,
            "spans": [asdict(s) for s in self.spans],
            "jobs": {str(k): asdict(v) for k, v in sorted(self.jobs.items())},
        }


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children[s.span_id]
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.span_id] = (s.end - s.start) - _union_length(clipped)
    return out


def attribute_jobs(spans: list[Span], job_ids) -> dict[int, int]:
    """Job id -> id of the innermost span whose job range holds it. Jobs
    outside every span are left out."""
    depth: dict[int, int] = {}
    for s in spans:  # parents precede children
        depth[s.span_id] = 0 if s.parent is None else depth[s.parent] + 1
    out = {}
    for jid in job_ids:
        best = None
        for s in spans:
            if s.job_lo <= jid < s.job_hi and (best is None or depth[s.span_id] > depth[best.span_id]):
                best = s
        if best is not None:
            out[jid] = best.span_id
    return out


def layer_rollup(spans: list[Span], jobs: dict[int, JobStats], cores: int) -> dict[str, dict]:
    """Per span name: self_s, jobs, cpu_s, busy, shuffle_mb, spill_mb."""
    selfs = self_times(spans)
    owner = attribute_jobs(spans, jobs)
    name_of = {s.span_id: s.name for s in spans}
    out: dict[str, dict] = defaultdict(
        lambda: {"self_s": 0.0, "jobs": 0, "cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    )
    for s in spans:
        out[s.name]["self_s"] += selfs[s.span_id]
    for jid, sid in owner.items():
        row = out[name_of[sid]]
        st = jobs[jid]
        row["jobs"] += 1
        row["cpu_s"] += st.cpu_s
        row["shuffle_mb"] += st.shuffle_bytes / 2**20
        row["spill_mb"] += st.spill_bytes / 2**20
    for row in out.values():
        row["busy"] = row["cpu_s"] / (row["self_s"] * cores) if row["self_s"] > 0 else 0.0
    return dict(out)
