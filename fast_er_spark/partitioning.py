"""Scale-adaptive parallelism guards.

Single-file test/bench tables (one parquet row group) plan as ONE scan task,
so every per-row kernel stage fused above the first exchange — anchor
winnowing, Gopher regexps, shingle hashing — runs on one core no matter how
many the session has (guide §2: partitioning must derive from the input, not
from a constant tuned for either scale). ``ensure_min_parallelism`` is the
conditional fix: round-robin repartition to the session's default
parallelism IFF the frame currently plans fewer partitions. At corpus scale
the scan already outnumbers the cores and this is a no-op — the repartition
(and its shuffle) only exists where the data is too small for the shuffle to
cost anything.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ._env import flag_off

__all__ = ["ensure_min_parallelism"]


def ensure_min_parallelism(
    df: DataFrame, min_parts: int | None = None, barrier: bool = False
) -> DataFrame:
    """Repartition ``df`` round-robin to ``min_parts`` (default: the
    session's defaultParallelism) iff its physical plan currently yields
    fewer partitions. Row-order independent consumers only (round-robin
    reassigns rows to partitions; Spark's sort-before-repartition keeps the
    assignment deterministic under retries).

    ``barrier=True`` additionally lazy-checkpoints the repartitioned frame —
    ONLY when the repartition fired, so a corpus-scale input is never
    materialized here. Use it when the consumer applies a FILTER whose
    predicate is the expensive per-row work: Catalyst pushes predicates
    below a bare repartition, landing the work back in the undersized scan
    stage; the checkpoint is an optimizer barrier that pins the filter above
    the spread (a handful of small-input rows is all it ever materializes).

    ``FAST_ER_MIN_PARALLELISM=0`` (or false/no/off) disables the guard
    everywhere (A/B escape hatch; also the right setting for a deployment
    whose inputs are always well-split)."""
    if flag_off(os.environ.get("FAST_ER_MIN_PARALLELISM")):
        return df
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: planning failure
        return df
    if cur < min_parts:
        df = df.repartition(min_parts)
        if barrier:
            df = df.localCheckpoint(eager=False)
    return df
