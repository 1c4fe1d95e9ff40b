"""High-level API: Comparison / Deduplication / Linkage — the user-facing
surface of the reference (comparison.py:602-748, deduplication.py:716-826,
linkage.py:19-72), Spark-native.

A user of the reference writes::

    comp = Comparison(df_A, df_B, Vars_Fuzzy_A, Vars_Fuzzy_B, ...)
    comp.fit()
    est = Estimation(len(fuzzy), len(exact), comp.Counts); est.fit()
    out = Linkage(df_A, df_B, comp.Indices, est.Ksi).transform(0.85)

Here the same flow is::

    comp = Comparison(df_a, df_b, vars_fuzzy_a, vars_fuzzy_b, ...)
    comp.fit()                      # lazy plan; materializes pattern edges
    est = Estimation(...,(comp.counts())).fit()
    out = Linkage(df_a, df_b, comp, est.ksi).transform(0.85)

with pandas inputs replaced by Spark DataFrames and the pattern index sets
replaced by one (id_a, id_b, pattern_id) DataFrame.

Deduplication is the same engine over the triangle universe: a Comparison
of one table with itself restricted to pairs id_a > id_b, overriding only
the pair-universe hooks (pair-space size, complement total, fuzzy and exact
edges, exact joint counts). ``Linkage(None, None, dedup, ksi)`` works as
for a Comparison.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._env import flag_off
from .estimation import Estimation
from .operators.agreement import (
    assemble_patterns,
    exact_levels_dedup,
    exact_levels_linkage,
    fuzzy_value_parts_dedup,
    fuzzy_value_parts_linkage,
    join_back_dedup,
    join_back_linkage,
    pattern_counts,
)
from .patterns import counts_with_complement, exact_pattern_counts, n_patterns, strides

__all__ = ["Comparison", "Deduplication", "Linkage", "Estimation"]

_ROW_ID = "__row_id"


def _with_row_id(df: DataFrame, order_col: str | None) -> tuple[DataFrame, int | None]:
    """(frame with a stable long row id, total row count or None).

    The count is known FOR FREE on the positional path (the offset scan
    sums partition sizes) and None on the natural-key path — callers use it
    to gate the packed-pair-key optimization, whose encoding is only sound
    for ids < 2^31. Stable long row id rules: if the table has a natural unique long key, pass it
    as order_col (the scale path — zero extra work). Otherwise positional ids
    (partition-major, row order within partition — the same ids zipWithIndex
    assigns, which reproduce the reference's pandas positional index,
    comparison.py:626, for any source with a stable partition order) are
    assigned ENTIRELY JVM-side:

    - ``monotonically_increasing_id()`` encodes (partition index << 33) |
      (row position within partition); a localCheckpoint (lazy — the sizes
      job right after is its materializing action) freezes those values so
      every downstream action sees the same ids;
    - one driver-sized count job reads per-partition sizes off the frozen
      frame (grouping by the id's partition bits, so the result is
      consistent even if the checkpoint read repartitions);
    - a broadcast join adds each partition's cumulative offset.

    No Python stage anywhere: the previous zipWithIndex implementation
    serialized every row JVM->Python->JVM once per Comparison/Deduplication
    — the single remaining non-kernel Python pass on the reference-workload
    path (measured: see PERF.md round 4)."""
    if order_col is not None:
        return df.withColumn(_ROW_ID, F.col(order_col).cast("long")), None
    spark = df.sparkSession
    # LAZY checkpoint: the sizes collect right below is the first action, so
    # the checkpoint blocks are written during its scan — one pass over the
    # input instead of eager's materialize-then-rescan. (The AQE lazy-
    # checkpoint double-pass pathology, see _fit_sparse, concerns frames
    # with SHUFFLE stages; whatever upstream shuffles the input carries run
    # exactly once either way, and the id-bearing scan itself is not
    # repeated.) Ids freeze at that first materialization and every later
    # consumer reads the same frozen blocks.
    mid = df.withColumn("__mid", F.monotonically_increasing_id()).localCheckpoint(eager=False)
    part_of = F.shiftrightunsigned(F.col("__mid"), 33)
    sizes = mid.groupBy(part_of.alias("__pid")).agg(F.count(F.lit(1)).alias("__n")).collect()
    offsets, acc = [], 0
    for r in sorted(sizes, key=lambda r: r["__pid"]):
        offsets.append((int(r["__pid"]), acc))
        acc += int(r["__n"])
    # driver-sized (one row per partition), built from LITERALS: a
    # createDataFrame(list) here plans as a Python RDD whose single-task
    # materialization job measured ~6 s — pure scheduling/worker overhead
    # on every Comparison. An exploded literal array is JVM-only and free.
    # (Falls back to createDataFrame past 20k partitions, where a literal
    # expression tree would bloat the plan.)
    if offsets and len(offsets) <= 20_000:
        off_df = spark.range(1).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(p).cast("long").alias("__pid"),
                            F.lit(off).cast("long").alias("__off"),
                        )
                        for p, off in offsets
                    ]
                )
            ).alias("po")
        ).select("po.__pid", "po.__off")
    else:
        off_df = (
            spark.createDataFrame(offsets or [], "__pid long, __off long")
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    out = (
        mid.withColumn("__pid", part_of)
        .join(F.broadcast(off_df), "__pid")
        .withColumn(
            _ROW_ID,
            F.col("__off") + F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)),
        )
        .drop("__pid", "__off", "__mid")
    )
    return out, acc


# the packed (id_a << 32 | id_b) key only has 32 bits per side; positional
# ids are bounded by the row count, so packing is gated on BOTH counts
# being known and under this limit (natural keys: unknown -> never packed)
_PACK_MAX_ID = 1 << 31


def _pack_ok(*totals: int | None) -> bool:
    return all(t is not None and t < _PACK_MAX_ID for t in totals)


def _single_long_bits(n_a, n_b, st, k_fuzzy: int, k_exact: int):
    """Bit layouts for the single-long encodings, or None when they don't
    fit in 63 bits (sign bit stays 0 so longs compare/shift safely).

    Returns ((bits_a, bits_b, bits_contrib), (bits_a, bits_b, bits_pid)):
    the first layout packs one (pair, per-variable contribution) edge of
    the assembly shuffle; the second packs a finished (id_a, id_b,
    pattern_id) row for the parquet spill. Positional ids are bounded by
    the row counts (0..n-1); the max per-edge contribution is level 2 on
    the largest-stride fuzzy variable; the max pattern id is
    n_patterns - 1."""
    if n_a is None or n_b is None or k_fuzzy < 1:
        return None
    ba = max(1, (int(n_a) - 1).bit_length())
    bb = max(1, (int(n_b) - 1).bit_length())
    bc = max(1, (2 * st[0]).bit_length())
    bp = max(1, (n_patterns(k_fuzzy, k_exact) - 1).bit_length())
    if ba + bb + max(bc, bp) > 63:
        return None
    return ((ba, bb, bc), (ba, bb, bp))


def _batched_distinct_counts(df: DataFrame, cols: list[str]) -> list[int]:
    """Every column's distinct non-null count in ONE aggregation job."""
    row = df.agg(
        *[
            F.count_distinct(F.col(c).cast("string")).alias(f"c{i}")
            for i, c in enumerate(cols)
        ]
    ).collect()[0]
    return [int(row[f"c{i}"]) for i in range(len(cols))]


def _histogram(patterns: DataFrame) -> dict[int, int]:
    """{pattern_id: pair count} of a (id_a, id_b, pattern_id) frame."""
    return {
        int(r["pattern_id"]): int(r["cnt"]) for r in pattern_counts(patterns).collect()
    }


def _subset_cube(
    df: DataFrame, exact_cols: list[str], vs: list[str], cnt: str, gid: str,
    lead: tuple[str, str] | None = None,
) -> DataFrame:
    """Every exact-variable subset's value histogram of ``df`` in ONE CUBE
    pass (2^k combination rows per input row, partial-aggregated
    map-side): exact column j is renamed vs[j], ``cnt`` counts the rows and
    ``gid`` is the grouping id. grouping_id bit order: first cube column =
    most significant, so the v_j bits are k-1 .. 0 — the subset-mask
    convention of patterns.exact_pattern_counts (a set bit = aggregated
    out). Groups whose in-subset value is a real NULL are dropped (null
    never agrees). ``lead`` = (column, alias) is a mandatory grouping
    column (block key, fuzzy value): null leads are dropped, and so are the
    combinations that aggregate it out."""
    k = len(vs)
    lead_cols = [F.col(lead[0]).cast("string").alias(lead[1])] if lead else []
    f = df.select(
        *lead_cols, *[F.col(c).cast("string").alias(v) for c, v in zip(exact_cols, vs)]
    )
    if lead:
        f = f.where(F.col(lead[1]).isNotNull())
    g = f.cube(*([lead[1]] if lead else []), *vs).agg(
        F.count(F.lit(1)).alias(cnt), F.grouping_id().alias(gid)
    )
    if lead:
        g = g.where(F.col(gid) < F.lit(1 << k))
    for j, v in enumerate(vs):
        in_subset = F.shiftright(F.col(gid), k - 1 - j).bitwiseAND(F.lit(1)) == 0
        g = g.where(~in_subset | F.col(v).isNotNull())
    return g


# implied |A| x |B| pair space above which the materialized pattern frame is
# spilled to parquet instead of the in-memory columnar cache (see
# _materialize_pairs)
_SPILL_PAIR_SPACE = 100_000_000
# transform()'s ksi lookup frame: literal-expression form up to this many
# admitted patterns (JVM-only, no Python-RDD job); past it, the driver plan
# would bloat with millions of expression nodes, so fall back to
# createDataFrame (same rationale as _with_row_id's offsets frame).
_KSI_LITERAL_MAX = 20_000
_spill_dirs: list[str] = []


def _cleanup_spill_dirs() -> None:
    for d in _spill_dirs:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_spill_dirs)


def _materialize_pairs(
    df: DataFrame, big: bool, pack_bits: tuple[int, int, int] | None = None
) -> DataFrame:
    """Materialize a pattern/pair frame once for its two consumers
    (counts()'s histogram and transform()'s admitted-pair filter).

    Small frames take the in-memory columnar cache. Big frames are written
    to parquet and re-read: the columnar cache BUILD is row-at-a-time
    (measured ~1,200 core-seconds for the 125M-row sparse frame of the
    100k x 100k reference workload — the single most expensive operator in
    the whole job), while the vectorized parquet writer materializes the
    same frame in a few seconds and reads back vectorized+compressed.

    ``pack_bits`` = (bits_a, bits_b, bits_pid), passed when the caller has
    PROVEN id_a < 2^bits_a, id_b < 2^bits_b, pattern_id < 2^bits_pid and
    the sum is <= 63: the big-frame spill then writes ONE packed long
    column instead of three longs (~3x fewer parquet column bytes to
    encode/compress and decode on every downstream read) and re-derives
    the columns with codegen bit ops after the scan. counts()'s histogram
    only consumes pattern_id, so column pruning keeps its post-spill scan
    to the packed column with no id unpacking at all.

    Spill location: ``spark.fast_er.spillDir`` if set (POINT THIS AT SHARED
    STORAGE — HDFS/S3 — on a real cluster: executors write the files
    directly); default is a driver-local temp dir, which is correct in
    local mode, and is removed at interpreter exit."""
    if not big:
        return df.persist()
    spark = df.sparkSession
    try:
        base = spark.conf.get("spark.fast_er.spillDir")
    except Exception:
        base = None
    if base:
        path = base.rstrip("/") + "/pairs_" + uuid.uuid4().hex
    else:
        path = tempfile.mkdtemp(prefix="fast_er_pairs_")
        _spill_dirs.append(path)
    # the codec is spark.sql.parquet.compression.codec: every codec measured
    # off the critical path (PERF.md round 5 #14)
    if pack_bits is not None and df.columns == ["id_a", "id_b", "pattern_id"]:
        ba, bb, bp = pack_bits
        if ba + bb + bp <= 63:
            packed = df.select(
                F.shiftleft(F.col("id_a"), bb + bp)
                .bitwiseOR(F.shiftleft(F.col("id_b"), bp))
                .bitwiseOR(F.col("pattern_id"))
                .alias("__pk")
            )
            packed.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path).select(
                F.shiftrightunsigned(F.col("__pk"), bb + bp).alias("id_a"),
                F.shiftrightunsigned(F.col("__pk"), bp)
                .bitwiseAND(F.lit((1 << bb) - 1))
                .alias("id_b"),
                F.col("__pk").bitwiseAND(F.lit((1 << bp) - 1)).alias("pattern_id"),
            )
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _sparse_fuzzy_union(
    fuzzy_frames,
    st,
    k_fuzzy: int,
    pack: bool,
    prepartition: bool = False,
    pack_bits: tuple[int, int, int] | None = None,
    multi_only: bool = False,
) -> DataFrame:
    """union + groupBy of per-variable level frames -> (id_a, id_b, __fz).

    The union is the engine's dominant shuffle (~1.26e8 level-edge rows at
    100k x 100k). ``pack_bits`` = (bits_a, bits_b, bits_contrib), passed
    when the caller has proven id_a < 2^bits_a, id_b < 2^bits_b, every
    per-row contribution < 2^bits_contrib, and the sum <= 63: the shuffle
    then carries ONE long per edge — (id_a << (bb+bc)) | (id_b << bc) |
    contrib — an 8-byte UnsafeRow field where the (key long, contrib int)
    pair costs 16 (both plus the 8-byte row header). The groupBy keys on
    shiftrightunsigned(__e, bc), which canonicalizes equal to the
    repartition expression, so prepartition still produces exactly one
    exchange with partial+final aggregation both post-shuffle (verified in
    the plan). Contributions of a pair's edges occupy disjoint stride
    slots (one variable each; duplicate same-variable edges impossible),
    so summing the masked low bits reassembles the fuzzy pattern exactly
    as the unpacked path does. Fallback ``pack=True`` (ids < 2^31 but the
    single-long layout doesn't fit) keeps the two-field packed key.

    ``multi_only=True`` (the analytic-singles engine): also count each
    pair's edges and keep only pairs with >= 2 agreeing fuzzy variables
    (duplicate same-variable edges are impossible, so the edge count IS
    the agreeing-variable count). ~95% of pairs at realistic value
    distributions agree on exactly one variable; dropping them here means
    the exact-attachment joins, the pattern spill, and the histogram scan
    all run on the small multi frame only, while the single-agreement
    histogram is computed analytically at the value level
    (Comparison._fuzzy_joint_counts) with no pair materialization at all."""
    if pack_bits is not None:
        ba, bb, bc = pack_bits
        contribs = [
            f.select(
                F.shiftleft(F.col("id_a"), bb + bc)
                .bitwiseOR(F.shiftleft(F.col("id_b"), bc))
                .bitwiseOR((F.col("level") * F.lit(s)).cast("long"))
                .alias("__e")
            )
            for f, s in zip(fuzzy_frames, st[:k_fuzzy])
        ]
    elif pack:
        key = F.shiftleft(F.col("id_a"), 32).bitwiseOR(F.col("id_b"))
        contribs = [
            f.select(
                key.alias("__k"),
                (F.col("level") * F.lit(s)).cast("int").alias("contrib"),
            )
            for f, s in zip(fuzzy_frames, st[:k_fuzzy])
        ]
    else:
        contribs = [
            f.select("id_a", "id_b", (F.col("level") * F.lit(s)).alias("contrib"))
            for f, s in zip(fuzzy_frames, st[:k_fuzzy])
        ]
    u = contribs[0]
    for c in contribs[1:]:
        u = u.unionByName(c)
    # explicit hash repartition on the agg key BEFORE the groupBy: the
    # partial aggregate then runs AFTER the exchange on co-located data
    # instead of inside the (CPU-bound, 232-task) JW stage, where it hashed
    # every edge for a ~0.5% reduction — pairs agreeing on 2+ fuzzy
    # variables are rare, so map-side combine buys nothing while costing a
    # hash-map insert per edge row (A/B'd both ways at 100k x 100k,
    # PERF.md round 5; the exchange volume is identical either way).
    # ``prepartition`` is passed by callers for BIG pair spaces only: a
    # numbered repartition pins the session partition count onto what may
    # be a tiny edge set, and small fits pay pure scheduling overhead for
    # it (fs_pattern_counts +80% at sf0.1 before the gate — the round-1
    # small-input lesson again).
    if prepartition:
        # one bucket per shuffle partition: over-partitioning measured
        # slower end to end (PERF.md round 5 #15)
        sp = int(u.sparkSession.conf.get("spark.sql.shuffle.partitions", "64"))
        if pack_bits is not None:
            u = u.repartition(sp, F.shiftrightunsigned(F.col("__e"), pack_bits[2]))
        else:
            u = u.repartition(sp, *(["__k"] if pack else ["id_a", "id_b"]))
    multi = [F.count(F.lit(1)).alias("__n")] if multi_only else []
    if pack_bits is not None:
        ba, bb, bc = pack_bits
        g = u.groupBy(F.shiftrightunsigned(F.col("__e"), bc).alias("__k")).agg(
            F.sum(F.col("__e").bitwiseAND(F.lit((1 << bc) - 1))).alias("__fz"),
            *multi,
        )
        if multi_only:
            g = g.where(F.col("__n") >= 2)
        return g.select(
            F.shiftrightunsigned(F.col("__k"), bb).alias("id_a"),
            F.col("__k").bitwiseAND(F.lit((1 << bb) - 1)).alias("id_b"),
            "__fz",
        )
    if pack:
        g = u.groupBy("__k").agg(
            F.sum("contrib").cast("long").alias("__fz"), *multi
        )
        if multi_only:
            g = g.where(F.col("__n") >= 2)
        return g.select(
            F.shiftrightunsigned(F.col("__k"), 32).cast("long").alias("id_a"),
            F.col("__k").bitwiseAND(F.lit((1 << 32) - 1)).cast("long").alias("id_b"),
            "__fz",
        )
    g = u.groupBy("id_a", "id_b").agg(
        F.sum("contrib").cast("long").alias("__fz"), *multi
    )
    if multi_only:
        g = g.where(F.col("__n") >= 2).drop("__n")
    return g


class Comparison:
    """A x B agreement patterns (reference Comparison, comparison.py:602).

    The one pattern engine: the pair universe is the only decision that
    differs between linkage and deduplication, and it lives in the methods
    marked "universe hook" (Deduplication overrides exactly those for the
    strict lower triangle)."""

    # universe hook: the analytic-singles engine's value-level joint counts
    # join two per-side value cubes through the value-pair frame (sum of
    # nA*nB) — a rectangle-only formula, so the triangle keeps the classic
    # engine
    _analytic_universe = True

    def __init__(
        self,
        df_a: DataFrame,
        df_b: DataFrame,
        vars_fuzzy_a: list[str],
        vars_fuzzy_b: list[str],
        vars_exact_a: list[str] | None = None,
        vars_exact_b: list[str] | None = None,
        id_a: str | None = None,
        id_b: str | None = None,
        blocking_a: str | None = None,
        blocking_b: str | None = None,
    ):
        vars_exact_a = vars_exact_a or []
        vars_exact_b = vars_exact_b or []
        if (blocking_a is None) != (blocking_b is None):
            raise ValueError("blocking needs a column on both sides")
        if len(vars_fuzzy_a) != len(vars_fuzzy_b) or len(vars_exact_a) != len(vars_exact_b):
            raise ValueError("variable lists for A and B must have equal length")
        for c in vars_fuzzy_a + vars_exact_a:
            if c not in df_a.columns:
                raise ValueError(f"column {c} not in df_a")
        for c in vars_fuzzy_b + vars_exact_b:
            if c not in df_b.columns:
                raise ValueError(f"column {c} not in df_b")
        self._bind_frames(df_a, df_b, id_a, id_b)
        self.id_a = id_a
        self.id_b = id_b
        self.blocking_a = blocking_a
        self.blocking_b = blocking_b
        if blocking_a is not None:
            self.df_a = self.df_a.withColumn("__block", F.col(blocking_a).cast("string"))
            self.df_b = self.df_b.withColumn("__block", F.col(blocking_b).cast("string"))
        self.vars_fuzzy_a = vars_fuzzy_a
        self.vars_fuzzy_b = vars_fuzzy_b
        self.vars_exact_a = vars_exact_a
        self.vars_exact_b = vars_exact_b
        self.k_fuzzy = len(vars_fuzzy_a)
        self.k_exact = len(vars_exact_a)
        self.patterns: DataFrame | None = None
        self._counts: np.ndarray | None = None
        self._big_cached: bool | None = None
        self._sparse: DataFrame | None = None
        self._sparse_materialized = False
        self._pack_bits = None
        self._ab: tuple[DataFrame, DataFrame] | None = None
        # analytic-singles engine state (see _analytic/_fit_sparse)
        self._parts: list[tuple[DataFrame, ...]] | None = None
        self._multi: DataFrame | None = None
        self._multi_materialized = False

    # ------------------------------------------------------ universe hooks
    def _bind_frames(self, df_a: DataFrame, df_b: DataFrame, id_a, id_b) -> None:
        """Universe hook: both sides' frames with stable row ids (and the
        row counts the positional path ships for free)."""
        self.df_a, self._n_a = _with_row_id(df_a, id_a)
        self.df_b, self._n_b = _with_row_id(df_b, id_b)

    def _row_counts(self) -> tuple[int, int]:
        """Universe hook: (|A|, |B|). Positional row counts are free; the
        natural-key path pays the two count jobs ONCE, overlapped, and
        BACKFILLS _n_a/_n_b so the size gate and counts()'s complement share
        them (four serial count jobs measured +0.25 s per fit at bench
        scale). Safe to backfill: the packed-key gates additionally require
        id_a/id_b is None (positional ids), so a row COUNT can never be
        mistaken for an id BOUND."""
        if self._n_a is None or self._n_b is None:
            with ThreadPoolExecutor(2) as ex:
                fa = ex.submit(self.df_a.count) if self._n_a is None else None
                fb = ex.submit(self.df_b.count) if self._n_b is None else None
                if fa is not None:
                    self._n_a = fa.result()
                if fb is not None:
                    self._n_b = fb.result()
        return self._n_a, self._n_b

    def _pair_space(self) -> int:
        """Universe hook: the number of candidate pairs, |A| * |B|."""
        n_a, n_b = self._row_counts()
        return n_a * n_b

    def _complement(self, observed: dict[int, int]) -> np.ndarray:
        """Universe hook: the full histogram, pattern 0 = every pair of the
        universe that no observed pattern holds. Blocked universe: sum over
        blocks of |A_b| * |B_b| (the reference's blocking sums per-block
        Counts, usage.rst)."""
        if self.blocking_a is None:
            n_a, n_b = self._row_counts()
        else:
            ca = self.df_a.groupBy("__block").count().withColumnsRenamed({"count": "na"})
            cb = self.df_b.groupBy("__block").count().withColumnsRenamed({"count": "nb"})
            row = ca.join(cb, "__block").select(
                F.sum(F.col("na") * F.col("nb")).alias("t")
            ).collect()[0]
            n_a, n_b = int(row["t"] or 0), 1  # the blocked total as one factor
        return counts_with_complement(observed, self.k_fuzzy, self.k_exact, n_a, n_b)

    def _distinct_sizes(self, a: DataFrame, b: DataFrame) -> list[tuple[int, int]]:
        """Universe hook: (distinct A values, distinct B values) per fuzzy
        variable. ALL variables' counts come from ONE aggregation job per
        side (2 jobs total): default_value_candidates otherwise runs two
        count jobs per fuzzy variable just to pick cross-vs-LSH and size the
        JW stage (~5 s of driver-side latency at 4 variables). The A- and
        B-side jobs are independent: submit them from two threads so the
        scheduler overlaps them on idle cores (wall ~= max of the two
        instead of their sum)."""
        with ThreadPoolExecutor(2) as ex:
            fa = ex.submit(_batched_distinct_counts, a, self.vars_fuzzy_a)
            fb = ex.submit(_batched_distinct_counts, b, self.vars_fuzzy_b)
            return list(zip(fa.result(), fb.result()))

    def _value_parts(self, a, b, i: int, p, lower_thr, upper_thr, candidates, sizes) -> tuple:
        """Universe hook: (matched value pairs, *row projections) for fuzzy
        variable i — the frames _join_back turns into (id_a, id_b, level)
        edges."""
        return fuzzy_value_parts_linkage(
            a, b, self.vars_fuzzy_a[i], self.vars_fuzzy_b[i], "id_a", "id_b",
            p, lower_thr, upper_thr, candidates,
            block=self.blocking_a is not None, sizes=sizes,
        )

    def _join_back(self, parts: tuple) -> DataFrame:
        """Universe hook: (id_a, id_b, level) edges from _value_parts."""
        return join_back_linkage(*parts, "id_a", "id_b", self.blocking_a is not None)

    def _exact_edges(self, a: DataFrame, b: DataFrame, i: int) -> DataFrame:
        """Universe hook: (id_a, id_b, 1) for pairs agreeing on exact
        variable i."""
        return exact_levels_linkage(
            a, b, self.vars_exact_a[i], self.vars_exact_b[i], "id_a", "id_b",
            block=self.blocking_a is not None,
        )

    def _exact_superset_counts(self) -> dict[int, int]:
        """Universe hook: {S: N>=(S)} for every non-empty subset S of exact
        variables, N>=(S) = sum over joint non-null values of cntA*cntB
        (pairs agreeing on at least S). ONE Spark job: each side aggregates
        every subset's value histogram in a single CUBE pass (2^k
        combination rows per input row, partial-aggregated map-side), the
        two cubes join null-safe per subset, and one collect returns all
        N>=(S). The old per-subset loop ran 2^k - 1 serial scan+collect
        jobs. Blocked comparisons add the block key to the joint grouping
        (pairs only exist within a block)."""
        a, b = self._ab
        blk = self.blocking_a is not None
        k = self.k_exact
        vs = [f"v{j}" for j in range(k)]
        cube_cols = (["__block"] if blk else []) + vs
        lead = ("__block", "__block") if blk else None
        ga = _subset_cube(a, self.vars_exact_a, vs, "na", "gid", lead)
        gb = _subset_cube(b, self.vars_exact_b, vs, "nb", "gid", lead)
        cond = ga["gid"] == gb["gid"]
        for v in cube_cols:
            # null-safe: aggregated-out columns are NULL on both sides
            cond = cond & ga[v].eqNullSafe(gb[v])
        joint = (
            ga.join(gb, cond)
            .groupBy(ga["gid"])
            .agg(F.sum(ga["na"] * gb["nb"]).alias("t"))
            .collect()
        )
        full = (1 << k) - 1
        return {full ^ int(r["gid"]): int(r["t"]) for r in joint if int(r["gid"]) != full}

    # ---------------------------------------------------------- the engine
    def _analytic(self) -> bool:
        """Analytic-singles counts engine gate. 'auto' (default): on for
        BIG pair spaces, where single-agreement pairs dominate the
        assembly shuffle and their analytical treatment removes the
        materialized pattern frame entirely; small fits keep the one
        union+groupBy plan (the extra value-cube jobs would cost more
        scheduling than they save). '1'/'force' = always (parity tests),
        '0' (or false/no/off) = never. Blocked comparisons always use the
        classic engine (the value-level collapse would need per-block value
        histograms), and so does the triangle (_analytic_universe)."""
        mode = os.environ.get("FAST_ER_ANALYTIC_SINGLES", "auto")
        if (
            flag_off(mode) or not self._analytic_universe
            or self.blocking_a is not None or self.k_fuzzy < 1
        ):
            return False
        if mode in ("1", "force"):
            return True
        return self._big()

    def _big(self) -> bool:
        """Pair space >= _SPILL_PAIR_SPACE -> parquet spill + pre-partitioned
        assembly (cached; see _row_counts for what the sizes cost)."""
        if self._big_cached is None:
            self._big_cached = self._pair_space() >= _SPILL_PAIR_SPACE
        return self._big_cached

    def fit(
        self,
        p: float = 0.1,
        lower_thr: float = 0.88,
        upper_thr: float = 0.94,
        candidates=None,
        exact_sparse: bool = True,
    ) -> "Comparison":
        """``exact_sparse`` (default): materialize per-pair patterns ONLY for
        pairs with at least one fuzzy agreement; exact-variable agreement is
        attached to those pairs by per-pair lookup, and pairs agreeing only
        on exact variables are counted ANALYTICALLY (inclusion-exclusion
        over value frequencies, see counts()). Low-cardinality exact
        variables (birth_year: 66 values) otherwise dominate everything:
        at 100k x 100k they alone contribute ~1.5e8 materialized pair rows
        (~65% of the union+groupBy shuffle) whose posteriors are ~0 anyway.
        Set False (or use blocking) for the dense reference-shaped path."""
        if self.patterns is not None:
            raise RuntimeError("already fitted")
        bl = ["__block"] if self.blocking_a is not None else []
        a = self.df_a.select(
            F.col(_ROW_ID).alias("id_a"), *self.vars_fuzzy_a, *self.vars_exact_a, *bl
        )
        b = self.df_b.select(
            F.col(_ROW_ID).alias("id_b"), *self.vars_fuzzy_b, *self.vars_exact_b, *bl
        )
        self._ab = (a, b)
        sizes = self._distinct_sizes(a, b) if self.k_fuzzy and candidates is None else None
        sparse_path = exact_sparse and self.k_fuzzy >= 1 and 1 <= self.k_exact <= 8
        analytic = sparse_path and self._analytic()
        fuzzy_frames = []
        parts = []
        for i in range(self.k_fuzzy):
            matched, *rows = self._value_parts(
                a, b, i, p, lower_thr, upper_thr, candidates,
                sizes[i] if sizes else None,
            )
            if analytic:
                # the value-pair frame feeds BOTH the assembly join-back
                # and the analytic joint-counts job, which run concurrently
                # in counts(): persist so the JW scoring runs once (the
                # frame is distinct value pairs — orders of magnitude
                # smaller than the pair frame it implies)
                matched = matched.persist()
            parts.append((matched, *rows))
            fuzzy_frames.append(self._join_back(parts[-1]))
        self._parts = parts if analytic else None
        # sparse-engine guard: the analytical exact counts CUBE expands 2^k
        # combination rows per input row — past ~8 exact variables the dense
        # path's single union+groupBy is the better plan
        if sparse_path:
            self._fit_sparse(a, b, fuzzy_frames)
            return self
        frames = fuzzy_frames + [self._exact_edges(a, b, i) for i in range(self.k_exact)]
        # materialize on first action: counts() and Linkage.transform both
        # consume patterns, and without a shared materialization the whole
        # JW/join DAG re-executes per consumer (measured ~2x wall on the
        # reference 100k x 100k workload). Big frames spill to parquet
        # (eagerly — the write IS the one execution); small ones persist().
        self.patterns = _materialize_pairs(
            assemble_patterns(frames, self.k_fuzzy, self.k_exact), self._big()
        )
        return self

    # ------------------------------------------------- sparse-exact engine
    def _fit_sparse(self, a: DataFrame, b: DataFrame, fuzzy_frames) -> None:
        st = strides(self.k_fuzzy, self.k_exact)
        pack = (
            self.id_a is None and self.id_b is None
            and _pack_ok(self._n_a, self._n_b)
        )
        self._pack_bits = _single_long_bits(
            self._n_a, self._n_b, st, self.k_fuzzy, self.k_exact
        ) if pack else None
        sparse = _sparse_fuzzy_union(
            fuzzy_frames, st, self.k_fuzzy, pack,
            prepartition=self._big(), pack_bits=self._pack_bits and self._pack_bits[0],
        )
        sparse = self._attach_exact(sparse, a, b, st)
        if self._parts is not None:
            # analytic-singles engine: the multi-agreement frame (>= 2 fuzzy
            # agreements) is the ONLY pair frame counts()/transform()
            # materialize; single-agreement patterns are counted at the
            # value level and regenerated per-pattern on demand
            self._multi = self._attach_exact(
                _sparse_fuzzy_union(
                    fuzzy_frames, st, self.k_fuzzy, pack,
                    prepartition=self._big(),
                    pack_bits=self._pack_bits and self._pack_bits[0],
                    multi_only=True,
                ),
                a, b, st,
            )
        # stays LAZY here; the first consumer (_ensure_sparse) materializes
        # it ONCE — parquet spill for big pair spaces, persist() for small
        # (NOT localCheckpoint: under AQE even a lazy localCheckpoint
        # materializes every shuffle stage at call time and pays a second
        # pass writing checkpoint blocks — measured 42 s at 100k x 100k).
        self._sparse = sparse
        # full reference surface: sparse pairs + lazily-derived exact-only
        # pairs. Heavy only if somebody materializes ALL patterns — counts()
        # and transform() never do.
        self.patterns = self._sparse.unionByName(self._exact_only_patterns())

    def _attach_exact(self, frame: DataFrame, a: DataFrame, b: DataFrame, st) -> DataFrame:
        """exact agreement is a per-pair LOOKUP on the (small-per-pair)
        pair frame — two equi-joins per exact variable against the
        id->value projections, never a pair-materializing self-join."""
        exact_expr = F.lit(0).cast("long")
        for idx, (ca, cb) in enumerate(zip(self.vars_exact_a, self.vars_exact_b)):
            s = st[self.k_fuzzy + idx]
            va = a.select("id_a", F.col(ca).cast("string").alias(f"__ea{idx}"))
            vb = b.select("id_b", F.col(cb).cast("string").alias(f"__eb{idx}"))
            frame = frame.join(va, "id_a").join(vb, "id_b")
            exact_expr = exact_expr + F.when(
                F.col(f"__ea{idx}") == F.col(f"__eb{idx}"), F.lit(s).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return frame.select(
            "id_a", "id_b", (F.col("__fz") + exact_expr).alias("pattern_id")
        )

    def _ensure_sparse(self) -> DataFrame:
        """Materialize the sparse pattern frame on first consumption and
        rebuild self.patterns on top of the materialized frame."""
        if not self._sparse_materialized:
            self._sparse = _materialize_pairs(
                self._sparse, self._big(),
                pack_bits=self._pack_bits and self._pack_bits[1],
            )
            self._sparse_materialized = True
            self.patterns = self._sparse.unionByName(self._exact_only_patterns())
        return self._sparse

    def _ensure_multi(self) -> DataFrame:
        """Materialize the multi-agreement (>= 2 fuzzy) pair frame on first
        consumption — the analytic-singles engine's ONLY materialized pair
        frame (orders of magnitude smaller than the full sparse frame).

        Always persist() (MEMORY_AND_DISK), never the parquet spill the
        full-frame engine uses: the multi frame is O(pairs with >= 2 fuzzy
        agreements), far below the pair-space threshold _big() keys on, and
        the persist path lets the histogram collect double as the
        materializing action — one job instead of write-parquet plus a
        read-back job (each extra job costs ~1-2 s of driver gap on the
        100k workload's critical path; PERF.md round 5)."""
        if not self._multi_materialized:
            self._multi = self._multi.persist()
            self._multi_materialized = True
        return self._multi

    def _fuzzy_joint_counts(self) -> dict[tuple[int, int, int], int]:
        """{(var_idx, level, exact_pattern): N} where N counts ALL pairs
        with fuzzy variable var_idx at exactly `level`, exact agreement
        vector exactly `exact_pattern`, and ANY levels on the other fuzzy
        variables — computed WITHOUT pair materialization.

        The multiplicity collapse: a scored value pair (va, vb, level)
        implies nA(va, x) * nB(vb, x) row pairs per joint exact-value
        combination x, so each side aggregates one CUBE over
        (fuzzy value x exact-variable subsets) — the same single-job CUBE
        trick as _exact_joint_counts with the fuzzy value as a mandatory
        grouping column — and the two cubes join THROUGH the value-pair
        frame. Moebius inversion over exact subsets then yields exact
        patterns. One Spark job for all fuzzy variables (union + collect)."""
        a, b = self._ab
        k = self.k_exact

        def side_cube(df: DataFrame, fuzzy_col: str, exact_cols, sfx: str) -> DataFrame:
            # per-side column SUFFIXES (not DataFrame-attribute references):
            # self-linkage passes the same frame as both sides, where
            # attribute-id disambiguation of identical plans is unreliable
            return _subset_cube(
                df, exact_cols, [f"__v{j}{sfx}" for j in range(k)],
                f"__n{sfx}", f"__gid{sfx}", lead=(fuzzy_col, f"__val{sfx}"),
            )

        frames = []
        for i in range(self.k_fuzzy):
            matched = self._parts[i][0]
            ga = side_cube(a, self.vars_fuzzy_a[i], self.vars_exact_a, "a")
            gb = side_cube(b, self.vars_fuzzy_b[i], self.vars_exact_b, "b")
            j1 = matched.join(ga, F.col("val_a") == F.col("__vala"))
            cond = (F.col("val_b") == F.col("__valb")) & (
                F.col("__gida") == F.col("__gidb")
            )
            for j in range(k):
                cond = cond & F.col(f"__v{j}a").eqNullSafe(F.col(f"__v{j}b"))
            j2 = j1.join(gb, cond)
            frames.append(
                j2.groupBy(F.col("level"), F.col("__gida"))
                .agg(
                    F.sum(
                        F.col("__na").cast("long") * F.col("__nb").cast("long")
                    ).alias("t")
                )
                .select(
                    F.lit(i).alias("var"), F.col("level"),
                    F.col("__gida").alias("gid"), F.col("t"),
                )
            )
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        rows = u.collect()
        full = (1 << k) - 1
        n_ge: dict[tuple[int, int], dict[int, int]] = {}
        for r in rows:
            key = (int(r["var"]), int(r["level"]))
            # subset-mask convention matches _exact_superset_counts: exact
            # variable j <-> bit (k-1-j), i.e. the mask IS the exact part of
            # the pattern id. gid == full (all v_j aggregated out) is the
            # S = {} row: total pairs at (var, level) regardless of exacts.
            n_ge.setdefault(key, {})[full ^ int(r["gid"])] = int(r["t"])
        return {
            (i, lvl, e): total
            for (i, lvl), ge in n_ge.items()
            for e, total in exact_pattern_counts(ge, k).items()
            if total
        }

    def _single_pairs_batch(self, pids: list[int]) -> DataFrame:
        """(id_a, id_b, pattern_id) for admitted SINGLE-fuzzy-agreement
        patterns, regenerated on demand: each variable's join-back filtered
        to the needed levels, minus the multi frame (any pair with a second
        fuzzy agreement is in it by construction), filtered to the admitted
        exact parts. Posteriors of single-agreement patterns are ~0 in
        practice, so this path is rarely exercised — but it makes
        matched_pairs()/transform() exact under the analytic engine. All
        patterns of one variable share ONE join-back (a variable's edge
        frame is the expensive part, not the per-pattern filter)."""
        st = strides(self.k_fuzzy, self.k_exact)
        by_var: dict[int, list[tuple[int, int]]] = {}
        for pid in pids:
            levels = [(pid // st[i]) % 3 for i in range(self.k_fuzzy)]
            nz = [i for i, l in enumerate(levels) if l]
            assert len(nz) == 1, pid
            by_var.setdefault(nz[0], []).append((levels[nz[0]], pid))
        multi = self._ensure_multi().select("id_a", "id_b")
        a, b = self._ab
        frames = []
        for i, entries in sorted(by_var.items()):
            lvls = sorted({l for l, _ in entries})
            matched, *rows = self._parts[i]
            edges = self._join_back(
                (matched.where(F.col("level").isin([int(x) for x in lvls])), *rows)
            )
            cand = edges.join(multi, ["id_a", "id_b"], "left_anti").select(
                "id_a", "id_b",
                (F.col("level") * F.lit(int(st[i]))).cast("long").alias("__fz"),
            )
            frames.append(
                self._attach_exact(cand, a, b, st).where(
                    F.col("pattern_id").isin([int(p) for _, p in entries])
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _exact_only_patterns(self) -> DataFrame:
        """(id_a, id_b, pattern_id) for pairs agreeing on >=1 exact variable
        and NO fuzzy variable — the heavy frame the sparse path avoids
        materializing; built on demand (API parity / admitted exact-only
        patterns)."""
        a, b = self._ab
        st = strides(self.k_fuzzy, self.k_exact)
        frames = [
            self._exact_edges(a, b, i).select(
                "id_a", "id_b", (F.col("level") * F.lit(st[self.k_fuzzy + i])).alias("contrib")
            )
            for i in range(self.k_exact)
        ]
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        allex = u.groupBy("id_a", "id_b").agg(
            F.sum("contrib").cast("long").alias("pattern_id")
        )
        return allex.join(
            self._sparse.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
        )

    def _exact_joint_counts(self) -> dict[int, int]:
        """Exact-pattern histogram over ALL pairs of the universe, computed
        WITHOUT pair materialization: N>=(S) per non-empty exact subset S in
        one Spark job (_exact_superset_counts), then Moebius inversion gives
        the pairs agreeing on exactly each non-empty subset e."""
        if self.k_exact == 0:
            return {}
        n_ge = self._exact_superset_counts()
        return {e: c for e, c in exact_pattern_counts(n_ge, self.k_exact).items() if e}

    def matched_pairs(self, pids: list[int]) -> DataFrame:
        """(id_a, id_b, pattern_id) restricted to the given pattern ids —
        the sparse engine serves fuzzy-bearing patterns from the
        materialized sparse frame and only builds the heavy exact-only frame
        when an exact-only pattern is actually admitted (ksi of a
        no-fuzzy-agreement pattern is ~0 in practice)."""
        pids = [int(x) for x in pids if int(x) != 0]
        if self._sparse is None:
            return self.patterns.where(F.col("pattern_id").isin(pids))
        min_fuzzy = 2**self.k_exact
        fuzzy_pids = [x for x in pids if x >= min_fuzzy]
        exact_pids = [x for x in pids if x < min_fuzzy]
        if self._parts is not None:
            # analytic engine: multi-agreement patterns come from the small
            # materialized multi frame; single-agreement patterns are
            # regenerated per admitted pattern (rare — their posteriors are
            # ~0); the full sparse frame is never executed here
            st = strides(self.k_fuzzy, self.k_exact)

            def n_nonzero(q: int) -> int:
                return sum(1 for i in range(self.k_fuzzy) if (q // st[i]) % 3)

            multi_pids = [x for x in fuzzy_pids if n_nonzero(x) >= 2]
            single_pids = [x for x in fuzzy_pids if n_nonzero(x) == 1]
            out = self._ensure_multi().where(F.col("pattern_id").isin(multi_pids))
            if single_pids:
                out = out.unionByName(self._single_pairs_batch(single_pids))
        else:
            self._ensure_sparse()
            out = self._sparse.where(F.col("pattern_id").isin(fuzzy_pids))
        if exact_pids:
            if self._parts is not None and not self._sparse_materialized:
                # analytic engine: _exact_only_patterns anti-joins the sparse
                # PLAN; materialize it once (spill/persist) here, or the full
                # union+groupBy re-executes inside every consumer of the
                # anti-join — unbounded cost on exactly the big fits the
                # engine defaults on for
                self._ensure_sparse()
            out = out.unionByName(
                self._exact_only_patterns().where(F.col("pattern_id").isin(exact_pids))
            )
        return out

    def counts(self) -> np.ndarray:
        """Full pattern histogram incl. the complement row
        (comparison.py:732-748, deduplication.py:825)."""
        if self.patterns is None:
            raise RuntimeError("fit() first")
        if self._counts is None:
            observed = (
                _histogram(self.patterns) if self._sparse is None
                else self._sparse_observed()
            )
            self._counts = self._complement(observed)
        return self._counts

    def _sparse_observed(self) -> dict[int, int]:
        """Observed histogram of the sparse-exact engine. The exact-value
        CUBE job reads only the raw a/b frames — it is independent of the
        sparse materialization, so it is submitted from a thread and runs
        CONCURRENTLY with the (much larger) histogram job instead of
        serially after it."""
        if self._parts is not None:
            # analytic-singles engine: the big job shrinks to the
            # multi-agreement frame; the single-agreement histogram is
            # reconstructed from the value-level joint counts minus the
            # multi frame's marginals (any pair with a second fuzzy
            # agreement is in the multi frame, so every remaining pair
            # at (var, level) has zeros elsewhere)
            st = strides(self.k_fuzzy, self.k_exact)

            # submit the (dominant) multi job FIRST: driver-side plan
            # compilation is effectively serialized across threads, so
            # whatever compiles first starts executing first — the cube
            # jobs then compile while the cluster is already busy
            with ThreadPoolExecutor(3) as ex:
                fut_m = ex.submit(lambda: _histogram(self._ensure_multi()))
                fut_exact = ex.submit(self._exact_joint_counts)
                fut_fuzzy = ex.submit(self._fuzzy_joint_counts)
                m_hist = fut_m.result()
                fuzzy_joint = fut_fuzzy.result()
                exact_joint = fut_exact.result()
            observed = dict(m_hist)
            ek = 1 << self.k_exact
            m_marg: dict[tuple[int, int, int], int] = {}
            for q, c in m_hist.items():
                e = q % ek
                for i in range(self.k_fuzzy):
                    lvl = (q // st[i]) % 3
                    if lvl:
                        key = (i, lvl, e)
                        m_marg[key] = m_marg.get(key, 0) + c
            for (i, lvl, e), n in fuzzy_joint.items():
                c = n - m_marg.get((i, lvl, e), 0)
                if c < 0:
                    # invariant: every multi-frame pair at (var, level,
                    # exact) is also in the value-level joint count — a
                    # negative remainder means the two engines disagree
                    # and the histogram would be silently corrupted
                    raise RuntimeError(
                        "analytic-singles invariant violated at "
                        f"(var={i}, level={lvl}, exact={e}): joint {n} < "
                        f"multi marginal {m_marg.get((i, lvl, e), 0)}"
                    )
                if c:
                    pid = lvl * st[i] + e
                    observed[pid] = observed.get(pid, 0) + c
        else:
            with ThreadPoolExecutor(1) as ex:
                fut_exact = ex.submit(self._exact_joint_counts)
                observed = _histogram(self._ensure_sparse())
                exact_joint = fut_exact.result()
        # exact-only patterns: analytical count = (pairs whose exact
        # agreement vector is exactly e, any fuzzy) minus (sparse pairs
        # whose exact bits are e) — no pair materialization
        sparse_by_e: dict[int, int] = {}
        for pid, c in observed.items():
            e = pid % (2**self.k_exact)
            sparse_by_e[e] = sparse_by_e.get(e, 0) + c
        for e, total in exact_joint.items():
            observed[e] = total - sparse_by_e.get(e, 0)
        return observed


class Deduplication(Comparison):
    """Within-table agreement patterns (reference Deduplication,
    deduplication.py:716): the Comparison engine over the strict lower
    triangle (id_a > id_b) of one table, whose row ids are assigned once and
    serve as both sides. Only the universe hooks differ; the counts
    complement row includes the diagonal (deduplication.py:825)."""

    _analytic_universe = False

    def __init__(
        self,
        df: DataFrame,
        vars_fuzzy: list[str],
        vars_exact: list[str] | None = None,
        id_col: str | None = None,
    ):
        super().__init__(
            df, df, vars_fuzzy, vars_fuzzy, vars_exact, vars_exact, id_col, id_col
        )

    def _bind_frames(self, df_a: DataFrame, df_b: DataFrame, id_a, id_b) -> None:
        self.df_a, self._n_a = _with_row_id(df_a, id_a)
        self.df_b, self._n_b = self.df_a, self._n_a

    def _row_counts(self) -> tuple[int, int]:
        # one table: the natural-key path pays ONE count job (backfilled as
        # in Comparison._row_counts)
        if self._n_a is None:
            self._n_a = self._n_b = self.df_a.count()
        return self._n_a, self._n_b

    def _pair_space(self) -> int:
        n = self._row_counts()[0]
        return n * (n - 1) // 2

    def _complement(self, observed: dict[int, int]) -> np.ndarray:
        # n_b=None: the reference's n*(n+1)/2 total, diagonal included
        return counts_with_complement(
            observed, self.k_fuzzy, self.k_exact, self._row_counts()[0], None
        )

    def _distinct_sizes(self, a: DataFrame, b: DataFrame) -> list[tuple[int, int]]:
        # both sides are the same values: one aggregation job, and the
        # candidate universe is vals x vals
        return [(n, n) for n in _batched_distinct_counts(a, self.vars_fuzzy_a)]

    def _value_parts(self, a, b, i: int, p, lower_thr, upper_thr, candidates, sizes) -> tuple:
        return fuzzy_value_parts_dedup(
            a, self.vars_fuzzy_a[i], "id_a", p, lower_thr, upper_thr, candidates,
            sizes=sizes,
        )

    def _join_back(self, parts: tuple) -> DataFrame:
        return join_back_dedup(*parts, "id_a")

    def _exact_edges(self, a: DataFrame, b: DataFrame, i: int) -> DataFrame:
        return exact_levels_dedup(a, self.vars_exact_a[i], "id_a")

    def _exact_superset_counts(self) -> dict[int, int]:
        """N>=(S) = sum over joint non-null values of c*(c-1)/2. ONE Spark
        job: a single CUBE pass aggregates every subset's value histogram,
        a tiny second aggregation by grouping id sums c*(c-1) (exact longs,
        halved driver-side — a double division would lose precision past
        2^53 pairs), one collect."""
        k = self.k_exact
        vs = [f"v{j}" for j in range(k)]
        g = _subset_cube(self._ab[0], self.vars_exact_a, vs, "c", "gid")
        rows = (
            g.groupBy("gid")
            .agg(F.coalesce(F.sum(F.col("c") * (F.col("c") - F.lit(1))), F.lit(0)).alias("t"))
            .collect()
        )
        full = (1 << k) - 1
        return {full ^ int(r["gid"]): int(r["t"]) // 2 for r in rows if int(r["gid"]) != full}


class Linkage:
    """Materialize matched pairs above a posterior threshold (reference
    linkage.py:26-72). The reference's off-by-one Indices[i-1] bug is fixed
    here: we join on pattern_id directly, so a threshold that admits pattern 0
    simply matches nothing extra instead of reading Indices[-1]."""

    def __init__(self, df_a: DataFrame, df_b: DataFrame, comparison, ksi: np.ndarray):
        # Passed frames must carry the SAME id columns the Comparison was
        # built with, or pattern ids and row ids silently misalign; frames
        # without them are rejected rather than re-derived positionally.
        def bind(df, id_col, comp_df, side):
            if df is None:
                return comp_df
            if id_col is None:
                raise ValueError(
                    f"Comparison assigned positional row ids to df_{side}; "
                    f"pass df_{side}=None so Linkage reuses the same frame"
                )
            if id_col not in df.columns:
                raise ValueError(f"df_{side} lacks the Comparison id column {id_col!r}")
            return _with_row_id(df, id_col)[0]

        self.df_a = bind(df_a, comparison.id_a, comparison.df_a, "a")
        self.df_b = bind(df_b, comparison.id_b, comparison.df_b, "b")
        self.patterns = comparison.patterns
        self._comparison = comparison
        self.ksi = np.asarray(ksi, dtype=np.float64)

    def transform(self, threshold: float = 0.85) -> DataFrame:
        spark = self.patterns.sparkSession
        # admitted patterns are known driver-side (ksi is a local array), so
        # the sparse engine can skip the exact-only pair frame entirely when
        # no exact-only pattern clears the threshold
        admitted = [
            int(i) for i, v in enumerate(self.ksi) if v >= threshold and i != 0
        ]
        # literal-expression frame, NOT createDataFrame(list): the tiny
        # Python-RDD plan costs a ~1-2 s single-task worker job every time
        # the broadcast side materializes (same finding as the row-id
        # offsets frame, PERF.md round 4). Only ADMITTED patterns need a ksi
        # value (`base` below is already filtered to them), which keeps the
        # literal tree small even at many comparison variables; past 20k
        # admitted patterns fall back to createDataFrame like _with_row_id,
        # where a literal expression tree would bloat the plan.
        admitted_ksi = [(i, float(self.ksi[i])) for i in admitted]
        if len(admitted_ksi) <= _KSI_LITERAL_MAX:
            ksi_df = spark.range(1).select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(-1).cast("long").alias("pattern_id"),
                            F.lit(0.0).cast("double").alias("ksi"),
                        ),
                        *[
                            F.struct(
                                F.lit(int(i)).cast("long").alias("pattern_id"),
                                F.lit(v).cast("double").alias("ksi"),
                            )
                            for i, v in admitted_ksi
                        ],
                    )
                ).alias("kv")
            ).select("kv.pattern_id", "kv.ksi").where(F.col("pattern_id") >= 0)
        else:
            ksi_df = (
                spark.createDataFrame(admitted_ksi, "pattern_id long, ksi double")
                .coalesce(1)
                .localCheckpoint(eager=True)
            )
        base = self._comparison.matched_pairs(admitted)
        # join keys get throwaway names: a post-join rename of id_a would
        # case-insensitively hit a user column suffixed to id_A (a table with
        # an 'id' column) and produce two Index_A columns
        matched = base.join(F.broadcast(ksi_df), "pattern_id").select(
            F.col("id_a").alias("Index_A"),
            F.col("id_b").alias("Index_B"),
            "ksi",
        )
        a = self.df_a.select(
            F.col(_ROW_ID).alias("__jka"),
            *[F.col(c).alias(f"{c}_A") for c in self.df_a.columns if c != _ROW_ID],
        )
        b = self.df_b.select(
            F.col(_ROW_ID).alias("__jkb"),
            *[F.col(c).alias(f"{c}_B") for c in self.df_b.columns if c != _ROW_ID],
        )
        return (
            matched.join(a, matched["Index_A"] == a["__jka"])
            .join(b, matched["Index_B"] == b["__jkb"])
            .drop("__jka", "__jkb")
        )
