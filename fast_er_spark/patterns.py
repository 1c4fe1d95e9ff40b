"""Agreement-pattern encoding for the Fellegi-Sunter model.

The reference enumerates the pattern space with
``itertools.product(*(range(i) for i in [3]*K_fuzzy + [2]*K_exact))``
(/root/reference/faster/estimation.py:70) — row-major, LAST variable fastest —
and materializes one sorted pair-id array per pattern via iterated GPU
setdiff/intersect (comparison.py:695-725). We replace that set algebra with a
single arithmetic encoding: ``pattern_id = sum_k level_k * stride_k`` where
``stride_k`` is the suffix product of the level cardinalities. That yields
exactly the Gamma row index, so pattern_id is directly comparable with the
reference's pattern ordering.

Counts quirks reproduced (for test parity with the reference):
- linkage complement: ``counts[0] = |A|*|B| - sum(counts[1:])``
  (comparison.py:747)
- dedup complement: ``counts[0] = n*(n+1)//2 - sum(counts[1:])`` — the
  reference includes the n diagonal self-pairs in pattern 0
  (deduplication.py:825).
"""

from __future__ import annotations

import itertools

import numpy as np

__all__ = [
    "level_cardinalities",
    "strides",
    "gamma_matrix",
    "pattern_id",
    "n_patterns",
    "counts_with_complement",
    "exact_pattern_counts",
]


def level_cardinalities(k_fuzzy: int, k_exact: int) -> list[int]:
    return [3] * k_fuzzy + [2] * k_exact


def strides(k_fuzzy: int, k_exact: int) -> list[int]:
    """Suffix products: stride of the last variable is 1."""
    cards = level_cardinalities(k_fuzzy, k_exact)
    out = [1] * len(cards)
    for i in range(len(cards) - 2, -1, -1):
        out[i] = out[i + 1] * cards[i + 1]
    return out


def n_patterns(k_fuzzy: int, k_exact: int) -> int:
    return (3 ** k_fuzzy) * (2 ** k_exact)


def gamma_matrix(k_fuzzy: int, k_exact: int) -> np.ndarray:
    """Pattern matrix, row = pattern, col = variable (fuzzy first).

    Row order matches estimation.py:70 (itertools.product, last column
    fastest), so ``pattern_id`` below equals the row index.
    """
    cards = level_cardinalities(k_fuzzy, k_exact)
    return np.array(list(itertools.product(*(range(c) for c in cards))), dtype=np.int64)


def pattern_id(levels: list[int], k_fuzzy: int, k_exact: int) -> int:
    st = strides(k_fuzzy, k_exact)
    return int(sum(l * s for l, s in zip(levels, st)))


def counts_with_complement(
    observed: dict[int, int],
    k_fuzzy: int,
    k_exact: int,
    n_a: int,
    n_b: int | None = None,
) -> np.ndarray:
    """Full histogram over the pattern space.

    ``observed`` maps pattern_id -> pair count for nonzero patterns (pattern 0
    may be present; it is overwritten by the complement). ``n_b=None`` means
    dedup (pair universe = lower triangle + diagonal, reference quirk).
    """
    total = n_a * n_b if n_b is not None else n_a * (n_a + 1) // 2
    counts = np.zeros(n_patterns(k_fuzzy, k_exact), dtype=np.int64)
    for pid, c in observed.items():
        if pid != 0:
            counts[pid] = c
    counts[0] = total - counts[1:].sum()
    return counts


def exact_pattern_counts(n_ge: dict[int, int], k_exact: int) -> dict[int, int]:
    """Moebius inversion over the subsets of ``k_exact`` exact variables.

    ``n_ge[S]`` counts the pairs agreeing on AT LEAST the exact variables in
    subset mask S (exact variable j <-> bit k_exact-1-j, so a mask IS the
    exact part of a pattern id); a missing S counts 0. Returns, for every
    e in 0 .. 2^k_exact - 1, the pairs agreeing on EXACTLY e:
    ``sum over supersets t of e of (-1)^|t - e| * n_ge[t]``.
    """
    full = 1 << k_exact
    return {
        e: sum(
            (-1) ** bin(t ^ e).count("1") * n_ge.get(t, 0)
            for t in range(e, full)
            if t & e == e
        )
        for e in range(full)
    }
