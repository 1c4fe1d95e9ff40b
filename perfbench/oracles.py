"""Correctness oracles of the benchmark workloads. Pure Python and numpy:
nothing here uses the library code under test, except the threshold-to-
fraction helper that defines the embedding test itself."""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np

from oracle.reference import jaccard, shingle_set


def pages_oracle_pairs(texts: list[str], group_of: list[int], threshold: float = 0.8) -> set[tuple[int, int]]:
    """Pairs (i > j) inside one planted group whose exact word-3-shingle
    Jaccard is >= threshold. Cross-group pairs are assumed absent; the
    benchmark's tests check that assumption by brute force at small n."""
    members: dict[int, list[int]] = defaultdict(list)
    for i, g in enumerate(group_of):
        members[g].append(i)
    out = set()
    for ids in members.values():
        if len(ids) < 2:
            continue
        sets = {i: shingle_set(texts[i]) for i in ids}
        for x in range(len(ids)):
            for y in range(x):
                i, j = ids[x], ids[y]
                if jaccard(sets[i], sets[j]) >= threshold:
                    out.add((max(i, j), min(i, j)))
    return out


def brute_force_jaccard_pairs(texts: list[str], threshold: float = 0.8) -> set[tuple[int, int]]:
    """All pairs (i > j) with word-3-shingle Jaccard >= threshold. Exact:
    J(A, B) <= min(|A|, |B|) / max(|A|, |B|), so only pairs whose set sizes
    are within that ratio are compared."""
    sets = [shingle_set(t) for t in texts]
    order = sorted(range(len(texts)), key=lambda i: len(sets[i]))
    out = set()
    for x, i in enumerate(order):
        for y in range(x + 1, len(order)):
            j = order[y]
            if len(sets[i]) < threshold * len(sets[j]):
                break
            if jaccard(sets[i], sets[j]) >= threshold:
                out.add((max(i, j), min(i, j)))
    return out


def cluster_recall_precision(
    component_of: dict[int, int], oracle_pairs: set[tuple[int, int]], group_of: list[int]
) -> tuple[float, float]:
    """recall: share of oracle pairs the clustering puts in one component.
    precision: share of co-clustered pairs that lie inside one planted
    group. Counted per (component, group) cell, so a huge component costs
    no pair enumeration."""
    hit = sum(1 for i, j in oracle_pairs if component_of[i] == component_of[j])
    recall = hit / len(oracle_pairs) if oracle_pairs else 1.0
    comp_sizes = Counter(component_of.values())
    cells = Counter((c, group_of[i]) for i, c in component_of.items())
    pairs = sum(n * (n - 1) // 2 for n in comp_sizes.values())
    inside = sum(n * (n - 1) // 2 for n in cells.values())
    precision = inside / pairs if pairs else 1.0
    return recall, precision


def linkage_recall_precision(n_linked: int, n_true: int, n_shared: int) -> tuple[float, float]:
    """Against the ncid truth: n_shared entities occur once on each side,
    so there are exactly n_shared true pairs."""
    recall = n_true / n_shared if n_shared else 1.0
    precision = n_true / n_linked if n_linked else 0.0
    return recall, precision


def pair_recall_precision(found: set, truth: set) -> tuple[float, float]:
    hit = len(found & truth)
    recall = hit / len(truth) if truth else 1.0
    precision = hit / len(found) if found else 1.0
    return recall, precision


def quantize_half_up(vecs: np.ndarray, quantize: int = 100) -> np.ndarray:
    """Components scaled and rounded half away from zero (Spark's round)."""
    scaled = vecs * quantize
    return (np.floor(np.abs(scaled) + 0.5) * np.sign(scaled)).astype(np.int64)


def embedding_oracle_pairs(
    vecs: np.ndarray, num: int, den: int, quantize: int = 100, block: int = 1024
) -> set[tuple[int, int]]:
    """Brute force of the quantized integer cosine test, blockwise: pair
    (i > j) iff dot > 0 and den^2 * dot^2 >= num^2 * |q_i|^2 * |q_j|^2.
    The products run in float64, exact while dim * quantize^2 < 2^53; the
    test itself runs in int64."""
    q = quantize_half_up(vecs, quantize)
    if vecs.shape[1] * quantize**2 >= 2**53:
        raise ValueError("float64 dot products would not be exact")
    qf = q.astype(np.float64)
    norms = np.einsum("ij,ij->i", q, q)
    out = set()
    n = len(q)
    for lo in range(0, n, block):
        hi = min(n, lo + block)
        # rows lo..hi-1 against every earlier-or-equal row: j < i
        dots = (qf[lo:hi] @ qf[:hi].T).astype(np.int64)
        ii, jj = np.nonzero(np.tril(np.ones((hi - lo, hi), dtype=bool), k=lo - 1))
        d = dots[ii, jj]
        i_abs = ii + lo
        keep = (d > 0) & (den * den * d * d >= num * num * norms[i_abs] * norms[jj])
        out.update(zip(i_abs[keep].tolist(), jj[keep].tolist()))
    return out
