"""Pattern-space encoding + EM estimation tests."""

import itertools

import numpy as np
import pytest

from fast_er_spark.estimation import Estimation
from fast_er_spark.evaluation import Evaluation
from fast_er_spark.patterns import (
    counts_with_complement,
    exact_pattern_counts,
    gamma_matrix,
    n_patterns,
    pattern_id,
    strides,
)


def test_pattern_id_matches_gamma_row():
    for kf, ke in [(1, 0), (0, 1), (2, 1), (3, 2), (4, 1)]:
        g = gamma_matrix(kf, ke)
        assert len(g) == n_patterns(kf, ke)
        # pattern_id of each Gamma row must equal its row index (bijection
        # with the reference's itertools.product order, estimation.py:70).
        for row_idx, row in enumerate(g):
            assert pattern_id(list(row), kf, ke) == row_idx


def test_strides_last_fastest():
    assert strides(2, 1) == [6, 2, 1]
    assert strides(4, 1) == [54, 18, 6, 2, 1]


def test_counts_complements():
    # linkage: complement = |A|*|B| - observed
    c = counts_with_complement({1: 5, 3: 2}, 1, 1, n_a=10, n_b=20)
    assert c.sum() == 200 and c[1] == 5 and c[3] == 2 and c[0] == 193
    # dedup: complement includes the diagonal (n(n+1)/2, deduplication.py:825)
    c = counts_with_complement({2: 4}, 1, 0, n_a=10)
    assert c.sum() == 55 and c[0] == 51


def test_exact_pattern_counts_inverts_superset_counts():
    """Moebius inversion: from N>=(S) (pairs agreeing on at least subset S)
    back to the pairs agreeing on exactly each exact pattern, against
    brute-force enumeration of random agreement vectors."""
    rng = np.random.default_rng(5)
    for k in range(1, 5):
        for _ in range(20):
            masks = rng.integers(0, 1 << k, size=int(rng.integers(0, 60)))
            want = {e: int((masks == e).sum()) for e in range(1 << k)}
            n_ge = {s: int(((masks & s) == s).sum()) for s in range(1 << k)}
            assert exact_pattern_counts(n_ge, k) == want
            # a subset with no agreeing pair may be absent (counts 0)
            sparse = {s: n for s, n in n_ge.items() if n}
            assert exact_pattern_counts(sparse, k) == want


def _synthetic_counts(kf, ke, lam, pi0_hi, pi1_hi, n_pairs):
    """Generate a pattern histogram from a known FS model."""
    cards = [3] * kf + [2] * ke
    # non-match concentrates on level 0, match on the top level
    pi = {0: [], 1: []}
    for c in cards:
        p0 = np.full(c, (1 - pi0_hi) / (c - 1))
        p0[0] = pi0_hi
        p1 = np.full(c, (1 - pi1_hi) / (c - 1))
        p1[-1] = pi1_hi
        pi[0].append(p0)
        pi[1].append(p1)
    g = gamma_matrix(kf, ke)
    counts = np.zeros(len(g))
    for pid, row in enumerate(g):
        p_match = lam * np.prod([pi[1][k][l] for k, l in enumerate(row)])
        p_non = (1 - lam) * np.prod([pi[0][k][l] for k, l in enumerate(row)])
        counts[pid] = (p_match + p_non) * n_pairs
    return np.round(counts)


def test_em_recovers_separation():
    counts = _synthetic_counts(2, 1, lam=0.05, pi0_hi=0.9, pi1_hi=0.85, n_pairs=1_000_000)
    est = Estimation(2, 1, counts, seed=13).fit()
    assert est.converged
    # all-agree pattern should get posterior ~1, all-disagree ~0
    assert est.ksi[-1] > 0.95
    assert est.ksi[0] < 0.05
    # lambda in the right ballpark
    assert est.lam == pytest.approx(0.05, abs=0.03)


def test_em_deterministic():
    counts = _synthetic_counts(1, 1, lam=0.1, pi0_hi=0.85, pi1_hi=0.8, n_pairs=100_000)
    a = Estimation(1, 1, counts, seed=13).fit()
    b = Estimation(1, 1, counts, seed=13).fit()
    assert np.array_equal(a.ksi, b.ksi)
    assert a.lam == b.lam


def test_em_refit_guard():
    counts = _synthetic_counts(1, 0, 0.1, 0.85, 0.8, 1000)
    est = Estimation(1, 0, counts).fit()
    with pytest.raises(RuntimeError):
        est.fit()


def test_evaluation_fdr_fnr():
    ksi = np.array([0.01, 0.5, 0.99])
    counts = np.array([100.0, 10.0, 20.0])
    lam = float((ksi * counts).sum() / counts.sum())
    ev = Evaluation(lam, ksi, counts)
    # at threshold 0.9 only the last pattern is selected
    assert ev.fdr(0.9) == pytest.approx(0.01)
    expected_fnr = (0.01 * 100 + 0.5 * 10) / (lam * 130)
    assert ev.fnr(0.9) == pytest.approx(expected_fnr)
    t = ev.optimal_threshold(alpha=1.0)
    assert 0.0 <= t <= 1.0
