"""Online MMD / KS / EWMA / quantile kernel tests (no Spark).

MMD behavioral fixture ported from the reference test strategy
(``alibi_detect/cd/tests/test_mmd_online.py`` / ``test_cvm_online.py``):
H0 streams yield average run-times within [ert/3, 3·ert]; H1 (mean-shift)
streams are detected in well under ert steps. State round-trips resume
bit-identically (FIXTURES.md F3/F5).
"""

import numpy as np
import pytest

from alibi_detect_spark.functions.ewma import ewma
from alibi_detect_spark.functions.ks import aggregate_drift, ks_2samp, ks_feature_scores
from alibi_detect_spark.functions.mmd import OnlineMMD
from alibi_detect_spark.functions.quantile import quantile

ERT = 30.0
W = 8
N_REF = 120


@pytest.fixture(scope="module")
def det():
    rng = np.random.default_rng(0)
    x_ref = rng.normal(0, 1, (N_REF, 2))
    return OnlineMMD.fit(x_ref, ert=ERT, window_size=W, n_bootstraps=400, seed=0)


def test_mmd_h0_runtime(det):
    rng = np.random.default_rng(1)
    run_times = []
    for _ in range(30):
        xs = rng.normal(0, 1, (int(ERT * 4), 2))
        _, _, drift, _ = det.score_stream(xs)
        hits = np.where(drift == 1)[0]
        run_times.append(int(hits[0]) + 1 if len(hits) else len(xs))
    art = float(np.mean(run_times))
    assert ERT / 3 <= art <= 3 * ERT, art


def test_mmd_h1_detects_fast(det):
    rng = np.random.default_rng(2)
    delays = []
    for _ in range(20):
        xs = rng.normal(1.0, 1, (int(ERT * 2), 2))
        _, _, drift, _ = det.score_stream(xs)
        hits = np.where(drift == 1)[0]
        delays.append(int(hits[0]) + 1 if len(hits) else len(xs))
    assert float(np.mean(delays)) < ERT / 2


def test_mmd_state_resume_bitexact(det):
    rng = np.random.default_rng(3)
    xs = rng.normal(0, 1, (60, 2))
    full_stats, _, _, _ = det.score_stream(xs)
    s1, _, _, state = det.score_stream(xs[:25])
    s2, _, _, _ = det.score_stream(xs[25:], state)
    assert np.array_equal(np.concatenate([s1, s2]), full_stats)  # bit-exact


def test_mmd_t_increments(det):
    xs = np.random.default_rng(4).normal(0, 1, (10, 2))
    _, _, _, state = det.score_stream(xs)
    assert state.t == 10


def test_ks_known_values():
    x = np.arange(100, dtype=float)
    d, p = ks_2samp(x, x + 0.5)
    assert 0 < d <= 0.02 + 1 / 100 + 1e-12
    d2, p2 = ks_2samp(x, x + 100.0)
    assert d2 == 1.0 and p2 < 1e-12
    # symmetric
    assert ks_2samp(x, x + 100.0)[0] == ks_2samp(x + 100.0, x)[0]


def test_ks_feature_scores_and_aggregation():
    rng = np.random.default_rng(5)
    x_ref = rng.normal(0, 1, (500, 3))
    x_same = rng.normal(0, 1, (500, 3))
    x_shift = x_same + np.array([0, 0, 1.5])
    p_same, _ = ks_feature_scores(x_ref, x_same)
    p_shift, _ = ks_feature_scores(x_ref, x_shift)
    assert aggregate_drift(p_same, 0.05, "bonferroni") == 0
    assert aggregate_drift(p_shift, 0.05, "bonferroni") == 1
    assert aggregate_drift(p_shift, 0.05, "fdr") == 1


def test_ewma_matches_reference_recursion():
    rng = np.random.default_rng(6)
    x = rng.uniform(size=200)
    for lam in (0.99, 0.5):
        out = ewma(x, lam)
        ref = np.zeros_like(x)
        ref[0] = x[0]
        for i in range(1, len(x)):
            ref[i] = (1 - lam) * ref[i - 1] + lam * x[i]
        assert np.array_equal(out, ref)


def test_ewma_carry_chunking_bitexact():
    rng = np.random.default_rng(7)
    x = rng.uniform(size=301)
    full = ewma(x, 0.3)
    a = ewma(x[:100], 0.3)
    b = ewma(x[100:], 0.3, carry=float(a[-1]))
    assert np.array_equal(np.concatenate([a, b]), full)


def test_quantile_types_match_numpy_type7():
    rng = np.random.default_rng(8)
    x = rng.normal(size=1000)
    assert quantile(x, 0.95, qtype=7) == pytest.approx(float(np.quantile(x, 0.95)), abs=0)
    # type 6/8 bracket type 7 for this sample size
    for q in (0.1, 0.5, 0.9):
        assert quantile(x, q, qtype=6) == pytest.approx(quantile(x, q, qtype=7), abs=0.05)


def test_reservoir_sampling_uniformity():
    import numpy as np
    from alibi_detect_spark.functions.sampling import reservoir_sampling, update_reference

    rng = np.random.default_rng(0)
    # stream of 10k items into a 100-slot reservoir: every item should have
    # ~equal survival probability (uniformity up to sampling noise)
    counts = np.zeros(10_000)
    for trial in range(200):
        res = np.empty((0, 1))
        seen = 0
        stream = np.arange(10_000, dtype=np.float64)[:, None]
        for start in range(0, 10_000, 500):
            batch = stream[start : start + 500]
            res = reservoir_sampling(res, batch, 100, seen, rng=rng)
            seen += len(batch)
        counts[res[:, 0].astype(int)] += 1
    # each item survives with p = 100/10000 = 1% => expected 2 of 200 trials
    first_half, second_half = counts[:5000].mean(), counts[5000:].mean()
    assert 1.0 < first_half < 3.0 and 1.0 < second_half < 3.0

    # 'last' policy keeps the tail
    ref = update_reference(np.arange(10.0)[:, None], np.arange(10.0, 20.0)[:, None], 10, {"last": 5})
    assert (ref[:, 0] == np.arange(15.0, 20.0)).all()


def test_inject_outlier_ts_and_permutation_test():
    import numpy as np
    from alibi_detect_spark.functions.perturbation import (
        inject_outlier_ts,
        mmd2_unbiased,
        permutation_test,
    )

    t = np.linspace(0, 0.5, 1000)
    x = np.sin(40 * 2 * np.pi * t) + 0.5 * np.sin(90 * 2 * np.pi * t)
    xp, lab = inject_outlier_ts(x, perc_outlier=5, perc_window=10, n_std=4.0, min_std=3.0, seed=1)
    assert lab.sum() == 50
    assert (np.abs(xp - x)[lab == 1] > 0).all()
    assert (xp[lab == 0] == x[lab == 0]).all()

    rng = np.random.default_rng(2)
    a = rng.standard_normal((100, 1))
    b_same = rng.standard_normal((100, 1))
    b_shift = rng.standard_normal((100, 1)) + 1.5
    p_same, _, _ = permutation_test(a, b_same, mmd2_unbiased, n_permutations=200, seed=3, sigma=1.0)
    p_shift, _, _ = permutation_test(a, b_shift, mmd2_unbiased, n_permutations=200, seed=3, sigma=1.0)
    assert p_same > 0.05
    assert p_shift < 0.01


def test_md5_permutation_test_relabels_by_md5_order():
    import hashlib

    from alibi_detect_spark.functions.perturbation import md5_permutation_test

    ids = np.array([3, 7, 11, 20, 42, 105])
    x_mask = np.array([True, True, False, False, True, False])
    seen = []

    def metric(mask):
        seen.append(mask.copy())
        return float(ids[mask].sum())

    n_perm = 12
    stat, p = md5_permutation_test(metric, x_mask, ids, n_perm)
    assert stat == 3 + 7 + 42
    assert len(seen) == n_perm + 1 and (seen[0] == x_mask).all()
    for perm, mask in enumerate(seen[1:], start=1):
        first = sorted(ids, key=lambda g: hashlib.md5(f"{perm}:{g}".encode()).hexdigest())[:3]
        assert sorted(ids[mask]) == sorted(first), perm
    assert p == sum(stat <= float(ids[m].sum()) for m in seen[1:]) / n_perm

    # a constant metric ties every relabeling with the observed value
    assert md5_permutation_test(lambda m: 0.5, x_mask, ids, n_perm) == (0.5, 1.0)
