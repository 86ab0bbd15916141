"""Synthetic perturbation + permutation-test utilities — NumPy recasts of
``alibi_detect/utils/perturbation.py:108-162`` (``inject_outlier_ts``) and
``alibi_detect/utils/statstest.py:5-38`` (``permutation_test``), with a
seeded ``np.random.Generator`` instead of the reference's global RNG (our
determinism contract: all randomness is an explicit function of the seed)."""

from __future__ import annotations

import hashlib
from collections.abc import Callable

import numpy as np


def inject_outlier_ts(
    x: np.ndarray,
    perc_outlier: int,
    perc_window: int = 10,
    n_std: float = 2.0,
    min_std: float = 1.0,
    seed: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Inject outliers into (multi)variate time series; returns
    (perturbed, is_outlier). Same windowed-stdev perturbation as the
    reference: chosen points move by ``max(|N(0,1)|·n_std, min_std)`` local
    standard deviations."""
    rng = np.random.default_rng(seed)
    x = np.asarray(x, dtype=np.float64)
    n_dim = x.ndim
    if n_dim == 1:
        x = x.reshape(-1, 1)
    n_samples, n_ts = x.shape
    x_out = x.copy()
    is_outlier = np.zeros(n_samples)
    window = int(perc_window * n_samples * 0.5 / 100)
    n_outlier = int(n_samples * perc_outlier * 0.01 / n_ts)
    if n_outlier == 0:
        return (x_out.reshape(n_samples) if n_dim == 1 else x_out), is_outlier
    for s in range(n_ts):
        outlier_idx = np.sort(rng.choice(n_samples, n_outlier, replace=False))
        lo = np.maximum(outlier_idx - window, 0)
        hi = np.minimum(outlier_idx + window, n_samples)
        stdev = np.array([x_out[lo[i] : hi[i], s].std() for i in range(n_outlier)])
        rnd = rng.standard_normal(n_outlier)
        x_out[outlier_idx, s] += np.sign(rnd) * np.maximum(np.abs(rnd * n_std), min_std) * stdev
        is_outlier[outlier_idx] = 1
    if n_dim == 1:
        x_out = x_out.reshape(n_samples)
    return x_out, is_outlier


def permutation_test(
    x: np.ndarray,
    y: np.ndarray,
    metric: Callable,
    n_permutations: int = 100,
    seed: int = 0,
    **kwargs,
) -> tuple[float, float, np.ndarray]:
    """Permutation two-sample test (``utils/statstest.py:5-38``): p =
    fraction of label-shuffled metric values ≥ the observed one."""
    rng = np.random.default_rng(seed)
    n, k = x.shape[0], 0
    dist = metric(x, y, **kwargs)
    x_y = np.concatenate([x, y])
    dist_permutations = np.zeros(n_permutations)
    for i in range(n_permutations):
        perm = rng.permutation(x_y.shape[0])
        xp, yp = x_y[perm[:n]], x_y[perm[n:]]
        d = metric(xp, yp, **kwargs)
        dist_permutations[i] = d
        k += dist <= d
    return k / n_permutations, dist, dist_permutations


def md5_permutation_test(
    metric: Callable[[np.ndarray], float],
    x_mask: np.ndarray,
    ids: np.ndarray,
    n_permutations: int,
) -> tuple[float, float]:
    """Permutation test with HASH-DERIVED relabelings — the SQL-checkable
    twin of :func:`permutation_test`. ``metric`` maps a boolean X-side mask
    over the pooled rows to the statistic; relabeling ``p`` (1..P) puts on
    the X side the ``x_mask.sum()`` ids that come first in ``md5("{p}:{id}")``
    hex order (stable on ties), the order a SQL engine's
    ``row_number() OVER (ORDER BY md5(p || ':' || id))`` gives. md5 orders
    are exchangeable under H0 like RNG shuffles. Returns ``(stat, p)``, p =
    share of relabelings whose metric ≥ the observed one."""
    stat = metric(x_mask)
    n = int(x_mask.sum())
    hits = 0
    for p in range(1, n_permutations + 1):
        pri = np.array([hashlib.md5(f"{p}:{g}".encode()).hexdigest() for g in ids])
        mask = np.zeros(len(ids), dtype=bool)
        mask[np.argsort(pri, kind="stable")[:n]] = True
        hits += int(stat <= metric(mask))
    return stat, hits / n_permutations


def mmd2_masked(k: np.ndarray, x_mask: np.ndarray) -> float:
    """Unbiased MMD² of a pooled kernel matrix ``k`` split by ``x_mask``
    (True = X side): block sums with the diagonals excluded, the masked form
    of :func:`mmd2_unbiased` that lets permutations re-index one matrix."""
    kxx = k[np.ix_(x_mask, x_mask)]
    kyy = k[np.ix_(~x_mask, ~x_mask)]
    kxy = k[np.ix_(x_mask, ~x_mask)]
    nn, mm = int(x_mask.sum()), int((~x_mask).sum())
    return (
        (kxx.sum() - np.trace(kxx)) / (nn * (nn - 1.0))
        + (kyy.sum() - np.trace(kyy)) / (mm * (mm - 1.0))
        - 2.0 * kxy.sum() / (nn * float(mm))
    )


def mmd2_unbiased(x: np.ndarray, y: np.ndarray, sigma: float) -> float:
    """Unbiased MMD² with a Gaussian RBF kernel (metric for the permutation
    test; ``utils/pytorch/distance.py:130-149`` block-sum form)."""
    from .mmd import rbf_kernel

    n, m = x.shape[0], y.shape[0]
    k_xx = rbf_kernel(x, x, sigma)
    k_yy = rbf_kernel(y, y, sigma)
    k_xy = rbf_kernel(x, y, sigma)
    return float(
        (k_xx.sum() - np.trace(k_xx)) / (n * (n - 1))
        + (k_yy.sum() - np.trace(k_yy)) / (m * (m - 1))
        - 2.0 * k_xy.mean()
    )
