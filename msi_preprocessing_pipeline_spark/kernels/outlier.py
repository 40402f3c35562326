"""Tukey g-and-h TIC outlier detection (seeded, deterministic).

Numerical semantics per reference ``components/spectrum/outlier.py:12-100``:
TICs are median/IQR-normalized (exact MATLAB-alike quantiles), mapped through
an inverse-normal transform ``w``, Tukey g-and-h parameters are estimated from
``w``'s quantiles, a seeded 100k-draw standard-normal Monte Carlo sample is
pushed through the g-and-h transform, and the ``P = 1 - 1/(2n)`` quantiles of
that sample are mapped back to TIC-scale thresholds ``(B1, B2)``. A row is an
outlier iff ``tic <= B1 or tic >= B2``.

The computation has two phases (SURVEY.md §2 A9):

* phase 1: exact quantiles / min / max of the TIC column and of the per-row
  derived column ``w`` (:func:`tic_stats_numpy`);
* phase 2: the fixed-seed Monte Carlo (reference
  ``components/seeding.py:7-26``, seed 0) and the closed-form mapping back to
  TIC scale (:func:`thresholds_from_stats`).

``detect_thresholds``/``detect_outliers`` run both phases in numpy. They are
the oracle, and the Spark operator
(``operators/spectrum.py::tic_outlier_thresholds``) runs
``detect_thresholds`` on the driver over the collected TIC column.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .special import norm_cdf, norm_ppf
from .stats import median_and_iqr, mquantile

MC_SAMPLE_SIZE = 100_000
_W1_CONST = 1.3426
_G1_CONST = 1.0 / 1.29
_H1_CONST = 1.29 ** 2

# below this population size the g-and-h quantile machinery is degenerate
# (the reference never runs on such inputs); the engine keeps every row
MIN_POPULATION = 8


class TicStats(NamedTuple):
    """Sufficient statistics of the TIC column for thresholding.

    All are exact order statistics of the TIC column, computed in numpy by
    :func:`tic_stats_numpy`.
    """

    tic_median: float
    tic_iqr: float
    min_normalized: float   # (min(tic) - median) / iqr
    min_r: float            # == 0.1 by construction
    max_r: float
    w_q10: float            # MATLAB-alike quantiles of the w column
    w_q25: float
    w_median: float
    w_q75: float
    w_q90: float
    n: int


class TicThresholds(NamedTuple):
    b1: float
    b2: float


def w_transform(tics: np.ndarray, tic_median: float, tic_iqr: float,
                min_normalized: float, min_r: float, max_r: float) -> np.ndarray:
    """Per-row monotone transform TIC → w (inverse-normal of rescaled rank
    proxy). Vectorized over the whole TIC column."""
    normalized = (np.asarray(tics, dtype=float) - tic_median) / tic_iqr
    r = (normalized - min_normalized) + 0.1
    return norm_ppf(r / (min_r + max_r))


def tic_stats_numpy(tics: np.ndarray) -> TicStats:
    """Oracle path for phase 1."""
    tics = np.asarray(tics, dtype=float)
    tic_median, tic_iqr = median_and_iqr(tics)
    normalized = (tics - tic_median) / tic_iqr
    min_norm = float(np.min(normalized))
    r = (normalized - min_norm) + 0.1
    min_r, max_r = float(np.min(r)), float(np.max(r))
    w = w_transform(tics, tic_median, tic_iqr, min_norm, min_r, max_r)
    q10, q25, q50, q75, q90 = mquantile(w, [0.1, 0.25, 0.5, 0.75, 0.9])
    return TicStats(
        tic_median=float(tic_median), tic_iqr=float(tic_iqr),
        min_normalized=min_norm, min_r=min_r, max_r=max_r,
        w_q10=float(q10), w_q25=float(q25), w_median=float(q50),
        w_q75=float(q75), w_q90=float(q90), n=int(tics.size),
    )


def thresholds_from_stats(stats: TicStats, seed: int = 0) -> TicThresholds:
    """Phase 2 (driver-side): seeded Monte Carlo + map back to TIC scale."""
    if stats.n < MIN_POPULATION or stats.tic_iqr == 0.0:
        return TicThresholds(b1=-np.inf, b2=np.inf)  # keep everything
    w_iqr = stats.w_q75 - stats.w_q25
    w1_scale = w_iqr / _W1_CONST
    # .1/.9 quantiles of w1 = (w - median)/scale — affine, commutes with the
    # linear-interpolation quantile
    qp1 = (stats.w_q10 - stats.w_median) / w1_scale
    qp = (stats.w_q90 - stats.w_median) / w1_scale
    g1 = _G1_CONST * np.log(-qp / qp1)
    h1 = (2.0 * np.log(-g1 * ((qp * qp1) / (qp + qp1)))) / _H1_CONST

    rng = np.random.RandomState(seed)
    z = rng.normal(loc=0.0, scale=1.0, size=MC_SAMPLE_SIZE)
    y_tuk = (1.0 / g1) * (np.exp(g1 * z) - 1.0) * np.exp(h1 * z * z / 2.0)

    p = 1.0 - 1.0 / (2.0 * stats.n)
    l1, l2 = mquantile(y_tuk, [1.0 - p, p])
    w_iqr_wide = stats.w_q90 - stats.w_q10

    def back_to_tic(level: float) -> float:
        f = norm_cdf(stats.w_median + w_iqr_wide * (1.0 / _W1_CONST) * level)
        return float(((f * (stats.min_r + stats.max_r))
                      + stats.min_normalized - 0.1) * stats.tic_iqr
                     + stats.tic_median)

    return TicThresholds(b1=back_to_tic(l1), b2=back_to_tic(l2))


def detect_thresholds(tics: np.ndarray, seed: int = 0) -> TicThresholds:
    """Oracle-path thresholds: both phases in numpy."""
    return thresholds_from_stats(tic_stats_numpy(tics), seed=seed)


def detect_outliers(tics: np.ndarray, seed: int = 0) -> np.ndarray:
    """True = outlier. Reference ``components/spectrum/outlier.py:100``."""
    thr = detect_thresholds(tics, seed=seed)
    tics = np.asarray(tics, dtype=float)
    return np.logical_or(tics <= thr.b1, tics >= thr.b2)
