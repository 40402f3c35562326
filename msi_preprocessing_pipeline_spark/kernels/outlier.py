"""Tukey g-and-h TIC outlier detection (seeded, deterministic).

Numerical semantics per reference ``components/spectrum/outlier.py:12-100``:
TICs are median/IQR-normalized (exact MATLAB-alike quantiles), mapped through
an inverse-normal transform ``w``, Tukey g-and-h parameters are estimated from
``w``'s quantiles, a seeded 100k-draw standard-normal Monte Carlo sample is
pushed through the g-and-h transform, and the ``P = 1 - 1/(2n)`` quantiles of
that sample are mapped back to TIC-scale thresholds ``(B1, B2)``. A row is an
outlier iff ``tic <= B1 or tic >= B2``.

The Monte Carlo seed is fixed (reference ``components/seeding.py:7-26``,
seed 0). :func:`detect_thresholds` is the numpy oracle, and the Spark
operator (``operators/spectrum.py::tic_outlier_thresholds``) runs it on the
driver over the collected TIC column.
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


class TicThresholds(NamedTuple):
    b1: float
    b2: float


def detect_thresholds(tics: np.ndarray, seed: int = 0) -> TicThresholds:
    """TIC thresholds ``(B1, B2)``; fewer than :data:`MIN_POPULATION`
    values, or a zero IQR, keeps every row (``(-inf, inf)``)."""
    tics = np.asarray(tics, dtype=float)
    n = int(tics.size)
    if n < MIN_POPULATION:
        return TicThresholds(b1=-np.inf, b2=np.inf)
    tic_median, tic_iqr = median_and_iqr(tics)
    if tic_iqr == 0.0:
        return TicThresholds(b1=-np.inf, b2=np.inf)
    tic_median, tic_iqr = float(tic_median), float(tic_iqr)

    # TIC → w: inverse-normal of the rescaled rank proxy
    normalized = (tics - tic_median) / tic_iqr
    min_norm = float(np.min(normalized))
    r = (normalized - min_norm) + 0.1
    min_r, max_r = float(np.min(r)), float(np.max(r))
    w = norm_ppf(r / (min_r + max_r))
    w_q10, w_q25, w_median, w_q75, w_q90 = (
        float(q) for q in mquantile(w, [0.1, 0.25, 0.5, 0.75, 0.9]))

    w_iqr = w_q75 - w_q25
    w1_scale = w_iqr / _W1_CONST
    # .1/.9 quantiles of w1 = (w - median)/scale — affine, commutes with the
    # linear-interpolation quantile
    qp1 = (w_q10 - w_median) / w1_scale
    qp = (w_q90 - w_median) / w1_scale
    g1 = _G1_CONST * np.log(-qp / qp1)
    h1 = (2.0 * np.log(-g1 * ((qp * qp1) / (qp + qp1)))) / _H1_CONST

    rng = np.random.RandomState(seed)
    z = rng.normal(loc=0.0, scale=1.0, size=MC_SAMPLE_SIZE)
    y_tuk = (1.0 / g1) * (np.exp(g1 * z) - 1.0) * np.exp(h1 * z * z / 2.0)

    p = 1.0 - 1.0 / (2.0 * n)
    l1, l2 = mquantile(y_tuk, [1.0 - p, p])
    w_iqr_wide = w_q90 - w_q10

    def back_to_tic(level: float) -> float:
        f = norm_cdf(w_median + w_iqr_wide * (1.0 / _W1_CONST) * level)
        return float(((f * (min_r + max_r)) + min_norm - 0.1) * tic_iqr
                     + tic_median)

    return TicThresholds(b1=back_to_tic(l1), b2=back_to_tic(l2))
