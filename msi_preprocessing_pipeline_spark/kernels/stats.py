"""MATLAB-alike exact quantiles.

Semantics per reference ``components/stats.py:4-54``: MATLAB treats the first
sorted element as the ``0.5/n`` quantile and the last as ``(n-0.5)/n``; the
requested quantile is remapped linearly onto numpy's 0..1 plotting positions
and clipped, then evaluated with linear interpolation.

These are EXACT quantiles — the allclose-compat path must never use
``percentile_approx`` (see SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np


def mquantile(values: np.ndarray, q) -> np.ndarray:
    """Exact MATLAB-alike quantile(s) of ``values`` at ``q`` in [0, 1]."""
    values = np.asarray(values)
    n = float(values.size)
    scale = n / (n - 1.0)
    offset = -0.5 / (n - 1.0)
    remapped = np.clip(scale * np.asarray(q, dtype=float) + offset, 0.0, 1.0)
    return np.percentile(values, 100.0 * remapped)


def median_and_iqr(values: np.ndarray) -> tuple[float, float]:
    """(median, IQR) in one pass — reference ``components/spectrum/outlier.py:12-15``."""
    q25, med, q75 = mquantile(values, [0.25, 0.5, 0.75])
    return med, q75 - q25


def lerp(a, b, t: float):
    """numpy's quantile interpolation between neighbours ``a`` and ``b``
    (``numpy.lib.function_base._lerp``): ``a + (b - a)·t`` below
    ``t = 0.5`` and ``b - (b - a)·(1 - t)`` from it on. ``a`` and ``b`` may
    be arrays sharing the one weight ``t``."""
    if t < 0.5:
        return a + (b - a) * t
    return b - (b - a) * (1 - t)


def interp_quantile_from_sorted(n: int, q: float) -> tuple[int, int, float]:
    """Plan an exact linear-interpolation quantile lookup over a sorted column.

    Returns ``(lo_rank, hi_rank, frac)`` (0-based ranks) such that
    ``lerp(sorted[lo], sorted[hi], frac)`` is bit for bit
    ``np.percentile(sorted, 100 * q)``: the position is taken from
    ``(100·q)/100``, as ``np.percentile`` divides its argument. Used by the
    distributed exact quantile operator so the Spark path matches numpy.
    """
    pos = (n - 1) * ((100.0 * q) / 100)
    lo = int(np.floor(pos))
    hi = min(lo + 1, n - 1)
    frac = pos - lo
    return lo, hi, frac
