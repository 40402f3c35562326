"""Adaptive-window baseline estimation and removal.

Numerical semantics per reference ``components/spectrum/baseline.py:11-89``:
walk the channel axis growing a window from ``min_width`` in ``increment``
steps until a significant Pearson trend (p < 0.05) appears or the window
reaches ``max_width``; each closed segment contributes its 10th-percentile as
a baseline anchor; anchor m/z positions are segment-boundary midpoints; a
cubic interpolant of the anchors is subtracted and the result clipped at zero
and cast to float32.

Golden-tested against the reference's
``test/components/spectrum/test_baseline.py:87-133`` vector.
"""

from __future__ import annotations

import numpy as np

from .special import interp1d_cubic_or_linear


_R2_CRIT_CACHE: dict[tuple[int, float], float] = {}


def _r2_crit(df: int, significance: float) -> float:
    """Critical r² for the two-sided Pearson trend test.

    ``p < significance`` ⟺ ``t > t_crit(df)`` ⟺ ``r² > t²/(df + t²)`` —
    the t statistic is monotone in |r|, so the per-probe incomplete-beta
    evaluation collapses to one cached float comparison per window size.
    ``t_crit`` is found by bisection on the exact same
    :func:`..special.student_t_sf` the direct test uses, so the inversion
    introduces no semantic drift (boundary error ~1e-12 on t).
    """
    key = (df, significance)
    v = _R2_CRIT_CACHE.get(key)
    if v is None:
        from .special import student_t_sf
        lo, hi = 0.0, 1e6
        while hi - lo > 1e-12 * max(1.0, lo):
            mid = 0.5 * (lo + hi)
            if 2.0 * student_t_sf(mid, df) < significance:
                hi = mid
            else:
                lo = mid
        t = 0.5 * (lo + hi)
        v = t * t / (df + t * t)
        _R2_CRIT_CACHE[key] = v
    return v


class _TrendScanner:
    """O(1)-per-window Pearson trend probe via BLOCK prefix sums.

    The adaptive segmentation's window boundaries are all congruent to 0
    modulo ``gcd(min_width, increment)`` (start indices are sums of closed
    segment sizes ``min_width + k·increment``; probe ends grow from a start
    by ``increment`` steps), so the prefix sums only ever need to exist at
    block boundaries: ``np.add.reduceat`` collapses the centered products
    into ~n/gcd block sums, and the tiny cumsum of those replaces the three
    full-length cumsum+tolist passes per row (which dominated this
    scanner's cost at ~24 probes/row). Probes at non-block indices (rows
    shorter than ``min_width``) fall back to direct slice sums.
    The significance test compares r² against the cached critical r²
    (:func:`_r2_crit`) — equivalent to the two-sided Student-t p-value
    test of :func:`..special.pearsonr_p`.
    """

    # the x side is the (fixed) m/z axis — its centered values and block
    # prefix sums are identical for every row, so cache them by content
    # hash (one axis is shared by thousands of rows per worker)
    _X_CACHE: dict[tuple[int, int, int], tuple] = {}

    def __init__(self, x: np.ndarray, y: np.ndarray, block: int = 1):
        self.g = g = max(int(block), 1)
        n = x.size
        self._starts = np.arange(0, n, g)
        key = (hash(x.tobytes()), n, g)
        cached = self._X_CACHE.get(key)
        if cached is None:
            xc = x - x.mean()
            cx = self._block_prefix(xc)
            cxx = self._block_prefix(xc * xc)
            cached = (xc, cx, cxx)
            if len(self._X_CACHE) > 8:
                self._X_CACHE.clear()
            self._X_CACHE[key] = cached
        self.xc, self.cx, self.cxx = cached
        yc = y - y.mean()
        self.yc = yc
        self.cy = self._block_prefix(yc)
        self.cyy = self._block_prefix(yc * yc)
        self.cxy = self._block_prefix(self.xc * yc)

    def _block_prefix(self, v: np.ndarray) -> list:
        sums = np.add.reduceat(v, self._starts)
        out = np.empty(sums.size + 1)
        out[0] = 0.0
        np.cumsum(sums, out=out[1:])
        return out.tolist()

    def has_trend(self, start: int, end: int,
                  significance: float = 0.05) -> bool:
        m = end - start
        if m < 3:
            return False
        g = self.g
        bs, rs = divmod(start, g)
        be, re_ = divmod(end, g)
        if rs == 0 and re_ == 0 and be < len(self.cx):
            sx = self.cx[be] - self.cx[bs]
            sy = self.cy[be] - self.cy[bs]
            sxx = self.cxx[be] - self.cxx[bs]
            syy = self.cyy[be] - self.cyy[bs]
            sxy = self.cxy[be] - self.cxy[bs]
        else:
            # non-block boundary (rows shorter than min_width, or a block
            # size of 1 disabled): direct slice sums — same quantities
            xw = self.xc[start:end]
            yw = self.yc[start:end]
            sx = float(xw.sum())
            sy = float(yw.sum())
            sxx = float(np.dot(xw, xw))
            syy = float(np.dot(yw, yw))
            sxy = float(np.dot(xw, yw))
        num = m * sxy - sx * sy
        den = (m * sxx - sx * sx) * (m * syy - sy * sy)
        if den <= 0.0:
            return False  # constant window → undefined r → no trend
        # |r| ≥ 1 (float round-off) is always significant; otherwise the
        # cached critical-r² comparison is exactly the p < significance test
        return num * num > _r2_crit(m - 2, significance) * den


def _segment_anchors(mzs: np.ndarray, counts: np.ndarray, max_width: int,
                     min_width: int, increment: int, estimator=None):
    """Close adaptive segments; return (10th-pct estimates, widths).

    ``estimator`` overrides the per-segment baseline estimate (the reference
    tests inject the original MATLAB quantiles this way)."""
    estimate = estimator or (lambda seg: _percentile10(seg))
    n = mzs.size
    import math as _math
    scanner = _TrendScanner(mzs, counts,
                            block=_math.gcd(int(min_width), int(increment)))
    estimates: list[float] = []
    widths: list[int] = []
    start, end = 0, min(min_width, n)
    while end <= n:
        size = end - start
        if scanner.has_trend(start, end) or size >= max_width:
            estimates.append(estimate(counts[start:end]))
            widths.append(size)
            start, end = end, end + min_width
        else:
            end = min(end + increment, n + 1)
    if start < n:
        estimates.append(estimate(counts[start:]))
        widths.append(n - start)
    return np.asarray(estimates), np.asarray(widths)


def _percentile10(values: np.ndarray) -> float:
    """``np.percentile(values, 10, method='linear')`` via partition — same
    arithmetic (sorted[k] + frac·(sorted[k+1]−sorted[k])), ~10× less
    dispatch overhead in this per-segment hot loop."""
    m = values.size
    if m == 1:
        return float(values[0])
    pos = 0.1 * (m - 1)
    k = int(pos)
    frac = pos - k
    if frac == 0.0:
        return float(np.partition(values, k)[k])
    part = np.partition(values, (k, k + 1))
    return float(part[k] + frac * (part[k + 1] - part[k]))


def _anchor_mzs(widths: np.ndarray, mzs: np.ndarray) -> np.ndarray:
    """Anchor positions: midpoints between consecutive segment end indices,
    with half-of-first-segment and last-end-to-axis-end midpoint at the
    extremes (reference ``baseline.py:55-66``)."""
    ends = np.cumsum(widths) - 1
    inner = mzs[((ends[2:] + ends[1:-1]) * 0.5).astype(int)]
    first = mzs[int((ends[0] - 1) * 0.5)]
    last = (mzs[ends[-1]] + mzs[-1]) * 0.5
    return np.hstack(([first], inner, [last]))


def remove_baseline(mzs: np.ndarray, counts: np.ndarray,
                    max_width: int = 1500, min_width: int = 500,
                    increment: int = 100, estimator=None) -> np.ndarray:
    """Estimate and subtract the adaptive baseline from one spectrum.

    Returns a float32 array, clipped at zero (reference
    ``baseline.py:73-74,88-89``).
    """
    mzs = np.ravel(np.asarray(mzs, dtype=float))
    counts = np.ravel(np.asarray(counts, dtype=float))
    estimates, widths = _segment_anchors(mzs, counts, max_width, min_width,
                                         increment, estimator=estimator)
    if estimates.size == 1:
        # degenerate single-segment row (axis shorter than the adaptive
        # window can split): the baseline collapses to the constant estimate
        cleaned = np.clip(counts - estimates[0], a_min=0.0, a_max=None)
        return cleaned.astype(np.float32)
    anchors = _anchor_mzs(widths, mzs)
    model = interp1d_cubic_or_linear(anchors, estimates)
    cleaned = np.clip(counts - model(mzs), a_min=0.0, a_max=None)
    return cleaned.astype(np.float32)
