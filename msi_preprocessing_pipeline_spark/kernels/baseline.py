"""Adaptive-window baseline estimation and removal.

Numerical semantics per reference ``components/spectrum/baseline.py:11-89``:
walk the channel axis growing a window from ``min_width`` in ``increment``
steps until a significant Pearson trend (p < 0.05) appears or the window
reaches ``max_width``; each closed segment contributes its 10th-percentile as
a baseline anchor; anchor m/z positions are segment-boundary midpoints; a
cubic interpolant of the anchors is subtracted and the result clipped at zero
and cast to float32.

Two entry points compute the same result. :func:`remove_baseline` takes one
row and is the reference: the oracle, the golden tests and the per-row
kernel timing call it. :func:`remove_baseline_rows` takes every row of an
Arrow batch at once and is what the spectrum UDFs run: the rows' segment
walks advance in lockstep over one matrix of block prefix sums, and the
percentiles and splines run stacked. It is bit-identical to stacking
:func:`remove_baseline` over the rows (``tests/test_baseline_batch.py``).

Golden-tested against the reference's
``test/components/spectrum/test_baseline.py:87-133`` vector.
"""

from __future__ import annotations

import math

import numpy as np

from .special import interp1d_cubic_or_linear
from .stats import lerp


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


def _block_prefix(v: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Prefix sums of ``v`` along its last axis at the block boundaries
    ``starts``: 0, then the running total after each block. One
    ``reduceat`` and one cumsum, per row of a matrix alike."""
    sums = np.add.reduceat(v, starts, axis=-1)
    out = np.zeros(sums.shape[:-1] + (sums.shape[-1] + 1,))
    np.cumsum(sums, axis=-1, out=out[..., 1:])
    return out


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
            cx = _block_prefix(xc, self._starts).tolist()
            cxx = _block_prefix(xc * xc, self._starts).tolist()
            cached = (xc, cx, cxx)
            if len(self._X_CACHE) > 8:
                self._X_CACHE.clear()
            self._X_CACHE[key] = cached
        self.xc, self.cx, self.cxx = cached
        yc = y - y.mean()
        self.yc = yc
        self.cy = _block_prefix(yc, self._starts).tolist()
        self.cyy = _block_prefix(yc * yc, self._starts).tolist()
        self.cxy = _block_prefix(self.xc * yc, self._starts).tolist()

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
    scanner = _TrendScanner(mzs, counts,
                            block=math.gcd(int(min_width), int(increment)))
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


def _percentile10(values: np.ndarray):
    """``np.percentile(values, 10, axis=-1)`` bit for bit, via one
    partition: the same position ``0.1·(m − 1)`` and numpy's interpolation
    rule (:func:`..stats.lerp`), ~10× less dispatch overhead in the
    per-segment hot loop. Along the last axis, so one call takes the 10th
    percentile of every row of a ``[k, m]`` matrix of equal-width
    segments."""
    m = values.shape[-1]
    pos = 0.1 * (m - 1)
    k = int(pos)
    frac = pos - k
    if frac == 0.0:
        return np.partition(values, k, axis=-1)[..., k]
    part = np.partition(values, (k, k + 1), axis=-1)
    return lerp(part[..., k], part[..., k + 1], frac)


def _anchor_mzs(ends: np.ndarray, mzs: np.ndarray) -> np.ndarray:
    """Anchor positions from the segment end indices ``ends`` (along the
    last axis: one row's, or a ``[rows, k]`` matrix of them): midpoints
    between consecutive segment end indices, with half-of-first-segment
    and last-end-to-axis-end midpoint at the extremes (reference
    ``baseline.py:55-66``)."""
    first = mzs[((ends[..., :1] - 1) * 0.5).astype(int)]
    inner = mzs[((ends[..., 2:] + ends[..., 1:-1]) * 0.5).astype(int)]
    last = (mzs[ends[..., -1:]] + mzs[-1]) * 0.5
    return np.concatenate((first, inner, last), axis=-1)


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
    anchors = _anchor_mzs(np.cumsum(widths) - 1, mzs)
    model = interp1d_cubic_or_linear(anchors, estimates)
    cleaned = np.clip(counts - model(mzs), a_min=0.0, a_max=None)
    return cleaned.astype(np.float32)


# ------------------------------------------------------------ whole batch

# rows baseline-removed per block: on 600 serve rows of 2,048 channels (one
# core of a 4-vCPU Xeon) blocks of 64–128 rows ran fastest (0.15–0.17
# ms/row), 32 or 256 rows about 1.2× slower and the whole batch 1.4×;
# 64 rows keep the working set near 9 MB, under pafft_rows' 15 MB
_BLOCK_ROWS = 64


def remove_baseline_rows(mzs: np.ndarray, mat: np.ndarray,
                         max_width: int = 1500, min_width: int = 500,
                         increment: int = 100) -> np.ndarray:
    """:func:`remove_baseline` of every row of ``mat`` ``[R, n]`` over one
    nondecreasing m/z axis: float32 ``[R, n]``, bit-identical to stacking
    ``remove_baseline(mzs, row, max_width, min_width, increment)``.

    The axis and its block boundaries are shared, so per block of rows the
    trend probes read one ``[rows, blocks]`` matrix of block prefix sums
    and every row's (start, end) walks in lockstep, one vectorized trend
    test per step. Each distinct segment width takes its 10th percentiles
    in one partition along the rows, and the not-a-knot splines are solved
    stacked by anchor count and evaluated over each row's runs of the
    sorted axis. ``tests/test_baseline_batch.py`` checks the identity.
    """
    mzs = np.ravel(np.asarray(mzs, dtype=float))
    mat = np.asarray(mat)
    out = np.empty(mat.shape, dtype=np.float32)
    if mat.shape[0] == 0:
        return out
    if mat.shape[1] != mzs.size:
        raise ValueError(f"rows of {mat.shape[1]} channels over an m/z axis "
                         f"of {mzs.size}")
    if np.any(mzs[1:] < mzs[:-1]):
        raise ValueError("remove_baseline_rows needs a nondecreasing m/z "
                         "axis")
    g = max(math.gcd(int(min_width), int(increment)), 1)
    starts = np.arange(0, mzs.size, g)
    xc = mzs - mzs.mean()
    x_sums = (_block_prefix(xc, starts), _block_prefix(xc * xc, starts))
    for lo in range(0, mat.shape[0], _BLOCK_ROWS):
        block = np.ascontiguousarray(mat[lo:lo + _BLOCK_ROWS], dtype=float)
        seg_r, seg_s, seg_e = _segment_walk(block, xc, x_sums, starts, g,
                                            max_width, min_width, increment)
        widths = seg_e - seg_s
        estimates = np.empty(seg_r.size)
        for w in np.unique(widths):
            at = np.flatnonzero(widths == w)
            cols = seg_s[at, None] + np.arange(w)
            estimates[at] = _percentile10(block[seg_r[at, None], cols])
        out[lo:lo + _BLOCK_ROWS] = _subtract_models(
            mzs, block, seg_r, seg_e, estimates)
    return out


def _segment_walk(y: np.ndarray, xc: np.ndarray, x_sums: tuple,
                  starts: np.ndarray, g: int, max_width: int,
                  min_width: int, increment: int):
    """Every row's adaptive segments, by the rule of
    :func:`_segment_anchors`: the rows' (start, end) probes advance in
    lockstep, each step one trend test over the block prefix sums.
    Returns (row, start, end) int64 arrays, one entry per segment, in
    row-major channel order."""
    rows_n, n = y.shape
    if n < min_width:
        # one probe over the whole row, whose decision closes the same
        # single segment either way
        at = np.arange(rows_n)
        return at, np.zeros(rows_n, np.int64), np.full(rows_n, n, np.int64)
    yc = y - y.mean(axis=1, keepdims=True)
    cx, cxx = x_sums
    cy, cyy = _block_prefix(yc, starts), _block_prefix(yc * yc, starts)
    cxy = _block_prefix(xc * yc, starts)
    # probe widths are min_width + j·increment, and one of max_width or
    # more closes its segment: the critical r² of every width, by j
    steps = max(-(-(min(max_width, n) - min_width) // increment), 0)
    crits = np.array([_r2_crit(w - 2, 0.05) if w >= 3 else 0.0
                      for w in range(min_width, min_width + (steps + 1)
                                     * increment, increment)])
    rows = np.arange(rows_n)
    start = np.zeros(rows_n, dtype=np.int64)
    end = np.full(rows_n, min_width, dtype=np.int64)
    seg_r, seg_s, seg_e = [], [], []
    while rows.size:
        # every start and probe end here is a block boundary: starts are
        # sums of closed widths and probe ends grow by min_width and
        # increment, all multiples of g, and the walk stops past n
        m = end - start
        bs, be = start // g, end // g
        sx, sxx = cx[be] - cx[bs], cxx[be] - cxx[bs]
        sy = cy[rows, be] - cy[rows, bs]
        syy = cyy[rows, be] - cyy[rows, bs]
        sxy = cxy[rows, be] - cxy[rows, bs]
        num = m * sxy - sx * sy
        den = (m * sxx - sx * sx) * (m * syy - sy * sy)
        crit = crits[(m - min_width) // increment]
        close = ((m >= 3) & (den > 0.0) & (num * num > crit * den)) \
            | (m >= max_width)
        seg_r.append(rows[close])
        seg_s.append(start[close])
        seg_e.append(end[close])
        start = np.where(close, end, start)
        end = np.where(close, end + min_width,
                       np.minimum(end + increment, n + 1))
        done = end > n
        tail = done & (start < n)
        seg_r.append(rows[tail])
        seg_s.append(start[tail])
        seg_e.append(np.full(int(tail.sum()), n, dtype=np.int64))
        rows, start, end = rows[~done], start[~done], end[~done]
    seg_r, seg_s, seg_e = (np.concatenate(a)
                           for a in (seg_r, seg_s, seg_e))
    order = np.argsort(seg_r * (n + 1) + seg_s, kind="stable")
    return seg_r[order], seg_s[order], seg_e[order]


def _subtract_models(mzs: np.ndarray, y: np.ndarray, seg_r: np.ndarray,
                     seg_e: np.ndarray, estimates: np.ndarray) -> np.ndarray:
    """Each row of ``y`` minus its baseline model, clipped at zero, as
    float32: the model :func:`remove_baseline` builds from the row's
    segments (ends ``seg_e``, row-major) and their estimates — a constant
    for one segment, linear below 4 anchors, else the not-a-knot spline of
    :class:`..special.CubicSpline1D`, solved stacked per anchor count."""
    counts = np.bincount(seg_r, minlength=y.shape[0])
    first = np.cumsum(counts) - counts
    model = np.empty_like(y)
    for k in np.unique(counts):
        rows = np.flatnonzero(counts == k)
        at = first[rows, None] + np.arange(k)
        est = estimates[at]
        if k == 1:
            model[rows] = est
            continue
        # nondecreasing on a nondecreasing axis, as CubicSpline1D sorts them
        anchors = _anchor_mzs(seg_e[at] - 1, mzs)
        if k < 4:
            for i, r in enumerate(rows):
                model[r] = np.interp(mzs, anchors[i], est[i])
        else:
            model[rows] = _spline_rows(mzs, anchors, est)
    cleaned = np.subtract(y, model, out=model)
    np.clip(cleaned, a_min=0.0, a_max=None, out=cleaned)
    return cleaned.astype(np.float32)


def _spline_rows(mzs: np.ndarray, x: np.ndarray,
                 y: np.ndarray) -> np.ndarray:
    """``CubicSpline1D(x[i], y[i])(mzs)`` for every row ``i`` of the
    nondecreasing knots ``x`` ``[G, k]``, ``k >= 4``: the same systems,
    solved stacked, and the same evaluation formula, with each piece's
    values repeated over its run of the sorted ``mzs``."""
    rows_n, k = x.shape
    h = np.diff(x, axis=1)
    lhs = np.zeros((rows_n, k, k))
    rhs = np.zeros((rows_n, k))
    i = np.arange(1, k - 1)
    lhs[:, i, i - 1] = h[:, :-1] / 6.0
    lhs[:, i, i] = (h[:, :-1] + h[:, 1:]) / 3.0
    lhs[:, i, i + 1] = h[:, 1:] / 6.0
    rhs[:, 1:-1] = (y[:, 2:] - y[:, 1:-1]) / h[:, 1:] \
        - (y[:, 1:-1] - y[:, :-2]) / h[:, :-1]
    lhs[:, 0, :3] = np.stack([h[:, 1], -(h[:, 0] + h[:, 1]), h[:, 0]],
                             axis=1)
    lhs[:, -1, -3:] = np.stack([h[:, -1], -(h[:, -2] + h[:, -1]), h[:, -2]],
                               axis=1)
    m = np.linalg.solve(lhs, rhs[..., None])[..., 0]
    # piece j of a row serves the axis points from the first one at or
    # past knot j (piece 0 from the start, the last piece to the end), so
    # each per-piece value repeats over its run of the sorted axis
    bounds = np.zeros((rows_n, k), dtype=np.int64)
    bounds[:, 1:-1] = np.searchsorted(mzs, x[:, 1:-1])
    bounds[:, -1] = mzs.size
    runs = np.diff(bounds, axis=1).ravel()

    def per_point(v: np.ndarray) -> np.ndarray:
        return np.repeat(v.ravel(), runs).reshape(rows_n, mzs.size)

    h = per_point(h)
    a = (per_point(x[:, 1:]) - mzs) / h
    b = (mzs - per_point(x[:, :-1])) / h
    return (a * per_point(y[:, :-1]) + b * per_point(y[:, 1:])
            + ((a ** 3 - a) * per_point(m[:, :-1])
               + (b ** 3 - b) * per_point(m[:, 1:])) * (h ** 2) / 6.0)
