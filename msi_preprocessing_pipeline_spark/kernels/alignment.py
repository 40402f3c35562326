"""PaFFT segment alignment of a spectrum against a reference spectrum.

Numerical semantics per reference ``components/spectrum/alignment.py:7-147``
(algorithm credit: Jason W. H. Wong, modified by Michal Marczyk): the channel
axis is walked in m/z-proportional segments; each segment's boundary is cut at
the first index that is among the 5% smallest values of BOTH the segment and
the reference; the segment is cross-correlated with the reference via FFT
(conjugate product, power-of-two padding up to 2^20 else n+1e6), the best
shift within an m/z-proportional limit is applied (zero if correlation peak
< 0.1), shifted edges are filled with the edge value, and the shifted segment
is cast to float32.

Two entry points compute the same result. :func:`pafft` aligns one row and
is the reference: the oracle, the golden tests and the per-row kernel timing
call it. :func:`pafft_rows` aligns every row of an Arrow batch at once and is
what the spectrum UDFs run: the segment walk advances all rows in lockstep,
and each correlation lag is one product over the whole ``[rows, channels]``
matrix summed per segment. It is bit-identical to stacking :func:`pafft`
over the rows (``tests/test_alignment_batch.py``).

Golden-tested against the reference's
``test/components/spectrum/test_alignment.py`` vectors.
"""

from __future__ import annotations

import numpy as np

_PAD_BITS_LIMIT = 20
_BIG_PADDING = 1_000_000
_PEAK_FLOOR = 0.1

try:
    # C-level correlate without np.correlate's python wrapper (~0.6 µs per
    # call saved in the per-segment hot loop); mode 2 == "full". Element-
    # equal to np.correlate for the equal-length float64 inputs this kernel
    # passes: it is the same C routine (the property test in
    # tests/test_alignment_batch.py runs every branch that calls it).
    from numpy.core._multiarray_umath import correlate2 as _c2

    def _corr_full(a: np.ndarray, v: np.ndarray) -> np.ndarray:
        return _c2(a, v, 2)
except Exception:  # pragma: no cover — future numpy without the private API
    def _corr_full(a: np.ndarray, v: np.ndarray) -> np.ndarray:
        return np.correlate(a, v, "full")


def _cut_point(segment: np.ndarray, reference: np.ndarray) -> int:
    """First index (in ascending-value order of the segment) that is among the
    5% smallest values of both signals; +1 offset. Falls back to the segment's
    own minimum position."""
    take = int(segment.size / 20.0 + 0.5)
    if take <= 1:
        # single-candidate case: both outcomes reduce to the segment minimum
        return int(segment.argmin()) + 1
    seg_order = segment.argsort()
    ref_smallest = set(reference.argsort()[:take].tolist())
    for idx in seg_order[:take]:
        if int(idx) in ref_smallest:
            return int(idx) + 1
    return int(seg_order[0]) + 1


def _padded_size(n: int) -> int:
    # n.bit_length() == int(log2(n)) + 1 exactly, without the float round trip
    bits = n.bit_length()
    return 2 ** bits if bits <= _PAD_BITS_LIMIT else _BIG_PADDING + n


def _fft_cross_correlate(segment: np.ndarray, reference: np.ndarray,
                         size: int) -> np.ndarray:
    """Real part of ifft(fft(ref) * conj(fft(segment)) / size)."""
    spectrum = np.fft.fft(reference, n=size) * np.conj(np.fft.fft(segment, n=size))
    return np.real(np.fft.ifft(spectrum / size))


_DIRECT_LAG_LIMIT = 48


def _correlation_slices(segment: np.ndarray, reference: np.ndarray,
                        padded: int, limit: int):
    """The only correlation values the shift search reads: lags [0, limit)
    (forward) and [-limit, -1] (backward).

    Fast path: when the shift limit is small (the common case — it is
    proportional to a 0.1% m/z window), compute those lags directly as sliding
    dot products instead of three padded FFTs. The circular correlation with
    ``padded ≥ 2·n`` never wraps, so the direct linear correlation computes
    the same quantity (without FFT round-off).
    """
    n = segment.size
    if limit <= _DIRECT_LAG_LIMIT:
        # circular correlation lag k = linear part + wrap part (nonzero only
        # when the lag reaches past the zero padding, i.e. k > padded - n);
        # the reference scales the correlation by 1/padded (ifft's 1/N plus
        # an explicit /N, ``alignment.py:50-51``) and the 0.1 peak floor
        # applies to the SCALED values — reproduce that scale exactly
        scale = 1.0 / padded
        wrap_from = padded - n
        dot = np.dot
        forward = []
        for k in range(limit):
            v = float(dot(reference[k:], segment[:n - k])) if k < n else 0.0
            if k > wrap_from:
                v += float(dot(reference[:n - (padded - k)],
                               segment[padded - k:]))
            forward.append(v * scale)
        backward = []
        for j in range(limit, 0, -1):
            v = float(dot(reference[:n - j], segment[j:])) if j < n else 0.0
            if j > wrap_from:
                v += float(dot(reference[padded - j:],
                               segment[:n - (padded - j)]))
            backward.append(v * scale)
        return forward, backward
    conv = _fft_cross_correlate(segment, reference, padded)
    return conv[:limit].tolist(), conv[-limit:].tolist()


def _best_shift_from_slices(forward: list, backward: list) -> int:
    peak_fwd, peak_bwd = max(forward), max(backward)
    if max(peak_fwd, peak_bwd) < _PEAK_FLOOR:
        return 0
    if peak_fwd > peak_bwd:
        return forward.index(peak_fwd)
    return backward.index(peak_bwd) - len(backward)


def _best_shift_small(segment: np.ndarray, reference: np.ndarray,
                      padded: int, limit: int) -> int:
    """Fused fast path for small segments: one np.correlate supplies every
    lag; the argmax over the forward/backward windows happens inline without
    building the slice lists (identical decision rule to
    ``_best_shift_from_slices(*_correlation_slices(...))``)."""
    n = segment.size
    scale = 1.0 / padded
    wrap_from = padded - n
    # NOTE: tried replacing the lag loops with numpy slice max/argmax — at
    # the typical limit of 1-3 lags the numpy scalar overhead made it ~20%
    # SLOWER than the list loop; keep the loop (bench 2026-08-17)
    cl = _corr_full(reference, segment).tolist()
    mid = n - 1
    peak_fwd, fwd_at = -np.inf, 0
    for k in range(limit):
        v = cl[mid + k] if k < n else 0.0
        if k > wrap_from:
            v += cl[mid - padded + k]
        if v > peak_fwd:
            peak_fwd, fwd_at = v, k
    peak_bwd, bwd_at = -np.inf, -limit
    for i, j in enumerate(range(limit, 0, -1)):
        v = cl[mid - j] if j < n else 0.0
        if j > wrap_from:
            v += cl[mid + padded - j]
        if v > peak_bwd:
            peak_bwd, bwd_at = v, i - limit
    if max(peak_fwd, peak_bwd) * scale < _PEAK_FLOOR:
        return 0
    return fwd_at if peak_fwd * scale > peak_bwd * scale else bwd_at


def _segment_shift(segment: np.ndarray, ref_segment: np.ndarray,
                   padded: int, limit: int) -> int:
    """The shift :func:`pafft` applies to one segment.

    Both direct searches compute the same lags, and neither is faster at
    every size and limit. ``_best_shift_small`` builds the whole
    ``np.correlate`` output; the dot loop makes ~2·limit dots. In µs per
    call (one core of a 4-vCPU Xeon, numpy 1.26 on OpenBLAS):

    ==========  =====  ===================  ========
    size        limit  _best_shift_small    dot loop
    ==========  =====  ===================  ========
    64          48     18                   171
    129         2      18.5                 5.9
    2000        2      1192                 7.7
    ==========  =====  ===================  ========

    So segments up to 128 channels take the one correlate and larger ones
    the dots; above 48 lags the FFT is cheaper than either."""
    if limit < 1:
        return 0
    if segment.size <= 128 and limit <= _DIRECT_LAG_LIMIT:
        return _best_shift_small(segment, ref_segment, padded, limit)
    return _best_shift_from_slices(
        *_correlation_slices(segment, ref_segment, padded, limit))


def _axis_tables(mzs: np.ndarray, minimum_segment: float,
                 shift_limit: float) -> tuple[np.ndarray, np.ndarray]:
    """Per channel: the nominal segment size (int64) and the shift factor
    (channels of shift per unit of m/z). Functions of the m/z axis only."""
    n = mzs.size
    ticks = np.empty(n, dtype=float)
    ticks[:-1] = mzs[1:] - mzs[:-1]
    ticks[-1] = mzs[-1] - mzs[-2] if n > 1 else 1.0
    nominal_sizes = (0.5 + (minimum_segment * 0.01 / ticks) * mzs) \
        .astype(np.int64)
    return nominal_sizes, shift_limit * 0.01 / ticks


def pafft(counts: np.ndarray, reference_counts: np.ndarray, mzs: np.ndarray,
          minimum_segment: float = 0.7, shift_limit: float = 0.1) -> np.ndarray:
    """Align ``counts`` to ``reference_counts`` over the shared ``mzs`` axis.

    ``minimum_segment`` and ``shift_limit`` are percentages of the local m/z
    value. Output dtype float32 (chunk-level cast, reference
    ``alignment.py:142``). The per-row reference for :func:`pafft_rows`.
    """
    # fresh copies: the dots behind np.correlate round differently with the
    # 16-byte alignment of their operands, and a fresh array's is fixed
    counts = np.array(counts, dtype=float).ravel()
    reference_counts = np.array(reference_counts, dtype=float).ravel()
    mzs = np.ravel(np.asarray(mzs, dtype=float))
    n = counts.size
    assert n == reference_counts.size == mzs.size

    # the loop runs ~n/14 times; numpy-scalar arithmetic dominated it, so
    # index the axis tables as python numbers
    nominal_sizes, shift_facs = _axis_tables(mzs, minimum_segment,
                                             shift_limit)
    nominal_sizes, shift_facs = nominal_sizes.tolist(), shift_facs.tolist()
    mz_list = mzs.tolist()

    # shifted segments are written straight into the output buffer — the
    # per-segment allocations (pad arrays, hstack) dominated this kernel
    aligned = np.empty(n, dtype=np.float32)
    start = 0
    while start < n:
        nominal_size = nominal_sizes[start]
        # next chunk: the right boundary is the co-minimum cut point inside
        # the look-ahead window. With typical ~14-channel nominal segments
        # the window is < 30 channels and the cut point is the probe argmin
        # (_cut_point's take<=1 branch), computed here without the call and
        # the ref-side slice
        probe_end = start + max(nominal_size * 2, 1)
        if probe_end >= n:
            segment = counts[start:]
            ref_segment = reference_counts[start:]
        else:
            s2 = start + nominal_size
            probe = counts[s2:probe_end]
            if int(probe.size / 20.0 + 0.5) <= 1:
                end_ = start + int(probe.argmin()) + nominal_size + 2
            else:
                end_ = start + _cut_point(
                    probe, reference_counts[s2:probe_end]) \
                    + nominal_size + 1
            segment = counts[start:end_]
            ref_segment = reference_counts[start:end_]
        # shift limit in channels, evaluated at the segment midpoint m/z
        size = segment.size
        mid = min(int(0.5 + size / 2.0), n - 1 - start)
        limit = int(0.5 + shift_facs[start] * mz_list[start + mid])
        # inline _padded_size: bit_length == int(log2)+1 without floats
        bits = size.bit_length()
        padded = (1 << bits) if bits <= _PAD_BITS_LIMIT \
            else _BIG_PADDING + size
        shift = _segment_shift(segment, ref_segment, padded,
                               min(limit, padded))
        end = start + size
        if shift == 0 or abs(shift) >= size:
            aligned[start:end] = segment
        elif shift > 0:
            aligned[start:start + shift] = segment[0]
            aligned[start + shift:end] = segment[:size - shift]
        else:
            aligned[start:end + shift] = segment[-shift:]
            aligned[end + shift:end] = segment[-1]
        start = end
    return aligned


# ------------------------------------------------------------ whole batch


def _segment_sums(flat: np.ndarray, lo: np.ndarray,
                  hi: np.ndarray) -> np.ndarray:
    """``flat[lo[i]:hi[i]].sum()`` for every i, 0 where ``hi <= lo``.
    ``flat`` holds one spare element past the largest ``hi``."""
    hi = np.maximum(hi, lo)
    idx = np.empty(2 * lo.size, dtype=np.int64)
    idx[0::2], idx[1::2] = lo, hi
    sums = np.add.reduceat(flat, idx)[0::2]
    sums[hi == lo] = 0.0
    return sums


def _ragged(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(group, offset in group) of every element of consecutive groups of
    ``lengths`` elements."""
    group = np.repeat(np.arange(lengths.size), lengths)
    return group, np.arange(group.size) - (np.cumsum(lengths) - lengths)[group]


def _row(x: np.ndarray, r: int) -> np.ndarray:
    """Row ``r`` as :func:`pafft` holds it: a fresh float64 array, so a
    segment's exact search sees the operand alignment :func:`pafft` sees."""
    return x[r].astype(float)


def _segment_walk(x: np.ndarray, reference: np.ndarray,
                  nominal_sizes: np.ndarray):
    """Every row's segments, walked in lockstep: each step cuts the next
    segment of every row not yet at the end, with the cut-point rule of
    :func:`pafft`. Returns (row, start, end) int64 arrays, one entry per
    segment, in row-major channel order."""
    rows_n, n = x.shape
    pos = np.arange(n)
    probe_hi = pos + np.maximum(nominal_sizes * 2, 1)
    probe_lo = pos + nominal_sizes
    probe_len = probe_hi - probe_lo
    takes = (probe_len / 20.0 + 0.5).astype(np.int64)
    rows, starts = np.arange(rows_n), np.zeros(rows_n, dtype=np.int64)
    seg_rows, seg_starts, seg_ends = [], [], []
    while rows.size:
        ends = np.full(rows.size, n, dtype=np.int64)
        body = np.flatnonzero(probe_hi[starts] < n)  # the tail runs to n
        if body.size:
            r, s = rows[body], starts[body]
            lo, width = probe_lo[s], probe_len[s]
            cols = np.arange(width.max())
            window = x[r[:, None], np.minimum(lo[:, None] + cols, n - 1)]
            window[cols >= width[:, None]] = np.inf
            e = s + nominal_sizes[s] + 2 + window.argmin(axis=1)
            for i in np.flatnonzero(takes[s] > 1):
                a, b = lo[i], lo[i] + width[i]
                e[i] = s[i] + nominal_sizes[s[i]] + 1 + _cut_point(
                    _row(x, r[i])[a:b], reference[a:b])
            ends[body] = e
        seg_rows.append(rows)
        seg_starts.append(starts)
        seg_ends.append(ends)
        more = ends < n
        rows, starts = rows[more], ends[more]
    seg_rows, seg_starts, seg_ends = (
        np.concatenate(a) for a in (seg_rows, seg_starts, seg_ends))
    order = np.argsort(seg_rows * n + seg_starts)
    return seg_rows[order], seg_starts[order], seg_ends[order]


# rows aligned per block: the per-segment arrays (about 150 segments a row)
# and the lag product peaked at ~17 MB for 256 rows of 2,048 channels, and
# at ~40 MB for a whole 600-row batch that ran at most 5% faster
_BLOCK_ROWS = 256


def pafft_rows(mat: np.ndarray, reference: np.ndarray, mzs: np.ndarray,
               minimum_segment: float = 0.7,
               shift_limit: float = 0.1) -> np.ndarray:
    """:func:`pafft` of every row of ``mat`` ``[R, n]`` against one
    ``reference`` over one m/z axis: float32 ``[R, n]``, bit-identical to
    stacking ``pafft(row, reference, mzs, ...)``.

    The segment bounds depend on each row's data, but the tables they are
    cut from depend on the axis alone, so the rows walk their segments in
    lockstep and each lag's correlation is one product over the rows'
    ``[rows, n]`` matrix summed per segment with ``np.add.reduceat``. That
    sum adds in another order than the dots :func:`pafft` makes, so a
    segment whose shift decision lies within the rounding bound of flipping
    is decided again by the exact per-segment search; so is every segment
    with more than 48 lags (the FFT search).
    ``tests/test_alignment_batch.py`` checks the identity.
    """
    x = np.ascontiguousarray(mat)
    if x.dtype != np.float32:
        x = x.astype(float)
    reference = np.array(reference, dtype=float).ravel()
    mzs = np.ravel(np.asarray(mzs, dtype=float))
    out = x.astype(np.float32)
    if x.shape[0] == 0:     # an empty Arrow batch reads as a (0, 0) matrix
        return out
    assert x.shape[1] == reference.size == mzs.size
    nominal_sizes, shift_facs = _axis_tables(mzs, minimum_segment,
                                             shift_limit)
    if nominal_sizes.min() < 0:
        raise ValueError("negative nominal segment size: pafft needs a "
                         "positive, increasing m/z axis")
    for lo in range(0, x.shape[0], _BLOCK_ROWS):
        block = slice(lo, lo + _BLOCK_ROWS)
        _align_block(x[block], reference, mzs, nominal_sizes, shift_facs,
                     out[block])
    return out


def _align_block(x: np.ndarray, reference: np.ndarray, mzs: np.ndarray,
                 nominal_sizes: np.ndarray, shift_facs: np.ndarray,
                 out: np.ndarray) -> None:
    """Shift the segments of the rows ``x`` in place in ``out``, their
    float32 copy."""
    n = x.shape[1]
    seg_r, seg_s, seg_e = _segment_walk(x, reference, nominal_sizes)

    # segment parameters, as pafft computes them one segment at a time
    size = seg_e - seg_s
    mid = np.minimum((0.5 + size / 2.0).astype(np.int64), n - 1 - seg_s)
    # clip before the cast: int() of a huge float stays huge, astype wraps
    limit = np.clip(0.5 + shift_facs[seg_s] * mzs[seg_s + mid],
                    -1.0, 2.0 ** 40).astype(np.int64)
    bits = np.frexp(size)[1]
    padded = np.where(bits <= _PAD_BITS_LIMIT, 1 << bits,
                      _BIG_PADDING + size)
    limit = np.minimum(limit, padded)
    shift = np.zeros(size.size, dtype=np.int64)
    undecided = limit > _DIRECT_LAG_LIMIT      # the FFT search
    direct = np.flatnonzero((limit >= 1) & ~undecided)
    if direct.size:
        shift[direct], undecided[direct] = _direct_shifts(
            x, reference, seg_r[direct], seg_s[direct], seg_e[direct],
            padded[direct], limit[direct])
    for i in np.flatnonzero(undecided):
        s, e = seg_s[i], seg_e[i]
        shift[i] = _segment_shift(_row(x, seg_r[i])[s:e], reference[s:e],
                                  int(padded[i]), int(limit[i]))

    # gather-shift the segments that move
    moved = np.flatnonzero((shift != 0) & (np.abs(shift) < size))
    if moved.size:
        seg, off = _ragged(size[moved])
        moved = moved[seg]
        lo = seg_r[moved] * n + seg_s[moved]
        pos = lo + off
        src = np.clip(pos - shift[moved], lo, lo + size[moved] - 1)
        flat = out.reshape(-1)
        flat[pos] = flat[src]


def _direct_shifts(x: np.ndarray, reference: np.ndarray, seg_r: np.ndarray,
                   seg_s: np.ndarray, seg_e: np.ndarray, padded: np.ndarray,
                   limit: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Shifts of segments with 1..48 lags, by the rule of
    ``_best_shift_small``: first maximum on each side, the backward lags
    scanned from ``-limit``; forward wins only if strictly greater; no shift
    when the scaled peak is under 0.1. Also returns which decisions are
    near-ties, for the caller to take again with the exact search.

    A near-tie compares values that lie within twice the rounding bound of
    a dot product (``size·eps·Σ|ref·seg|``, each value against its exact
    value; ``Σ|seg|·max|ref|`` bounds the sum for every lag) of each other
    or of the 0.1 floor. Sums of integer products under 2**52 are exact in
    any order, and so are all-zero products, so their ties stand."""
    rows_n, n = x.shape
    size = seg_e - seg_s
    lags = int(limit.max())
    base = seg_r * n + seg_s
    buf = np.empty(rows_n * n + 1)
    view = buf[:-1].reshape(rows_n, n)

    # forward lag k: sum of x[c] * ref[c + k] over c in [s, e - k);
    # backward lag j: sum of x[c + j] * ref[c] over c in [s, e - j)
    fwd = np.full((size.size, lags), -np.inf)
    bwd = np.full((size.size, lags), -np.inf)   # column j - 1 is lag -j
    for k in range(lags):
        want = np.flatnonzero(limit > k)
        k_ = min(k, n)
        np.multiply(x[:, :n - k_], reference[k_:], out=view[:, :n - k_])
        fwd[want, k] = _segment_sums(buf, base[want],
                                     base[want] + size[want] - k)
    for j in range(1, lags + 1):
        want = np.flatnonzero(limit >= j)
        j_ = min(j, n)
        np.multiply(x[:, j_:], reference[:n - j_], out=view[:, :n - j_])
        bwd[want, j - 1] = _segment_sums(buf, base[want],
                                         base[want] + size[want] - j)
    # lag q > padded - size also reaches round the zero padding: backward
    # lag q adds the sum of x[s + t] * ref[s + d + t] and forward lag q the
    # sum of x[s + d + t] * ref[s + t], t < size - d, d = padded - q
    wrap_from = padded - size
    wraps = np.flatnonzero(limit > wrap_from)
    if wraps.size:
        pair, off = _ragged(limit[wraps] - wrap_from[wraps])
        i = wraps[pair]
        q = wrap_from[i] + 1 + off
        d = padded[i] - q
        term, t = _ragged(size[i] - d)
        at_x = base[i][term] + t
        at_ref = seg_s[i][term] + t
        d = d[term]
        xf = x.reshape(-1)
        back = np.bincount(term, xf[at_x] * reference[at_ref + d], pair.size)
        fore = np.bincount(term, xf[at_x + d] * reference[at_ref], pair.size)
        bwd[i, q - 1] += back
        ahead = q < limit[i]
        fwd[i[ahead], q[ahead]] += fore[ahead]

    scale = 1.0 / padded
    fwd *= scale[:, None]
    bwd = bwd[:, ::-1] * scale[:, None]     # column c is lag c - lags
    at = np.arange(size.size)
    fwd_at, bwd_at = fwd.argmax(axis=1), bwd.argmax(axis=1)
    peak_fwd, peak_bwd = fwd[at, fwd_at], bwd[at, bwd_at]
    peak = np.maximum(peak_fwd, peak_bwd)
    shift = np.where(peak < _PEAK_FLOOR, 0,
                     np.where(peak_fwd > peak_bwd, fwd_at, bwd_at - lags))

    # near-tie guard
    np.abs(x, out=view)
    abs_sum = _segment_sums(buf, base, base + size)
    bound = abs_sum * np.abs(reference).max()
    exact = bound == 0.0
    if np.all(reference == np.trunc(reference)):
        integral = np.all(x == np.trunc(x), axis=1)
        exact |= integral[seg_r] & (bound < 2.0 ** 52)
    bound *= 4.0 * (size + 2) * np.finfo(float).eps * scale
    fwd[at, fwd_at] = -np.inf
    bwd[at, bwd_at] = -np.inf
    # the top two of the side that wins: its lag is the shift
    runner_up = np.where(peak_fwd > peak_bwd, fwd.max(axis=1),
                         bwd.max(axis=1))
    # `~(gap > bound)` is also true for a NaN gap
    near = ~(np.abs(peak - _PEAK_FLOOR) > bound) | (
        (peak > _PEAK_FLOOR) & (~(np.abs(peak_fwd - peak_bwd) > bound)
                                | ~(peak - runner_up > bound)))
    return shift, near & ~exact
