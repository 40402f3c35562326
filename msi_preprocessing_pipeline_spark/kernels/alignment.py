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
    # call saved in the per-segment hot loop); mode 2 == "full". Verified
    # element-equal to np.correlate for the equal-length float64 inputs
    # this kernel passes (tests fuzz the whole kernel bit-identical).
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


def pafft(counts: np.ndarray, reference_counts: np.ndarray, mzs: np.ndarray,
          minimum_segment: float = 0.7, shift_limit: float = 0.1) -> np.ndarray:
    """Align ``counts`` to ``reference_counts`` over the shared ``mzs`` axis.

    ``minimum_segment`` and ``shift_limit`` are percentages of the local m/z
    value. Output dtype float32 (chunk-level cast, reference
    ``alignment.py:142``).
    """
    counts = np.ravel(np.asarray(counts, dtype=float))
    reference_counts = np.ravel(np.asarray(reference_counts, dtype=float))
    mzs = np.ravel(np.asarray(mzs, dtype=float))
    n = counts.size
    assert n == reference_counts.size == mzs.size
    seg_pct = minimum_segment * 0.01
    shift_pct = shift_limit * 0.01

    # hoist the per-segment scalar math out of the loop: local ticks, nominal
    # segment sizes and shift factors are functions of the (fixed) m/z axis
    # only — compute them vectorized once per row, index as python floats
    # (the loop runs ~n/14 times; numpy-scalar arithmetic dominated it)
    ticks = np.empty(n, dtype=float)
    ticks[:-1] = mzs[1:] - mzs[:-1]
    ticks[-1] = mzs[-1] - mzs[-2] if n > 1 else 1.0
    nominal_sizes = (0.5 + (seg_pct / ticks) * mzs).astype(np.int64).tolist()
    shift_facs = (shift_pct / ticks).tolist()
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
        if limit > padded:
            limit = padded
        if limit < 1:
            shift = 0
        elif size <= 128 and limit <= _DIRECT_LAG_LIMIT:
            shift = _best_shift_small(segment, ref_segment, padded, limit)
        else:
            fwd, bwd = _correlation_slices(segment, ref_segment, padded, limit)
            shift = _best_shift_from_slices(fwd, bwd)
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
