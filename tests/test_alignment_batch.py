"""``alignment.pafft_rows`` (the whole-batch PaFFT the spectrum UDFs run) is
bit-identical to stacking the per-row reference ``alignment.pafft``.

The batch kernel sums each lag's correlation in another order than the
per-row dots and re-decides near-ties exactly, so the property draws inputs
that reach every branch of the per-row kernel (``_cut_point`` with more than
one candidate, segments over 128 channels, more than 48 lags, circular wrap
lags) and rows that make ties: zero, constant, negative, equal to the
reference, small integers (exact ties, decided by the batch kernel's own
rule) and small integers times 0.1 (inexact near-ties, re-decided)."""

import numpy as np
import numpy.testing as npt
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from msi_preprocessing_pipeline_spark.kernels import alignment as al

ROW_KINDS = ("noise", "zero", "constant", "negative", "reference",
             "integers", "tenths", "shifted")
REF_KINDS = ("noise", "integers", "tenths")


def _case(rows, n, seed, minimum_segment, shift_limit, ref_kind, kinds,
          dtype=np.float32):
    """Rows, reference and a positive, strictly increasing m/z axis."""
    rng = np.random.default_rng(seed)
    mzs = rng.uniform(1.0, 1000.0) + np.cumsum(rng.uniform(0.2, 1.0, n))
    ref = {"noise": lambda: rng.normal(0.0, 10.0, n),
           "integers": lambda: rng.integers(0, 4, n).astype(float),
           "tenths": lambda: rng.integers(0, 4, n) * 0.1}[ref_kind]()
    make = {
        "noise": lambda: rng.normal(0.0, 10.0, n),
        "zero": lambda: np.zeros(n),
        "constant": lambda: np.full(n, rng.uniform(-5.0, 5.0)),
        "negative": lambda: -np.abs(rng.normal(0.0, 10.0, n)),
        "reference": lambda: ref.copy(),
        "integers": lambda: rng.integers(0, 4, n).astype(float),
        "tenths": lambda: rng.integers(0, 4, n) * 0.1,
        "shifted": lambda: np.roll(ref, int(rng.integers(-3, 4)))
        + rng.normal(0.0, 0.5, n),
    }
    mat = np.stack([make[kinds[i % len(kinds)]]() for i in range(rows)])
    return mat.astype(dtype), ref, mzs, minimum_segment, shift_limit


@st.composite
def cases(draw):
    rows = draw(st.integers(1, 40))
    return _case(rows, draw(st.integers(2, 600)),
                 draw(st.integers(0, 2 ** 32 - 1)),
                 draw(st.floats(0.05, 30.0)), draw(st.floats(0.01, 15.0)),
                 draw(st.sampled_from(REF_KINDS)),
                 draw(st.lists(st.sampled_from(ROW_KINDS), min_size=1,
                               max_size=rows)),
                 draw(st.sampled_from((np.float32, np.float64))))


# pinned cases, one per branch (test_pinned_cases_reach_every_branch):
# the serve-like defaults over more rows than one block, cut points with
# take > 1, segments over 128 channels with more than 48 lags, and wrap
# lags on integer and 0.1-step rows
PINNED = [
    _case(al._BLOCK_ROWS + 30, 300, 1, 0.7, 0.1, "noise", ROW_KINDS),
    _case(12, 400, 2, 6.0, 0.5, "integers", ROW_KINDS),
    _case(8, 600, 3, 25.0, 12.0, "noise", ROW_KINDS),
    _case(40, 300, 4, 1.5, 1.5, "integers", ("integers",)),
    _case(40, 300, 5, 1.5, 1.5, "tenths", ("tenths", "integers")),
]


def _stacked(mat, ref, mzs, minimum_segment, shift_limit):
    return np.stack([al.pafft(row, ref, mzs, minimum_segment, shift_limit)
                     for row in mat])


@given(cases())
@example(PINNED[0])
@example(PINNED[1])
@example(PINNED[2])
@example(PINNED[3])
@example(PINNED[4])
@settings(max_examples=100, deadline=None)
def test_pafft_rows_bit_identical_to_stacked_pafft(case):
    got = al.pafft_rows(*case)
    assert got.dtype == np.float32
    npt.assert_array_equal(got, _stacked(*case))


def _branches(mat, ref, mzs, minimum_segment, shift_limit):
    """The per-row kernel branches that the segments of ``mat`` reach."""
    nominal, shift_facs = al._axis_tables(mzs, minimum_segment, shift_limit)
    _rows, starts, ends = al._segment_walk(mat, ref, nominal)
    n = mzs.size
    probe_end = starts + np.maximum(2 * nominal[starts], 1)
    size = ends - starts
    mid = np.minimum((0.5 + size / 2.0).astype(int), n - 1 - starts)
    padded = np.array([al._padded_size(int(m)) for m in size])
    limit = np.minimum(
        (0.5 + shift_facs[starts] * mzs[starts + mid]).astype(int), padded)
    direct = (limit >= 1) & (limit <= 48)
    return {name for name, hit in (
        ("take > 1", (probe_end < n) & (nominal[starts] >= 30)),
        ("over 128", direct & (size > 128)),
        ("fft", limit > 48),
        ("wrap", direct & (limit > padded - size))) if hit.any()}


def test_pinned_cases_reach_every_branch():
    reached = set().union(*(_branches(*case) for case in PINNED))
    assert reached == {"take > 1", "over 128", "fft", "wrap"}


def test_pafft_rows_empty_batch():
    """An empty Arrow batch reads as a (0, 0) matrix; it aligns to itself."""
    mzs = np.linspace(100.0, 200.0, 50)
    out = al.pafft_rows(np.zeros((0, 0), np.float32), np.ones(50), mzs)
    assert out.shape == (0, 0) and out.dtype == np.float32


def test_pafft_rows_rejects_a_decreasing_axis():
    """A decreasing axis gives negative nominal segment sizes, which the
    segment walk cannot cut; the batch kernel refuses it."""
    mzs = np.linspace(200.0, 100.0, 50)
    with pytest.raises(ValueError, match="increasing m/z axis"):
        al.pafft_rows(np.ones((2, 50), np.float32), np.ones(50), mzs, 10.0)
