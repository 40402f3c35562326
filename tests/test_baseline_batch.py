"""``baseline.remove_baseline_rows`` (the whole-batch baseline removal the
spectrum UDFs run) is bit-identical to stacking the per-row reference
``baseline.remove_baseline``.

The batch kernel walks every row's segments in lockstep over one matrix of
block prefix sums, takes each segment width's 10th percentiles in one
partition and solves the splines stacked, so the property draws inputs that
reach each branch of the per-row kernel: rows shorter than ``min_width``,
single-segment rows, fewer than 4 anchors (linear model) and 4 or more (the
not-a-knot spline), ``increment`` 1 (block size 1), an axis length that is
not a multiple of the block size, and more rows than one block. The rows
make ties and exact sums: zero, constant, small integers and 0.1-step
integers, besides noise, negative and trending rows."""

import math

import numpy as np
import numpy.testing as npt
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from msi_preprocessing_pipeline_spark.kernels import baseline as bl
from msi_preprocessing_pipeline_spark.kernels.special import CubicSpline1D

ROW_KINDS = ("noise", "zero", "constant", "negative", "integers", "tenths",
             "trend")


def _case(rows, n, seed, max_width, min_width, increment, kinds,
          dtype=np.float32):
    """m/z axis, rows and the three window parameters."""
    rng = np.random.default_rng(seed)
    mzs = rng.uniform(1.0, 1000.0) + np.cumsum(rng.uniform(0.2, 1.0, n))
    make = {
        "noise": lambda: rng.normal(50.0, 10.0, n),
        "zero": lambda: np.zeros(n),
        "constant": lambda: np.full(n, rng.uniform(-5.0, 5.0)),
        "negative": lambda: -np.abs(rng.normal(0.0, 10.0, n)),
        "integers": lambda: rng.integers(0, 4, n).astype(float),
        "tenths": lambda: rng.integers(0, 4, n) * 0.1,
        "trend": lambda: rng.uniform(-0.5, 0.5) * np.arange(n)
        + rng.normal(0.0, 1.0, n),
    }
    mat = np.stack([make[kinds[i % len(kinds)]]() for i in range(rows)])
    return mzs, mat.astype(dtype), max_width, min_width, increment


@st.composite
def cases(draw):
    rows = draw(st.integers(1, 30))
    min_width = draw(st.integers(1, 120))
    return _case(rows, draw(st.integers(2, 500)),
                 draw(st.integers(0, 2 ** 32 - 1)),
                 draw(st.integers(min_width, 400)), min_width,
                 draw(st.integers(1, 40)),
                 draw(st.lists(st.sampled_from(ROW_KINDS), min_size=1,
                               max_size=rows)),
                 draw(st.sampled_from((np.float32, np.float64))))


# pinned cases, one per branch (test_pinned_cases_reach_every_branch): the
# serve defaults over more rows than one block on an axis that is not a
# multiple of the block size, rows shorter than min_width, single-segment
# rows, fewer than 4 anchors, and increment 1 on integer and 0.1-step rows
PINNED = [
    _case(bl._BLOCK_ROWS + 30, 610, 1, 300, 100, 20, ROW_KINDS),
    _case(6, 80, 2, 300, 100, 20, ROW_KINDS),
    _case(7, 150, 3, 300, 100, 20, ROW_KINDS),
    _case(14, 260, 4, 120, 100, 20, ROW_KINDS),
    _case(12, 90, 5, 15, 5, 1, ("integers", "tenths", "zero", "trend")),
]


def _stacked(mzs, mat, max_width, min_width, increment):
    return np.stack([bl.remove_baseline(mzs, row, max_width, min_width,
                                        increment) for row in mat])


@given(cases())
@example(PINNED[0])
@example(PINNED[1])
@example(PINNED[2])
@example(PINNED[3])
@example(PINNED[4])
@settings(max_examples=100, deadline=None)
def test_remove_baseline_rows_bit_identical_to_stacked(case):
    got = bl.remove_baseline_rows(*case)
    assert got.dtype == np.float32
    npt.assert_array_equal(got, _stacked(*case))


def _branches(mzs, mat, max_width, min_width, increment):
    """The per-row kernel branches that the rows of ``mat`` reach."""
    n = mzs.size
    segments = {bl._segment_anchors(mzs, row.astype(float), max_width,
                                    min_width, increment)[0].size
                for row in mat}
    return {name for name, hit in (
        ("more than one block", mat.shape[0] > bl._BLOCK_ROWS),
        ("n off the block grid", n % math.gcd(min_width, increment) != 0),
        ("shorter than min_width", n < min_width),
        ("one segment", 1 in segments),
        ("linear", bool(segments & {2, 3})),
        ("spline", max(segments) >= 4),
        ("increment 1", increment == 1)) if hit}


def test_pinned_cases_reach_every_branch():
    reached = set().union(*(_branches(*case) for case in PINNED))
    assert reached == {"more than one block", "n off the block grid",
                       "shorter than min_width", "one segment", "linear",
                       "spline", "increment 1"}


@given(st.integers(1, 12), st.integers(4, 30), st.integers(30, 400),
       st.integers(0, 2 ** 32 - 1))
@example(1, 4, 30, 0)
@settings(max_examples=50, deadline=None)
def test_spline_rows_bit_identical_to_cubic_spline(rows, k, n, seed):
    """The float64 model before the float32 cast: one rounding of the
    spline's own formula moves it (``a ** 3`` against ``a * a * a`` differs
    in about a third of the points), where the clipped float32 output
    rarely shows it."""
    rng = np.random.default_rng(seed)
    mzs = np.cumsum(rng.uniform(0.2, 1.0, n))
    knots = np.stack([np.sort(rng.choice(mzs, k, replace=False))
                      for _ in range(rows)])
    values = rng.normal(0.0, 10.0, (rows, k))
    npt.assert_array_equal(
        bl._spline_rows(mzs, knots, values),
        np.stack([CubicSpline1D(x, y)(mzs) for x, y in zip(knots, values)]))


def test_remove_baseline_rows_empty_batch():
    mzs = np.linspace(100.0, 200.0, 50)
    out = bl.remove_baseline_rows(mzs, np.zeros((0, 50), np.float32),
                                  30, 10, 5)
    assert out.shape == (0, 50) and out.dtype == np.float32


def test_remove_baseline_rows_rejects_a_bad_axis():
    """The spline evaluation expands each piece over its run of the sorted
    axis; an axis that decreases anywhere, or whose length is not the rows',
    is refused."""
    rows = np.ones((2, 50), np.float32)
    with pytest.raises(ValueError, match="nondecreasing m/z axis"):
        bl.remove_baseline_rows(np.linspace(200.0, 100.0, 50), rows,
                                30, 10, 5)
    with pytest.raises(ValueError, match="rows of 50 channels"):
        bl.remove_baseline_rows(np.linspace(100.0, 200.0, 49), rows,
                                30, 10, 5)


def test_percentile10_equals_numpy_percentile():
    """``_percentile10`` is ``np.percentile(v, 10)`` bit for bit — on its
    own and along the rows of a matrix — at every width from 1 to 400,
    including ties and integer rows, where the interpolation weight takes
    numpy's upper-neighbour branch (``t >= 0.5``)."""
    rng = np.random.default_rng(12)
    for m in range(1, 401):
        rows = np.stack([rng.normal(0.0, 10.0, m),
                         rng.lognormal(3.0, 1.0, m),
                         rng.integers(0, 3, m).astype(float),
                         rng.integers(-50, 50, m) * 0.1,
                         np.full(m, 7.25)])
        want = np.percentile(rows, 10, axis=1)
        npt.assert_array_equal(bl._percentile10(rows), want)
        for row, w in zip(rows, want):
            assert bl._percentile10(row) == w
