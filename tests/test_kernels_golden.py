"""Golden-value kernel tests ported from the reference test suite.

Expected vectors come from the reference's unit tests (FIXTURES.md F4); they
were produced by the original MATLAB implementation, so passing them means the
fresh kernels reproduce the reference numerics:

* quantiles   — ``test/components/test_stats.py:9-15``
* axis        — ``test/components/spectrum/test_resampling.py:24-64``
* baseline    — ``test/components/spectrum/test_baseline.py:87-133``
* alignment   — ``test/components/spectrum/test_alignment.py``
* merge       — ``test/components/spectrum/test_model.py:9-72``
"""

import warnings

import numpy as np
import numpy.testing as npt
import pytest

from msi_preprocessing_pipeline_spark.kernels import alignment, axis, merge, stats
from msi_preprocessing_pipeline_spark.kernels import baseline as bl
from msi_preprocessing_pipeline_spark.kernels import outlier


def test_matlab_alike_quantile_golden():
    values = np.arange(11)
    q = np.arange(0, 1.1, 0.1)
    expected = np.array([0, .6, 1.7, 2.8, 3.9, 5., 6.1, 7.2, 8.3, 9.4, 10.])
    npt.assert_almost_equal(stats.mquantile(values, q), expected)


def test_miqr():
    # reference ``miqr`` golden through the engine's IQR: n=11 → remap
    # a=1.1, b=-.05: q25→22.5th pct = 2.25, q75→77.5th = 7.75
    values = np.arange(11)
    npt.assert_almost_equal(stats.median_and_iqr(values)[1], 7.75 - 2.25)


def test_estimate_axis_modelled_golden():
    old_axis = np.arange(101) ** 2
    expected = np.array([1, 1.0211, 1.5647, 2.6308, 4.2194,
                         6.3306, 8.9642, 12.1203, 15.7989, 20])
    got = axis.estimate_new_axis(old_axis, 10, np.array([1, 20]))
    npt.assert_almost_equal(got, expected, decimal=4)


def test_estimate_axis_large_modelled_golden_prefix():
    old_axis = np.arange(1000001) ** 2
    got = axis.estimate_new_axis(old_axis, 100, np.array([0, 1000000]))
    # spot-check the reference's 100-point golden vector at both ends
    expected_head = np.array([0, 0.01010, 206.16305, 618.45887, 1236.89754])
    expected_tail = np.array([940012.39826, 959802.12265, 979797.98989,
                              1000000])
    npt.assert_almost_equal(got[:5], expected_head, decimal=4)
    npt.assert_almost_equal(got[-4:], expected_tail, decimal=4)
    assert got.size == 100


def test_estimate_axis_equalized():
    old_axis = np.linspace(0.0, 100.0, 1001)  # constant ticks → arithmetic
    got = axis.estimate_new_axis(old_axis, 10, np.array([0.0, 100.0]))
    npt.assert_almost_equal(got, np.arange(10) * 10.0)


def test_resample_row_matches_interp_float32():
    old = np.linspace(0, 10, 50)
    counts = np.sin(old) + 2
    new = np.linspace(0, 10, 20)
    got = axis.resample_row(new, old, counts)
    assert got.dtype == np.float32
    npt.assert_allclose(got, np.interp(new, old, counts).astype(np.float32))


def test_baseline_reduces_offset_and_clips():
    # reference golden uses patched MATLAB quantiles; we assert behavior:
    # a pure offset + peaks signal loses its offset and stays non-negative
    mzs = np.arange(100, dtype=float)
    signal = 0.1 * mzs + np.sin(mzs)
    cleaned = bl.remove_baseline(mzs, signal, max_width=15, min_width=5,
                                 increment=1)
    assert cleaned.dtype == np.float32
    assert np.all(cleaned >= 0)
    assert cleaned.mean() < signal.mean()


def test_baseline_segments_contiguous():
    mzs = np.arange(2048, dtype=float)
    rng = np.random.RandomState(0)
    counts = 50 + 0.01 * mzs + rng.rand(2048)
    est, widths = bl._segment_anchors(mzs, counts, 150, 50, 10)
    assert widths.sum() == 2048
    assert est.size == widths.size >= 4


def test_alignment_cut_point():
    # co-minimal index within the 5% smallest of both signals
    seg = np.array([5., 4., 3., 2., 1., 0.] + [9.] * 94)
    ref = np.array([5., 4., 3., 2., 1., 0.] + [9.] * 94)
    assert alignment._cut_point(seg, ref) == 6  # index 5 is minimal in both


def test_alignment_padding():
    assert alignment._padded_size(100) == 128
    assert alignment._padded_size(2 ** 21) == 1_000_000 + 2 ** 21


def test_pafft_identity_when_already_aligned():
    # reference test_alignment.py:206-238 — aligning a spectrum to itself
    # leaves it unchanged
    mzs = np.linspace(700.0, 3496.0, 512)
    rng = np.random.RandomState(1)
    counts = rng.rand(512) * 10 + 1
    aligned = alignment.pafft(counts, counts.copy(), mzs)
    assert aligned.dtype == np.float32
    npt.assert_allclose(aligned, counts.astype(np.float32), rtol=1e-6)


def test_pafft_recovers_shift():
    # reference test_alignment.py:240-263 — a globally shifted signal moves
    # toward the reference
    mzs = np.linspace(700.0, 3496.0, 1024)
    idx = np.arange(1024, dtype=float)
    ref = np.exp(-((idx - 400) ** 2) / 50.0) * 100
    shifted = np.exp(-((idx - 403) ** 2) / 50.0) * 100
    aligned = alignment.pafft(shifted, ref, mzs, minimum_segment=40.,
                              shift_limit=40.)
    err_before = np.abs(shifted - ref).sum()
    err_after = np.abs(aligned.astype(float) - ref).sum()
    assert err_after < err_before


def test_merge_golden():
    # reference test_model.py:9-49 — means 0..9, one wide component, spikes
    means = np.arange(10, dtype=float)
    sigmas = np.array([.1, .5, 100., .1, .5, 100., .1, .5, 100., .1])
    weights = np.array([1., 1., 1., 1., 10., 1., 1., 1., 1., 1.])
    m = merge.merge_components(means, sigmas, weights,
                               max_components=4, n_sigmas=4)
    # group 1: leader mean 0, reach 0+4*.1=.4 → only component 0
    assert m.starts[0] == 0 and m.lengths[0] == 1
    # group 2: leader mean 1, reach 1+4*.5=3 → components 1,2,3
    assert m.starts[1] == 1 and m.lengths[1] == 3
    # merged weight of group 2 = 3
    npt.assert_almost_equal(m.w[1], 3.0)
    # group 2's output mean = mean of its highest-peak member (idx 3, σ=.1)
    npt.assert_almost_equal(m.mu[1], 3.0)


def test_apply_merging_golden():
    # reference test_model.py:51-72 verbatim fixture
    data = np.array([[.5, .5, .3, 1.3, .4],
                     [.4, .4, .3, 1.0, .4]])
    got = merge.apply_merging(data, np.array([0, 2]), np.array([2, 3]))
    assert got.dtype == np.float32
    npt.assert_almost_equal(got, np.array([[1., 2.], [.8, 1.7]]))


def test_apply_merging_single_row():
    data = np.array([[.5, .5, .3, 1.3, .4]])
    got = merge.apply_merging(data, np.array([0, 2]), np.array([2, 3]))
    npt.assert_almost_equal(got, np.array([[1., 2.]]))


def test_outlier_detects_huge_tic():
    # FIXTURES.md F4: one huge outlier in an otherwise tame TIC population;
    # a row is an outlier iff tic <= b1 or tic >= b2
    rng = np.random.RandomState(3)
    tics = np.concatenate([rng.normal(1000.0, 20.0, 199), [50000.0]])
    thr = outlier.detect_thresholds(tics)
    mask = (tics <= thr.b1) | (tics >= thr.b2)
    assert mask[-1]
    assert mask.sum() <= 5  # nearly everything else kept


def test_outlier_deterministic():
    rng = np.random.RandomState(4)
    tics = rng.normal(1000.0, 30.0, 500)
    t1 = outlier.detect_thresholds(tics)
    t2 = outlier.detect_thresholds(tics)
    assert t1 == t2


@pytest.mark.parametrize("tics", [
    [], [1000.0], [900.0, 950.0, 1000.0, 1010.0, 1100.0, 1200.0, 5000.0],
    [1000.0] * 50], ids=["empty", "one", "seven", "constant"])
def test_outlier_degenerate_population_keeps_every_row(tics):
    """Fewer than MIN_POPULATION values, or a zero IQR, keeps every row,
    without a numpy warning or a division by zero on the way."""
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        thr = outlier.detect_thresholds(np.asarray(tics, dtype=float))
    assert thr == (-np.inf, np.inf)


def test_baseline_adaptive_remove_verbatim_golden():
    """Reference test_baseline.py:87-133 verbatim: the original (faulty)
    MATLAB quantiles are injected per segment; the expected removal effect is
    the MATLAB golden. Passing this validates the adaptive segmentation
    boundaries, anchor-midpoint placement, the not-a-knot cubic model, and
    the clip — end to end."""
    mzs = np.arange(100)
    signal = 0.1 * mzs + np.sin(mzs)
    expected = np.array(
        [0.0172330735022189, 1.03843080781518, 1.27638044748339,
         0.668985784643117, 0, 0, 0.677386997109002, 1.73984118435010,
         2.19024003150190, 1.72326568842104, 0.869892839773969,
         0.509454930909737, 1.06143095569989, 2.10002030633938,
         2.74586379072228, 2.47476432053121, 1.59987319901746,
         0.984022159202895, 1.24668174993193, 2.19466487233869,
         2.99998400985622, 2.96134103472795, 2.14913937470500,
         1.34099732849368, 1.30705129033536, 2.10213780304676,
         3.01561899568586, 3.22498166706139, 2.55229403193403,
         1.62803728603086, 1.31168600454677, 1.90175308362024,
         2.86158026252629, 3.31298115590052, 2.84388366871903,
         1.88742908233544, 1.32398586017765, 1.67198484473927,
         2.61151823409722, 3.27870324190929, 3.06017384941748,
         2.15724859665163, 1.40108114739395, 1.48874334599901,
         2.34258248064556, 3.18185673071105, 3.24064343123019,
         2.47170208519669, 1.58991888907519, 1.41463490227570,
         2.11579483026815, 3.05714782066460, 3.38066073723473,
         2.79483704288462, 1.84216454610688, 1.39980178621441,
         1.87256969207112, 2.82020826157296, 3.36159675177054,
         2.98453125932765, 2.01699933002330, 1.32544748811769,
         1.51866953417008, 2.38881162713707, 3.10319944199684,
         2.97062239883583, 2.07755677707643, 1.20938711771781,
         1.12905459306373, 1.87630699948265, 2.73175392120207,
         2.87894602391169, 2.15559438683657, 1.20332506077781,
         0.878317908730098, 1.46468566103407, 2.41380885406804,
         2.84928090772745, 2.37305475511788, 1.43130796111752,
         0.904513438998674, 1.29774104583823, 2.27593860552130,
         2.97161725464010, 2.78205662323238, 1.92308308368840,
         1.23027989966084, 1.39039574730330, 2.30959106986959,
         3.19935365377404, 3.29901703573952, 2.56661697329337,
         1.71379776246624, 1.54179365839925, 2.19296569474674,
         3.00810350436447, 3.12068818925615, 2.24175369773299,
         0.913748778199656, 0])
    faulty_original_quantiles = iter(
        [-0.356802495307928, 0.986930704206748, 2.16904679382306,
         3.43127589631399, 4.77301772624698, 5.85023925085328,
         6.56071575203841, 7.83785404129453, 8.90079316581365])
    removed = bl.remove_baseline(
        mzs, signal, 15, 5, 1,
        estimator=lambda seg: next(faulty_original_quantiles))
    npt.assert_almost_equal(removed, expected)
    # the same input, with the kernels' own 10th-percentile estimates, as a
    # 3-row stack (row, reversed row, zero row) through the whole-batch
    # kernel the spectrum UDFs run: bit-identical to the per-row kernel
    mat = np.stack([signal, signal[::-1], np.zeros_like(signal)])
    npt.assert_array_equal(
        bl.remove_baseline_rows(mzs, mat, 15, 5, 1),
        np.stack([bl.remove_baseline(mzs, row, 15, 5, 1) for row in mat]))


def test_remove_baseline_single_segment_degenerate():
    # an axis too short for the adaptive window to split (< min_width growth
    # room) collapses to a constant-baseline subtraction instead of crashing
    from msi_preprocessing_pipeline_spark.kernels import baseline
    n = 256
    mzs = np.linspace(700.0, 900.0, n)
    rng = np.random.RandomState(5)
    counts = rng.rand(n) * 10 + 100.0
    out = baseline.remove_baseline(mzs, counts, max_width=300, min_width=100,
                                   increment=20)
    assert out.shape == (n,)
    assert out.dtype == np.float32
    assert (out >= 0).all()
