"""Tests for the scipy-free special functions and the EM GMM kernels."""

import numpy as np
import numpy.testing as npt

from msi_preprocessing_pipeline_spark.kernels import gmm, special
from msi_preprocessing_pipeline_spark.kernels.baseline import _TrendScanner


def test_norm_cdf_known_values():
    npt.assert_allclose(special.norm_cdf(0.0), 0.5)
    npt.assert_allclose(special.norm_cdf(1.959963984540054), 0.975, rtol=1e-12)
    npt.assert_allclose(special.norm_cdf(np.array([-1.0, 1.0])),
                        [0.15865525393145707, 0.8413447460685429], rtol=1e-12)


def test_norm_ppf_roundtrip():
    p = np.array([0.001, 0.1, 0.25, 0.5, 0.75, 0.9, 0.999])
    x = special.norm_ppf(p)
    npt.assert_allclose(special.norm_cdf(x), p, rtol=1e-9)
    assert special.norm_ppf(np.array([0.0]))[0] == -np.inf


def test_student_t_sf_known_values():
    # t_{0.975, 10} = 2.2281 → sf = 0.025
    npt.assert_allclose(special.student_t_sf(2.228138852, 10), 0.025,
                        rtol=1e-6)
    # symmetric
    npt.assert_allclose(special.student_t_sf(-2.228138852, 10), 0.975,
                        rtol=1e-6)


def test_pearsonr_p():
    x = np.arange(20, dtype=float)
    r, p = special.pearsonr_p(x, 2 * x + 1)
    npt.assert_allclose(r, 1.0)
    assert p == 0.0
    rng = np.random.RandomState(0)
    r, p = special.pearsonr_p(x, rng.rand(20))
    assert p > 0.05  # random noise: no significant trend


def test_trend_scanner_matches_pearsonr_p():
    """The baseline's O(1) trend probe is the p < 0.05 test of
    ``pearsonr_p`` on every window: block prefix sums on block boundaries,
    direct slice sums off them. Windows whose p sits within 1e-9 of 0.05
    are skipped (the critical r² is a bisection, exact only to ~1e-12)."""
    rng = np.random.RandomState(5)
    checked, trends = 0, 0
    for _ in range(60):
        n = rng.randint(30, 240)
        x = np.sort(rng.uniform(100.0, 1000.0, n))
        slope = rng.choice([0.0, 0.05, 0.3, -0.2])
        y = rng.poisson(60.0 + slope * np.arange(n)).astype(float)
        for g in (1, 2, 4, 20):
            scanner = _TrendScanner(x, y, block=g)
            for k in range(25):
                if k % 2 == 0 and n // g >= 2:   # on block boundaries
                    bs = rng.randint(0, n // g - 1)
                    be = rng.randint(bs + 1, n // g + 1)
                    s, e = bs * g, be * g
                else:                             # anywhere
                    s = rng.randint(0, n - 1)
                    e = rng.randint(s + 1, n + 1)
                p = special.pearsonr_p(x[s:e], y[s:e])[1]
                if abs(p - 0.05) < 1e-9:
                    continue
                assert scanner.has_trend(s, e) == (p < 0.05), (n, g, s, e, p)
                checked += 1
                trends += p < 0.05
    assert checked > 5000 and 0 < trends < checked


def test_cubic_spline_reproduces_cubic_polynomial():
    # not-a-knot splines reproduce cubics exactly, including extrapolation
    x = np.array([0.0, 1.0, 2.5, 4.0, 6.0, 9.0])
    poly = lambda t: 2 * t ** 3 - 3 * t ** 2 + t - 5  # noqa: E731
    sp = special.CubicSpline1D(x, poly(x))
    q = np.linspace(-2.0, 11.0, 57)
    npt.assert_allclose(sp(q), poly(q), rtol=1e-9, atol=1e-8)


def test_cubic_spline_interpolates_knots():
    rng = np.random.RandomState(5)
    x = np.sort(rng.rand(12)) * 10
    y = rng.rand(12)
    sp = special.CubicSpline1D(x, y)
    npt.assert_allclose(sp(x), y, atol=1e-10)


def test_fit_gmm_1d_two_clusters():
    rng = np.random.RandomState(7)
    values = np.concatenate([rng.normal(0, 1, 400), rng.normal(10, 1, 400)])
    mu, sig, mix = gmm.fit_gmm_1d(values, max_components=5)
    assert mu.size >= 2
    assert np.any(np.abs(mu - 0) < 1.0) and np.any(np.abs(mu - 10) < 1.0)


def test_fit_gmm_deterministic():
    rng = np.random.RandomState(8)
    values = np.concatenate([rng.normal(0, 1, 200), rng.normal(5, 2, 200)])
    a = gmm.fit_gmm_1d(values)
    b = gmm.fit_gmm_1d(values)
    for x, y in zip(a, b):
        npt.assert_array_equal(x, y)


def test_find_thresholds_separates_clusters():
    rng = np.random.RandomState(9)
    values = np.concatenate([rng.normal(0, 0.5, 300), rng.normal(8, 0.5, 300)])
    thr = gmm.find_thresholds(values)
    assert thr.size >= 1
    assert np.any((thr > 2) & (thr < 6))  # a crossing between the clusters


def test_estimate_spectrum_gmm_recovers_peaks():
    mzs = np.linspace(700.0, 900.0, 2000)
    truth = [(750.0, 2.0, 500.0), (800.0, 3.0, 900.0), (860.0, 1.5, 400.0)]
    spectrum = np.zeros_like(mzs)
    for m, s, a in truth:
        spectrum += a * np.exp(-((mzs - m) ** 2) / (2 * s * s))
    model = gmm.estimate_spectrum_gmm(mzs, spectrum)
    assert model.mu.size >= 3
    for m, s, a in truth:
        assert np.min(np.abs(model.mu - m)) < 1.0, f"missed peak at {m}"
    # intensity-scaled weights: total mass ≈ integral of the spectrum
    npt.assert_allclose(np.sum(model.w), np.trapz(spectrum, mzs), rtol=0.05)
    # reconstruction: sum_i w_i N(x) ≈ spectrum at the peak centers
    recon = np.zeros_like(mzs)
    for m, s, w in zip(model.mu, model.sig, model.w):
        recon += w * np.exp(-((mzs - m) ** 2) / (2 * s * s)) / (s * np.sqrt(2 * np.pi))
    peak_idx = [np.argmin(np.abs(mzs - m)) for m, _, _ in truth]
    npt.assert_allclose(recon[peak_idx], spectrum[peak_idx], rtol=0.15)


def test_estimate_spectrum_gmm_deterministic():
    mzs = np.linspace(700.0, 800.0, 800)
    spectrum = 100 * np.exp(-((mzs - 750) ** 2) / 8.0)
    a = gmm.estimate_spectrum_gmm(mzs, spectrum)
    b = gmm.estimate_spectrum_gmm(mzs, spectrum)
    npt.assert_array_equal(a.mu, b.mu)
    npt.assert_array_equal(a.sig, b.sig)
    npt.assert_array_equal(a.w, b.w)
