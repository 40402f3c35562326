"""GMM convolution featurization — the hot kernel.

Numerical semantics per reference ``components/convolve.py:5-27``: feature
``i`` of a spectrum is the dot product of the spectrum's channels within
±15σ of component ``i`` with the weighted Gaussian density
``w_i · N(mz; μ_i, σ_i)``. The reference's band is ``[first:last)`` with
``last`` the last in-band index — i.e. the final in-band channel is
EXCLUDED (an off-by-one the reference's numba kernel has); we reproduce it
exactly for parity. Output float32 ``[rows × components]``.

The Spark-side plan: :func:`build_bands` runs once per (axis, model) pair on
the driver, is broadcast, and :func:`featurize_batch` performs one banded
matvec per component per Arrow batch — no per-row Python (SURVEY.md §2 C1).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

_SQRT_2PI = np.sqrt(2.0 * np.pi)
BAND_SIGMA_MULTIPLIER = 15.0


class ComponentBands(NamedTuple):
    """Precomputed banded weighted-Gaussian design, broadcast to executors."""

    firsts: np.ndarray            # int64 [K] band start (inclusive)
    lasts: np.ndarray             # int64 [K] band end (EXCLUSIVE, = last in-band idx)
    profiles: tuple[np.ndarray, ...]  # per-component float64 [band_width]
    n_components: int


def build_bands(mzs: np.ndarray, mu: np.ndarray, sig: np.ndarray,
                w: np.ndarray,
                multiplier: float = BAND_SIGMA_MULTIPLIER) -> ComponentBands:
    """Precompute per-component channel bands and weighted density profiles."""
    mzs = np.ravel(np.asarray(mzs, dtype=float))
    mu = np.ravel(np.asarray(mu, dtype=float))
    sig = np.ravel(np.asarray(sig, dtype=float))
    w = np.ravel(np.asarray(w, dtype=float))
    lower = mu - multiplier * sig
    upper = mu + multiplier * sig
    firsts = np.searchsorted(mzs, lower, side="left")
    # reference slices [first:last] with last = LAST in-band index → exclusive
    lasts = np.maximum(np.searchsorted(mzs, upper, side="right") - 1, firsts)
    profiles = []
    for i in range(mu.size):
        band = mzs[firsts[i]:lasts[i]]
        x = (band - mu[i]) / sig[i]
        profiles.append(w[i] * np.exp(-x * x / 2.0) / (_SQRT_2PI * sig[i]))
    return ComponentBands(firsts=firsts.astype(np.int64),
                          lasts=lasts.astype(np.int64),
                          profiles=tuple(profiles), n_components=mu.size)


def featurize_batch(spectra: np.ndarray, bands: ComponentBands) -> np.ndarray:
    """Banded matmul: ``out[row, i] = spectra[row, first_i:last_i] · profile_i``.

    float32 accumulation order matches the reference (float32 zeros, float64
    profile, per-component sum).
    """
    spectra = np.atleast_2d(np.asarray(spectra))
    out = np.zeros((spectra.shape[0], bands.n_components), dtype=np.float32)
    for i in range(bands.n_components):
        first, last = bands.firsts[i], bands.lasts[i]
        if last > first:
            out[:, i] = spectra[:, first:last] @ bands.profiles[i]
    return out
