"""Deterministic synthetic tokenized-sequence generation.

Per ``BASELINE.json`` input_hint, the engine's input is an Iceberg-style table
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``.
This module synthesizes that table deterministically (FIXTURES.md F1): every
row's tokens are a function of ``(source, doc_id)`` only — independent of
partitioning, executor count, or evaluation order — so the Spark generator and
the numpy oracle produce byte-identical payloads.

Token arrays are discretized noisy Gaussian-peak spectra (shared global peak
template + per-source baseline drift + per-row seeded noise), so the
resampling / baseline-removal / GMM stages see realistic structure
(reference sample data: Bruker spectra, m/z ≈ 700–3496,
``/root/reference/sample-data/raw/my-dataset1``).
"""

from __future__ import annotations

import zlib

import numpy as np

MZ_LOW = 700.0
MZ_HIGH = 3496.0

# global peak template: positions spread over the m/z range (fixed), relative
# widths and base amplitudes — every source shares these so the GMM reference
# has cross-source structure
_PEAK_FRACTIONS = np.array([
    0.05, 0.09, 0.14, 0.18, 0.22, 0.27, 0.33, 0.38, 0.44, 0.50,
    0.55, 0.61, 0.66, 0.72, 0.78, 0.83, 0.88, 0.93,
])
_PEAK_BASE_AMPLITUDE = 600.0
_PEAK_WIDTH_CHANNELS = 6.0


def stable_seed(*parts) -> int:
    """Deterministic 32-bit seed from string parts (crc32 of the joined key)."""
    key = "|".join(str(p) for p in parts).encode("utf-8")
    return zlib.crc32(key) & 0xFFFFFFFF


def source_channel_count(source: str, base_channels: int) -> int:
    """Per-source raw channel count: base + deterministic 0..15 extra."""
    return base_channels + (stable_seed("channels", source) % 16)


def source_axis(source: str, base_channels: int) -> np.ndarray:
    """Per-source raw m/z axis: quadratic tick growth over a slightly
    source-shifted range (so the common-range/min-count resampling stage has
    real work to do)."""
    n = source_channel_count(source, base_channels)
    rng = np.random.RandomState(stable_seed("axis", source))
    lo = MZ_LOW - 2.0 * rng.rand()
    hi = MZ_HIGH + 2.0 * rng.rand()
    t = np.linspace(0.0, 1.0, n)
    shape = t + 0.35 * t * t  # quadratic-ish tick growth like TOF axes
    return lo + (hi - lo) * shape / shape[-1]


def row_tokens(source: str, doc_id: str, base_channels: int) -> np.ndarray:
    """int32 token array for one row — pure function of (source, doc_id)."""
    n = source_channel_count(source, base_channels)
    rng = np.random.RandomState(stable_seed("tokens", source, doc_id))
    # baseline drift: slow positive hump + linear tilt
    t = np.linspace(0.0, 1.0, n)
    baseline = (40.0 + 30.0 * rng.rand()) * np.exp(-((t - 0.3) ** 2) / 0.18) \
        + 25.0 * (1.0 - t) + 10.0
    # peaks at template positions, per-row amplitude jitter
    idx = np.arange(n, dtype=float)
    centers = _PEAK_FRACTIONS * (n - 1)
    amplitudes = _PEAK_BASE_AMPLITUDE * (0.4 + rng.rand(_PEAK_FRACTIONS.size))
    width = _PEAK_WIDTH_CHANNELS * (n / 2048.0 + 0.5)
    signal = np.zeros(n)
    for c, a in zip(centers, amplitudes):
        z = (idx - c) / width
        signal += a * np.exp(-z * z / 2.0)
    noise = rng.randn(n) * 4.0
    counts = np.maximum(baseline + signal + noise, 0.0)
    return np.round(counts).astype(np.int32)


def make_table(sources: dict[str, int], base_channels: int = 2048):
    """Oracle-side table: dict source → rows-per-source. Returns a list of
    (doc_id, tokens, n_tok, source) sorted by (source, doc_id)."""
    rows = []
    for source in sorted(sources):
        n_rows = sources[source]
        for i in range(n_rows):
            doc_id = f"{source}-{i:08d}"
            toks = row_tokens(source, doc_id, base_channels)
            rows.append((doc_id, toks, np.int32(toks.size), source))
    return rows
