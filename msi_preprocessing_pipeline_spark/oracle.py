"""Single-process numpy oracle of the full staged pipeline.

This is the parity target for the Spark engine: it chains the kernels with
EXACTLY the stage semantics of the reference Luigi DAG
(``/root/reference/pipeline/_pipeline.py:24-33`` dependency graph):

1.  FindResamplingAxis — common m/z range ∩ across sources, tick count =
    min #channels in range, robust axis estimate
    (``pipeline/resampling.py:43-100``).
2.  ResampleDataset — per-row ``np.interp`` → float32 (``bin/resampling.py``).
3.  RemoveBaseline — adaptive windows (``pipeline/baseline.py``).
4.  DetectOutliers — global TIC thresholds over baseline-removed rows,
    seeded MC (``pipeline/outlier.py:39-58``).
5.  ExtractPaFFTReference — per-source inlier mean, count-weighted average
    across sources (``pipeline/_base.py:77-90``); PaFFT aligns each row to it
    (``pipeline/alignment.py``).
6.  ExtractTICReference over aligned rows; NormalizeTIC scales each row to
    the reference TIC (``pipeline/normalize.py:30-32``).
7.  ExtractGMMReference over normalized rows; dense re-axis + EM GMM fit
    (``pipeline/gmm.py:46-120``).
8.  FilterComponents — amplitude filter (95th-pct clip + GMM thresholds,
    index 2) then variance filter (descending thresholds, component-count
    band) (``pipeline/gmm.py:141-198``).
9.  Convolve — banded featurization of normalized rows
    (``pipeline/gmm.py:221-239``).
10. MergeComponents/MergeDataset — adjacent-component merge + column sums
    (``pipeline/gmm.py:258-319``).

The Spark plan runs the same kernels over the same data; the parity tests
assert ``np.allclose`` per row (and byte equality for token passthrough).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

import numpy as np

from .kernels import alignment, axis, baseline, convolve, gmm, merge, outlier
from .kernels.stats import mquantile


@dataclass(frozen=True)
class PipelineConfig:
    """Stage parameters. Reference defaults in comments; the synthetic-scale
    defaults keep test runtimes sane while exercising identical code paths."""

    baseline_max_width: int = 300       # reference: 1500
    baseline_min_width: int = 100       # reference: 500
    baseline_increment: int = 20        # reference: 100
    pafft_minimum_segment: float = 0.7  # reference default
    pafft_shift_limit: float = 0.1      # reference default
    gmm_axis_factor: float = 2.0        # reference: fixed 100k channels
    gmm_axis_points: int | None = None  # set to 100_000 for reference parity
                                        # (overrides gmm_axis_factor,
                                        # pipeline/gmm.py:49)
    gmm_max_components_per_segment: int = 8
    gmm_rel_threshold: float = 1e-4
    amp_filter_index: int = 2           # GAMRED_FILTER, pipeline/gmm.py:162
    component_band: tuple[int, int] = (10, 4000)  # reference: (1000, 3500)
    outlier_seed: int = 0
    epoch_base: int = 1_600_000_000     # ts grid: epoch_base + idx * epoch_step
    epoch_step: int = 60


@dataclass
class PipelineArtifacts:
    """Versioned side artifacts (FIXTURES.md F3) produced by a pipeline fit."""

    mz_axis: np.ndarray = field(default=None)
    tic_thresholds: tuple[float, float] = None
    pafft_reference: np.ndarray = None
    tic_reference_tic: float = None
    gmm_mu: np.ndarray = None
    gmm_sig: np.ndarray = None
    gmm_w: np.ndarray = None
    merge_starts: np.ndarray = None
    merge_lengths: np.ndarray = None
    merged_mu: np.ndarray = None


def derive_ts(rows: Sequence[tuple], config: PipelineConfig) -> list[int]:
    """Event time: rank of doc_id within its source on a fixed epoch grid
    (FIXTURES.md F1 'derived columns')."""
    by_source: dict[str, list[int]] = {}
    order = sorted(range(len(rows)), key=lambda i: (rows[i][3], rows[i][0]))
    ts = [0] * len(rows)
    for i in order:
        src = rows[i][3]
        idx = len(by_source.setdefault(src, []))
        by_source[src].append(i)
        ts[i] = config.epoch_base + idx * config.epoch_step
    return ts


def common_axis(source_axes: dict[str, np.ndarray]) -> np.ndarray:
    """Stage 1: intersected range, min in-range channel count, robust axis.

    Reference takes the FIRST source's axis (sorted order) as the tick-model
    input (``pipeline/resampling.py:69-82``).
    """
    lo = max(float(np.min(a)) for a in source_axes.values())
    hi = min(float(np.max(a)) for a in source_axes.values())
    n_ticks = min(int(np.sum((a >= lo) & (a <= hi))) for a in source_axes.values())
    first_source = sorted(source_axes)[0]
    return axis.estimate_new_axis(source_axes[first_source], n_ticks,
                                  np.array([lo, hi]))


def _masked_weighted_mean(vectors_by_source: dict[str, np.ndarray],
                          inlier_by_source: dict[str, np.ndarray]) -> np.ndarray:
    """Reference-spectrum aggregation: per-source inlier mean, then
    count-weighted average across sources (``pipeline/_base.py:82-87``)."""
    refs, counts = [], []
    for src in sorted(vectors_by_source):
        mask = inlier_by_source[src]
        # float64 accumulation → order-independent up to 1e-16, so the Spark
        # partial-sum aggregation is allclose-identical (the reference
        # accumulated in float32; documented deviation)
        refs.append(vectors_by_source[src][mask].mean(axis=0,
                                                      dtype=np.float64))
        counts.append(int(mask.sum()))
    return np.average(np.asarray(refs), axis=0, weights=np.asarray(counts))


def filter_components(model: gmm.GmmModel, config: PipelineConfig,
                      diagnostics: list | None = None):
    """Stage 8: amplitude then variance filtering
    (``pipeline/gmm.py:150-198``).

    ``diagnostics``: optional list — appends one dict per candidate
    threshold, mirroring what the reference's HTML histogram sink plots
    (``/root/reference/plot.py:6-21``, called at ``pipeline/gmm.py:164,186``):
    stage name, threshold index/value, how many components it would keep,
    and whether it was the one chosen.
    """
    amp = model.w / (model.sig * np.sqrt(2.0 * np.pi))
    amp_inv = 1.0 / amp
    amp_clip = mquantile(amp_inv, 0.95)
    amp_thresholds = gmm.find_thresholds(amp_inv[amp_inv < amp_clip])
    if amp_thresholds.size:
        idx = min(config.amp_filter_index, amp_thresholds.size - 1)
        amp_sel = amp_inv < amp_thresholds[idx]
    else:
        idx = -1
        amp_sel = np.ones(model.mu.size, dtype=bool)
    if diagnostics is not None:
        for i, thr in enumerate(amp_thresholds):
            diagnostics.append({
                "stage": "amplitude", "threshold_index": i,
                "threshold": float(thr), "clip": float(amp_clip),
                "n_candidates": int(model.mu.size),
                "n_kept": int((amp_inv < thr).sum()),
                "chosen": bool(i == idx)})

    var = model.sig[amp_sel] ** 2
    var_clip = mquantile(var, 0.95)
    var_thresholds = gmm.find_thresholds(var[var < var_clip])
    var_sel = np.ones(var.size, dtype=bool)
    lo, hi = config.component_band
    chosen_var = -1
    for k, thr in enumerate(var_thresholds[::-1]):
        var_sel = var < thr
        if lo <= int(var_sel.sum()) <= hi:
            chosen_var = var_thresholds.size - 1 - k
            break
    else:
        if var_thresholds.size:
            chosen_var = 0  # no threshold hit the band → smallest one sticks
    if not var_thresholds.size:
        var_sel = np.ones(var.size, dtype=bool)
    if diagnostics is not None:
        for i, thr in enumerate(var_thresholds):
            diagnostics.append({
                "stage": "variance", "threshold_index": i,
                "threshold": float(thr), "clip": float(var_clip),
                "n_candidates": int(var.size),
                "n_kept": int((var < thr).sum()),
                "chosen": bool(i == chosen_var)})

    final = amp_sel.copy()
    final[amp_sel] = var_sel
    return final


THRESHOLD_DIAGNOSTICS_SCHEMA = (
    "stage string, threshold_index int, threshold double, clip double, "
    "n_candidates int, n_kept int, chosen boolean")


def fit_artifacts(rows: Sequence[tuple],
                  source_axes: dict[str, np.ndarray],
                  config: PipelineConfig) -> PipelineArtifacts:
    """Fit every pipeline artifact from the given rows (the 'training' pass).

    ``rows``: (doc_id, tokens, n_tok, source) tuples. In point-in-time mode
    this is called once per checkpoint on the rows at-or-before it.
    """
    art = PipelineArtifacts()
    art.mz_axis = common_axis(source_axes)

    by_source: dict[str, list[int]] = {}
    for i, r in enumerate(rows):
        by_source.setdefault(r[3], []).append(i)
    for src in by_source:
        by_source[src].sort(key=lambda i: rows[i][0])

    # stages 2-3 per row
    debased = {
        src: np.stack([
            baseline.remove_baseline(
                art.mz_axis,
                axis.resample_row(art.mz_axis, source_axes[src],
                                  np.asarray(rows[i][1], dtype=float)),
                config.baseline_max_width, config.baseline_min_width,
                config.baseline_increment)
            for i in idxs
        ])
        for src, idxs in by_source.items()
    }

    # stage 4: global TIC thresholds (hstack in sorted-source order,
    # reference pipeline/outlier.py:41-46)
    tics = np.hstack([debased[s].sum(axis=1) for s in sorted(debased)])
    thr = outlier.detect_thresholds(tics, seed=config.outlier_seed)
    art.tic_thresholds = (thr.b1, thr.b2)
    inlier = {
        src: ~np.logical_or(debased[src].sum(axis=1) <= thr.b1,
                            debased[src].sum(axis=1) >= thr.b2)
        for src in debased
    }

    # stage 5: PaFFT reference + align
    art.pafft_reference = _masked_weighted_mean(debased, inlier)
    aligned = {
        src: np.stack([
            alignment.pafft(row, art.pafft_reference, art.mz_axis,
                            config.pafft_minimum_segment,
                            config.pafft_shift_limit)
            for row in debased[src]
        ])
        for src in debased
    }

    # stage 6: TIC reference + normalize
    tic_reference = _masked_weighted_mean(aligned, inlier)
    art.tic_reference_tic = float(np.sum(tic_reference))
    normalized = {
        src: aligned[src] * (art.tic_reference_tic
                             / aligned[src].sum(axis=1, keepdims=True))
        for src in aligned
    }

    # stage 7: GMM reference on a denser axis
    gmm_reference = _masked_weighted_mean(normalized, inlier)
    n_dense = (config.gmm_axis_points or
               int(config.gmm_axis_factor * art.mz_axis.size))
    dense_axis = axis.estimate_new_axis(
        art.mz_axis, n_dense,
        np.array([float(np.min(art.mz_axis)), float(np.max(art.mz_axis))]))
    dense_reference = np.interp(dense_axis, art.mz_axis, gmm_reference)
    model = gmm.estimate_spectrum_gmm(
        dense_axis, dense_reference,
        max_components_per_segment=config.gmm_max_components_per_segment,
        rel_threshold=config.gmm_rel_threshold)

    # stage 8: filter + merge bookkeeping
    keep = filter_components(model, config)
    art.gmm_mu, art.gmm_sig, art.gmm_w = \
        model.mu[keep], model.sig[keep], model.w[keep]
    merged = merge.merge_components(art.gmm_mu, art.gmm_sig, art.gmm_w)
    art.merge_starts, art.merge_lengths = merged.starts, merged.lengths
    art.merged_mu = merged.mu
    return art


def transform_rows(rows: Sequence[tuple],
                   source_axes: dict[str, np.ndarray],
                   art: PipelineArtifacts,
                   config: PipelineConfig) -> np.ndarray:
    """Apply fitted artifacts to rows → merged feature matrix (row order =
    input order). This is the 'serving' pass — in the Spark engine it is the
    serve UDF (``operators.spectrum.serve_features``)."""
    bands = convolve.build_bands(art.mz_axis, art.gmm_mu, art.gmm_sig,
                                 art.gmm_w)
    out = []
    for doc_id, tokens, _n, src in rows:
        x = axis.resample_row(art.mz_axis, source_axes[src],
                              np.asarray(tokens, dtype=float))
        x = baseline.remove_baseline(art.mz_axis, x,
                                     config.baseline_max_width,
                                     config.baseline_min_width,
                                     config.baseline_increment)
        x = alignment.pafft(x, art.pafft_reference, art.mz_axis,
                            config.pafft_minimum_segment,
                            config.pafft_shift_limit)
        x = x * (art.tic_reference_tic / x.sum())
        feats = convolve.featurize_batch(x[None, :], bands)
        out.append(merge.apply_merging(feats, art.merge_starts,
                                       art.merge_lengths)[0])
    return np.stack(out)


def run_pipeline(rows: Sequence[tuple], source_axes: dict[str, np.ndarray],
                 config: PipelineConfig | None = None):
    """Fit + transform on the same rows (the reference's batch semantics)."""
    config = config or PipelineConfig()
    art = fit_artifacts(rows, source_axes, config)
    feats = transform_rows(rows, source_axes, art, config)
    return art, feats
