"""Spectrum feature-stage operators — vectorized Arrow UDFs over broadcast
artifacts.

Each operator is the Spark expression of one reference pipeline stage
(SURVEY.md §2.6/§2.9). The shape is always the same: small artifacts
(axis / reference vector / GMM model) are broadcast; rows stream through
``mapInArrow`` in Arrow record batches; the numerical kernel is the SAME
module the numpy oracle uses (``..kernels``), so parity is
arithmetic-identical modulo float64 aggregation order.

The per-row chain — resample → baseline (:func:`_spectra`), PaFFT
(:func:`_aligned`), TIC rescale (:func:`_tic_scaled`) — is written once;
the fit passes and the serve UDF are thin ``mapInArrow`` bodies over it, so
serving applies exactly the stage arithmetic the fit used. The fit writes
one row stage; its references are inlier partial sums (:func:`_inlier_means`).

No per-row Python at the DataFrame level: the work runs inside the UDF over
numpy arrays, one Arrow record batch at a time (the reference's
``Pool.map(chunksize=800)`` analog is
``spark.sql.execution.arrow.maxRecordsPerBatch=800``). Only the resample
loops over the rows of a batch (each row has its source's axis); baseline
removal (:func:`~..kernels.baseline.remove_baseline_rows`), PaFFT
(:func:`~..kernels.alignment.pafft_rows`) and the TIC rescale each run once
over the batch's whole ``[rows, channels]`` matrix, bit-identical to the
per-row kernels the oracle runs.
"""

from __future__ import annotations

from bisect import bisect_right
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrowutil import list_col_matrix
from ..kernels import alignment, axis as axis_k, baseline as baseline_k
from ..kernels import convolve as convolve_k, merge as merge_k
from ..kernels import outlier as outlier_k
from ..oracle import (NO_AXIS, TOKEN_COUNT, ZERO_SUM, PipelineConfig,
                      row_error)


@dataclass
class ArtifactSet:
    """Everything the serving path needs, one version. Broadcast-able."""

    version: int
    valid_from_ts: int
    mz_axis: np.ndarray
    b1: float
    b2: float
    pafft_reference: np.ndarray
    tic_reference_tic: float
    gmm_mu: np.ndarray
    gmm_sig: np.ndarray
    gmm_w: np.ndarray
    merge_starts: np.ndarray
    merge_lengths: np.ndarray

    def to_row(self) -> dict:
        return {
            "version": self.version,
            "valid_from_ts": self.valid_from_ts,
            "mz_axis": self.mz_axis.tolist(),
            "b1": self.b1, "b2": self.b2,
            "pafft_reference": self.pafft_reference.tolist(),
            "tic_reference_tic": self.tic_reference_tic,
            "gmm_mu": self.gmm_mu.tolist(),
            "gmm_sig": self.gmm_sig.tolist(),
            "gmm_w": self.gmm_w.tolist(),
            "merge_starts": [int(x) for x in self.merge_starts],
            "merge_lengths": [int(x) for x in self.merge_lengths],
        }

    @staticmethod
    def from_row(row: dict) -> "ArtifactSet":
        return ArtifactSet(
            version=int(row["version"]),
            valid_from_ts=int(row["valid_from_ts"]),
            mz_axis=np.asarray(row["mz_axis"], dtype=float),
            b1=float(row["b1"]), b2=float(row["b2"]),
            pafft_reference=np.asarray(row["pafft_reference"], dtype=float),
            tic_reference_tic=float(row["tic_reference_tic"]),
            gmm_mu=np.asarray(row["gmm_mu"], dtype=float),
            gmm_sig=np.asarray(row["gmm_sig"], dtype=float),
            gmm_w=np.asarray(row["gmm_w"], dtype=float),
            merge_starts=np.asarray(row["merge_starts"], dtype=np.int64),
            merge_lengths=np.asarray(row["merge_lengths"], dtype=np.int64),
        )

# --------------------------------------------------------------------------
# Arrow-native helpers: the hot-path UDFs run via mapInArrow on raw
# RecordBatches — list columns are consumed as (flat values, offsets) numpy
# views and produced from contiguous matrices, skipping the pandas
# object-column round trip (measured ~2× lower per-pass overhead than
# mapInPandas at 2048-channel rows).

def _list_col_np(batch: "pa.RecordBatch", name: str):
    """(flat_values, offsets) numpy views of a list column; row i is
    ``flat[offs[i]:offs[i+1]]`` (zero-copy for non-null primitive lists)."""
    col = batch.column(batch.schema.names.index(name))
    flat = col.values.to_numpy(zero_copy_only=False)
    offs = col.offsets.to_numpy(zero_copy_only=False)
    return flat, offs


def _uniform_list_array(mat: np.ndarray) -> "pa.ListArray":
    """Arrow list array from a contiguous [n, w] matrix (one memcpy)."""
    n, w = mat.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int64) * w,
                       type=pa.int32())
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel()))


# --------------------------------------------------------------------------
# The per-row spectrum chain. The fit stages and the serve UDF call these and
# nothing else per row, so serving applies exactly the fit's arithmetic.

def _row_error(batch: "pa.RecordBatch", i: int, reason: str) -> ValueError:
    """The error for row ``i`` of ``batch``, naming its doc_id and source
    (:func:`~..oracle.row_error`, which the oracle raises too)."""
    names = batch.schema.names
    return row_error(*(batch.column(names.index(c))[i].as_py()
                       for c in ("doc_id", "source")), reason)


def _spectra(batch: "pa.RecordBatch", axes: dict[str, np.ndarray],
             new_axis: np.ndarray, cfg: PipelineConfig,
             rows: Sequence[int]) -> np.ndarray:
    """Stages 2+3 for ``rows`` of ``batch``: each row's ``tokens`` resampled
    from its source's m/z axis onto ``new_axis``, then every row
    baseline-removed in one call over the batch
    (:func:`~..kernels.baseline.remove_baseline_rows`, bit-identical to the
    per-row :func:`~..kernels.baseline.remove_baseline` the oracle runs).
    Returns float32 ``[len(rows), new_axis.size]``.

    A row whose source has no axis, or whose token count (0 for empty or
    null ``tokens``) differs from its source axis length, raises
    ``ValueError`` naming the row's ``doc_id`` before any row is
    resampled."""
    names = batch.schema.names
    tokens = batch.column(names.index("tokens"))
    flat, offs = _list_col_np(batch, "tokens")
    nulls = tokens.is_null().to_numpy(zero_copy_only=False)
    srcs = batch.column(names.index("source")).to_pylist()
    src_axes = []
    for i in rows:
        ax = axes.get(srcs[i])
        n_tok = 0 if nulls[i] else int(offs[i + 1] - offs[i])
        if ax is None or n_tok != ax.size:
            raise _row_error(
                batch, i, NO_AXIS if ax is None
                else TOKEN_COUNT.format(n_tok=n_tok, n_axis=ax.size))
        src_axes.append(ax)
    x = np.empty((len(rows), new_axis.size), dtype=np.float32)
    for j, (i, ax) in enumerate(zip(rows, src_axes)):
        x[j] = axis_k.resample_row(new_axis, ax,
                                   flat[offs[i]:offs[i + 1]].astype(float))
    return baseline_k.remove_baseline_rows(
        new_axis, x, cfg.baseline_max_width, cfg.baseline_min_width,
        cfg.baseline_increment)


def _aligned(mat: np.ndarray, ref: np.ndarray, axis: np.ndarray,
             cfg: PipelineConfig) -> np.ndarray:
    """Stage 5: every float32 row of ``mat`` PaFFT-aligned to ``ref`` in one
    call over the whole batch, bit-identical to the per-row
    :func:`~..kernels.alignment.pafft` the oracle runs."""
    return alignment.pafft_rows(mat, ref, axis, cfg.pafft_minimum_segment,
                                cfg.pafft_shift_limit)


def _tic_scaled(mat: np.ndarray, tic: float) -> np.ndarray:
    """Stage 6 in the serve (the fit rescales no row): each float32 row
    rescaled to total ``tic`` — float32 row sum, float64 divide, factor
    rounded to float32, float32 multiply. A zero-sum row raises
    ``FloatingPointError`` rather than yielding NaN."""
    with np.errstate(divide="raise", invalid="raise"):
        factors = tic / mat.sum(axis=1).astype(np.float64)
    return mat * factors.astype(np.float32)[:, None]


def with_ts(df: DataFrame, config: PipelineConfig | None = None) -> DataFrame:
    """Derive event time: rank of ``doc_id`` within ``source`` on the fixed
    epoch grid (FIXTURES.md F1). One shuffle on source."""
    config = config or PipelineConfig()
    w = Window.partitionBy("source").orderBy("doc_id")
    return df.withColumn(
        "ts",
        (F.lit(config.epoch_base)
         + (F.row_number().over(w) - 1) * F.lit(config.epoch_step)).cast("long"))


def resample_baseline_stage(df: DataFrame, source_axes: dict[str, np.ndarray],
                            new_axis: np.ndarray,
                            config: PipelineConfig) -> DataFrame:
    """Stages 2+3 fused (:func:`_spectra`): per-row resample onto the
    common axis, then adaptive baseline removal over the whole batch; emits
    the float32 spectrum and its TIC.

    The TIC is the float32 row sum (reference ``pipeline/outlier.py:42``
    sums the float32 matrix) — computed in numpy, not JVM, to stay
    bit-identical with the oracle.
    """
    spark = df.sparkSession
    axes_bc = spark.sparkContext.broadcast(
        {s: np.asarray(a, dtype=float) for s, a in source_axes.items()})
    new_axis_bc = spark.sparkContext.broadcast(np.asarray(new_axis, dtype=float))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        axes, new_ax = axes_bc.value, new_axis_bc.value
        for b in batches:
            out = _spectra(b, axes, new_ax, config, range(b.num_rows))
            names = b.schema.names
            yield pa.RecordBatch.from_arrays(
                [b.column(names.index(c)) for c in ("doc_id", "source", "ts")]
                + [_uniform_list_array(out),
                   pa.array(out.sum(axis=1).astype(np.float64))],
                names=["doc_id", "source", "ts", "spectrum", "tic"])

    return df.mapInArrow(
        run, schema="doc_id string, source string, ts long, "
                    "spectrum array<float>, tic double")


def tic_outlier_thresholds(df: DataFrame,
                           seed: int = 0) -> outlier_k.TicThresholds:
    """TIC outlier thresholds (SURVEY.md §2 A9) from one collect of the
    ``tic`` column: 8 bytes per spectrum, against the few KB per spectrum
    of the stage it is read from. The driver then runs the oracle's own
    kernel, :func:`~..kernels.outlier.detect_thresholds`. An empty ``df``
    raises a ``ValueError``: there is nothing to fit.
    """
    tics = df.select("tic").toPandas()["tic"].to_numpy(dtype=float)
    if tics.size == 0:
        raise ValueError("no spectra to fit: the TIC column is empty")
    return outlier_k.detect_thresholds(tics, seed=seed)


def with_inlier_mask(df: DataFrame, thr: outlier_k.TicThresholds) -> DataFrame:
    """Inlier predicate as a JVM column (reference keeps rows with
    ``not (tic <= B1 or tic >= B2)``)."""
    return df.withColumn(
        "is_inlier",
        ~((F.col("tic") <= F.lit(thr.b1)) | (F.col("tic") >= F.lit(thr.b2))))


def _inlier_means(df: DataFrame, row_vectors) -> np.ndarray:
    """Count-weighted mean across sources of the per-source ``is_inlier``
    mean (``pipeline/_base.py:77-90``) of the float64 rows
    ``row_vectors(batch, mask)`` returns for a batch's inliers, from
    per-(partition, source) partial sums and counts combined on the driver."""

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[str, tuple[np.ndarray, int]] = {}
        for b in batches:
            names = b.schema.names
            mask = b.column(names.index("is_inlier")) \
                .to_numpy(zero_copy_only=False).astype(bool)
            srcs = np.asarray(b.column(names.index("source")).to_pylist(),
                              dtype=object)[mask]
            if not srcs.size:
                continue
            vecs = row_vectors(b, mask)
            for src in sorted(set(srcs)):
                sub = vecs[srcs == src]
                s, c = acc.get(src, (0.0, 0))
                acc[src] = (s + sub.sum(axis=0), c + len(sub))
        if acc:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(acc), type=pa.string()),
                 _uniform_list_array(np.stack([v[0] for v in acc.values()])),
                 pa.array([v[1] for v in acc.values()], type=pa.int64())],
                names=["source", "vec_sum", "n"])

    rows = df.mapInArrow(
        partials, schema="source string, vec_sum array<double>, n long"
    ).collect()
    # total deterministic order: collect() returns partials in task-completion
    # order, and float64 addition is not associative — sort by content so
    # repeated runs produce bit-identical references
    by_src: dict[str, tuple[np.ndarray, int]] = {}
    for r in sorted(rows, key=lambda r: (r["source"], r["n"],
                                         bytes(np.asarray(r["vec_sum"])))):
        s, c = by_src.get(r["source"], (0.0, 0))
        by_src[r["source"]] = (s + np.asarray(r["vec_sum"]), c + r["n"])
    means = [(s / c, c) for _, (s, c) in sorted(by_src.items())]
    return np.average([m for m, _ in means], axis=0,
                      weights=[c for _, c in means])


def masked_mean_reference(df: DataFrame, vec_col: str) -> np.ndarray:
    """Reference spectrum of the float32 ``vec_col`` (oracle stage 5): the
    count-weighted mean across sources of the per-source ``is_inlier`` mean
    (:func:`_inlier_means`)."""
    return _inlier_means(
        df.select("source", vec_col, "is_inlier"),
        lambda b, mask: list_col_matrix(b, vec_col, np.float32)[mask]
        .astype(np.float64))


def aligned_references(df: DataFrame, reference: np.ndarray,
                       mz_axis: np.ndarray,
                       config: PipelineConfig) -> tuple[float, np.ndarray]:
    """Oracle stages 5–7 in one pass: the inlier rows of ``spectrum``
    aligned to ``reference`` inside the UDF (no aligned row leaves it), then
    the :func:`_inlier_means` of ``aligned`` and of ``aligned / row_sum``.
    Returns ``(tic, gmm_reference)``: ``tic`` is the sum of the mean aligned
    row, as in the oracle; ``gmm_reference`` is ``tic`` times the second
    mean, allclose to the oracle's mean of float32-normalized rows. An
    inlier whose aligned row sums to zero raises the oracle's ``ZERO_SUM``
    row error."""
    spark = df.sparkSession
    ref_bc = spark.sparkContext.broadcast(np.asarray(reference, dtype=float))
    ax_bc = spark.sparkContext.broadcast(np.asarray(mz_axis, dtype=float))

    def row_vectors(b: pa.RecordBatch, mask: np.ndarray) -> np.ndarray:
        aligned = _aligned(list_col_matrix(b, "spectrum", np.float32)[mask],
                           ref_bc.value, ax_bc.value, config)
        row_sums = aligned.sum(axis=1)
        zero = np.flatnonzero(row_sums == 0)
        if zero.size:
            raise _row_error(b, int(np.flatnonzero(mask)[zero[0]]), ZERO_SUM)
        vecs = aligned.astype(np.float64)
        return np.hstack([vecs, vecs / row_sums.astype(np.float64)[:, None]])

    means = _inlier_means(
        df.select("doc_id", "source", "spectrum", "is_inlier"), row_vectors)
    mean_aligned, mean_unit = np.split(means, 2)
    tic = float(mean_aligned.sum())
    return tic, tic * mean_unit


def masked_weighted_mean_scalar(df: DataFrame, col: str) -> float:
    """Count-weighted mean across sources of the per-source ``is_inlier``
    mean of a SCALAR column — the scalar analog of :func:`_inlier_means`
    (the fit takes its TIC from :func:`aligned_references`). Pure JVM
    aggregation: per-(partition, source) partial sums, content-sorted
    driver combine for bit-determinism."""
    parts = (df.where(F.col("is_inlier"))
             .groupBy(F.spark_partition_id().alias("pid"), F.col("source"))
             .agg(F.sum(col).alias("s"), F.count("*").alias("n"))
             .collect())
    by_src: dict[str, tuple[float, int]] = {}
    for r in sorted(parts, key=lambda r: (r["source"], r["n"], r["s"])):
        s, c = by_src.get(r["source"], (0.0, 0))
        by_src[r["source"]] = (s + r["s"], c + r["n"])
    means = [v[0] / v[1] for _, v in sorted(by_src.items())]
    counts = [v[1] for _, v in sorted(by_src.items())]
    return float(np.average(np.asarray(means),
                            weights=np.asarray(counts, dtype=float)))


def smooth_stage(df: DataFrame, vec_col: str = "spectrum", window: int = 5,
                 order: int = 2, out_col: str = "smoothed") -> DataFrame:
    """Optional Savitzky–Golay smoothing stage (reference dead-code operator
    W3, ``components/spectrum/smoothing.py``)."""
    from ..kernels import smoothing as smoothing_k

    passthrough = [c for c in df.columns if c != vec_col]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
         if f.name != vec_col] + [f"{out_col} array<double>"])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[passthrough].copy()
            out[out_col] = [
                smoothing_k.savgol_smooth(np.asarray(v, dtype=float),
                                          window, order)
                for v in pdf[vec_col]
            ]
            yield out

    return df.mapInPandas(run, schema=schema)


def detect_peaks_stage(df: DataFrame, mz_axis: np.ndarray,
                       vec_col: str = "spectrum") -> DataFrame:
    """Optional gradient peak detection (reference dead-code operator W4,
    ``components/spectrum/peak.py``): per row → arrays of peak indices /
    m/z / intensities."""
    from ..kernels import smoothing as smoothing_k

    spark = df.sparkSession
    ax_bc = spark.sparkContext.broadcast(np.asarray(mz_axis, dtype=float))
    passthrough = [c for c in df.columns if c != vec_col]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
         if f.name != vec_col]
        + ["peak_indices array<long>", "peak_mz array<double>",
           "peak_counts array<double>"])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ax = ax_bc.value
        for pdf in batches:
            idxs, pmz, pct = [], [], []
            for v in pdf[vec_col]:
                i, m, c = smoothing_k.detect_peaks(ax,
                                                   np.asarray(v, dtype=float))
                idxs.append(i)
                pmz.append(m)
                pct.append(c)
            out = pdf[passthrough].copy()
            out["peak_indices"] = idxs
            out["peak_mz"] = pmz
            out["peak_counts"] = pct
            yield out

    return df.mapInPandas(run, schema=schema)


def export_csv(df: DataFrame, vec_col: str, path: str,
               fmt: str = "%.18e") -> None:
    """CSV matrix exporter (reference ``pipeline/export.py:10-34``): one line
    per row, values formatted with ``fmt``, comma-delimited. Distributed —
    each task formats its partition; output is a directory of CSV shards."""

    def fmt_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "value": [",".join(fmt % x for x in np.asarray(v))
                          for v in pdf[vec_col]]
            })

    (df.select(vec_col).mapInPandas(fmt_rows, schema="value string")
     .write.mode("overwrite").text(path))


def serve_features(df: DataFrame, artifacts: Sequence[ArtifactSet],
                   source_axes: dict[str, np.ndarray],
                   config: PipelineConfig) -> DataFrame:
    """THE hot path: the whole serve step in one ``mapInArrow`` pass.

    The artifact timeline — ``artifacts`` sorted by
    ``(valid_from_ts, version)``, each with its banded Gaussian design built
    once here on the driver — is broadcast with the source axes; no join
    attaches versions to rows. Per Arrow batch, each row's version is the
    last one with ``valid_from_ts <= ts`` (ties go to the greater version);
    its rows run :func:`_spectra` → :func:`_aligned` → :func:`_tic_scaled` →
    convolve → merge against that version. A row with null ``ts`` or a
    ``ts`` before the first version gets null ``artifact_version`` and null
    features — never a leaked artifact. A row whose spectrum sums to zero
    raises ``ValueError`` naming its ``doc_id``, as :func:`_spectra` does.
    """
    spark = df.sparkSession
    timeline = sorted(artifacts, key=lambda a: (a.valid_from_ts, a.version))
    timeline_bc = spark.sparkContext.broadcast([
        (a, convolve_k.build_bands(a.mz_axis, a.gmm_mu, a.gmm_sig, a.gmm_w))
        for a in timeline])
    axes_bc = spark.sparkContext.broadcast(
        {s: np.asarray(a, dtype=float) for s, a in source_axes.items()})
    valid_from = [a.valid_from_ts for a in timeline]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pairs, axes = timeline_bc.value, axes_bc.value
        for b in batches:
            names = b.schema.names
            by_pos: dict[int, list[int]] = {}
            for i, ts in enumerate(b.column(names.index("ts")).to_pylist()):
                pos = -1 if ts is None else bisect_right(valid_from, ts) - 1
                if pos >= 0:
                    by_pos.setdefault(pos, []).append(i)
            versions: list = [None] * b.num_rows
            features: list = [None] * b.num_rows
            for pos, idxs in by_pos.items():
                art, bands = pairs[pos]
                aligned = _aligned(
                    _spectra(b, axes, art.mz_axis, config, idxs),
                    art.pafft_reference, art.mz_axis, config)
                try:
                    rows = _tic_scaled(aligned, art.tic_reference_tic)
                except FloatingPointError as e:
                    zero = np.flatnonzero(aligned.sum(axis=1) == 0)[0]
                    raise _row_error(b, idxs[zero], ZERO_SUM) from e
                merged = merge_k.apply_merging(
                    convolve_k.featurize_batch(rows, bands),
                    art.merge_starts, art.merge_lengths)
                for i, vec in zip(idxs, merged):
                    versions[i], features[i] = art.version, vec
            yield pa.RecordBatch.from_arrays(
                [b.column(names.index(c)) for c in ("doc_id", "source", "ts")]
                + [pa.array(versions, type=pa.int64()),
                   pa.array(features, type=pa.list_(pa.float32()))],
                names=["doc_id", "source", "ts", "artifact_version",
                       "features"])

    return df.mapInArrow(
        run, schema="doc_id string, source string, ts long, "
                    "artifact_version long, features array<float>")
