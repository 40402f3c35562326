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
the fit stages and the serve UDF are thin ``mapInArrow`` bodies over it, so
serving applies exactly the stage arithmetic the fit used.

No per-row Python at the DataFrame level: the per-row loops live inside the
UDF over numpy arrays (the reference's ``Pool.map(chunksize=800)`` analog is
``spark.sql.execution.arrow.maxRecordsPerBatch=800``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels import alignment, axis as axis_k, baseline as baseline_k
from ..kernels import convolve as convolve_k, merge as merge_k
from ..kernels import outlier as outlier_k
from ..oracle import PipelineConfig
from .quantiles import COLLECT_THRESHOLD, matlab_quantiles


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


def _matrix(batch: "pa.RecordBatch", name: str) -> np.ndarray:
    """[n, w] numpy view of a list column whose rows all have length w."""
    flat, offs = _list_col_np(batch, name)
    n = batch.num_rows
    width = int(offs[1] - offs[0]) if n else 0
    assert offs[-1] - offs[0] == n * width, f"ragged {name} column"
    return flat[offs[0]:offs[-1]].reshape(n, width)


# --------------------------------------------------------------------------
# The per-row spectrum chain. The fit stages and the serve UDF call these and
# nothing else per row, so serving applies exactly the fit's arithmetic.

def _spectra(batch: "pa.RecordBatch", axes: dict[str, np.ndarray],
             new_axis: np.ndarray, cfg: PipelineConfig,
             rows: Sequence[int]) -> np.ndarray:
    """Stages 2+3 for ``rows`` of ``batch``: each row's ``tokens`` resampled
    from its source's m/z axis onto ``new_axis``, then baseline-removed.
    Returns float32 ``[len(rows), new_axis.size]``.

    A row whose source has no axis, or whose token count (0 for empty or
    null ``tokens``) differs from its source axis length, raises
    ``ValueError`` naming the row's ``doc_id``."""
    names = batch.schema.names
    tokens = batch.column(names.index("tokens"))
    flat, offs = _list_col_np(batch, "tokens")
    nulls = tokens.is_null().to_numpy(zero_copy_only=False)
    srcs = batch.column(names.index("source")).to_pylist()
    out = np.empty((len(rows), new_axis.size), dtype=np.float32)
    for j, i in enumerate(rows):
        ax = axes.get(srcs[i])
        n_tok = 0 if nulls[i] else int(offs[i + 1] - offs[i])
        if ax is None or n_tok != ax.size:
            doc_id = batch.column(names.index("doc_id"))[i].as_py()
            reason = ("no m/z axis artifact for the source" if ax is None
                      else f"{n_tok} tokens != source axis length {ax.size}")
            raise ValueError(
                f"row doc_id={doc_id!r} source={srcs[i]!r}: {reason}")
        x = axis_k.resample_row(new_axis, ax,
                                flat[offs[i]:offs[i + 1]].astype(float))
        out[j] = baseline_k.remove_baseline(
            new_axis, x, cfg.baseline_max_width, cfg.baseline_min_width,
            cfg.baseline_increment)
    return out


def _aligned(mat: np.ndarray, ref: np.ndarray, axis: np.ndarray,
             cfg: PipelineConfig) -> np.ndarray:
    """Stage 5: each float32 row of ``mat`` PaFFT-aligned to ``ref``."""
    out = np.empty_like(mat)
    for i, row in enumerate(mat):
        out[i] = alignment.pafft(row, ref, axis, cfg.pafft_minimum_segment,
                                 cfg.pafft_shift_limit)
    return out


def _tic_scaled(mat: np.ndarray, tic: float) -> np.ndarray:
    """Stage 6: each float32 row rescaled to total ``tic`` — float32 row sum,
    float64 divide, factor rounded to float32, float32 multiply. A zero-sum
    row raises ``FloatingPointError`` rather than yielding NaN."""
    with np.errstate(divide="raise", invalid="raise"):
        factors = tic / mat.sum(axis=1).astype(np.float64)
    return mat * factors.astype(np.float32)[:, None]


_BANDS_CACHE: dict[tuple, "convolve_k.ComponentBands"] = {}


def _bands_for(art: "ArtifactSet") -> "convolve_k.ComponentBands":
    """Per-worker-process cache of the banded Gaussian design.

    ``build_bands`` runs per (axis, model); without this cache every TASK
    paid it (reused Python workers run many tasks), a fixed cost that grows
    with task count and erodes scaling efficiency at high parallelism."""
    key = (art.version, art.valid_from_ts, art.gmm_mu.size,
           hash(art.gmm_mu.tobytes()), hash(art.mz_axis.tobytes()))
    bands = _BANDS_CACHE.get(key)
    if bands is None:
        bands = convolve_k.build_bands(art.mz_axis, art.gmm_mu, art.gmm_sig,
                                       art.gmm_w)
        if len(_BANDS_CACHE) > 16:
            _BANDS_CACHE.clear()
        _BANDS_CACHE[key] = bands
    return bands


ARTIFACT_SCHEMA = (
    "version int, valid_from_ts long, mz_axis array<double>, b1 double, "
    "b2 double, pafft_reference array<double>, tic_reference_tic double, "
    "gmm_mu array<double>, gmm_sig array<double>, gmm_w array<double>, "
    "merge_starts array<long>, merge_lengths array<long>"
)


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
    """Stages 2+3 fused: per-row resample onto the common axis + adaptive
    baseline removal; emits the float32 spectrum and its TIC.

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


def tic_outlier_thresholds(df: DataFrame, tic_col: str = "tic",
                           seed: int = 0) -> outlier_k.TicThresholds:
    """Distributed two-phase outlier thresholding (SURVEY.md §2 A9).

    Phase 1 is three distributed exact-quantile/extrema passes over scalar
    columns (never the spectra); phase 2 is the seeded driver Monte Carlo.
    """
    n = df.count()
    if n < outlier_k.MIN_POPULATION:
        return outlier_k.TicThresholds(b1=float("-inf"), b2=float("inf"))
    if n <= COLLECT_THRESHOLD:
        # the TIC column is one scalar per row — below the driver-safe bound,
        # one collect replaces ~6 quantile/extrema jobs and runs the exact
        # numpy phase-1 directly (identical arithmetic to the distributed
        # path by construction)
        tics = (df.select(tic_col).toPandas()[tic_col]
                .to_numpy(dtype=float))
        from ..kernels.stats import median_and_iqr
        if median_and_iqr(tics)[1] == 0.0:
            return outlier_k.TicThresholds(b1=float("-inf"), b2=float("inf"))
        return outlier_k.thresholds_from_stats(
            outlier_k.tic_stats_numpy(tics), seed=seed)
    q25, q50, q75 = matlab_quantiles(df, tic_col, [0.25, 0.5, 0.75])
    tic_iqr = q75 - q25
    if tic_iqr == 0.0:
        return outlier_k.TicThresholds(b1=float("-inf"), b2=float("inf"))
    mn, mx = df.agg(F.min(tic_col), F.max(tic_col)).first()
    min_norm = (float(mn) - q50) / tic_iqr
    max_norm = (float(mx) - q50) / tic_iqr
    min_r = 0.1
    max_r = (max_norm - min_norm) + 0.1

    med_b, iqr_b, minn_b = float(q50), float(tic_iqr), float(min_norm)

    max_r_b = float(max_r)

    @F.pandas_udf("double")
    def w_col(t: pd.Series) -> pd.Series:
        w = outlier_k.w_transform(t.to_numpy(dtype=float), med_b, iqr_b,
                                  minn_b, 0.1, max_r_b)
        return pd.Series(np.asarray(w, dtype=float))

    with_w = df.select(F.col(tic_col)).withColumn("w", w_col(F.col(tic_col)))
    wq = matlab_quantiles(with_w, "w", [0.1, 0.25, 0.5, 0.75, 0.9])
    stats = outlier_k.TicStats(
        tic_median=float(q50), tic_iqr=float(tic_iqr),
        min_normalized=float(min_norm), min_r=min_r, max_r=float(max_r),
        w_q10=float(wq[0]), w_q25=float(wq[1]), w_median=float(wq[2]),
        w_q75=float(wq[3]), w_q90=float(wq[4]), n=int(n))
    return outlier_k.thresholds_from_stats(stats, seed=seed)


def with_inlier_mask(df: DataFrame, thr: outlier_k.TicThresholds,
                     tic_col: str = "tic") -> DataFrame:
    """Inlier predicate as a JVM column (reference keeps rows with
    ``not (tic <= B1 or tic >= B2)``)."""
    return df.withColumn(
        "is_inlier",
        ~((F.col(tic_col) <= F.lit(thr.b1)) | (F.col(tic_col) >= F.lit(thr.b2))))


def masked_mean_reference(df: DataFrame, vec_col: str,
                          mask_col: str = "is_inlier",
                          scale_to_tic: float | None = None) -> np.ndarray:
    """Reference-spectrum aggregation (``pipeline/_base.py:77-90``):
    per-source inlier mean, count-weighted average across sources.

    Scalable shape: per-partition float64 partial sums (tiny: one vector per
    (partition × source)) → driver combine. No applyInPandas group
    materialization, no skew sensitivity.

    ``scale_to_tic`` fuses the TIC normalize (oracle stage 6) into this
    pass: each float32 row goes through :func:`_tic_scaled` — the same
    function the serve UDF calls — before float64 accumulation, without
    shipping the normalized vectors through another Arrow round trip.
    Oracle stage 6 divides in float32 where :func:`_tic_scaled` rounds a
    float64 factor to float32, so the normalized rows match the oracle's to
    one float32 rounding — allclose, not bitwise.
    """

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[str, tuple[np.ndarray, int]] = {}
        for b in batches:
            names = b.schema.names
            mat = _matrix(b, vec_col)
            mask = b.column(names.index(mask_col)) \
                .to_numpy(zero_copy_only=False).astype(bool)
            srcs = np.asarray(
                b.column(names.index("source")).to_pylist(), dtype=object)
            for src in sorted(set(srcs[mask])):
                sub = mat[mask & (srcs == src)]
                if scale_to_tic is not None:
                    sub = _tic_scaled(sub, scale_to_tic)
                s, c = acc.get(src, (0.0, 0))
                acc[src] = (s + sub.astype(np.float64).sum(axis=0),
                            c + len(sub))
        if acc:
            keys = list(acc)
            mat = np.stack([acc[k][0] for k in keys])
            yield pa.RecordBatch.from_arrays(
                [pa.array(keys, type=pa.string()),
                 _uniform_list_array(mat),
                 pa.array(np.array([acc[k][1] for k in keys],
                                   dtype=np.int64))],
                names=["source", "vec_sum", "n"])

    rows = (df.select("source", vec_col, mask_col)
            .mapInArrow(partials,
                        schema="source string, vec_sum array<double>, n long")
            .collect())
    # total deterministic order: collect() returns partials in task-completion
    # order, and float64 addition is not associative — sort by content so
    # repeated runs produce bit-identical references
    def _key(r):
        return (r["source"], r["n"], bytes(np.asarray(r["vec_sum"])))

    by_src: dict[str, tuple[np.ndarray, int]] = {}
    for r in sorted(rows, key=_key):
        s, c = by_src.get(r["source"], (0.0, 0))
        by_src[r["source"]] = (s + np.asarray(r["vec_sum"]), c + r["n"])
    refs = [v[0] / v[1] for _, v in sorted(by_src.items())]
    counts = [v[1] for _, v in sorted(by_src.items())]
    return np.average(np.asarray(refs), axis=0, weights=np.asarray(counts))


def masked_weighted_mean_scalar(df: DataFrame, col: str,
                                mask_col: str = "is_inlier") -> float:
    """Count-weighted mean across sources of the per-source inlier mean of a
    SCALAR column — the scalar analog of :func:`masked_mean_reference`
    (used for the TIC reference: ``Σ_channels mean_vector`` ==
    ``mean of row sums``). Pure JVM aggregation: per-(partition, source)
    partial sums, content-sorted driver combine for bit-determinism."""
    parts = (df.where(F.col(mask_col))
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


def pafft_stage(df: DataFrame, reference: np.ndarray, mz_axis: np.ndarray,
                config: PipelineConfig) -> DataFrame:
    """Stage 5: PaFFT alignment of ``spectrum`` against the broadcast
    reference. Replaces ``spectrum`` with ``aligned`` and adds
    ``aligned_sum`` (float64 row sum of the aligned float32 row) so the TIC
    reference runs as a JVM aggregation instead of another full-vector Arrow
    pass."""
    spark = df.sparkSession
    ref_bc = spark.sparkContext.broadcast(np.asarray(reference, dtype=float))
    ax_bc = spark.sparkContext.broadcast(np.asarray(mz_axis, dtype=float))
    passthrough = [c for c in df.columns if c != "spectrum"]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
         if f.name != "spectrum"]
        + ["aligned array<float>", "aligned_sum double"])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ref, ax = ref_bc.value, ax_bc.value
        for b in batches:
            out = _aligned(_matrix(b, "spectrum"), ref, ax, config)
            names = b.schema.names
            yield pa.RecordBatch.from_arrays(
                [b.column(names.index(c)) for c in passthrough]
                + [_uniform_list_array(out),
                   pa.array(out.sum(axis=1, dtype=np.float64))],
                names=passthrough + ["aligned", "aligned_sum"])

    return df.mapInArrow(run, schema=schema)


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


def serve_features(df: DataFrame, artifact_versions: dict[int, ArtifactSet],
                   source_axes: dict[str, np.ndarray],
                   config: PipelineConfig) -> DataFrame:
    """THE hot path: fused serving UDF. Rows arrive already as-of-joined to an
    ``artifact_version``; one ``mapInArrow`` pass runs, per version,
    :func:`_spectra` → :func:`_aligned` → :func:`_tic_scaled` → convolve →
    merge against the broadcast artifact set of that version. Rows with no
    artifact version (ts before the first checkpoint) get null features —
    never a leaked artifact.
    """
    spark = df.sparkSession
    arts_bc = spark.sparkContext.broadcast(artifact_versions)
    axes_bc = spark.sparkContext.broadcast(
        {s: np.asarray(a, dtype=float) for s, a in source_axes.items()})

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        arts, axes = arts_bc.value, axes_bc.value
        for b in batches:
            names = b.schema.names
            vers = b.column(names.index("artifact_version"))
            features: list = [None] * b.num_rows
            by_ver: dict[int, list[int]] = {}
            for i, v in enumerate(vers.to_pylist()):
                if v is not None:
                    by_ver.setdefault(int(v), []).append(i)
            for ver, idxs in by_ver.items():
                art = arts.get(ver)
                if art is None:
                    continue
                rows = _tic_scaled(
                    _aligned(_spectra(b, axes, art.mz_axis, config, idxs),
                             art.pafft_reference, art.mz_axis, config),
                    art.tic_reference_tic)
                feats = convolve_k.featurize_batch(rows, _bands_for(art))
                merged = merge_k.apply_merging(feats, art.merge_starts,
                                               art.merge_lengths)
                for i, vec in zip(idxs, merged):
                    features[i] = vec
            yield pa.RecordBatch.from_arrays(
                [b.column(names.index(c)) for c in ("doc_id", "source", "ts")]
                + [vers.cast(pa.int64()),
                   pa.array(features, type=pa.list_(pa.float32()))],
                names=["doc_id", "source", "ts", "artifact_version",
                       "features"])

    return df.mapInArrow(
        run, schema="doc_id string, source string, ts long, "
                    "artifact_version long, features array<float>")
