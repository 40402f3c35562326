"""The staged feature pipeline over Spark.

``fit`` runs the reference's artifact-building stages (the Luigi DAG's
aggregate spine, SURVEY.md §3.1) as DataFrame jobs; ``transform`` is the hot
serving path: ONE fused vectorized UDF pass
(``operators.spectrum.serve_features``) that picks each row's artifact
version from the broadcast timeline and featurizes the row under it.

Point-in-time mode (``fit_pit``) fits one artifact version per checkpoint
from the rows at-or-before it; serving guarantees zero temporal leakage (a
row only ever sees an artifact version with ``valid_from_ts <= ts``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels import axis as axis_k, gmm as gmm_k, merge as merge_k
from ..kernels import outlier as outlier_k
from .. import oracle
from ..oracle import PipelineConfig, filter_components
from ..operators import spectrum as sp


class _PersistRunner:
    """The in-memory stage runner behind :meth:`FeaturePipeline.fit`: stages
    are persisted (and unpersisted by :meth:`close`), artifacts are returned
    as built. Same ``run_stage`` / ``run_artifact`` interface as
    :class:`..plans.runner.StageRunner`."""

    def __init__(self):
        self._persisted: list[DataFrame] = []

    def run_stage(self, name: str, build) -> DataFrame:
        df = build().persist()
        self._persisted.append(df)
        return df

    def run_artifact(self, name: str, build):
        return build()

    def close(self) -> None:
        for df in self._persisted:
            df.unpersist()


class FeaturePipeline:
    def __init__(self, spark: SparkSession,
                 source_axes: dict[str, np.ndarray],
                 config: PipelineConfig | None = None):
        self.spark = spark
        self.source_axes = {s: np.asarray(a, dtype=float)
                            for s, a in source_axes.items()}
        self.config = config or PipelineConfig()
        # S9 substitute (reference ``plot.py:6-21`` HTML histogram sink):
        # per-threshold decomposition of the last fit's component filters,
        # exposed as a queryable metrics table via threshold_diagnostics_df()
        self.last_fit_diagnostics: list[dict] = []

    def _maybe_rebalance(self, df: DataFrame) -> DataFrame:
        """Round-robin repartition ONLY when the input is under-partitioned
        for the CPU-bound UDF stages; a well-split scan stays shuffle-free.

        The UDF stages cost ~3 ms/row (baseline + PaFFT), so partitioning
        tracks cores, not bytes: 4× cores measured best (wave balancing)
        while keeping tasks >100 ms. A stream is returned unchanged (its
        partitioning is per micro-batch and ``df.rdd`` cannot run on it)."""
        if df.isStreaming:
            return df
        cores = self.spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < 2 * cores:
            return df.repartition(4 * cores)
        return df

    # ---------------------------------------------------------------- fit

    def common_axis(self) -> np.ndarray:
        """Stage 1 (driver-side: axes are tiny per-source artifacts)."""
        return oracle.common_axis(self.source_axes)

    # the stages and artifacts of _fit in DAG order — targeted recompute
    # (CLI ``recompute --stage X``) invalidates X and everything after it
    CHECKPOINT_ORDER = (
        "mz_axis", "resample_baseline", "tic_thresholds", "pafft_reference",
        "pafft", "tic_reference_tic", "gmm_reference", "artifact_set")

    def fit(self, df: DataFrame, version: int = 1,
            valid_from_ts: int | None = None,
            max_ts: int | None = None) -> sp.ArtifactSet:
        """Fit all artifacts from ``df`` (optionally truncated at ``max_ts``
        for point-in-time fitting), holding the stages in memory. ``df``
        must carry ``ts``."""
        runner = _PersistRunner()
        try:
            return self._fit(df, runner, version, valid_from_ts, max_ts)
        finally:
            runner.close()

    def fit_checkpointed(self, df: DataFrame, runner, version: int = 1,
                         valid_from_ts: int | None = None,
                         max_ts: int | None = None) -> sp.ArtifactSet:
        """Checkpoint-resumable fit: every stage materializes through the
        :class:`..plans.runner.StageRunner`; a rerun (after a crash or kill)
        skips committed stages and produces byte-identical artifacts (the
        Luigi target-existence-skip analog, FIXTURES.md F5)."""
        return self._fit(df, runner, version, valid_from_ts, max_ts)

    def _fit(self, df: DataFrame, runner, version: int,
             valid_from_ts: int | None,
             max_ts: int | None) -> sp.ArtifactSet:
        """The artifact spine over ``runner.run_stage(name, build)`` /
        ``runner.run_artifact(name, build)``, one call per
        :attr:`CHECKPOINT_ORDER` entry. Artifacts are JSON-shaped (lists,
        floats) so either runner returns the same values."""
        cfg = self.config
        self.last_fit_diagnostics = []
        if max_ts is not None:
            df = df.where(F.col("ts") <= F.lit(int(max_ts)))
        mz_axis = np.asarray(runner.run_artifact(
            "mz_axis", lambda: self.common_axis().tolist()))

        stage_a = runner.run_stage(
            "resample_baseline",
            lambda: sp.resample_baseline_stage(
                self._maybe_rebalance(df), self.source_axes,
                mz_axis, cfg))
        thr = outlier_k.TicThresholds(*runner.run_artifact(
            "tic_thresholds",
            lambda: list(sp.tic_outlier_thresholds(stage_a,
                                                   seed=cfg.outlier_seed))))
        masked = sp.with_inlier_mask(stage_a, thr)
        pafft_ref = np.asarray(runner.run_artifact(
            "pafft_reference",
            lambda: sp.masked_mean_reference(masked, "spectrum").tolist()))

        # pafft emits the float64 row sum so the TIC reference is a JVM
        # scalar aggregation (relative to the oracle's np.sum over the mean
        # vector a reordered sum — allclose, not bitwise), and the TIC
        # normalize is fused into the gmm-reference partials: no normalized
        # stage, no extra Arrow round trip.
        stage_b = runner.run_stage(
            "pafft", lambda: sp.pafft_stage(masked, pafft_ref, mz_axis, cfg))
        ref_tic = float(runner.run_artifact(
            "tic_reference_tic",
            lambda: sp.masked_weighted_mean_scalar(stage_b, "aligned_sum")))
        gmm_ref = np.asarray(runner.run_artifact(
            "gmm_reference",
            lambda: sp.masked_mean_reference(
                stage_b, "aligned", scale_to_tic=ref_tic).tolist()))

        def build_model() -> dict:
            # driver-side model fitting on the single reference vector
            n_dense = (cfg.gmm_axis_points or
                       int(cfg.gmm_axis_factor * mz_axis.size))
            dense_axis = axis_k.estimate_new_axis(
                mz_axis, n_dense,
                np.array([float(np.min(mz_axis)), float(np.max(mz_axis))]))
            dense_ref = np.interp(dense_axis, mz_axis, gmm_ref)
            model = gmm_k.estimate_spectrum_gmm(
                dense_axis, dense_ref,
                max_components_per_segment=cfg.gmm_max_components_per_segment,
                rel_threshold=cfg.gmm_rel_threshold)
            diags: list[dict] = []
            keep = filter_components(model, cfg, diagnostics=diags)
            self.last_fit_diagnostics = diags
            mu, sig, w = model.mu[keep], model.sig[keep], model.w[keep]
            merged = merge_k.merge_components(mu, sig, w)
            return sp.ArtifactSet(
                version=version,
                valid_from_ts=int(valid_from_ts if valid_from_ts is not None
                                  else cfg.epoch_base),
                mz_axis=mz_axis, b1=thr.b1, b2=thr.b2,
                pafft_reference=pafft_ref, tic_reference_tic=ref_tic,
                gmm_mu=mu, gmm_sig=sig, gmm_w=w,
                merge_starts=merged.starts,
                merge_lengths=merged.lengths).to_row()

        return sp.ArtifactSet.from_row(
            runner.run_artifact("artifact_set", build_model))

    def fit_pit(self, df: DataFrame, checkpoint_ts: list[int]) \
            -> list[sp.ArtifactSet]:
        """One artifact version per checkpoint, each fitted ONLY from rows
        with ``ts <= checkpoint`` (zero-leakage training passes)."""
        return [
            self.fit(df, version=k + 1, valid_from_ts=ts_k, max_ts=ts_k)
            for k, ts_k in enumerate(sorted(checkpoint_ts))
        ]

    def threshold_diagnostics_df(self) -> DataFrame:
        """The last fit's filter-threshold decomposition (amplitude +
        variance stages) as a small DataFrame — the reference exposes the
        same quantities only as HTML histogram plots."""
        from ..oracle import THRESHOLD_DIAGNOSTICS_SCHEMA
        return self.spark.createDataFrame(
            self.last_fit_diagnostics or [],
            schema=THRESHOLD_DIAGNOSTICS_SCHEMA)

    # ---------------------------------------------------------- transform

    def transform(self, df: DataFrame,
                  artifacts: list[sp.ArtifactSet]) -> DataFrame:
        """Serving: each row featurized under the latest of ``artifacts``
        with ``valid_from_ts <= ts``, in one fused UDF pass; rows with null
        ``ts`` or before the first version yield null features.

        The artifact timeline travels with the UDF as one broadcast, so the
        row side has no join and no shuffle and is inherently skew-immune.
        The serve UDF is CPU-bound per row, so the input goes through
        :meth:`_maybe_rebalance`: a scan that already yields enough splits
        (small ``maxPartitionBytes`` — see ``session.py``) stays
        SHUFFLE-FREE, an under-partitioned one (e.g. one fat file) gets a
        round-robin repartition.
        """
        return sp.serve_features(self._maybe_rebalance(df), artifacts,
                                 self.source_axes, self.config)

    def fit_transform(self, df: DataFrame) -> DataFrame:
        """The reference's batch semantics: fit on everything, apply to
        everything (single artifact version)."""
        return self.transform(df, [self.fit(df)])
