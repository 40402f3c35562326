"""Spark pipeline vs numpy oracle: allclose parity + zero temporal leakage.

The contract (BASELINE.json north_star): per-row token arrays byte-equal,
per-row merged GMM feature vectors numpy-allclose at every entity×timestamp,
and no row's features change when future rows are removed.
"""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark import oracle
from msi_preprocessing_pipeline_spark.kernels import synth
from msi_preprocessing_pipeline_spark.operators import spectrum as sp
from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline
from msi_preprocessing_pipeline_spark.sources import synthetic

CFG = oracle.PipelineConfig()
SOURCES = {"src-000": 24, "src-001": 12, "src-002": 12}
CHANNELS = 1024


@pytest.fixture(scope="module")
def table(spark):
    df = synthetic.sequences_df(spark, SOURCES, base_channels=CHANNELS,
                                partitions=8)
    df = sp.with_ts(df, CFG).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def axes():
    return synthetic.source_axes_for(SOURCES, CHANNELS)


@pytest.fixture(scope="module")
def oracle_rows():
    return synth.make_table(SOURCES, base_channels=CHANNELS)


def test_tokens_byte_equal(table, oracle_rows):
    got = {r["doc_id"]: np.asarray(r["tokens"], dtype=np.int32)
           for r in table.select("doc_id", "tokens").collect()}
    assert len(got) == len(oracle_rows)
    for doc_id, toks, _n, _src in oracle_rows:
        assert got[doc_id].tobytes() == toks.tobytes(), doc_id


def test_features_allclose_to_oracle(table, axes, oracle_rows):
    pipe = FeaturePipeline(table.sparkSession, axes, CFG)
    art_o, feats_o = oracle.run_pipeline(oracle_rows, axes, CFG)

    art_s = pipe.fit(table)
    # artifact-level parity first (pinpoints divergence early)
    np.testing.assert_allclose(art_s.mz_axis, art_o.mz_axis, rtol=1e-12)
    np.testing.assert_allclose([art_s.b1, art_s.b2], art_o.tic_thresholds,
                               rtol=1e-9)
    np.testing.assert_allclose(art_s.pafft_reference, art_o.pafft_reference,
                               rtol=1e-7)
    np.testing.assert_allclose(art_s.tic_reference_tic,
                               art_o.tic_reference_tic, rtol=1e-7)
    np.testing.assert_allclose(art_s.gmm_mu, art_o.gmm_mu, rtol=1e-5)
    np.testing.assert_allclose(art_s.gmm_sig, art_o.gmm_sig, rtol=1e-4)
    np.testing.assert_allclose(art_s.gmm_w, art_o.gmm_w, rtol=1e-4)
    np.testing.assert_array_equal(art_s.merge_starts, art_o.merge_starts)

    got = pipe.transform(table, [art_s]).toPandas()
    by_doc = {r.doc_id: np.asarray(r.features, dtype=np.float32)
              for r in got.itertuples()}
    for (doc_id, *_), expected in zip(oracle_rows, feats_o):
        np.testing.assert_allclose(by_doc[doc_id], expected, rtol=2e-4,
                                   atol=1e-3, err_msg=doc_id)


def test_transform_partitioning_invariant(table, axes):
    """One input partition (the round-robin rebalance branch) and eight
    (the shuffle-free branch) serve identical features."""
    pipe = FeaturePipeline(table.sparkSession, axes, CFG)
    art = pipe.fit(table)
    split = pipe.transform(table, [art]).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    single = pipe.transform(table.coalesce(1), [art]).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert table.rdd.getNumPartitions() == 8
    assert split["doc_id"].equals(single["doc_id"])
    assert split["artifact_version"].equals(single["artifact_version"])
    for a, b in zip(split["features"], single["features"]):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))


def test_zero_temporal_leakage(table, axes):
    """PIT features of early rows must be identical whether or not future
    rows exist (FIXTURES.md F5)."""
    pipe = FeaturePipeline(table.sparkSession, axes, CFG)
    ts_values = sorted(r.ts for r in table.select("ts").distinct().collect())
    t_mid = ts_values[len(ts_values) // 2]

    arts_full = pipe.fit_pit(table, [CFG.epoch_base, t_mid])
    feats_full = pipe.transform(table, arts_full).toPandas()

    truncated = table.where(f"ts <= {t_mid}")
    arts_trunc = pipe.fit_pit(truncated, [CFG.epoch_base, t_mid])
    feats_trunc = pipe.transform(truncated, arts_trunc).toPandas()

    full_by_doc = {r.doc_id: (r.artifact_version,
                              np.asarray(r.features, dtype=np.float32))
                   for r in feats_full.itertuples()}
    n_checked = 0
    for r in feats_trunc.itertuples():
        ver_full, f_full = full_by_doc[r.doc_id]
        assert ver_full == r.artifact_version
        np.testing.assert_array_equal(
            f_full, np.asarray(r.features, dtype=np.float32),
            err_msg=f"leakage at {r.doc_id}")
        n_checked += 1
    assert n_checked == truncated.count()
    # version-2 artifacts were fitted from rows <= t_mid only; rows after
    # t_mid in the full run must use version 2, not anything refitted later
    late = feats_full[feats_full.ts > t_mid]
    assert (late["artifact_version"] == 2).all()


def test_wide_channel_parity_4096(spark):
    """FIXTURES.md F1: one test at token length 4,096 — full fit+transform
    parity at the wide-channel shape (smaller row count to bound runtime)."""
    sources = {"src-000": 6, "src-001": 6}
    channels = 4096
    df = sp.with_ts(synthetic.sequences_df(spark, sources,
                                           base_channels=channels), CFG)
    axes = synthetic.source_axes_for(sources, channels)
    rows = synth.make_table(sources, base_channels=channels)

    art_o, feats_o = oracle.run_pipeline(rows, axes, CFG)
    pipe = FeaturePipeline(spark, axes, CFG)
    art_s = pipe.fit(df)
    np.testing.assert_allclose(art_s.pafft_reference, art_o.pafft_reference,
                               rtol=1e-7)
    np.testing.assert_allclose(art_s.gmm_mu, art_o.gmm_mu, rtol=1e-5)
    got = pipe.transform(df, [art_s]).toPandas()
    by_doc = {r.doc_id: np.asarray(r.features, dtype=np.float32)
              for r in got.itertuples()}
    for (doc_id, *_), expected in zip(rows, feats_o):
        np.testing.assert_allclose(by_doc[doc_id], expected, rtol=2e-4,
                                   atol=1e-3, err_msg=doc_id)


def test_rows_before_first_checkpoint_get_null_features(table, axes):
    pipe = FeaturePipeline(table.sparkSession, axes, CFG)
    ts_values = sorted(r.ts for r in table.select("ts").distinct().collect())
    t_first = ts_values[3]
    arts = pipe.fit_pit(table, [t_first])
    got = pipe.transform(table, arts).toPandas()
    early = got[got.ts < t_first]
    assert len(early) > 0
    assert early["features"].isna().all()
    assert early["artifact_version"].isna().all()


def test_short_token_row_error_names_the_row(table, axes):
    """A row whose token count is not its source axis length fails the fit
    and the serve with an error naming its doc_id and both lengths."""
    pipe = FeaturePipeline(table.sparkSession, axes, CFG)
    bad_id, bad_src = table.orderBy(F.desc("doc_id")).select(
        "doc_id", "source").first()
    short = table.withColumn(
        "tokens", F.when(F.col("doc_id") == bad_id, F.slice("tokens", 1, 10))
        .otherwise(F.col("tokens")))
    reason = (rf"doc_id={re.escape(repr(bad_id))} "
              rf"source={re.escape(repr(bad_src))}: 10 tokens != "
              rf"source axis length {axes[bad_src].size}")
    with pytest.raises(Exception, match=reason):
        pipe.fit(short)
    art = pipe.fit(table)
    with pytest.raises(Exception, match=reason):
        pipe.transform(short, [art]).collect()


def test_unknown_source_row_error_names_the_row(table, axes):
    """A row whose source has no m/z axis fails the serve with an error
    naming its doc_id — never silent null features."""
    pipe = FeaturePipeline(table.sparkSession, axes, CFG)
    bad_id = table.orderBy(F.desc("doc_id")).select("doc_id").first()[0]
    unknown = table.withColumn(
        "source", F.when(F.col("doc_id") == bad_id, F.lit("zzz"))
        .otherwise(F.col("source")))
    art = pipe.fit(table)
    with pytest.raises(Exception, match=(
            rf"doc_id={re.escape(repr(bad_id))} source='zzz': "
            "no m/z axis artifact for the source")):
        pipe.transform(unknown, [art]).collect()


def test_serve_version_pick(spark):
    """Each row is served under the greatest (valid_from_ts, version) with
    valid_from_ts <= ts, whatever order the versions are passed in; a null
    ts or a ts before the first version gets no version and no features."""
    sources = {"src-000": 4, "src-001": 3}
    axes = synthetic.source_axes_for(sources, 512)
    pipe = FeaturePipeline(spark, axes, CFG)
    ax = pipe.common_axis()

    def art(version, valid_from_ts, tic):
        return sp.ArtifactSet(
            version=version, valid_from_ts=valid_from_ts, mz_axis=ax,
            b1=float("-inf"), b2=float("inf"),
            pafft_reference=np.ones(ax.size), tic_reference_tic=tic,
            gmm_mu=np.array([ax[ax.size // 3], ax[2 * ax.size // 3]]),
            gmm_sig=np.array([2.0, 3.0]), gmm_w=np.array([0.5, 0.5]),
            merge_starts=np.array([0, 1]), merge_lengths=np.array([1, 1]))

    arts = [art(3, 200, 3000.0), art(1, 100, 1000.0), art(2, 200, 2000.0)]
    ts = [None, 50, 100, 150, 199, 200, 10**6]
    rows = [(doc_id, toks.tolist(), int(n), src, t)
            for (doc_id, toks, n, src), t in
            zip(synth.make_table(sources, base_channels=512), ts)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, "
              "ts long")

    def picked(t):
        fits = [(a.valid_from_ts, a.version) for a in arts
                if t is not None and a.valid_from_ts <= t]
        return max(fits)[1] if fits else None

    got = {r["doc_id"]: r for r in pipe.transform(df, arts).collect()}
    assert [got[r[0]]["artifact_version"] for r in rows] == \
        [picked(t) for t in ts] == [None, None, 1, 1, 1, 3, 3]
    for version in (1, 3):
        alone = {r["doc_id"]: r["features"] for r in pipe.transform(
            df, [a for a in arts if a.version == version]).collect()}
        for doc_id, r in got.items():
            if r["artifact_version"] == version:
                assert r["features"] == alone[doc_id] != [0.0, 0.0]
    assert all(r["features"] is None for r in got.values()
               if r["artifact_version"] is None)


@pytest.mark.parametrize("width", [7, 512, 1033, 4096])
def test_tic_scaled_is_the_per_row_rescale(width):
    """The vectorized TIC rescale is bitwise the per-row loop it replaced
    (float32 row sum, float64 divide, float32 multiply)."""
    rng = np.random.default_rng(width)
    mat = (rng.random((9, width)) * 1e3).astype(np.float32)
    tic = 12345.6789
    loop = np.stack([r * (tic / float(r.sum())) for r in mat])
    assert loop.dtype == np.float32
    np.testing.assert_array_equal(sp._tic_scaled(mat, tic), loop)


def test_tic_scaled_rejects_zero_sum_row():
    mat = np.ones((3, 8), dtype=np.float32)
    mat[1] = 0.0
    with pytest.raises(FloatingPointError):
        sp._tic_scaled(mat, 100.0)
