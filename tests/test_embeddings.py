"""Unit tests for operators.embeddings (norms, moments, covariance, PCA,
centroid distances)."""
import math

import numpy as np
import pytest
from pyspark.sql import Row

from msi_preprocessing_pipeline_spark.operators.embeddings import (
    centroid_distance_features, covariance_matrix, embedding_moments,
    embedding_norms, label_centroids, pca_fit, pca_project)


def _vec_df(spark, rows, with_label=False):
    if with_label:
        return spark.createDataFrame(
            [Row(vec_id=i, label=lab, embedding=v) for i, lab, v in rows],
            "vec_id long, label int, embedding array<float>")
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in rows],
        "vec_id long, embedding array<float>")


def test_norms_and_normalize(spark):
    df = _vec_df(spark, [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None)])
    out = {r.vec_id: r for r in embedding_norms(df).collect()}
    assert out[1].l2_norm == pytest.approx(5.0)
    assert out[2].l2_norm == 0.0
    assert out[3].l2_norm is None


def test_moments_match_numpy(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 5)).astype(np.float32)
    df = _vec_df(spark, [(i, [float(x) for x in row])
                         for i, row in enumerate(X)]).repartition(4)
    got = {r.pos: r for r in embedding_moments(df).collect()}
    Xd = X.astype(np.float64)
    for p in range(5):
        assert got[p + 1].n == 40
        assert got[p + 1].mean == pytest.approx(Xd[:, p].mean(), rel=1e-12)
        assert got[p + 1].var == pytest.approx(
            Xd[:, p].var(ddof=1), rel=1e-9)


def test_moments_single_row_null_var(spark):
    df = _vec_df(spark, [(1, [1.0, 2.0])])
    got = {r.pos: r for r in embedding_moments(df).collect()}
    assert got[1].var is None and got[1].mean == 1.0


def test_label_centroids_hand(spark):
    df = _vec_df(spark, [(1, 0, [1.0, 3.0]), (2, 0, [3.0, 5.0]),
                         (3, 1, [10.0, 10.0])], with_label=True)
    got = {(r.label, r.pos): r for r in label_centroids(df).collect()}
    assert got[(0, 1)].mean == pytest.approx(2.0)
    assert got[(0, 2)].mean == pytest.approx(4.0)
    assert got[(0, 1)].n == 2
    assert got[(1, 1)].mean == pytest.approx(10.0)


def test_covariance_matches_numpy_across_partitions(spark):
    rng = np.random.default_rng(11)
    X = rng.normal(size=(60, 4)).astype(np.float32)
    df = _vec_df(spark, [(i, [float(x) for x in row])
                         for i, row in enumerate(X)]).repartition(5)
    got = {(r.i, r.j): r.cov for r in covariance_matrix(df).collect()}
    ref = np.cov(X.astype(np.float64).T, ddof=1)
    for i in range(4):
        for j in range(i, 4):
            assert got[(i + 1, j + 1)] == pytest.approx(
                ref[i, j], rel=1e-9, abs=1e-12)
    assert len(got) == 10  # upper triangle only


def test_covariance_ragged_raises(spark):
    df = _vec_df(spark, [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])]) \
        .coalesce(1)
    with pytest.raises(Exception):
        covariance_matrix(df).collect()


def test_pca_fit_project_matches_numpy(spark):
    rng = np.random.default_rng(3)
    # anisotropic cloud so the top component is unambiguous
    base = rng.normal(size=(80, 3)) * np.array([5.0, 1.0, 0.2])
    Q, _ = np.linalg.qr(rng.normal(size=(3, 3)))
    X = (base @ Q).astype(np.float32)
    df = _vec_df(spark, [(i, [float(x) for x in row])
                         for i, row in enumerate(X)]).repartition(3)
    model = pca_fit(df, k=2)
    Xd = X.astype(np.float64)
    ref_cov = np.cov(Xd.T, ddof=1)
    vals, vecs = np.linalg.eigh(ref_cov)
    order = np.argsort(vals)[::-1][:2]
    assert model.explained_variance == pytest.approx(
        vals[order], rel=1e-6)
    for got_c, ref_c in zip(model.components, vecs[:, order].T):
        if ref_c[int(np.argmax(np.abs(ref_c)))] < 0:
            ref_c = -ref_c
        assert got_c == pytest.approx(ref_c, rel=1e-5, abs=1e-8)
    # projection: centered data times components
    proj = {r.vec_id: np.array(r.pca)
            for r in pca_project(df, model).collect()}
    ref_proj = (Xd - Xd.mean(axis=0)) @ model.components.T
    for i in range(len(X)):
        assert proj[i] == pytest.approx(ref_proj[i], rel=1e-6, abs=1e-9)


def test_pca_validates(spark):
    df = _vec_df(spark, [(1, [1.0, 2.0]), (2, [2.0, 1.0])])
    with pytest.raises(ValueError):
        pca_fit(df, k=5)
    with pytest.raises(ValueError):
        pca_fit(df.where("vec_id < 0"), k=1)


def test_pca_project_null_vector(spark):
    df = _vec_df(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)])
    model = pca_fit(df.where("embedding is not null"), k=1)
    out = {r.vec_id: r.pca for r in pca_project(df, model).collect()}
    assert out[3] is None and out[1] is not None


def test_centroid_distance_features_hand(spark):
    df = _vec_df(spark, [(1, 0, [0.0, 0.0]), (2, 0, [2.0, 0.0]),
                         (3, 1, [10.0, 0.0]), (4, 7, [9.0, 0.0])],
                 with_label=True)
    cents = label_centroids(
        df.where("label in (0, 1)"), "label", "embedding")
    out = {r.vec_id: r for r in
           centroid_distance_features(df, cents).collect()}
    # centroid(0) = (1,0), centroid(1) = (10,0)
    assert out[1].dist_own == pytest.approx(1.0)
    assert out[1].nearest_label == 0
    assert out[1].dist_nearest == pytest.approx(1.0)
    assert out[3].dist_own == pytest.approx(0.0)
    # label 7 has no centroid -> null own, still scored for nearest
    assert out[4].dist_own is None
    assert out[4].nearest_label == 1
    assert out[4].dist_nearest == pytest.approx(1.0)


def test_centroid_distance_empty_centroids_raises(spark):
    df = _vec_df(spark, [(1, 0, [0.0, 0.0])], with_label=True)
    cents = label_centroids(df.where("label < 0"))
    with pytest.raises(ValueError):
        centroid_distance_features(df, cents)


def test_covariance_cross_partition_ragged_raises(spark):
    # each partition is internally consistent (d=2 vs d=3) so only the
    # cross-partition guard can catch it; AQE partition coalescing is
    # disabled so the two partitions genuinely run as separate tasks
    # (merged, the in-batch length check fires instead — also "ragged")
    a = _vec_df(spark, [(1, [1.0, 2.0]), (2, [2.0, 1.0])]).coalesce(1)
    b = _vec_df(spark, [(3, [1.0, 2.0, 3.0]),
                        (4, [3.0, 2.0, 1.0])]).coalesce(1)
    ragged = a.union(b)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        with pytest.raises(Exception, match="ragged"):
            covariance_matrix(ragged).collect()
        with pytest.raises(Exception, match="ragged"):
            pca_fit(ragged, k=1)
    finally:
        spark.conf.set(key, old)


def test_centroid_distance_null_embedding_row(spark):
    df = _vec_df(spark, [(1, 0, [0.0, 0.0]), (2, 0, [2.0, 0.0]),
                         (3, 0, None)], with_label=True)
    cents = label_centroids(df, "label", "embedding")
    out = {r.vec_id: r for r in
           centroid_distance_features(df, cents).collect()}
    assert out[3].dist_own is None
    assert out[3].nearest_label is None
    assert out[3].dist_nearest is None
    assert out[1].dist_own == pytest.approx(1.0)  # others still scored


def test_pca_fit_single_scan_mean_matches(spark):
    rng = np.random.default_rng(5)
    X = rng.normal(size=(30, 4)).astype(np.float32)
    df = _vec_df(spark, [(i, [float(x) for x in row])
                         for i, row in enumerate(X)]).repartition(3)
    model = pca_fit(df, k=2)
    assert model.mean == pytest.approx(
        X.astype(np.float64).mean(axis=0), rel=1e-9, abs=1e-12)
