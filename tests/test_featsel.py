"""corr_matrix: pandas parity on quantized inputs, pairwise-complete
nulls, partition invariance, zero-variance nulls and the 2^53 exactness
guard."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row

from msi_preprocessing_pipeline_spark.operators.featsel import corr_matrix


def _pdf(n=400, seed=7):
    rng = np.random.RandomState(seed)
    x = rng.uniform(-3, 3, n)
    return pd.DataFrame({
        "x": x,
        "y": 2.0 * x + rng.normal(0, 0.5, n),   # strongly correlated
        "z": rng.uniform(0, 10, n),             # independent
        "w": -x + rng.normal(0, 2.0, n),        # negatively correlated
    })


def _quantized(pdf, scale=4):
    return np.floor(pdf * 10.0 ** scale + 0.5) / 10.0 ** scale


def _collect(df):
    return {(r.feat_a, r.feat_b): r for r in df.collect()}


def test_matches_pandas_on_quantized_inputs(spark):
    pdf = _pdf()
    got = _collect(corr_matrix(spark.createDataFrame(pdf),
                               ["x", "y", "z", "w"], scales=4))
    exp = _quantized(pdf).corr()
    assert len(got) == 6
    for (a, b), r in got.items():
        assert r.n == len(pdf)
        assert abs(r.corr_u / 1e6 - exp.loc[a, b]) < 2e-6, (a, b)
    assert got[("x", "y")].corr_u > 900_000
    assert got[("x", "w")].corr_u < -300_000
    assert abs(got[("x", "z")].corr_u) < 200_000


def test_pairwise_complete_nulls(spark):
    pdf = _pdf(200)
    pdf.loc[:49, "y"] = np.nan   # y missing on 50 rows
    pdf.loc[25:99, "z"] = np.nan
    got = _collect(corr_matrix(spark.createDataFrame(pdf),
                               ["x", "y", "z"], scales=4))
    assert got[("x", "y")].n == 150
    assert got[("y", "z")].n == 100  # overlap of both non-null masks
    exp = _quantized(pdf).corr()  # pandas is pairwise-complete too
    for (a, b), r in got.items():
        assert abs(r.corr_u / 1e6 - exp.loc[a, b]) < 2e-6


def test_partition_invariance(spark):
    pdf = _pdf(300)
    a = corr_matrix(spark.createDataFrame(pdf).repartition(1),
                    ["x", "y", "w"], scales=4)
    b = corr_matrix(spark.createDataFrame(pdf).repartition(13),
                    ["x", "y", "w"], scales=4)
    av = {(r.feat_a, r.feat_b): r.corr_u for r in a.collect()}
    bv = {(r.feat_a, r.feat_b): r.corr_u for r in b.collect()}
    assert av == bv  # exact int equality, not allclose


def test_zero_variance_and_tiny_n(spark):
    df = spark.createDataFrame(
        [Row(c=1.0, v=float(i)) for i in range(10)])
    got = _collect(corr_matrix(df, ["c", "v"], scales=6))
    assert got[("c", "v")].corr_u is None  # zero variance side
    one = spark.createDataFrame([Row(a=1.0, b=2.0)])
    got1 = _collect(corr_matrix(one, ["a", "b"], scales=6))
    assert got1[("a", "b")].corr_u is None  # n=1: both dens are 0


def test_exactness_guard_fires(spark):
    # scale 6 on ~1e3 values: derived moments ≈ 4e22 — far past 2^53
    # but inside decimal(38,0)
    df = spark.createDataFrame(
        [Row(a=float(i) * 7.3, b=float(i) * 7.3 + 1.0)
         for i in range(1, 200)])
    with pytest.raises(Exception, match="2\\^53"):
        corr_matrix(df, ["a", "b"], scales=6).collect()


def test_validation_errors(spark):
    df = spark.createDataFrame([Row(a=1.0, b=2.0)])
    with pytest.raises(ValueError, match="at least 2"):
        corr_matrix(df, ["a"])
    with pytest.raises(ValueError, match="scale"):
        corr_matrix(df, ["a", "b"], scales={"a": 6})
