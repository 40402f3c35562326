"""conformal_qhat / conformal_coverage: textbook rank correctness,
coverage guarantee on exchangeable data, tiny-n honest null, partition
invariance."""
import math

import numpy as np
from pyspark.sql import Row, functions as F

from msi_preprocessing_pipeline_spark.operators.experiment import (
    conformal_coverage, conformal_qhat)


def _df(spark, scores):
    return spark.createDataFrame(
        [Row(s=float(v)) for v in scores], "s double")


def test_rank_and_qhat_match_textbook(spark):
    # scores 1..100: n=100, alpha=0.1 -> rank = ceil(101*0.9) = 91
    scores = list(range(1, 101))
    r = conformal_qhat(_df(spark, scores), "s", alpha=0.1).collect()[0]
    assert (r.n_cal, r.rank_r) == (100, 91)
    assert r.qhat_u == 91_000_000  # the 91st smallest, quantized 1e6
    # duplicates: the running count jumps past the rank inside a tie
    dup = [5.0] * 50 + [7.0] * 50
    r2 = conformal_qhat(_df(spark, dup), "s", alpha=0.1).collect()[0]
    assert r2.qhat_u == 7_000_000  # rank 91 lands in the 7.0 block


def test_tiny_calibration_returns_null(spark):
    # n=3, alpha=0.1: rank = ceil(4*0.9) = 4 > n -> no certifiable qhat
    r = conformal_qhat(_df(spark, [1, 2, 3]), "s", alpha=0.1).collect()[0]
    assert (r.n_cal, r.rank_r, r.qhat_u) == (3, 4, None)


def test_coverage_guarantee_on_exchangeable_data(spark):
    rng = np.random.RandomState(0)
    all_scores = np.abs(rng.normal(0, 1, 4000))
    cal, test = all_scores[:2000], all_scores[2000:]
    qh = conformal_qhat(_df(spark, cal), "s", alpha=0.1)
    cov = conformal_coverage(_df(spark, test), "s", qh).collect()[0]
    assert cov.n_test == 2000
    frac = cov.n_covered / cov.n_test
    # marginal guarantee: >= 1 - alpha in expectation; allow sampling slack
    assert frac > 0.87
    assert frac < 0.95  # and not vacuously 100%


def test_partition_invariance(spark):
    rng = np.random.RandomState(3)
    scores = rng.uniform(0, 10, 500)
    a = conformal_qhat(_df(spark, scores).repartition(1), "s").collect()
    b = conformal_qhat(_df(spark, scores).repartition(13), "s").collect()
    assert a == b


def test_empty_calibration(spark):
    r = conformal_qhat(
        _df(spark, []).where("s is not null"), "s").collect()[0]
    assert r.n_cal == 0 and r.qhat_u is None


def test_mondrian_per_group_matches_global_on_each_slice(spark):
    import numpy as np
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        conformal_qhat_by)

    rng = np.random.RandomState(8)
    rows = [Row(g="a", s=float(v))
            for v in np.abs(rng.normal(0, 1, 300))]
    rows += [Row(g="b", s=float(v))
             for v in np.abs(rng.normal(0, 5, 200))]  # wider slice
    df = spark.createDataFrame(rows, "g string, s double")
    per = {r.g: r for r in
           conformal_qhat_by(df, "s", "g", alpha=0.1).collect()}
    for g in ("a", "b"):
        solo = conformal_qhat(df.where(F.col("g") == g), "s",
                              alpha=0.1).collect()[0]
        assert (per[g].n_cal, per[g].rank_r, per[g].qhat_u) == \
            (solo.n_cal, solo.rank_r, solo.qhat_u), g
    # the wide slice needs a much larger qhat: the group-conditional
    # guarantee a single global qhat cannot give
    assert per["b"].qhat_u > 2 * per["a"].qhat_u


def test_mondrian_tiny_group_null(spark):
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        conformal_qhat_by)
    df = spark.createDataFrame(
        [Row(g="big", s=float(i)) for i in range(100)]
        + [Row(g="tiny", s=1.0), Row(g="tiny", s=2.0)],
        "g string, s double")
    per = {r.g: r for r in
           conformal_qhat_by(df, "s", "g", alpha=0.1).collect()}
    assert per["big"].qhat_u is not None
    assert per["tiny"].qhat_u is None  # rank 3 > n=2: cannot certify
