"""Tests for HLL distinct sketches (operators/sketches.py) and target-mixture
rebalancing (sampling.mixture_sample)."""

import pytest
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.operators.sampling import mixture_sample
from msi_preprocessing_pipeline_spark.operators.sketches import approx_distinct


@pytest.fixture(scope="module")
def users(spark):
    # 3 groups x overlapping user ranges; ~5k distinct per group
    return spark.range(0, 30_000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") % 5_000 + (F.col("id") % 3) * 100_000).alias("user_id"),
        (F.col("id") % 7).alias("day"))


def test_approx_distinct_within_hll_error(users):
    est = {r["grp"]: r["n_distinct"]
           for r in approx_distinct(users, "user_id", "grp", lg_k=12).collect()}
    exact = {r["grp"]: r["n"]
             for r in users.groupBy("grp")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for g in exact:
        # lg_k=12 -> ~1.6% relative standard error; allow 5%
        assert abs(est[g] - exact[g]) / exact[g] < 0.05


def test_sketch_estimate_partition_invariant(users):
    a = approx_distinct(users, "user_id", "grp").collect()
    b = approx_distinct(users.repartition(13, "user_id"),
                        "user_id", "grp").collect()
    assert {r["grp"]: r["n_distinct"] for r in a} == \
           {r["grp"]: r["n_distinct"] for r in b}


# ---------------------------------------------------------------------------
# mixture_sample

@pytest.fixture(scope="module")
def corpus(spark):
    # skewed corpus: 6000 web, 2000 wiki, 400 code, 1000 junk
    return spark.range(0, 9_400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 6_000, "web")
        .when(F.col("id") < 8_000, "wiki")
        .when(F.col("id") < 8_400, "code")
        .otherwise("junk").alias("source"))


def test_mixture_sample_hits_target_proportions(corpus):
    out = mixture_sample(corpus, "doc_id", "source",
                         {"web": 0.5, "wiki": 0.3, "code": 0.2}, seed=1)
    counts = {r["source"]: r["n"]
              for r in out.groupBy("source").agg(F.count("*").alias("n"))
              .collect()}
    assert "junk" not in counts  # unlisted groups dropped
    # binding group: code (400 / 0.2 = 2000 total) -> kept whole
    assert counts["code"] == 400
    total = sum(counts.values())
    for g, w in (("web", 0.5), ("wiki", 0.3), ("code", 0.2)):
        # hash-band sampling has binomial noise; 2000-doc target -> ~3 sigma
        assert counts[g] / total == pytest.approx(w, abs=0.04)


def test_mixture_sample_partition_invariant(corpus):
    w = {"web": 0.5, "wiki": 0.3, "code": 0.2}
    a = sorted(r["doc_id"] for r in
               mixture_sample(corpus, "doc_id", "source", w, seed=1).collect())
    b = sorted(r["doc_id"] for r in
               mixture_sample(corpus.repartition(17), "doc_id", "source", w,
                              seed=1).collect())
    assert a == b


def test_mixture_sample_missing_group_ignored(corpus):
    # a target group absent from the data must not poison the binding ratio
    out = mixture_sample(corpus, "doc_id", "source",
                         {"web": 0.9, "nonexistent": 0.1}, seed=1)
    counts = {r["source"]: r["n"]
              for r in out.groupBy("source").agg(F.count("*").alias("n"))
              .collect()}
    assert set(counts) == {"web"} and counts["web"] == 6_000


def test_mixture_sample_integer_group_keys(spark):
    # group keys need not be strings — the count filter must not stringify
    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).alias("grp"))
    out = mixture_sample(docs, "doc_id", "grp", {0: 0.5, 1: 0.5}, seed=2)
    counts = {r["grp"]: r["n"] for r in
              out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {0, 1}
    assert counts[0] == 500 or counts[1] == 500  # binding group kept whole


# ---------------------------------------------------------------------------
# Count-Min sketch

def test_cms_estimates_are_upper_bounds_and_tight(spark):
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        CountMinSketch, count_min)

    # 20 keys with known skewed counts: key k appears (k+1)*10 times
    df = spark.range(0, 2100).selectExpr(
        "cast(floor((sqrt(8*(id/10.0)+1)-1)/2) as long) as k")
    exact = {r["k"]: r["n"] for r in
             df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    row = count_min(df, "k", eps=1e-3, confidence=0.99, seed=11).first()
    cms = CountMinSketch.from_bytes(bytes(row["cms"]))
    keys = sorted(exact)
    ests = cms.estimate(keys)
    for k, e in zip(keys, ests):
        assert e >= exact[k]                    # CMS never undercounts
        assert e <= exact[k] + 0.01 * cms.total  # eps * total bound


def test_cms_partition_invariant(spark):
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        count_min)

    df = spark.range(0, 5000).select((F.col("id") % 37).alias("k"))
    a = bytes(count_min(df, "k", seed=3).first()["cms"])
    b = bytes(count_min(df.repartition(13), "k", seed=3).first()["cms"])
    assert a == b  # elementwise-add merge is order-invariant


def test_cms_grouped(spark):
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        CountMinSketch, count_min)

    df = spark.range(0, 1000).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 10).alias("k"))
    rows = {r["g"]: r for r in count_min(df, "k", group_by="g").collect()}
    for g in (0, 1):
        cms = CountMinSketch.from_bytes(bytes(rows[g]["cms"]))
        assert cms.total == 500
        # within group g, keys of parity g appear 100x, others 0
        ests = cms.estimate(list(range(10)))
        for k, e in enumerate(ests):
            assert e == (100 if k % 2 == g else 0)


# ---------------------------------------------------------------------------
# Theta sketch set algebra

def test_theta_overlap_exact_mode(spark):
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        theta_overlap)

    # groups A: keys 0..599, B: keys 400..999 -> overlap 200
    df = spark.range(0, 1600).select(
        F.when(F.col("id") < 600, "A").otherwise("B").alias("g"),
        F.when(F.col("id") < 600, F.col("id"))
        .otherwise(F.col("id") - 200).alias("k"))
    row = theta_overlap(df, "k", "g", "A", "B").first()
    assert (row["n_a"], row["n_b"]) == (600, 1000)
    assert row["n_union"] == 1400
    assert row["n_intersection"] == 200
    assert row["n_only_a"] == 400


def test_theta_sketch_partition_invariant(spark):
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        theta_sketches)

    df = spark.range(0, 3000).select(
        F.lit("g").alias("g"), (F.col("id") % 700).alias("k"))
    est = lambda d: d.selectExpr(  # noqa: E731
        "theta_sketch_estimate(theta) as n").first()["n"]
    a = est(theta_sketches(df, "k", "g"))
    b = est(theta_sketches(df.repartition(11), "k", "g"))
    assert a == b == 700


def test_theta_slice_rollup(spark):
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        theta_sketches)

    # per-day slices of one group union to the overall distinct count
    df = spark.range(0, 4000).select(
        (F.col("id") % 5).alias("day"), (F.col("id") % 800).alias("k"))
    slices = theta_sketches(df, "k", ["day"])
    n = (slices.agg(F.expr("theta_union_agg(theta)").alias("u"))
         .selectExpr("theta_sketch_estimate(u) as n").first()["n"])
    assert n == 800


def test_mixture_sample_zero_weight_excludes_group(corpus):
    out = mixture_sample(corpus, "doc_id", "source",
                         {"web": 1.0, "junk": 0.0}, seed=1)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"web"} and counts["web"] == 6_000


def test_theta_overlap_absent_group_is_empty_set(spark):
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        theta_overlap)

    df = spark.createDataFrame([("A", 1), ("A", 2)], "g string, k long")
    row = theta_overlap(df, "k", "g", "A", "B").first()
    assert (row["n_a"], row["n_b"]) == (2, 0)
    assert row["n_union"] == 2 and row["n_intersection"] == 0
    assert row["n_only_a"] == 2
