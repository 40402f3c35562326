"""Scale smoke tests (slow-marked): the skew/volume claims exercised at
10^5-10^6 row scale locally — orders of magnitude above the fast tests,
orders below production, enough to catch super-linear blowups."""

import time

import pytest
from pyspark.sql import functions as F


@pytest.mark.slow
def test_duplicate_spans_long_docs_linear(spark):
    """200 docs x ~5k words (1M grams) with planted shared passages:
    completes, finds every planted span."""
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        duplicate_spans)

    passage = " ".join(f"p{i}" for i in range(20))
    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(0), F.lit(5000)),
                lambda i: F.concat(F.lit("w"), F.col("id").cast("string"),
                                   F.lit("_"), i.cast("string")))),
            F.lit(" " + passage)).alias("text"))
    spans = duplicate_spans(docs, n=8)
    got = spans.groupBy().agg(F.count("*").alias("n"),
                              F.min("span_words").alias("mn")).first()
    assert got["n"] == 200          # one merged span per doc
    assert got["mn"] == 20          # the full planted passage


@pytest.mark.slow
def test_target_encode_hot_category_bucketed_scale(spark):
    """500k rows over THREE categories (the pathological low-cardinality
    case): bucketed two-pass agrees with the plain window on the exact
    sum of encodings and is not pathologically slower."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        target_encode_pit)

    df = spark.range(0, 500_000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("cat"),
        (F.col("id") * 13 % 2_000_000).alias("ts"),
        (F.col("id") % 1000).cast("long").alias("y"))
    kw = dict(ts_col="ts", tiebreak=["id"], prior_weight=5.0,
              prior_value=500.0)
    t0 = time.time()
    plain = target_encode_pit(df, "cat", "y", **kw) \
        .agg(F.sum("te_y")).first()[0]
    t_plain = time.time() - t0
    t0 = time.time()
    bucketed = target_encode_pit(df, "cat", "y", bucket_width=100_000,
                                 **kw).agg(F.sum("te_y")).first()[0]
    t_bucket = time.time() - t0
    assert plain == pytest.approx(bucketed, rel=1e-12)
    assert t_bucket < max(4 * t_plain, 60)


@pytest.mark.slow
def test_decayed_sum_window_strategy_500k(spark):
    """500k events over 1k entities: the JVM window strategy completes and
    matches the scan recurrence on a sampled entity."""
    from msi_preprocessing_pipeline_spark.operators.windows import (
        decayed_sum)

    df = spark.range(0, 500_000).select(
        F.col("id"),
        (F.col("id") % 1000).alias("k"),
        (F.col("id") * 17 % 10_000_000).alias("ms"),
        (F.col("id") % 97).cast("double").alias("x"))
    out = decayed_sum(df, "x", "k", ts_col="ms", tau=1_000_000.0,
                      strategy="window", tiebreak=["id"])
    assert out.count() == 500_000
    one = out.where(F.col("k") == 7)
    scan = decayed_sum(df.where(F.col("k") == 7), "x", "k", ts_col="ms",
                       tau=1_000_000.0, strategy="scan", tiebreak=["id"])
    a = {r["id"]: r["x_decayed"] for r in one.collect()}
    b = {r["id"]: r["x_decayed"] for r in scan.collect()}
    assert set(a) == set(b)
    for i in a:
        assert a[i] == pytest.approx(b[i], rel=1e-9)
