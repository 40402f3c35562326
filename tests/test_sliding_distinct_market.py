"""sliding_distinct (exact trailing distinct counts via presence
intervals) and basket co-occurrence / association rules."""

import random

import pytest
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.operators.market import association_rules
from msi_preprocessing_pipeline_spark.operators.windows import (
    sliding_distinct)


def test_sliding_distinct_matches_brute_force(spark):
    rng = random.Random(17)
    ev = [(i, rng.randint(1, 8), rng.randint(0, 500)) for i in range(200)]
    # same-(key,ts) duplicates and a null ts / null key row
    ev += [(900, 1, 100), (901, 1, 100), (902, None, 50), (903, 2, None)]
    evdf = spark.createDataFrame(ev, "eid long, uid long, ms long")
    labels = spark.createDataFrame(
        [(j, rng.randint(-10, 520)) for j in range(60)],
        "lid long, ms long")
    for w in (1, 37, 500):
        got = {r["lid"]: r["n_distinct"] for r in sliding_distinct(
            labels, evdf.select("uid", "ms"), "uid", w).collect()}
        for lid, t in labels.collect():
            exp = len({u for _, u, ms in ev
                       if u is not None and ms is not None
                       and t - w < ms <= t})
            assert got[lid] == exp, (lid, t, w)


def test_sliding_distinct_keeps_unmatched_labels_at_zero(spark):
    evdf = spark.createDataFrame([(1, 100)], "uid long, ms long")
    labels = spark.createDataFrame([(1, 50), (2, 100), (3, 1000)],
                                   "lid long, ms long")
    got = {r["lid"]: r["n_distinct"]
           for r in sliding_distinct(labels, evdf, "uid", 10).collect()}
    assert got == {1: 0, 2: 1, 3: 0}


def test_sliding_distinct_intervals_bounded_for_range_join(spark):
    """One-event keys must NOT create unbounded intervals: with the
    window cap every interval takes the bucketized branch, so the plan
    succeeds even with max_wide=0 wide intervals allowed."""
    evdf = spark.createDataFrame([(u, 1000 * u) for u in range(1, 30)],
                                 "uid long, ms long")
    labels = spark.createDataFrame([(1, 5000)], "lid long, ms long")
    out = sliding_distinct(labels, evdf, "uid", 2500)
    # events at 3000, 4000, 5000 are within (2500, 5000]
    assert out.first()["n_distinct"] == 3
    with pytest.raises(ValueError):
        sliding_distinct(labels, evdf, "uid", 0)


def _pair_counts(rules):
    """Unordered pair counts from the directed rules: each pair appears
    once as ``antecedent < consequent``."""
    return {(r["antecedent"], r["consequent"]): r["n_pair"]
            for r in rules.collect() if r["antecedent"] < r["consequent"]}


def test_cooccurrence_presence_not_multiplicity(spark):
    rows = [(1, "a"), (1, "b"), (1, "b"), (1, "c"),
            (2, "a"), (2, "b"), (3, "a"), (3, None), (None, "x")]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = _pair_counts(association_rules(df, "basket", "item"))
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}
    # min_count filter
    got2 = _pair_counts(association_rules(df, "basket", "item",
                                          min_count=2))
    assert got2 == {("a", "b"): 2}


def test_cooccurrence_max_basket_guard(spark):
    rows = [(1, f"i{k}") for k in range(10)] + [(2, "i0"), (2, "i1")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = association_rules(df, "basket", "item", max_basket=5)
    assert _pair_counts(out) == {("i0", "i1"): 1}


def test_association_rules_scores_exact(spark):
    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a")]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {(r["antecedent"], r["consequent"]): r
           for r in association_rules(df, "basket", "item").collect()}
    ab = got[("a", "b")]
    assert (ab["n_pair"], ab["n_ante"], ab["n_cons"], ab["n_baskets"]) \
        == (2, 3, 2, 3)
    assert ab["support"] == 2 / 3
    assert ab["confidence"] == 2 / 3
    assert ab["lift"] == (2 * 3) / (3 * 2)
    ba = got[("b", "a")]
    assert ba["confidence"] == 1.0 and ba["lift"] == 1.0
    # directed rules come in both orientations: 3 unordered pairs
    assert len(got) == 6


def test_association_rules_guard_consistent_supports(spark):
    """n_baskets / supports must be computed over guard-surviving
    baskets only, so support/conf/lift stay internally consistent."""
    rows = [(1, f"i{k}") for k in range(10)] + \
        [(2, "i0"), (2, "i1"), (3, "i0"), (3, "i1")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {(r["antecedent"], r["consequent"]): r
           for r in association_rules(df, "basket", "item",
                                      max_basket=5).collect()}
    r = out[("i0", "i1")]
    assert (r["n_pair"], r["n_ante"], r["n_cons"], r["n_baskets"]) \
        == (2, 2, 2, 2)
    assert r["lift"] == 1.0 and r["confidence"] == 1.0
