"""Round-4 feature-engineering operators: leakage-free target encoding,
linear interpolation at label times, rolling z-score, PSI drift."""

import math

import pytest
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.operators.asof import interpolate_linear
from msi_preprocessing_pipeline_spark.operators.drift import psi_drift
from msi_preprocessing_pipeline_spark.operators.training import (
    target_encode_pit)
from msi_preprocessing_pipeline_spark.operators.windows import rolling_zscore


def test_target_encode_pit_hand_computed(spark):
    rows = [(1, "a", 1, 10.0), (2, "a", 2, 20.0), (3, "a", 3, 60.0),
            (4, "b", 1, 5.0)]
    df = spark.createDataFrame(
        rows, "id long, cat string, ts long, y double")
    out = {r["id"]: r["te_y"] for r in target_encode_pit(
        df, "cat", "y", ts_col="ts", tiebreak=["id"]).collect()}
    assert out[1] is None          # no past signal, no prior
    assert out[2] == 10.0          # mean of {10}
    assert out[3] == 15.0          # mean of {10, 20} — NOT 30: own row excluded
    assert out[4] is None


def test_target_encode_pit_never_leaks_own_target(spark):
    """A category whose only row has an extreme target must still encode
    NULL for that row (the classic target-encoding leak)."""
    df = spark.createDataFrame(
        [(1, "x", 1, 1e9)], "id long, cat string, ts long, y double")
    [r] = target_encode_pit(df, "cat", "y", ts_col="ts").collect()
    assert r["te_y"] is None


def test_target_encode_pit_prior_smoothing(spark):
    rows = [(1, "a", 1, 10.0), (2, "a", 2, 20.0)]
    df = spark.createDataFrame(
        rows, "id long, cat string, ts long, y double")
    out = {r["id"]: r["te_y"] for r in target_encode_pit(
        df, "cat", "y", ts_col="ts", prior_weight=2.0,
        prior_value=100.0).collect()}
    assert out[1] == pytest.approx(100.0)          # (0 + 2*100) / (0 + 2)
    assert out[2] == pytest.approx((10.0 + 200.0) / 3.0)


def test_target_encode_global_prior_is_lazy(spark):
    df = spark.createDataFrame(
        [(1, "a", 1, 10.0), (2, "b", 1, 30.0)],
        "id long, cat string, ts long, y double")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = target_encode_pit(df, "cat", "y", ts_col="ts", prior_weight=1.0)
    assert set(tracker.getJobIdsForGroup(None)) == before
    # global mean is (10+30)/2 = 20 -> each first occurrence encodes to it
    vals = {r["id"]: r["te_y"] for r in out.collect()}
    assert vals[1] == pytest.approx(20.0) and vals[2] == pytest.approx(20.0)


def test_target_encode_single_window_node(spark):
    df = spark.createDataFrame(
        [(1, "a", 1, 10.0)], "id long, cat string, ts long, y double")
    plan = target_encode_pit(df, "cat", "y", ts_col="ts")._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1


def test_interpolate_linear_all_edge_branches(spark):
    labels = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 15), (3, "u", 2), (4, "u", 40),
         (5, "v", 10), (6, "u", 20)],
        "label_id long, k string, ms long")
    events = spark.createDataFrame(
        [("u", 5, 100.0), ("u", 20, 400.0), ("u", 30, 100.0)],
        "k string, ms long, value double")
    out = {r["label_id"]: r["value_interp"]
           for r in interpolate_linear(labels, events, on="k",
                                       label_ts="ms").collect()}
    assert out[1] == pytest.approx(100.0 + 300.0 * (5.0 / 15.0))  # between
    assert out[2] == pytest.approx(100.0 + 300.0 * (10.0 / 15.0))
    assert out[3] == pytest.approx(100.0)   # only future -> first after
    assert out[4] == pytest.approx(100.0)   # only past -> flat extrapolation
    assert out[5] is None                   # no events for entity v
    assert out[6] == pytest.approx(400.0)   # exact hit -> that event's value


def test_rolling_zscore_hand_computed(spark):
    # x at ts=4 scored against {1, 2, 3}: mean 2, sd 1 -> z = (10-2)/1 = 8
    rows = [(1, "u", 1, 1.0), (2, "u", 2, 2.0), (3, "u", 3, 3.0),
            (4, "u", 4, 10.0)]
    df = spark.createDataFrame(rows, "id long, k string, ts long, x double")
    out = {r["id"]: r for r in rolling_zscore(
        df, "x", "k", order_by="ts", window_rows=10, min_periods=3,
        threshold=3.0, tiebreak=["id"]).collect()}
    assert out[4]["x_zscore"] == pytest.approx(8.0)
    assert out[4]["x_is_anom"] is True
    assert out[3]["x_zscore"] is None       # only 2 prior rows < min_periods
    assert out[1]["x_zscore"] is None


def test_rolling_zscore_excludes_current_row(spark):
    # constant history, huge current value: sd of PRIOR rows is 0 -> NULL
    # (if the current row leaked into the frame, sd > 0 and z would fire)
    rows = [(i, "u", i, 5.0) for i in range(1, 6)] + [(6, "u", 6, 500.0)]
    df = spark.createDataFrame(rows, "id long, k string, ts long, x double")
    out = {r["id"]: r["x_zscore"] for r in rolling_zscore(
        df, "x", "k", order_by="ts", window_rows=10,
        min_periods=2).collect()}
    assert out[6] is None


def test_rolling_zscore_single_window_node(spark):
    df = spark.createDataFrame(
        [(1, "u", 1, 1.0)], "id long, k string, ts long, x double")
    plan = rolling_zscore(df, "x", "k", order_by="ts")._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1


def test_psi_drift_identical_distributions_near_zero(spark):
    df = spark.createDataFrame([(float(i % 100),) for i in range(1000)],
                               "v double")
    out = psi_drift(df, df, "v", lo=0.0, hi=100.0, n_bins=10)
    total = out.agg(F.sum("psi_contrib")).collect()[0][0]
    assert total == pytest.approx(0.0, abs=1e-12)
    assert out.count() == 10  # every bin present


def test_psi_drift_hand_computed_and_clamped(spark):
    ref = spark.createDataFrame(
        [(0.5,), (0.5,), (1.5,), (-99.0,)], "v double")   # -99 clamps to bin 0
    cur = spark.createDataFrame([(1.5,), (999.0,)], "v double")  # clamps to 1
    rows = {r["bin"]: r for r in psi_drift(
        ref, cur, "v", lo=0.0, hi=2.0, n_bins=2, smoothing=0.5).collect()}
    assert rows[0]["n_ref"] == 3 and rows[0]["n_cur"] == 0
    assert rows[1]["n_ref"] == 1 and rows[1]["n_cur"] == 2
    p0 = (3 + 0.5) / (4 + 1.0)
    q0 = (0 + 0.5) / (2 + 1.0)
    assert rows[0]["p_ref"] == pytest.approx(p0)
    assert rows[0]["p_cur"] == pytest.approx(q0)
    assert rows[0]["psi_contrib"] == pytest.approx(
        (p0 - q0) * math.log(p0 / q0))


def test_psi_drift_ignores_nulls(spark):
    ref = spark.createDataFrame([(1.0,), (None,)], "v double")
    cur = spark.createDataFrame([(1.0,)], "v double")
    rows = psi_drift(ref, cur, "v", lo=0.0, hi=2.0, n_bins=2).collect()
    assert sum(r["n_ref"] for r in rows) == 1


def test_decayed_sum_hand_computed(spark):
    import math
    rows = [(1, "u", 0, 10.0), (2, "u", 100, 20.0), (3, "u", 300, 5.0)]
    df = spark.createDataFrame(rows, "id long, k string, ms long, x double")
    out = {r["id"]: r["x_decayed"] for r in
           __import__("msi_preprocessing_pipeline_spark.operators.windows",
                      fromlist=["decayed_sum"]).decayed_sum(
               df, "x", "k", ts_col="ms", tau=100.0,
               include_current=True).collect()}
    e = math.exp
    assert out[1] == pytest.approx(10.0)
    assert out[2] == pytest.approx(20.0 + 10.0 * e(-1.0))
    assert out[3] == pytest.approx(5.0 + 20.0 * e(-2.0) + 10.0 * e(-3.0))


def test_decayed_sum_strategies_agree(spark):
    from msi_preprocessing_pipeline_spark.operators.windows import decayed_sum
    import random
    rng = random.Random(3)
    rows = [(i, f"u{rng.randint(0, 5)}", rng.randint(0, 10_000),
             rng.uniform(-5, 50)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, k string, ms long, x double")
    for inc in (True, False):
        a = {r["id"]: r["x_decayed"] for r in decayed_sum(
            df, "x", "k", ts_col="ms", tau=2000.0, strategy="window",
            include_current=inc, tiebreak=["id"]).collect()}
        b = {r["id"]: r["x_decayed"] for r in decayed_sum(
            df, "x", "k", ts_col="ms", tau=2000.0, strategy="scan",
            include_current=inc, tiebreak=["id"]).collect()}
        assert set(a) == set(b)
        for i in a:
            if a[i] is None:
                assert b[i] is None or b[i] != b[i]
            else:
                assert a[i] == pytest.approx(b[i], rel=1e-9), i


def test_decayed_sum_exclude_current_first_row_null(spark):
    from msi_preprocessing_pipeline_spark.operators.windows import decayed_sum
    df = spark.createDataFrame([(1, "u", 0, 10.0), (2, "u", 50, 1.0)],
                               "id long, k string, ms long, x double")
    out = {r["id"]: r["x_decayed"] for r in decayed_sum(
        df, "x", "k", ts_col="ms", tau=100.0, strategy="window",
        include_current=False).collect()}
    assert out[1] is None
    assert out[2] == pytest.approx(10.0 * __import__("math").exp(-0.5))


def test_decayed_sum_window_is_lazy_single_window(spark):
    from msi_preprocessing_pipeline_spark.operators.windows import decayed_sum
    df = spark.createDataFrame([(1, "u", 0, 1.0)],
                               "id long, k string, ms long, x double")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = decayed_sum(df, "x", "k", ts_col="ms", tau=10.0)
    assert set(tracker.getJobIdsForGroup(None)) == before
    plan = out._jdf.queryExecution().executedPlan().toString()
    # two Window nodes (per-entity anchor + expanding sum) sharing ONE
    # entity-key exchange — no extra shuffle, no broadcast cross join
    assert plan.count("Window") == 2
    assert plan.count("Exchange") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_feature_hash_deterministic_and_bounded(spark):
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        feature_hash)
    import hashlib
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", None), (3, "a", "x")],
        "id long, c1 string, c2 string")
    rows = {r["id"]: r["feature_bucket"] for r in feature_hash(
        df, ["c1", "c2"], n_buckets=16, seed=3).collect()}
    # same inputs -> same bucket; all buckets within range
    assert rows[1] == rows[3]
    assert all(0 <= b < 16 for b in rows.values())
    # matches the md5 idiom computed in plain python
    expect = int(hashlib.md5(b"a:x:3").hexdigest()[:8], 16) % 16
    assert rows[1] == expect
    # concat_ws skips the null column
    expect2 = int(hashlib.md5(b"b:3").hexdigest()[:8], 16) % 16
    assert rows[2] == expect2


def test_feature_hash_is_map_only(spark):
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        feature_hash)
    df = spark.createDataFrame([(1, "a")], "id long, c string")
    plan = feature_hash(df, ["c"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_standardize_robust_hand_computed(spark):
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        standardize_robust)
    # group g: values 1..5 -> median 3, IQR = 4 - 2 = 2
    rows = [(i, "g", float(i)) for i in range(1, 6)] + [(9, "c", 7.0)]
    df = spark.createDataFrame(rows, "id long, grp string, x double")
    out = {r["id"]: r["x_robust"] for r in standardize_robust(
        df, "x", group_cols=["grp"]).collect()}
    assert out[1] == pytest.approx(-1.0)
    assert out[3] == pytest.approx(0.0)
    assert out[5] == pytest.approx(1.0)
    assert out[9] is None  # constant group -> zero IQR -> null


def test_standardize_robust_global_matches_numpy(spark):
    import numpy as np
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        standardize_robust)
    vals = [float(v) for v in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3.5]]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, x double")
    out = {r["id"]: r["x_robust"]
           for r in standardize_robust(df, "x").collect()}
    med = np.percentile(vals, 50, method="linear")
    iqr = (np.percentile(vals, 75, method="linear")
           - np.percentile(vals, 25, method="linear"))
    for i, v in enumerate(vals):
        assert out[i] == pytest.approx((v - med) / iqr)


def test_woe_encode_pit_hand_computed(spark):
    import math
    from msi_preprocessing_pipeline_spark.operators.training import (
        woe_encode_pit)
    # cat a: labels T, F, T at ts 1,2,3; totals ev=2 ne=2 (incl cat b's F)
    rows = [(1, "a", 1, True), (2, "a", 2, False), (3, "a", 3, True),
            (4, "b", 1, False)]
    df = spark.createDataFrame(rows, "id long, cat string, ts long, y boolean")
    out = {r["id"]: r["woe_y"] for r in woe_encode_pit(
        df, "cat", "y", ts_col="ts", tiebreak=["id"],
        smoothing=0.5).collect()}

    def woe(ev, ne, tev=2, tne=2, s=0.5):
        return math.log(((ev + s) / (tev + 2 * s))
                        / ((ne + s) / (tne + 2 * s)))
    assert out[1] == pytest.approx(woe(0, 0))   # no history -> prior only
    assert out[2] == pytest.approx(woe(1, 0))
    assert out[3] == pytest.approx(woe(1, 1))
    assert out[4] == pytest.approx(woe(0, 0))


def test_woe_encode_pit_null_label_neither_class(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        woe_encode_pit)
    df = spark.createDataFrame(
        [(1, "a", 1, None), (2, "a", 2, True)],
        "id long, cat string, ts long, y boolean")
    out = woe_encode_pit(df, "cat", "y", ts_col="ts",
                         tiebreak=["id"]).collect()
    rows = {r["id"]: r for r in out}
    # row 2's history is only the null-label row: ev=0, ne=0 (not 1)
    import math
    exp = math.log(((0 + .5) / (1 + 1.0)) / ((0 + .5) / (0 + 1.0)))
    assert rows[2]["woe_y"] == pytest.approx(exp)


def test_woe_single_window_node_and_lazy(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        woe_encode_pit)
    df = spark.createDataFrame([(1, "a", 1, True)],
                               "id long, cat string, ts long, y boolean")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = woe_encode_pit(df, "cat", "y", ts_col="ts")
    assert set(tracker.getJobIdsForGroup(None)) == before
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1


def test_quantile_bin_matches_numpy_searchsorted(spark):
    import numpy as np
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        quantile_bin)
    vals = [float(v) for v in
            [3, 1, 4, 1, 5, 9, 2, 6, 5, 3.5, 7, 8, 0.5, 2.2]]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, x double")
    out = {r["id"]: r["x_bin"] for r in quantile_bin(df, "x",
                                                     n_bins=4).collect()}
    edges = np.percentile(vals, [25, 50, 75], method="linear")
    for i, v in enumerate(vals):
        assert out[i] == int(np.searchsorted(edges, v, side="right")), (i, v)


def test_quantile_bin_grouped_and_nulls(spark):
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        quantile_bin)
    rows = [(1, "g", 1.0), (2, "g", 2.0), (3, "g", 3.0), (4, "g", 4.0),
            (5, "h", 100.0), (6, "h", None)]
    df = spark.createDataFrame(rows, "id long, grp string, x double")
    out = {r["id"]: r["x_bin"] for r in quantile_bin(
        df, "x", n_bins=2, group_cols=["grp"]).collect()}
    assert out[1] == 0 and out[4] == 1  # split at group median
    assert out[5] == 1                  # single-value group: x >= its median
    assert out[6] is None


def test_target_encode_bucketed_identical_to_plain(spark):
    """Hot-category two-pass (bucket + carry) must reproduce the plain
    window exactly for an integer-exact target."""
    import random
    from msi_preprocessing_pipeline_spark.operators.training import (
        target_encode_pit)
    rng = random.Random(11)
    rows = [(i, f"c{rng.randint(0, 2)}", rng.randint(0, 10_000),
             rng.randint(-50, 500)) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, cat string, ts long, y long")
    plain = {r["id"]: r["te_y"] for r in target_encode_pit(
        df, "cat", "y", ts_col="ts", tiebreak=["id"],
        prior_weight=3.0, prior_value=10.0).collect()}
    bucketed = {r["id"]: r["te_y"] for r in target_encode_pit(
        df, "cat", "y", ts_col="ts", tiebreak=["id"],
        prior_weight=3.0, prior_value=10.0, bucket_width=500).collect()}
    assert plain == bucketed


def test_woe_bucketed_identical_to_plain(spark):
    import random
    from msi_preprocessing_pipeline_spark.operators.training import (
        woe_encode_pit)
    rng = random.Random(12)
    rows = [(i, f"c{rng.randint(0, 1)}", rng.randint(0, 5_000),
             rng.random() < 0.3) for i in range(500)]
    df = spark.createDataFrame(rows,
                               "id long, cat string, ts long, y boolean")
    plain = {r["id"]: r["woe_y"] for r in woe_encode_pit(
        df, "cat", "y", ts_col="ts", tiebreak=["id"]).collect()}
    bucketed = {r["id"]: r["woe_y"] for r in woe_encode_pit(
        df, "cat", "y", ts_col="ts", tiebreak=["id"],
        bucket_width=250).collect()}
    assert plain == bucketed


def test_bucketed_encode_partitions_on_bucket(spark):
    """The scale contract: with bucket_width set, the big window
    partitions on (category, bucket), not category alone."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        target_encode_pit)
    df = spark.createDataFrame([(1, "a", 1, 1.0)],
                               "id long, cat string, ts long, y double")
    plan = target_encode_pit(df, "cat", "y", ts_col="ts",
                             prior_value=0.0, bucket_width=100)._jdf \
        .queryExecution().executedPlan().toString()
    # the BIG window's exchange must partition on (cat, __xp_bucket):
    # require a hashpartitioning clause that mentions the bucket column
    # (asserting bare "hashpartitioning" would pass for cat-only plans)
    parts = [seg.split(")")[0] for seg in plan.split("hashpartitioning(")[1:]]
    assert any("__xp_bucket" in p for p in parts), parts


def test_word_entropy_hand_computed(spark):
    import math
    from msi_preprocessing_pipeline_spark.operators.text import word_entropy
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "x x x x"), (3, ""), (4, None)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in word_entropy(docs).collect()}
    # doc 1: p = (2/3, 1/3)
    exp = -(2/3) * math.log(2/3) - (1/3) * math.log(1/3)
    assert rows[1]["word_entropy"] == pytest.approx(exp)
    assert rows[1]["type_token_ratio"] == pytest.approx(2/3)
    assert rows[2]["word_entropy"] == pytest.approx(0.0)  # one repeated word
    assert rows[2]["type_token_ratio"] == pytest.approx(0.25)
    for d in (3, 4):  # empty/null docs kept with the zero row
        assert rows[d]["n_words_total"] == 0
        assert rows[d]["word_entropy"] == 0.0
        assert rows[d]["type_token_ratio"] is None


def test_resample_to_grid_locf_hand_computed(spark):
    from msi_preprocessing_pipeline_spark.operators.asof import (
        resample_to_grid)
    # entity u observed over [95, 430] with step 100 -> grid 100..400
    rows = [("u", 95, 1.0), ("u", 210, 2.0), ("u", 430, 3.0),
            ("v", 150, 9.0)]  # v's span contains no multiple of 100 - wait: [150,150] -> none
    df = spark.createDataFrame(rows, "k string, ms long, value double")
    out = {(r["k"], r["ms"]): r["value_grid"] for r in resample_to_grid(
        df, on="k", ts_col="ms", value_col="value", step=100).collect()}
    assert out[("u", 100)] == 1.0   # LOCF from ms=95
    assert out[("u", 200)] == 1.0
    assert out[("u", 300)] == 2.0   # from ms=210
    assert out[("u", 400)] == 2.0
    assert ("u", 500) not in out    # beyond floor(430/100)*100
    assert all(k[0] != "v" for k in out)  # span [150,150]: no grid point


def test_resample_to_grid_linear(spark):
    from msi_preprocessing_pipeline_spark.operators.asof import (
        resample_to_grid)
    rows = [("u", 0, 0.0), ("u", 200, 200.0)]
    df = spark.createDataFrame(rows, "k string, ms long, value double")
    out = {r["ms"]: r["value_grid"] for r in resample_to_grid(
        df, on="k", ts_col="ms", value_col="value", step=100,
        fill="linear").collect()}
    assert out[0] == pytest.approx(0.0)     # exact hit
    assert out[100] == pytest.approx(100.0)  # interpolated midpoint
    assert out[200] == pytest.approx(200.0)


def test_diff_snapshots_all_change_types(spark):
    from msi_preprocessing_pipeline_spark.operators.changelog import (
        diff_snapshots)
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, name string, bal double")
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (3, "c", None), (5, "e", 50.0)],
        "k long, name string, bal double")
    rows = {r["k"]: r for r in diff_snapshots(old, new, "k").collect()}
    assert set(rows) == {2, 4, 5}       # 1 and 3 unchanged (null-safe)
    assert rows[2]["change_type"] == "changed"
    assert rows[2]["changed_cols"] == ["name"]
    assert rows[4]["change_type"] == "removed"
    assert rows[4]["changed_cols"] == []
    assert rows[5]["change_type"] == "added"


def test_psi_total_nonnegative_random_snapshots(spark):
    """PSI = Σ (p-q)·ln(p/q) is a sum of nonnegative terms (Gibbs): the
    total must be >= 0 for ANY pair of snapshots."""
    import random
    rng = random.Random(5)
    for trial in range(3):
        ref = spark.createDataFrame(
            [(rng.gauss(50 + 10 * trial, 20),) for _ in range(300)],
            "v double")
        cur = spark.createDataFrame(
            [(rng.gauss(60, 30),) for _ in range(200)], "v double")
        total = psi_drift(ref, cur, "v", lo=0.0, hi=100.0, n_bins=8) \
            .agg(F.sum("psi_contrib")).collect()[0][0]
        assert total >= -1e-12, trial


def test_target_encode_independent_of_future_rows(spark):
    """THE leakage property: changing a FUTURE row's target must not
    change any earlier row's encoding."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        target_encode_pit)
    rows = [(i, "a", i, float(i)) for i in range(1, 8)]
    df1 = spark.createDataFrame(rows, "id long, cat string, ts long, y double")
    rows2 = rows[:-1] + [(7, "a", 7, 1e9)]  # blow up the last target
    df2 = spark.createDataFrame(rows2, "id long, cat string, ts long, y double")
    a = {r["id"]: r["te_y"] for r in target_encode_pit(
        df1, "cat", "y", ts_col="ts", tiebreak=["id"]).collect()}
    b = {r["id"]: r["te_y"] for r in target_encode_pit(
        df2, "cat", "y", ts_col="ts", tiebreak=["id"],
        prior_value=None).collect()}
    for i in range(1, 8):  # every row INCLUDING the changed one's own
        assert a[i] == b[i], i


def test_interpolate_linear_bounded_between_anchors(spark):
    import random
    rng = random.Random(9)
    events = spark.createDataFrame(
        [("u", t, rng.uniform(-10, 10))
         for t in sorted(rng.sample(range(0, 10_000), 50))],
        "k string, ms long, value double")
    labels = spark.createDataFrame(
        [(i, "u", rng.randint(0, 9_999)) for i in range(100)],
        "label_id long, k string, ms long")
    out = interpolate_linear(labels, events, on="k", label_ts="ms")
    ev = {r["ms"]: r["value"] for r in events.collect()}
    ts_sorted = sorted(ev)
    import bisect
    for r in out.collect():
        v = r["value_interp"]
        i = bisect.bisect_right(ts_sorted, r["ms"])
        lo = ev[ts_sorted[i - 1]] if i > 0 else None
        hi = ev[ts_sorted[i]] if i < len(ts_sorted) else None
        if lo is not None and hi is not None:
            assert min(lo, hi) - 1e-9 <= v <= max(lo, hi) + 1e-9
        elif lo is not None:
            assert v == pytest.approx(lo)
        else:
            assert v == pytest.approx(hi)


def test_quantile_bin_monotone_in_value(spark):
    import random
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        quantile_bin)
    rng = random.Random(13)
    vals = [rng.uniform(-100, 100) for _ in range(200)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, x double")
    out = quantile_bin(df, "x", n_bins=7).collect()
    by_val = sorted((r["x"], r["x_bin"]) for r in out)
    bins = [b for _, b in by_val]
    assert all(b1 <= b2 for b1, b2 in zip(bins, bins[1:]))
    assert min(bins) == 0 and max(bins) == 6


def test_decayed_sum_bounded_by_plain_sum(spark):
    import random
    from msi_preprocessing_pipeline_spark.operators.windows import decayed_sum
    rng = random.Random(17)
    rows = [(i, "u", rng.randint(0, 5000), rng.uniform(0, 10))
            for i in range(150)]
    df = spark.createDataFrame(rows, "id long, k string, ms long, x double")
    out = decayed_sum(df, "x", "k", ts_col="ms", tau=500.0,
                      tiebreak=["id"]).collect()
    total = sum(r[3] for r in rows)
    for r in out:
        assert -1e-9 <= r["x_decayed"] <= total + 1e-9


def test_calibration_bins_hand_computed(spark):
    from msi_preprocessing_pipeline_spark.operators.drift import (
        calibration_bins)
    rows = [(0.05, True), (0.05, False), (0.95, True), (0.95, True),
            (None, True), (0.55, None)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = {r["bin"]: r for r in calibration_bins(
        df, "score", "label", n_bins=2, lo=0.0, hi=1.0).collect()}
    assert set(out) == {0, 1}  # full spine even with sparse data
    b0, b1 = out[0], out[1]
    # null score dropped; null label counted as a negative in its bin
    assert b0["n"] == 2 and b0["n_pos"] == 1
    assert b0["mean_score"] == pytest.approx(0.05)
    assert b0["pos_rate"] == pytest.approx(0.5)
    assert b1["n"] == 3 and b1["n_pos"] == 2   # 0.55 null-label negative
    assert b1["pos_rate"] == pytest.approx(2 / 3)


def test_calibration_bins_perfectly_calibrated_score(spark):
    """Score == true positive rate per bin => pos_rate ~= mean_score."""
    import random
    from msi_preprocessing_pipeline_spark.operators.drift import (
        calibration_bins)
    rng = random.Random(21)
    rows = []
    for _ in range(4000):
        s = rng.random()
        rows.append((s, rng.random() < s))
    df = spark.createDataFrame(rows, "score double, label boolean")
    for r in calibration_bins(df, "score", "label", n_bins=5).collect():
        assert r["n"] > 0
        assert abs(r["pos_rate"] - r["mean_score"]) < 0.08  # sampling noise


def test_resample_grid_span_ignores_null_observations(spark):
    """A null-valued extremal row must not stretch (or create) the grid:
    spans come from rows that can actually fill grid points."""
    from msi_preprocessing_pipeline_spark.operators.asof import (
        resample_to_grid)
    rows = [("u", 0, None), ("u", 250, 1.0), ("u", 260, 2.0),
            ("w", 50, None), ("w", 60, None)]
    df = spark.createDataFrame(rows, "k string, ms long, value double")
    out = [(r["k"], r["ms"]) for r in resample_to_grid(
        df, on="k", ts_col="ms", value_col="value", step=100).collect()]
    # u's observed (non-null) span is [250, 260]: no multiple of 100 inside
    # (the null row at ms=0 would otherwise fabricate grid points 0..200);
    # w has no observations at all
    assert out == []


def test_grouped_exact_quantiles_matches_numpy(spark):
    import numpy as np
    from msi_preprocessing_pipeline_spark.operators.quantiles import (
        grouped_exact_quantiles)
    import random
    rng = random.Random(31)
    data = {"a": [rng.uniform(0, 100) for _ in range(137)],
            "b": [rng.uniform(-5, 5) for _ in range(7)],
            "c": [42.0]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    rows += [("a", None)]  # nulls excluded
    df = spark.createDataFrame(rows, "g string, v double")
    qs = [0.1, 0.5, 0.9]
    got = {(r["g"], round(r["q"], 2)): r["value"]
           for r in grouped_exact_quantiles(df, "v", ["g"], qs).collect()}
    for g, vs in data.items():
        for q in qs:
            exp = float(np.percentile(vs, 100 * q, method="linear"))
            assert got[(g, q)] == pytest.approx(exp, rel=1e-12), (g, q)
    assert len(got) == 9


def test_grouped_exact_quantiles_partition_invariant(spark):
    from msi_preprocessing_pipeline_spark.operators.quantiles import (
        grouped_exact_quantiles)
    import random
    rng = random.Random(33)
    rows = [(f"g{rng.randint(0, 3)}", rng.uniform(0, 10))
            for _ in range(500)]
    df = spark.createDataFrame(rows, "g string, v double")
    a = sorted((r["g"], r["q"], r["value"]) for r in
               grouped_exact_quantiles(df, "v", ["g"], [0.5]).collect())
    b = sorted((r["g"], r["q"], r["value"]) for r in
               grouped_exact_quantiles(df.repartition(13), "v", ["g"],
                                       [0.5]).collect())
    assert a == b


def test_grouped_exact_quantiles_lazy_and_range_partitioned(spark):
    from msi_preprocessing_pipeline_spark.operators.quantiles import (
        grouped_exact_quantiles)
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = grouped_exact_quantiles(df, "v", ["g"], [0.5])
    assert set(tracker.getJobIdsForGroup(None)) == before  # no collects
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_grouped_exact_quantiles_keeps_null_group_and_validates_qs(spark):
    from msi_preprocessing_pipeline_spark.operators.quantiles import (
        grouped_exact_quantiles)
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), (None, 10.0), (None, 20.0)],
        "g string, v double")
    got = {(r["g"], r["q"]): r["value"] for r in
           grouped_exact_quantiles(df, "v", ["g"], [0.5]).collect()}
    assert got[("a", 0.5)] == pytest.approx(2.0)
    assert got[(None, 0.5)] == pytest.approx(15.0)  # NULL group kept
    with pytest.raises(ValueError, match="non-empty"):
        grouped_exact_quantiles(df, "v", ["g"], [])
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        grouped_exact_quantiles(df, "v", ["g"], [0.5, 1.5])


def test_count_encode_pit_bucketed_matches_plain(spark):
    """count_encode_pit with the hot-category two-pass must be
    bit-identical to the plain expanding window (integer counts)."""
    import random
    from pyspark.sql import Row
    from msi_preprocessing_pipeline_spark.operators.training import (
        count_encode_pit)

    rng = random.Random(7)
    rows = [Row(event_id=i, cat=rng.choice(["a", "b", None]),
                ms=rng.randrange(0, 10_000))
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "event_id long, cat string, ms long").repartition(4)
    plain = {r.event_id: r.ce_cat for r in count_encode_pit(
        df, "cat", "ms", tiebreak=["event_id"]).collect()}
    bucketed = {r.event_id: r.ce_cat for r in count_encode_pit(
        df, "cat", "ms", tiebreak=["event_id"],
        bucket_width=500).collect()}
    assert plain == bucketed
    # spot semantics: the first event of a category has 0 priors
    first = min((r.ms, r.event_id, r.cat) for r in rows if r.cat == "a")
    assert plain[first[1]] == 0
