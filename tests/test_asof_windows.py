"""As-of join / backfill / window / exact-quantile operator tests.

Correctness oracles: ``pd.merge_asof`` for the as-of join, numpy for the
quantiles, hand-computed sessions for sessionize.
"""

import numpy as np
import pandas as pd
import pytest

from msi_preprocessing_pipeline_spark.operators import asof, quantiles, windows


@pytest.fixture(scope="module")
def events(spark):
    rng = np.random.RandomState(11)
    n = 600
    pdf = pd.DataFrame({
        "entity": rng.choice(["a", "b", "c"], n, p=[0.6, 0.3, 0.1]),
        "ts": rng.randint(0, 10_000, n).astype("int64"),
        "x": rng.rand(n),
    })
    pdf["row_id"] = np.arange(n)
    return spark.createDataFrame(pdf), pdf


@pytest.fixture(scope="module")
def artifacts(spark):
    pdf = pd.DataFrame({
        "entity": ["a"] * 4 + ["b"] * 3 + ["c"] * 2,
        "valid_from": [0, 2_000, 5_000, 9_000, 100, 4_000, 8_000, 50, 7_500],
        "version": [1, 2, 3, 4, 1, 2, 3, 1, 2],
        "payload": [10.0, 20.0, 30.0, 40.0, 1.0, 2.0, 3.0, 7.0, 8.0],
    })
    return spark.createDataFrame(pdf), pdf


def _expected_asof(left_pdf, right_pdf, direction="backward", tolerance=None):
    out = pd.merge_asof(
        left_pdf.sort_values("ts", kind="mergesort"),
        right_pdf.sort_values("valid_from", kind="mergesort")[
            ["entity", "valid_from", "version", "payload"]],
        left_on="ts", right_on="valid_from", by="entity",
        direction=direction, tolerance=tolerance)
    return out.sort_values("row_id").reset_index(drop=True)


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_union_window_matches_pandas(events, artifacts, direction):
    left, left_pdf = events
    right, right_pdf = artifacts
    got = (asof.asof_join(left, right, on="entity", left_ts="ts",
                          right_ts="valid_from",
                          value_cols=["version", "payload"],
                          direction=direction)
           .toPandas().sort_values("row_id").reset_index(drop=True))
    exp = _expected_asof(left_pdf, right_pdf, direction)
    pd.testing.assert_series_equal(got["version"].astype("float64"),
                                   exp["version"].astype("float64"),
                                   check_names=False)
    pd.testing.assert_series_equal(got["payload"], exp["payload"],
                                   check_names=False)


def test_asof_tolerance(events, artifacts):
    left, left_pdf = events
    right, right_pdf = artifacts
    got = (asof.asof_join(left, right, on="entity", left_ts="ts",
                          right_ts="valid_from",
                          value_cols=["version", "payload"], tolerance=1000)
           .toPandas().sort_values("row_id").reset_index(drop=True))
    exp = _expected_asof(left_pdf, right_pdf, "backward", tolerance=1000)
    pd.testing.assert_series_equal(got["payload"], exp["payload"],
                                   check_names=False)


def test_asof_forward_tolerance(events, artifacts):
    left, left_pdf = events
    right, right_pdf = artifacts
    got = (asof.asof_join(left, right, on="entity", left_ts="ts",
                          right_ts="valid_from",
                          value_cols=["payload"], direction="forward",
                          tolerance=500)
           .toPandas().sort_values("row_id").reset_index(drop=True))
    exp = _expected_asof(left_pdf, right_pdf, "forward", tolerance=500)
    pd.testing.assert_series_equal(got["payload"], exp["payload"],
                                   check_names=False)


def test_asof_no_leakage(events, artifacts):
    # a left row must never see an artifact with valid_from > its ts
    left, _ = events
    right, _ = artifacts
    got = asof.asof_join(left, right, on="entity", left_ts="ts",
                         right_ts="valid_from", value_cols=["payload"],
                         matched_ts_col="artifact_ts").toPandas()
    matched = got.dropna(subset=["artifact_ts"])
    assert (matched["artifact_ts"] <= matched["ts"]).all()


def test_backfill_forward(spark):
    pdf = pd.DataFrame({
        "entity": ["e"] * 6,
        "ts": [1, 2, 3, 4, 5, 6],
        "v": [None, 1.0, None, None, 4.0, None],
    })
    got = (asof.backfill(spark.createDataFrame(pdf), "v", "entity", "ts")
           .toPandas().sort_values("ts"))
    pd.testing.assert_series_equal(
        got["v"].reset_index(drop=True),
        pd.Series([np.nan, 1.0, 1.0, 1.0, 4.0, 4.0]), check_names=False)


@pytest.mark.parametrize("matched", ["ts", "w"])
def test_asof_join_rejects_colliding_matched_ts_col(spark, matched):
    """The matched-ts column may not repeat a left or a value column: the
    output would carry two columns of one name."""
    left = spark.createDataFrame([("a", 1, 1.0)],
                                 "k string, ts long, v double")
    right = spark.createDataFrame([("a", 0, 2.0)],
                                  "k string, ts long, w double")
    with pytest.raises(ValueError, match="collide"):
        asof.asof_join(left, right, "k", value_cols=["w"],
                       matched_ts_col=matched)


def test_sessionize(spark):
    pdf = pd.DataFrame({
        "entity": ["u1"] * 5 + ["u2"] * 3,
        "ts": [0, 100, 5000, 5100, 20_000, 0, 10_000, 10_050],
        "v": range(8),
    })
    got = windows.sessionize(spark.createDataFrame(pdf), "entity", "ts",
                             gap_seconds=1800).toPandas()
    got = got.sort_values(["entity", "ts"])
    assert got[got.entity == "u1"]["session_id"].tolist() == [1, 1, 2, 2, 3]
    assert got[got.entity == "u2"]["session_id"].tolist() == [1, 2, 2]
    stats = windows.session_stats(spark.createDataFrame(pdf), "entity", "ts",
                                  gap_seconds=1800).toPandas()
    u1s2 = stats[(stats.entity == "u1") & (stats.session_id == 2)].iloc[0]
    assert u1s2["n_events"] == 2 and u1s2["duration_s"] == 100


def test_exact_quantiles_match_numpy(spark):
    rng = np.random.RandomState(21)
    vals = rng.lognormal(3, 1, 5000)
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    qs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0] \
        + list(np.random.default_rng(22).uniform(0.0, 1.0, 40))
    expected = np.percentile(vals, [q * 100 for q in qs])
    # collect path (n below threshold)
    got = quantiles.exact_quantiles(df, "v", qs)
    np.testing.assert_allclose(got, expected, rtol=1e-12)
    # distributed sort+rank path (force it): numpy's position and
    # interpolation rule, so bit for bit
    got_dist = quantiles.exact_quantiles(df, "v", qs, collect_threshold=0)
    np.testing.assert_array_equal(got_dist, expected)


# ---------------------------------------------------------------------------
# time_weighted_mean


def test_time_weighted_mean_hand_case(spark):
    from msi_preprocessing_pipeline_spark.operators.windows import (
        time_weighted_mean)

    rows = [
        # u1: 10.0 held 2ms, 20.0 held 8ms, last obs weightless
        ("u1", 1, 0, 10.0), ("u1", 2, 2, 20.0), ("u1", 3, 10, 99.0),
        ("u2", 1, 5, 7.5),            # single obs: null mean, span 0
        ("u3", 1, 0, -4.0), ("u3", 2, 3, None), ("u3", 3, 7, 2.0),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_id long, "
                                     "ms long, value double")
    out = {r.user_id: r for r in time_weighted_mean(
        df, "value", "user_id", "ms", tiebreak=["event_id"]).collect()}
    r1 = out["u1"]
    assert (r1.n_obs, r1.span_ms) == (3, 10)
    assert r1.twa_u == (10_000_000 * 2 + 20_000_000 * 8) // 10
    r2 = out["u2"]
    assert (r2.n_obs, r2.span_ms, r2.twa_u) == (1, 0, None)
    # u3: null value dropped, -4.0 held 7ms; trunc toward zero:
    # (-28e6) fits exactly / 7 = -4e6
    r3 = out["u3"]
    assert (r3.n_obs, r3.span_ms, r3.twa_u) == (2, 7, -4_000_000)


def test_time_weighted_mean_trunc_negative(spark):
    from msi_preprocessing_pipeline_spark.operators.windows import (
        time_weighted_mean)

    # sum q·w = -1e6·1 + -2e6·2  = -5e6 over w=3 → -5e6*1e6 // 3e6
    # truncates toward zero: -1666666 (floor would be -1666667)
    rows = [("u", 1, 0, -1.0), ("u", 2, 1, -2.0), ("u", 3, 3, 0.0)]
    df = spark.createDataFrame(rows, "user_id string, event_id long, "
                                     "ms long, value double")
    r = time_weighted_mean(df, "value", "user_id", "ms",
                           tiebreak=["event_id"]).collect()[0]
    assert r.twa_u == -1_666_666


def test_time_weighted_mean_partition_invariant(spark):
    import numpy as np

    from msi_preprocessing_pipeline_spark.operators.windows import (
        time_weighted_mean)

    rng = np.random.default_rng(31)
    rows = [(f"u{i % 7}", i, int(rng.integers(0, 10_000)),
             float(rng.normal(0, 50))) for i in range(500)]
    df = spark.createDataFrame(rows, "user_id string, event_id long, "
                                     "ms long, value double")
    run = lambda d: sorted(map(tuple, time_weighted_mean(  # noqa: E731
        d, "value", "user_id", "ms", tiebreak=["event_id"]).collect()))
    assert run(df.repartition(1)) == run(df.repartition(11))
