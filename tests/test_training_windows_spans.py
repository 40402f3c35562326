"""Tests for the round-3 PIT additions: multi-feature training-set assembly
(operators/training.py), event-time-range rolling features
(windows.rolling_range) and substring-level duplicate spans
(dedup.duplicate_spans)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.operators.dedup import (
    duplicate_spans, positional_word_grams)
from msi_preprocessing_pipeline_spark.operators.training import (
    FeatureSpec, build_training_set)
from msi_preprocessing_pipeline_spark.operators.windows import rolling_range


# ---------------------------------------------------------------------------
# training-set assembly

@pytest.fixture(scope="module")
def pit_frames(spark):
    spine = spark.createDataFrame(
        [(1, 100, 1000.0, 9.0), (2, 100, 2000.0, 8.0), (3, 200, 1500.0, 7.0)],
        "obs_id long, user_id long, ts double, label double")
    clicks = spark.createDataFrame(
        [(100, 900.0, 1.0), (100, 1500.0, 2.0), (200, 1600.0, 3.0)],
        "user_id long, ms double, value double")
    views = spark.createDataFrame(
        [(100, 999.0, 10.0), (200, 1400.0, 30.0)],
        "user_id long, ms double, value double")
    return spine, clicks, views


def test_training_set_pit_values(pit_frames):
    spine, clicks, views = pit_frames
    out = build_training_set(
        spine, on="user_id", spine_ts="ts",
        features=[
            FeatureSpec(clicks, ts_col="ms", value_cols=["value"],
                        prefix="click_"),
            FeatureSpec(views, ts_col="ms", value_cols=["value"],
                        prefix="view_"),
        ])
    rows = {r["obs_id"]: r for r in out.collect()}
    assert len(rows) == spine.count()  # one row per spine observation
    # obs 1 (user 100 @1000): click@900 visible, click@1500 is the FUTURE
    assert rows[1]["click_value"] == 1.0 and rows[1]["click_ts"] == 900.0
    assert rows[1]["view_value"] == 10.0
    # obs 2 (user 100 @2000): latest click is @1500
    assert rows[2]["click_value"] == 2.0 and rows[2]["click_ts"] == 1500.0
    # obs 3 (user 200 @1500): no click yet -> null, view@1400 visible
    assert rows[3]["click_value"] is None and rows[3]["click_ts"] is None
    assert rows[3]["view_value"] == 30.0 and rows[3]["view_ts"] == 1400.0
    # labels travel through untouched
    assert rows[1]["label"] == 9.0


def test_training_set_zero_temporal_leakage(pit_frames):
    spine, clicks, views = pit_frames
    out = build_training_set(
        spine, on="user_id", spine_ts="ts",
        features=[FeatureSpec(clicks, ts_col="ms", value_cols=["value"],
                              prefix="click_"),
                  FeatureSpec(views, ts_col="ms", value_cols=["value"],
                              prefix="view_")])
    leaks = out.where((F.col("click_ts") > F.col("ts"))
                      | (F.col("view_ts") > F.col("ts"))).count()
    assert leaks == 0


# ---------------------------------------------------------------------------
# rolling_range

def test_rolling_range_matches_pandas(spark):
    pdf = pd.DataFrame({
        "user_id": [1] * 6 + [2] * 3,
        "ms": [0, 50, 100, 100, 160, 400, 0, 10, 500],
        "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0],
    })
    df = spark.createDataFrame(pdf)
    out = (rolling_range(df, "value", "user_id", order_col="ms",
                         preceding=100, fns=("count", "sum"))
           .toPandas().sort_values(["user_id", "ms", "value"])
           .reset_index(drop=True))
    # trailing [ms-100, ms] inclusive; RANGE frame -> ties are peers
    for _, r in out.iterrows():
        lo, hi = r["ms"] - 100, r["ms"]
        mask = ((pdf["user_id"] == r["user_id"]) & (pdf["ms"] >= lo)
                & (pdf["ms"] <= hi))
        assert r["value_count_100"] == mask.sum()
        assert r["value_sum_100"] == pytest.approx(pdf.loc[mask, "value"].sum())


def test_rolling_range_tie_rows_are_peers(spark):
    # two rows at the same instant must see each other regardless of order
    df = spark.createDataFrame(
        [(1, 100, 1.0), (1, 100, 2.0)], "user_id long, ms long, value double")
    out = rolling_range(df, "value", "user_id", order_col="ms",
                        preceding=10, fns=("sum",)).collect()
    assert all(r["value_sum_10"] == 3.0 for r in out)


# ---------------------------------------------------------------------------
# duplicate_spans

_PASSAGE = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words


@pytest.fixture(scope="module")
def span_docs(spark):
    return spark.createDataFrame(
        [
            # docs 1 & 2 share the 8-word passage at different offsets
            (1, f"unique one two three {_PASSAGE} tail1 tail2"),
            (2, f"{_PASSAGE} something else entirely here now"),
            # doc 3 shares nothing 8 words long with anyone
            (3, "completely different text with no shared passage at all "
                "padding padding2 padding3"),
        ],
        "doc_id long, text string")


def test_duplicate_spans_finds_planted_passage(span_docs):
    out = {r["doc_id"]: r for r in duplicate_spans(span_docs, n=8).collect()}
    assert set(out) == {1, 2}
    # doc 1: passage starts at word index 4 (after 4 lead words)
    assert (out[1]["span_start"], out[1]["span_end"]) == (4, 11)
    assert out[1]["span_words"] == 8
    # doc 2: passage is the prefix
    assert (out[2]["span_start"], out[2]["span_end"]) == (0, 7)


def test_duplicate_spans_merges_overlapping_grams(spark):
    # a 10-word shared passage yields three overlapping 8-gram hits that
    # must merge into ONE maximal span
    passage = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [(1, f"{passage} xxa xxb"), (2, f"yya yyb {passage}")],
        "doc_id long, text string")
    out = duplicate_spans(docs, n=8).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert len(out) == 2  # one merged span per doc
    assert (by_doc[1]["span_start"], by_doc[1]["span_end"]) == (0, 9)
    assert (by_doc[2]["span_start"], by_doc[2]["span_end"]) == (2, 11)
    assert by_doc[1]["span_words"] == 10


def test_duplicate_spans_max_df_drops_stop_passages(spark):
    passage = " ".join(f"p{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(i, f"{passage} filler{i} end{i}") for i in range(10)],
        "doc_id long, text string")
    assert duplicate_spans(docs, n=8).count() == 10
    assert duplicate_spans(docs, n=8, max_df=5).count() == 0


def test_positional_grams_short_doc_whole_span(spark):
    docs = spark.createDataFrame([(1, "only three words")],
                                 "doc_id long, text string")
    rows = positional_word_grams(docs, 8).collect()
    assert len(rows) == 1
    assert (rows[0]["pos"], rows[0]["end_pos"]) == (0, 2)
    assert rows[0]["gram"] == "only three words"


def test_training_set_all_strategies_identical(pit_frames):
    spine, clicks, views = pit_frames
    specs = lambda strat: [  # noqa: E731
        FeatureSpec(clicks, ts_col="ms", value_cols=["value"],
                    prefix="click_", strategy=strat),
        FeatureSpec(views, ts_col="ms", value_cols=["value"],
                    prefix="view_", strategy=strat)]

    def rows(strat):
        df = build_training_set(spine, on="user_id", spine_ts="ts",
                                features=specs(strat))
        return sorted(df.select(sorted(df.columns)).collect(),
                      key=lambda r: r["obs_id"])

    assert rows("shuffle") == rows("broadcast")


def test_training_set_broadcast_plan_is_map_only_on_spine(pit_frames):
    spine, clicks, views = pit_frames
    out = build_training_set(
        spine, on="user_id", spine_ts="ts",
        features=[FeatureSpec(clicks, ts_col="ms", value_cols=["value"],
                              prefix="click_", strategy="broadcast")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # no sort-merge join and no window sort over the spine side
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_cut_spans_removes_planted_passage(spark):
    from msi_preprocessing_pipeline_spark.operators.dedup import cut_spans

    docs = spark.createDataFrame(
        [(1, f"KEEP1 keep2 {_PASSAGE} keep3"),
         (2, f"{_PASSAGE} other words here too now yes"),
         (3, "independent text without any shared passage inside it at all")],
        "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in cut_spans(docs, duplicate_spans(docs, n=8)).collect()}
    assert out[1]["text_cut"] == "keep1 keep2 keep3"  # normalized (lower)
    assert out[1]["n_words_cut"] == 8 and out[1]["n_words_kept"] == 3
    assert out[2]["text_cut"] == "other words here too now yes"
    # untouched doc survives whole (normalized reconstruction)
    assert out[3]["n_words_cut"] == 0
    assert out[3]["text_cut"].startswith("independent text")


def test_cut_spans_drops_fully_duplicated_docs(spark):
    from msi_preprocessing_pipeline_spark.operators.dedup import cut_spans

    docs = spark.createDataFrame(
        [(1, _PASSAGE), (2, _PASSAGE)], "doc_id long, text string")
    out = cut_spans(docs, duplicate_spans(docs, n=8))
    assert out.count() == 0  # nothing left of either doc


def test_cut_spans_no_spans_is_identity_normalized(spark):
    from msi_preprocessing_pipeline_spark.operators.dedup import cut_spans

    docs = spark.createDataFrame([(1, "  Hello   World  ")],
                                 "doc_id long, text string")
    empty_spans = duplicate_spans(docs, n=8)  # single doc -> no duplicates
    row = cut_spans(docs, empty_spans).collect()[0]
    assert row["text_cut"] == "hello world"
    assert row["n_words_cut"] == 0 and row["n_words_kept"] == 2


def test_duplicate_token_spans_on_int_sequences(spark):
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        duplicate_token_spans)

    shared = list(range(100, 116))  # 16 shared token ids
    docs = spark.createDataFrame(
        [(1, [1, 2, 3] + shared + [4, 5]),
         (2, shared + [7, 8, 9]),
         (3, list(range(200, 230)))],
        "doc_id long, tokens array<int>")
    out = {r["doc_id"]: r
           for r in duplicate_token_spans(docs, n=16).collect()}
    assert set(out) == {1, 2}
    assert (out[1]["span_start"], out[1]["span_end"]) == (3, 18)
    assert (out[2]["span_start"], out[2]["span_end"]) == (0, 15)
    assert out[1]["span_words"] == 16


# ---------------------------------------------------------------------------
# pit_window_agg

def test_pit_window_agg_matches_bruteforce(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    spine_pdf = pd.DataFrame({
        "obs_id": [1, 2, 3, 4],
        "user_id": [1, 1, 1, 2],
        "ts": [100, 150, 400, 100]})
    ev_pdf = pd.DataFrame({
        "user_id": [1, 1, 1, 1, 2],
        "ets": [50, 100, 149, 390, 95],
        "v": [1.0, 2.0, 4.0, 8.0, 16.0]})
    out = pit_window_agg(
        spark.createDataFrame(spine_pdf), spark.createDataFrame(ev_pdf),
        on="user_id", spine_ts="ts", event_ts="ets", value_col="v",
        window=100, fns=("count", "sum")).toPandas()
    got = {r["obs_id"]: (r["f_count_100"], r["f_sum_100"])
           for _, r in out.iterrows()}
    for _, s in spine_pdf.iterrows():
        m = ev_pdf[(ev_pdf.user_id == s.user_id)
                   & (ev_pdf.ets >= s.ts - 100) & (ev_pdf.ets < s.ts)]
        assert got[s.obs_id][0] == len(m)
        if len(m):
            assert got[s.obs_id][1] == pytest.approx(m.v.sum())
    # strictly-before: the event AT ts=100 is excluded for obs 1
    assert got[1] == (1, 1.0)


def test_pit_window_agg_include_current_instant(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    spine = spark.createDataFrame([(1, 100)], "user_id long, ts long")
    ev = spark.createDataFrame([(1, 100, 5.0), (1, 99, 1.0)],
                               "user_id long, ets long, v double")
    strict = pit_window_agg(spine, ev, "user_id", "ts", "ets", "v",
                            window=10).collect()[0]
    peer = pit_window_agg(spine, ev, "user_id", "ts", "ets", "v",
                          window=10,
                          include_current_instant=True).collect()[0]
    assert (strict["f_count_10"], strict["f_sum_10"]) == (1, 1.0)
    assert (peer["f_count_10"], peer["f_sum_10"]) == (2, 6.0)


def test_pit_window_agg_single_window_node(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    spine = spark.createDataFrame([(1, 100)], "user_id long, ts long")
    ev = spark.createDataFrame([(1, 99, 1.0)],
                               "user_id long, ets long, v double")
    out = pit_window_agg(spine, ev, "user_id", "ts", "ets", "v",
                         window=10, fns=("count", "sum", "avg", "max"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("+- Window") == 1


def test_pit_window_agg_multi_horizon_one_shuffle(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    spine = spark.createDataFrame([(1, 1000), (1, 2000)],
                                  "user_id long, ts long")
    ev = spark.createDataFrame(
        [(1, 500, 1.0), (1, 950, 2.0), (1, 1500, 4.0)],
        "user_id long, ets long, v double")
    out = pit_window_agg(spine, ev, "user_id", "ts", "ets", "v",
                         window=[100, 1000], fns=("count", "sum"))
    rows = {r["ts"]: r for r in out.collect()}
    assert rows[1000]["f_count_100"] == 1 and rows[1000]["f_count_1000"] == 2
    assert rows[2000]["f_count_100"] == 0 and rows[2000]["f_sum_1000"] == 4.0
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])  # AQE: final section only
    # multi-horizon: one exchange, one sort, and Spark fuses BOTH
    # horizons into a single Window node (same partition/order key;
    # frames differ per expression)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count(" Sort [") == 1
    assert plan.count("Window") == 1


def test_pit_window_agg_bucketed_matches_unbucketed(spark):
    """Skew buster: time-bucketed partitioning with boundary carry must be
    result-identical to the plain entity-partitioned window."""
    import numpy as np

    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    rng = np.random.RandomState(11)
    n_ev, n_sp = 400, 120
    ev = pd.DataFrame({
        "user_id": rng.randint(0, 3, n_ev),
        "ets": rng.randint(0, 10_000, n_ev),
        "v": rng.rand(n_ev).round(3)})
    spine = pd.DataFrame({
        "obs_id": np.arange(n_sp),
        "user_id": rng.randint(0, 3, n_sp),
        "ts": rng.randint(0, 10_000, n_sp)})
    sdf, edf = spark.createDataFrame(spine), spark.createDataFrame(ev)
    kw = dict(on="user_id", spine_ts="ts", event_ts="ets", value_col="v",
              window=[150, 700], fns=("count", "sum"))
    plain = pit_window_agg(sdf, edf, **kw).toPandas()
    bucketed = pit_window_agg(sdf, edf, bucket_width=700, **kw).toPandas()
    cols = sorted(plain.columns)
    canon = lambda p: (p[cols].sort_values(cols)  # noqa: E731
                       .reset_index(drop=True).round(9))
    pd.testing.assert_frame_equal(canon(plain), canon(bucketed))


def test_pit_window_agg_bucket_width_too_small_raises(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    spine = spark.createDataFrame([(1, 100)], "user_id long, ts long")
    ev = spark.createDataFrame([(1, 99, 1.0)],
                               "user_id long, ets long, v double")
    with pytest.raises(ValueError, match="bucket_width"):
        pit_window_agg(spine, ev, "user_id", "ts", "ets", "v",
                       window=100, bucket_width=50)


def test_training_set_tolerance_caps_staleness(pit_frames):
    spine, clicks, _ = pit_frames
    out = build_training_set(
        spine, on="user_id", spine_ts="ts",
        features=[FeatureSpec(clicks, ts_col="ms", value_cols=["value"],
                              prefix="click_", tolerance=150.0)])
    rows = {r["obs_id"]: r for r in out.collect()}
    # obs 1 (ts=1000): click@900 is 100 old -> within tolerance
    assert rows[1]["click_value"] == 1.0
    # obs 2 (ts=2000): click@1500 is 500 old -> too stale, nulled
    assert rows[2]["click_value"] is None


def test_duplicate_token_spans_null_arrays_ignored(spark):
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        duplicate_token_spans)

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, list(range(30)))],
        "doc_id long, tokens array<int>")
    assert duplicate_token_spans(docs, n=16).count() == 0


def test_fused_training_set_matches_sequential(spark):
    """build_training_set_fused (one shuffle for all features) must be
    result-identical to the sequential per-feature composition, including
    tolerance nulling and matched-ts audit columns."""
    import numpy as np

    from msi_preprocessing_pipeline_spark.operators.training import (
        FeatureSpec, build_training_set, build_training_set_fused)

    rng = np.random.RandomState(9)
    spine = pd.DataFrame({
        "obs_id": np.arange(80),
        "user_id": rng.randint(0, 5, 80),
        "ts": rng.randint(0, 1000, 80).astype("int64")})
    fa = pd.DataFrame({
        "user_id": rng.randint(0, 5, 120),
        "ats": rng.randint(0, 1000, 120).astype("int64"),
        "a": rng.rand(120).round(3)})
    fb = pd.DataFrame({
        "user_id": rng.randint(0, 5, 60),
        "bts": rng.randint(0, 1000, 60).astype("int64"),
        "b": rng.rand(60).round(3),
        "b2": rng.randint(0, 9, 60).astype("int64")})
    sdf = spark.createDataFrame(spine)
    specs = [
        FeatureSpec(spark.createDataFrame(fa), ts_col="ats",
                    value_cols=["a"], prefix="fa_"),
        FeatureSpec(spark.createDataFrame(fb), ts_col="bts",
                    value_cols=["b", "b2"], prefix="fb_", tolerance=50),
    ]
    seq = build_training_set(sdf, on="user_id", spine_ts="ts",
                             features=specs)
    fused = build_training_set_fused(sdf, on="user_id", spine_ts="ts",
                                     features=specs)
    assert sorted(seq.columns) == sorted(fused.columns)
    cols = sorted(seq.columns)
    canon = lambda df: (df.toPandas()[cols]  # noqa: E731
                        .sort_values("obs_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(canon(seq), canon(fused))


def test_fused_training_set_single_exchange(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        FeatureSpec, build_training_set_fused)

    spine = spark.createDataFrame([(1, 100)], "user_id long, ts long")
    f1 = spark.createDataFrame([(1, 90, 1.0)],
                               "user_id long, fts long, v double")
    f2 = spark.createDataFrame([(1, 80, 2.0)],
                               "user_id long, gts long, w double")
    out = build_training_set_fused(
        spine, on="user_id", spine_ts="ts",
        features=[FeatureSpec(f1, "fts", ["v"], "f1_"),
                  FeatureSpec(f2, "gts", ["w"], "f2_")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1  # all picks fused into one node


def test_pit_window_agg_multi_source_matches_separate(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        EventSource, pit_window_agg, pit_window_agg_multi)
    import numpy as np

    rng = np.random.RandomState(4)
    spine = pd.DataFrame({"obs_id": np.arange(50),
                          "k": rng.randint(0, 3, 50),
                          "ts": rng.randint(0, 400, 50).astype("int64")})
    mk = lambda n: pd.DataFrame({  # noqa: E731
        "k": rng.randint(0, 3, n),
        "ets": rng.randint(0, 400, n).astype("int64"),
        "v": rng.rand(n)})
    a_pdf, b_pdf = mk(90), mk(40)
    sdf = spark.createDataFrame(spine)
    adf, bdf = spark.createDataFrame(a_pdf), spark.createDataFrame(b_pdf)
    multi = pit_window_agg_multi(
        sdf, on="k", spine_ts="ts",
        sources=[EventSource(adf, "ets", "v", "a_"),
                 EventSource(bdf, "ets", "v", "b_")],
        window=[50, 200], fns=("count", "sum")).toPandas()
    for pre, edf in (("a_", adf), ("b_", bdf)):
        for win in (50, 200):
            single = pit_window_agg(
                sdf, edf, on="k", spine_ts="ts", event_ts="ets",
                value_col="v", window=win, fns=("count", "sum"),
                prefix=pre).toPandas()
            m = multi.sort_values("obs_id").reset_index(drop=True)
            s = single.sort_values("obs_id").reset_index(drop=True)
            pd.testing.assert_series_equal(
                m[f"{pre}count_{win}"], s[f"{pre}count_{win}"])
            pd.testing.assert_series_equal(
                m[f"{pre}sum_{win}"], s[f"{pre}sum_{win}"])
    # one fused Window node, one exchange for 2 sources x 2 horizons x 2 fns
    out = pit_window_agg_multi(
        sdf, on="k", spine_ts="ts",
        sources=[EventSource(adf, "ets", "v", "a_"),
                 EventSource(bdf, "ets", "v", "b_")],
        window=[50, 200])
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_pit_window_agg_leading_frame_labels(spark):
    """frame='leading': events strictly AFTER the observation, the label
    side of the training set."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    spine = spark.createDataFrame([(1, 100), (2, 300)],
                                  "user_id long, ts long")
    spine = spine.withColumn("obs_id", F.col("user_id"))
    ev = spark.createDataFrame(
        [(1, 100, 1.0), (1, 150, 2.0), (1, 201, 4.0), (2, 290, 8.0)],
        "user_id long, ets long, v double")
    out = {r["user_id"]: r
           for r in pit_window_agg(spine, ev, "user_id", "ts", "ets", "v",
                                   window=100, frame="leading").collect()}
    # user 1 @100: future (100, 200] -> only the 150 event (100 is the
    # instant, excluded; 201 is beyond)
    assert (out[1]["f_count_100"], out[1]["f_sum_100"]) == (1, 2.0)
    # user 2 @300: no event after
    assert out[2]["f_count_100"] == 0


def test_pit_window_agg_leading_bucketed_matches_plain(spark):
    import numpy as np

    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    rng = np.random.RandomState(21)
    spine = pd.DataFrame({"obs_id": np.arange(100),
                          "k": rng.randint(0, 3, 100),
                          "ts": rng.randint(0, 2000, 100).astype("int64")})
    ev = pd.DataFrame({"k": rng.randint(0, 3, 300),
                       "ets": rng.randint(0, 2000, 300).astype("int64"),
                       "v": rng.rand(300)})
    sdf, edf = spark.createDataFrame(spine), spark.createDataFrame(ev)
    kw = dict(on="k", spine_ts="ts", event_ts="ets", value_col="v",
              window=250, frame="leading", fns=("count", "sum"))
    plain = pit_window_agg(sdf, edf, **kw).toPandas()
    bucketed = pit_window_agg(sdf, edf, bucket_width=400, **kw).toPandas()
    cols = sorted(plain.columns)
    canon = lambda p: (p[cols].sort_values("obs_id")  # noqa: E731
                       .reset_index(drop=True).round(9))
    pd.testing.assert_frame_equal(canon(plain), canon(bucketed))
    # and vs brute force
    for _, s in spine.iterrows():
        m = ev[(ev.k == s.k) & (ev.ets > s.ts) & (ev.ets <= s.ts + 250)]
        r = plain[plain.obs_id == s.obs_id].iloc[0]
        assert r["f_count_250"] == len(m)


def test_pit_window_agg_multi_leading_matches_single(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        EventSource, pit_window_agg, pit_window_agg_multi)
    import numpy as np

    rng = np.random.RandomState(31)
    spine = pd.DataFrame({"obs_id": np.arange(40),
                          "k": rng.randint(0, 2, 40),
                          "ts": rng.randint(0, 300, 40).astype("int64")})
    ev = pd.DataFrame({"k": rng.randint(0, 2, 80),
                       "ets": rng.randint(0, 300, 80).astype("int64"),
                       "v": rng.rand(80)})
    sdf, edf = spark.createDataFrame(spine), spark.createDataFrame(ev)
    multi = pit_window_agg_multi(
        sdf, on="k", spine_ts="ts",
        sources=[EventSource(edf, "ets", "v", "x_")],
        window=100, frame="leading", bucket_width=150).toPandas()
    single = pit_window_agg(sdf, edf, on="k", spine_ts="ts",
                            event_ts="ets", value_col="v", window=100,
                            frame="leading", prefix="x_").toPandas()
    cols = ["obs_id", "x_count_100", "x_sum_100"]
    canon = lambda p: (p[cols].sort_values("obs_id")  # noqa: E731
                       .reset_index(drop=True).round(9))
    pd.testing.assert_frame_equal(canon(multi), canon(single))


def test_fused_training_set_duplicate_prefix_raises(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        FeatureSpec, build_training_set_fused)

    spine = spark.createDataFrame([(1, 100)], "user_id long, ts long")
    f = spark.createDataFrame([(1, 90, 1.0)],
                              "user_id long, fts long, v double")
    with pytest.raises(ValueError, match="collide"):
        build_training_set_fused(
            spine, on="user_id", spine_ts="ts",
            features=[FeatureSpec(f, "fts", ["v"], "x_"),
                      FeatureSpec(f, "fts", ["v"], "x_")])


def test_duplicate_token_spans_null_elements_excluded(spark):
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        duplicate_token_spans)

    shared = list(range(100, 116))
    docs = spark.createDataFrame(
        [(1, shared + [1, 2]),
         (2, [None] + shared),   # null element -> coordinates undefined
         (3, [7, 8] + shared)],
        "doc_id long, tokens array<int>")
    out = {r["doc_id"]: r
           for r in duplicate_token_spans(docs, n=16).collect()}
    assert set(out) == {1, 3}  # doc 2 excluded, others still pair up
    assert (out[3]["span_start"], out[3]["span_end"]) == (2, 17)


def test_pit_window_agg_multi_duplicate_prefix_raises(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        EventSource, pit_window_agg_multi)

    spine = spark.createDataFrame([(1, 100)], "k long, ts long")
    ev = spark.createDataFrame([(1, 99, 1.0)], "k long, ets long, v double")
    with pytest.raises(ValueError, match="prefix"):
        pit_window_agg_multi(spine, spine_ts="ts", on="k",
                             sources=[EventSource(ev, "ets", "v", "x_"),
                                      EventSource(ev, "ets", "v", "x_")],
                             window=10)


# ---------------------------------------------------------------------------
# out-of-fold target encoding


def test_oof_target_stats_hand_case(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        oof_target_stats, target_encode_oof)

    rows = [
        ("A", 0, 10.0), ("A", 0, 20.0), ("A", 1, 40.0),
        ("B", 0, 5.0),                      # B only in fold 0: no OOF
        ("A", None, 99.0), (None, 1, 7.0),  # null fold/cat excluded
        ("A", 1, None),                     # null target excluded
    ]
    df = spark.createDataFrame(rows, "cat string, fold int, y double")
    tab = {(r.cat, r.fold): r for r in
           oof_target_stats(df, "cat", "y", "fold").collect()}
    assert set(tab) == {("A", 0), ("A", 1), ("B", 0)}
    # A fold 0 encodes from fold 1 only: mean 40
    assert tab[("A", 0)].n_oof == 1
    assert tab[("A", 0)].te_oof_u == 40_000_000
    # A fold 1 encodes from fold 0: mean 15
    assert tab[("A", 1)].n_oof == 2
    assert tab[("A", 1)].te_oof_u == 15_000_000
    assert tab[("B", 0)].n_oof == 0 and tab[("B", 0)].te_oof_u is None

    enc = target_encode_oof(df, "cat", "y", "fold").collect()
    by = {(r.cat, r.fold, r.y): r.te_oof_y for r in enc}
    assert by[("A", 0, 10.0)] == 40_000_000
    assert by[("A", 1, 40.0)] == 15_000_000
    assert by[("A", None, 99.0)] is None
    assert by[(None, 1, 7.0)] is None
    # a row with a null target still RECEIVES its cell's encoding
    assert by[("A", 1, None)] == 15_000_000


def test_oof_encode_densifies_empty_cells(spark):
    """A (category, fold) cell with zero valid-target rows still encodes
    from the other folds' mean (the densified stats table); a category
    with no out-of-fold signal anywhere stays null."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        oof_target_stats, target_encode_oof)

    rows = [
        ("A", 0, 10.0), ("A", 0, 20.0), ("A", 1, 40.0),
        ("A", 2, None),   # fold 2: A present but NO valid target rows
        ("B", 2, 5.0),
    ]
    df = spark.createDataFrame(rows, "cat string, fold int, y double")
    enc = {(r.cat, r.fold, r.y): r.te_oof_y
           for r in target_encode_oof(df, "cat", "y", "fold").collect()}
    # (A, 2) has no valid rows of its own but folds 0+1 average
    # (10+20+40)/3 = 23.333333 exactly truncated on the micro grid
    assert enc[("A", 2, None)] == 23_333_333
    # B appears only in fold 2 — no other fold carries it: still null
    assert enc[("B", 2, 5.0)] is None
    # the plain (non-densified) stats table is unchanged: no (A, 2) row
    tab = oof_target_stats(df, "cat", "y", "fold").collect()
    assert ("A", 2) not in {(r.cat, r.fold) for r in tab}


def test_oof_target_stats_no_self_leak_and_invariance(spark):
    import numpy as np

    from msi_preprocessing_pipeline_spark.operators.training import (
        oof_target_stats)

    rng = np.random.default_rng(13)
    rows = [(f"c{i % 4}", int(rng.integers(0, 5)),
             float(rng.normal(0, 10))) for i in range(600)]
    df = spark.createDataFrame(rows, "cat string, fold int, y double")
    got = {(r.cat, r.fold): (r.n_oof, r.te_oof_u) for r in
           oof_target_stats(df, "cat", "y", "fold").collect()}
    q = lambda v: int(np.floor(v * 1e6 + 0.5))  # noqa: E731
    for (cat, fold), (n_oof, te) in got.items():
        oth = [q(y) for c, f, y in rows if c == cat and f != fold]
        assert n_oof == len(oth)
        exp = (sum(oth) * 1_000_000) // (len(oth) * 1_000_000) \
            if oth and sum(oth) >= 0 else None
        if oth:
            s = sum(oth)
            num, den = s * 1_000_000, len(oth) * 1_000_000
            exp = (num - (num % den if num >= 0 else num % den - den
                          if num % den else 0)) // den \
                if num >= 0 else -((-num) // den)
            assert te == exp
        else:
            assert te is None
    a = sorted(map(tuple, oof_target_stats(
        df.repartition(1), "cat", "y", "fold").collect()))
    b = sorted(map(tuple, oof_target_stats(
        df.repartition(9), "cat", "y", "fold").collect()))
    assert a == b
