"""Property-based tests (hypothesis) for the numerically sensitive kernels
and the as-of join."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from msi_preprocessing_pipeline_spark.kernels import merge, stats
from msi_preprocessing_pipeline_spark.kernels.special import (
    CubicSpline1D, norm_cdf, norm_ppf)

finite_floats = st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False, allow_infinity=False)


@given(st.lists(finite_floats, min_size=2, max_size=200),
       st.lists(st.floats(min_value=0.0, max_value=1.0), min_size=1,
                max_size=8))
@settings(max_examples=60, deadline=None)
def test_mquantile_bounds_and_monotonicity(values, qs):
    v = np.asarray(values)
    q = np.sort(np.asarray(qs))
    out = stats.mquantile(v, q)
    assert np.all(out >= v.min() - 1e-9) and np.all(out <= v.max() + 1e-9)
    assert np.all(np.diff(out) >= -1e-12)  # monotone in q


@given(st.lists(st.floats(min_value=1e-6, max_value=1 - 1e-6),
                min_size=1, max_size=50))
@settings(max_examples=40, deadline=None)
def test_norm_ppf_cdf_roundtrip(ps):
    p = np.asarray(ps)
    np.testing.assert_allclose(norm_cdf(norm_ppf(p)), p, rtol=1e-8,
                               atol=1e-12)


@given(st.integers(min_value=4, max_value=30), st.randoms())
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_cubic_spline_interpolates(n, rnd):
    rng = np.random.RandomState(rnd.randint(0, 2 ** 31))
    x = np.sort(rng.rand(n) * 100)
    # ensure strictly increasing knots
    x = x + np.arange(n) * 1e-6
    y = rng.rand(n) * 10
    sp = CubicSpline1D(x, y)
    np.testing.assert_allclose(sp(x), y, atol=1e-6)


@given(st.integers(min_value=1, max_value=40), st.randoms())
@settings(max_examples=30, deadline=None)
def test_merge_partitions_components(k, rnd):
    rng = np.random.RandomState(rnd.randint(0, 2 ** 31))
    mu = np.sort(rng.rand(k) * 100)
    sig = rng.rand(k) * 2 + 0.01
    w = rng.rand(k) + 0.01
    m = merge.merge_components(mu, sig, w)
    # groups tile [0, k) contiguously and weights are conserved
    assert m.starts[0] == 0
    assert np.array_equal(m.starts[1:], (m.starts + m.lengths)[:-1])
    assert m.starts[-1] + m.lengths[-1] == k
    np.testing.assert_allclose(m.w.sum(), w.sum(), rtol=1e-12)
    # apply_merging conserves row sums (float32)
    data = rng.rand(3, k).astype(np.float32)
    merged = merge.apply_merging(data, m.starts, m.lengths)
    np.testing.assert_allclose(merged.sum(axis=1), data.sum(axis=1),
                               rtol=1e-5)


# entities x a narrow ts range: duplicate timestamps within the left side
# and ties between left and right rows are common. Right rows are unique per
# (entity, ts) — with two right rows at one instant the as-of pick is
# ambiguous in any engine.
_entity = st.sampled_from(["a", "b", "c"])
_instant = st.integers(min_value=0, max_value=40)
_left_rows = st.lists(st.tuples(_entity, _instant), min_size=1, max_size=40)
_right_rows = st.lists(st.tuples(_entity, _instant,
                                 st.integers(min_value=-999, max_value=999)),
                       max_size=30, unique_by=lambda r: r[:2])
_tolerance = st.none() | st.integers(min_value=0, max_value=10)
# each example is a Spark job: a failure reports the example as found,
# since shrinking it would run hundreds more jobs
_NO_SHRINK = (Phase.explicit, Phase.reuse, Phase.generate)


def _merge_asof_reference(left, right, direction, tolerance):
    """``pd.merge_asof`` of ``right`` (k, vf, val) onto ``left`` (k, ts):
    the matched ``(val, vf)`` per left row, in left order."""
    lp = pd.DataFrame(left, columns=["k", "ts"]).astype({"ts": "int64"})
    lp["rid"] = np.arange(len(lp))
    rp = pd.DataFrame(right, columns=["k", "vf", "val"]).astype(
        {"k": "object", "vf": "int64", "val": "int64"})
    out = pd.merge_asof(lp.sort_values("ts", kind="mergesort"),
                        rp.sort_values("vf", kind="mergesort"),
                        left_on="ts", right_on="vf", by="k",
                        direction=direction, tolerance=tolerance)
    out = out.sort_values("rid")
    as_int = lambda x: None if pd.isna(x) else int(x)  # noqa: E731
    return [(as_int(v), as_int(t)) for v, t in zip(out["val"], out["vf"])]


def _spark_frames(spark, left, *rights):
    lf = spark.createDataFrame([(i, k, t) for i, (k, t) in enumerate(left)],
                               "rid long, k string, ts long")
    return [lf] + [spark.createDataFrame(r, "k string, vf long, val long")
                   for r in rights]


@pytest.mark.parametrize("direction", ["backward", "forward"])
@given(left=_left_rows, right=_right_rows, tolerance=_tolerance)
@settings(max_examples=15, deadline=None, phases=_NO_SHRINK)
def test_asof_join_matches_merge_asof(spark, direction, left, right,
                                      tolerance):
    from msi_preprocessing_pipeline_spark.operators.asof import asof_join

    lf, rf = _spark_frames(spark, left, right)
    got = asof_join(lf, rf, on="k", left_ts="ts", right_ts="vf",
                    value_cols=["val"], direction=direction,
                    tolerance=tolerance, matched_ts_col="matched")
    assert got.columns == ["rid", "k", "ts", "val", "matched"]
    rows = sorted(got.collect(), key=lambda r: r["rid"])
    assert [(r["val"], r["matched"]) for r in rows] == \
        _merge_asof_reference(left, right, direction, tolerance)


@given(spine=_left_rows, fa=_right_rows, fb=_right_rows,
       tolerance=_tolerance)
@settings(max_examples=15, deadline=None, phases=_NO_SHRINK)
def test_fused_training_set_matches_merge_asof(spark, spine, fa, fb,
                                               tolerance):
    from msi_preprocessing_pipeline_spark.operators.training import (
        FeatureSpec, build_training_set_fused)

    sf, af, bf = _spark_frames(spark, spine, fa, fb)
    got = build_training_set_fused(sf, on="k", spine_ts="ts", features=[
        FeatureSpec(af, "vf", ["val"], "fa_"),
        FeatureSpec(bf.withColumnRenamed("val", "b"), "vf", ["b"], "fb_",
                    tolerance=tolerance)])
    assert got.columns == ["rid", "k", "ts", "fa_val", "fa_ts", "fb_b",
                           "fb_ts"]
    rows = sorted(got.collect(), key=lambda r: r["rid"])
    assert [(r["fa_val"], r["fa_ts"]) for r in rows] == \
        _merge_asof_reference(spine, fa, "backward", None)
    assert [(r["fb_b"], r["fb_ts"]) for r in rows] == \
        _merge_asof_reference(spine, fb, "backward", tolerance)


@given(st.text(min_size=0, max_size=400),
       st.integers(min_value=2, max_value=16))
@settings(max_examples=100, deadline=None)
def test_winnowing_vectorized_hash_equals_rolling(text, k):
    """The k-term vectorized polynomial hash is value-identical to the
    sequential rolling recurrence (mod 2^61 divides 2^64, so every wrapped
    uint64 intermediate stays congruent) — the invariant the winnowing
    goldens rely on."""
    base = np.uint64(257)
    mask = np.uint64((1 << 61) - 1)
    s = np.frombuffer(text.lower().encode("utf-8", "ignore"),
                      dtype=np.uint8).astype(np.uint64)
    if s.size < k:
        return
    with np.errstate(over="ignore"):
        np.seterr(over="ignore")
        # reference: sequential rolling recurrence (pre-round-3 kernel)
        pw = base ** np.uint64(k - 1)
        h = np.uint64(0)
        ref = np.empty(s.size - k + 1, dtype=np.uint64)
        for i in range(k):
            h = (h * base + s[i]) & mask
        ref[0] = h
        for i in range(1, ref.size):
            h = ((h - s[i - 1] * pw) * base + s[i + k - 1]) & mask
            ref[i] = h
        # vectorized k-term polynomial (the shipped kernel's formulation)
        powers = np.empty(k, dtype=np.uint64)
        powers[k - 1] = np.uint64(1)
        for j in range(k - 2, -1, -1):
            powers[j] = (powers[j + 1] * base) & mask
        n_out = s.size - k + 1
        out = np.zeros(n_out, dtype=np.uint64)
        for j in range(k):
            out += s[j:j + n_out] * powers[j]
        out &= mask
    np.testing.assert_array_equal(out, ref)


def test_pit_window_agg_random_conformance(spark):
    """Randomized pit_window_agg vs a pandas brute force, across shapes,
    tie patterns and horizons."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    rng = np.random.RandomState(123)
    for trial in range(4):
        n_s, n_e = rng.randint(1, 80), rng.randint(0, 200)
        win = int(rng.choice([10, 50, 250]))
        spine = pd.DataFrame({
            "k": rng.randint(0, 3, n_s),
            "ts": rng.randint(0, 500, n_s).astype("int64"),
            "rid": np.arange(n_s)})
        ev = pd.DataFrame({
            "k": rng.randint(0, 3, max(n_e, 1))[:n_e],
            "ets": rng.randint(0, 500, max(n_e, 1))[:n_e].astype("int64"),
            "v": rng.rand(max(n_e, 1))[:n_e]})
        if n_e == 0:
            ev = pd.DataFrame({"k": pd.Series(dtype="int64"),
                               "ets": pd.Series(dtype="int64"),
                               "v": pd.Series(dtype="float64")})
        sdf = spark.createDataFrame(spine)
        edf = spark.createDataFrame(ev, schema="k long, ets long, v double")
        got = (pit_window_agg(sdf, edf, on="k", spine_ts="ts",
                              event_ts="ets", value_col="v",
                              window=win, fns=("count", "sum"))
               .toPandas().sort_values("rid").reset_index(drop=True))
        for _, s in spine.sort_values("rid").iterrows():
            m = ev[(ev.k == s.k) & (ev.ets >= s.ts - win)
                   & (ev.ets < s.ts)]
            r = got[got.rid == s.rid].iloc[0]
            assert r[f"f_count_{win}"] == len(m), (trial, s.rid)
            if len(m):
                assert abs(r[f"f_sum_{win}"] - m.v.sum()) < 1e-9


def test_cut_spans_conserves_words_random_docs(spark):
    """Randomized invariant: for every surviving doc,
    n_words_cut + n_words_kept == total words, and no duplicated 8-gram
    survives across distinct docs after cutting."""
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        cut_spans, duplicate_spans)

    rng = np.random.RandomState(55)
    vocab = [f"w{i}" for i in range(30)]
    boiler = " ".join(f"b{i}" for i in range(10))
    rows = []
    for i in range(40):
        body = " ".join(rng.choice(vocab, rng.randint(12, 40)))
        # half the docs embed the shared passage at a random position
        if i % 2 == 0:
            words = body.split()
            pos = rng.randint(0, len(words))
            body = " ".join(words[:pos] + [boiler] + words[pos:])
        rows.append((i, body))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_spans(docs, n=8)
    out = cut_spans(docs, spans)
    joined = (docs.selectExpr(
        "doc_id",
        "size(split(trim(lower(text)), '\\\\s+')) as n_total")
        .join(out, "doc_id"))
    bad = joined.where(
        joined.n_total != joined.n_words_cut + joined.n_words_kept).count()
    assert bad == 0
    # after cutting, re-running span detection on the cut text of the
    # SURVIVING docs finds (almost) nothing: allow only spans arising from
    # random vocab collisions, not the planted boilerplate
    recut = duplicate_spans(
        out.selectExpr("doc_id", "text_cut as text"), n=8)
    leftover = recut.join(
        spark.createDataFrame([(i,) for i in range(0, 40, 2)],
                              "doc_id long"), "doc_id").count()
    assert leftover == 0  # planted passage fully gone from planted docs
