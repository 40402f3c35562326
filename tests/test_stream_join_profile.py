"""Stream-stream interval join batch parity; column_profile exactness."""

import pytest

from msi_preprocessing_pipeline_spark.operators.profile import column_profile


def test_column_profile_exact(spark):
    rows = [("a", 1.5), ("a", None), ("b", 2.5), (None, 2.5), (None, None)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["column"]: r for r in column_profile(df).collect()}
    g, v = got["g"], got["v"]
    assert (g["n_rows"], g["n_null"], g["n_distinct"],
            g["min_str"], g["max_str"]) == (5, 2, 2, "a", "b")
    assert (v["n_rows"], v["n_null"], v["n_distinct"],
            v["min_str"], v["max_str"]) == (5, 2, 2, "1.5", "2.5")
    with pytest.raises(ValueError):
        column_profile(df, [])


def test_column_profile_all_null_column(spark):
    df = spark.createDataFrame([(None,), (None,)], "x string")
    r = column_profile(df, ["x"]).collect()[0]
    assert (r["n_rows"], r["n_null"], r["n_distinct"],
            r["min_str"], r["max_str"]) == (2, 2, 0, None, None)


def test_top_paths_brute_force(spark):
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        top_paths)
    import random
    rng = random.Random(21)
    types = ["view", "click", "purchase", None]
    rows, per = [], {}
    for uid in range(40):
        n = rng.randint(1, 6)
        evs = [(i, rng.choice(types)) for i in range(n)]
        per[uid] = evs
        rows += [(uid, i, t, i) for i, t in evs]
    df = spark.createDataFrame(rows, "uid long, ts long, et string, eid long")
    got = [(r["path"], r["n_entities"], r["n_truncated"],
            r["truncated_frac"])
           for r in top_paths(df, "uid", "ts", "et", max_steps=3, k=5,
                              tiebreak=["eid"]).collect()]
    census = {}
    for uid, evs in per.items():
        path = ">".join((t if t is not None else "∅")
                        for _, t in evs[:3])
        n, tr = census.get(path, (0, 0))
        census[path] = (n + 1, tr + (1 if len(evs) > 3 else 0))
    exp = sorted(((p, n, tr, tr / n) for p, (n, tr) in census.items()),
                 key=lambda r: (-r[1], r[0]))[:5]
    assert got == [tuple(e) for e in exp]


def test_top_paths_validation_and_single_event(spark):
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        top_paths)
    df = spark.createDataFrame([(1, 1, "a", 1)],
                               "uid long, ts long, et string, eid long")
    out = top_paths(df, "uid", "ts", "et").collect()
    assert [(r["path"], r["n_entities"], r["n_truncated"]) for r in out] \
        == [("a", 1, 0)]
    import pytest as pt
    with pt.raises(ValueError):
        top_paths(df, "uid", "ts", "et", max_steps=0)


def test_column_profile_accepts_string_arg(spark):
    df = spark.createDataFrame([("x", 1.0)], "g string, v double")
    out = column_profile(df, "g").collect()
    assert len(out) == 1 and out[0]["column"] == "g"


def test_audience_overlap_brute_force(spark):
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        audience_overlap)
    rows = [(1, "a"), (1, "b"), (1, "a"),        # dup event: distinct user
            (2, "a"), (3, "b"), (4, "c"),
            (None, "a"), (5, None)]              # nulls excluded
    df = spark.createDataFrame(rows, "uid long, et string")
    got = {(r["type_a"], r["type_b"]):
           (r["n_a"], r["n_b"], r["n_both"], r["jaccard"])
           for r in audience_overlap(df, "uid", "et").collect()}
    # audiences: a={1,2}, b={1,3}, c={4}
    assert got[("a", "b")] == (2, 2, 1, pytest.approx(1 / 3))
    assert got[("a", "c")] == (2, 1, 0, 0.0)     # zero-overlap pair present
    assert got[("b", "c")] == (2, 1, 0, 0.0)
    assert len(got) == 3
