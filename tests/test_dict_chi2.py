"""dict_tag / blocklist_filter (exact substring-count tagging) and
chi2_scores (staged-exact chi-square feature screen)."""

import pytest

from msi_preprocessing_pipeline_spark.operators.featsel import chi2_scores
from msi_preprocessing_pipeline_spark.operators.text import (
    blocklist_filter, dict_tag)

DOCS = [
    (1, "the Data spark data FAST sort fast sort"),
    (2, "slow slow slow query big vector"),
    (3, None),
    (4, ""),
    (5, "merge batch merge batchmerge batch"),  # adjacency still counts
]


def _counts_py(text, kw):
    if text is None:
        text = ""
    return text.lower().count(kw.lower())


def test_dict_tag_matches_python_count(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    lex = ["data", "fast sort", "merge batch", "slow", "spark"]
    got = {(r["doc_id"], r["keyword"]): r["n_hits"]
           for r in dict_tag(df, lex).collect()}
    exp = {(i, k): _counts_py(t, k)
           for i, t in DOCS for k in lex if _counts_py(t, k) > 0}
    assert got == exp
    # no rows for null/empty docs
    assert not [k for k in got if k[0] in (3, 4)]


def test_dict_tag_case_sensitive_and_args(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError):
        dict_tag(df, [])
    with pytest.raises(ValueError):
        dict_tag(df, ["a", ""])
    with pytest.raises(ValueError):
        dict_tag(df, ["a", "a"])
    with pytest.raises(ValueError):
        dict_tag(df, ["A", "a"])  # collide after lower()


def test_dict_tag_is_map_only(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = (dict_tag(df, ["data"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_blocklist_filter_total_threshold(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    kept = {r["doc_id"]: r["blocklist_hits"]
            for r in blocklist_filter(
                df, ["slow", "big vector"], max_hits=2).collect()}
    # doc 2 has slow x3 + big vector x1 = 4 hits -> dropped
    assert 2 not in kept
    assert kept[1] == 0 and kept[3] == 0 and kept[4] == 0 and kept[5] == 0
    all_kept = blocklist_filter(df, ["slow", "big vector"],
                                max_hits=4).count()
    assert all_kept == 5
    with pytest.raises(ValueError):
        blocklist_filter(df, [])


def _chi2_py(rows, feats, label):
    """Exact staged-truncation reference mirroring the operator."""
    out = {}
    for f in feats:
        cells = {}
        for r in rows:
            k = (None if r[f] is None else str(r[f]),
                 None if r[label] is None else str(r[label]))
            cells[k] = cells.get(k, 0) + 1
        rm, cm, n = {}, {}, 0
        for (v, y), o in cells.items():
            rm[v] = rm.get(v, 0) + o
            cm[y] = cm.get(y, 0) + o
            n += o
        s = 0
        for (v, y), o in cells.items():
            t1 = (1_000_000 * o * o) // rm[v]
            s += (t1 * n) // cm[y]
        out[f] = {"n": n, "dof": (len(rm) - 1) * (len(cm) - 1),
                  "chi2_micro": s - n * 1_000_000}
    return out


def test_chi2_matches_python_and_scipyless_float(spark):
    import itertools
    import random

    rng = random.Random(5)
    rows = [{"a": rng.choice(["x", "y", "z", None]),
             "b": rng.choice(["p", "q"]),
             "lab": rng.choice(["l0", "l1", "l2"])}
            for _ in range(400)]
    df = spark.createDataFrame(
        [(r["a"], r["b"], r["lab"]) for r in rows],
        "a string, b string, lab string")
    exp = _chi2_py(rows, ["a", "b"], "lab")
    got = {r["feature"]: r for r in chi2_scores(df, ["a", "b"],
                                                "lab").collect()}
    for f in ("a", "b"):
        assert got[f]["n"] == exp[f]["n"]
        assert got[f]["dof"] == exp[f]["dof"]
        assert got[f]["chi2_micro"] == exp[f]["chi2_micro"]
    # float cross-check: within the documented |cells|*1e-6 staging defect
    for f in ("a", "b"):
        cells = {}
        for r in rows:
            cells[(r[f], r["lab"])] = cells.get((r[f], r["lab"]), 0) + 1
        rm, cm = {}, {}
        for (v, y), o in cells.items():
            rm[v] = rm.get(v, 0) + o
            cm[y] = cm.get(y, 0) + o
        n = sum(cells.values())
        chi2 = sum((o - rm[v] * cm[y] / n) ** 2 / (rm[v] * cm[y] / n)
                   for (v, y), o in cells.items())
        # zero cells: add their E (they contribute E to (O-E)^2/E)
        for v, y in itertools.product(rm, cm):
            if (v, y) not in cells:
                chi2 += rm[v] * cm[y] / n
        # per-term defect: 1 micro at the final //, plus the t1
        # truncation (<=1 micro) amplified by n/c before the final stage
        bound = len(cells) * (1 + n / min(cm.values())) * 1e-6
        assert got[f]["chi2_micro"] / 1e6 == pytest.approx(chi2, abs=bound)


def test_chi2_partition_invariance_and_independence_zero(spark):
    # a perfectly independent 2x2 table -> chi2 == 0 exactly
    rows = [("u", "l0")] * 30 + [("u", "l1")] * 10 \
        + [("w", "l0")] * 60 + [("w", "l1")] * 20
    df = spark.createDataFrame(rows, "f string, lab string")
    r = chi2_scores(df, ["f"], "lab").collect()[0]
    assert (r["n"], r["dof"], r["chi2_micro"]) == (120, 1, 0)
    r7 = chi2_scores(df.repartition(7), ["f"], "lab").collect()[0]
    assert r7 == r
    with pytest.raises(ValueError):
        chi2_scores(df, [], "lab")
    with pytest.raises(ValueError):
        chi2_scores(df, ["lab"], "lab")
