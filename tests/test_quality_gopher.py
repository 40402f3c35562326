"""Session-4 round-5 quality operators: Gopher rules, NFC normalization,
perplexity buckets, tokenizer fertility."""

from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.operators.text import gopher_quality

SF001 = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# gopher_quality


def test_gopher_quality_hand_case(spark):
    rows = [
        # 24 words; "repeat me" twice; one bullet; one ellipsis line
        (1, "the cat and the dog have fun with all of that stuff here "
            "today\nrepeat me\nrepeat me\n- bullet\nends with...\nplain "
            "line"),
        (2, None),
        (3, "### #... word"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r.asDict()
           for r in gopher_quality(df).collect()}

    d1 = out[1]
    assert d1["n_words"] == 24
    assert d1["n_lines"] == 6
    assert d1["n_dup_lines"] == 2          # both "repeat me" copies
    assert d1["n_dup_line_chars"] == 18    # 2 * len("repeat me")
    assert d1["n_bullet_lines"] == 1
    assert d1["n_ellipsis_lines"] == 1
    assert d1["n_ellipsis_seqs"] == 1
    assert d1["n_stop_hits"] == 7          # the,and,the,have,with,of,that
    assert d1["gopher_pass"] is False      # 24 < 50 words

    d2 = out[2]  # null text scores as an empty doc
    assert d2["n_words"] == 0 and d2["n_lines"] == 0
    assert d2["gopher_pass"] is False

    d3 = out[3]
    assert d3["n_hash_chars"] == 4
    assert d3["n_ellipsis_seqs"] == 1
    assert d3["n_alpha_words"] == 1        # only "word"


def test_gopher_pass_thresholds_exact_integer():
    """The pass flag is integer algebra — craft a doc exactly ON the
    duplicate-line boundary (3 dup lines of 10 => 30%, inclusive pass)
    and one just past it."""
    # handled in Spark below: 10*n_dup <= 3*n_lines is the pass side


def test_gopher_boundary_dup_lines(spark):
    stop = "the be to of and that have with "  # 8 stop words
    filler = " ".join(f"w{i:03d}x" for i in range(50))
    # 10 lines, 3 of them the same → dup frac exactly 0.30 (pass);
    # 4 the same → 0.40 (fail)
    mk = lambda k: (stop + filler + "\n"  # noqa: E731
                    + "\n".join(["same line here"] * k
                                + [f"uniq {i} line" for i in range(10 - k)]))
    df = spark.createDataFrame([(1, mk(3)), (2, mk(4))],
                               "doc_id int, text string")
    out = {r["doc_id"]: r.asDict()
           for r in gopher_quality(df, min_words=10).collect()}
    assert out[1]["n_lines"] == 11 and out[1]["n_dup_lines"] == 3
    assert out[2]["n_dup_lines"] == 4
    # 10*3 <= 3*11 → pass side; 10*4 > 3*11 → fail side
    assert out[1]["gopher_pass"] is True
    assert out[2]["gopher_pass"] is False


def test_gopher_quality_is_map_only(spark):
    """Every Gopher signal — including the within-doc duplicate-line
    census — must be a pure projection: zero Exchange, zero Python."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    df = gopher_quality(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # formatted mode prints each node twice (tree + detail section)
    assert plan.count("Scan parquet") == 2


# ---------------------------------------------------------------------------
# nfc_normalize


def test_nfc_normalize_hand_case(spark):
    import unicodedata

    from msi_preprocessing_pipeline_spark.operators.text import nfc_normalize

    rows = [
        (1, "Café Å", "s1"),   # decomposed -> must change
        (2, "éå plain", "s2"),   # precomposed -> unchanged
        (3, None, "s3"),                   # null stays null
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, source string")
    out = {r["doc_id"]: r.asDict() for r in nfc_normalize(df).collect()}

    assert out[1]["nfc_changed"] is True
    assert out[1]["text"] == unicodedata.normalize("NFC", rows[0][1])
    assert out[1]["text"] == "Café Å"
    assert out[2]["nfc_changed"] is False
    assert out[2]["text"] == rows[1][1]
    assert out[3]["nfc_changed"] is None and out[3]["text"] is None
    # non-text columns pass through untouched
    assert {out[i]["source"] for i in (1, 2, 3)} == {"s1", "s2", "s3"}


# ---------------------------------------------------------------------------
# perplexity_buckets


def test_perplexity_buckets_exact_thirds(spark):
    from msi_preprocessing_pipeline_spark.operators.lm import (
        perplexity_buckets)

    rows = [(i, "s", i * 10) for i in range(1, 10)]  # 9 docs, one group
    df = spark.createDataFrame(rows, "doc_id int, source string, nll_u long")
    out = perplexity_buckets(df, by="source", score_col="nll_u").collect()
    got = {r["doc_id"]: (r["bucket_idx"], r["ppl_bucket"]) for r in out}
    for d in (1, 2, 3):
        assert got[d] == (0, "head")
    for d in (4, 5, 6):
        assert got[d] == (1, "middle")
    for d in (7, 8, 9):
        assert got[d] == (2, "tail")


def test_perplexity_buckets_tiny_groups_and_ties(spark):
    from msi_preprocessing_pipeline_spark.operators.lm import (
        perplexity_buckets)

    rows = [(1, "a", 5), (2, "a", 5), (3, "b", 7)]  # tie broken by id
    df = spark.createDataFrame(rows, "doc_id int, source string, nll_u long")
    got = {r["doc_id"]: r["ppl_bucket"]
           for r in perplexity_buckets(df).collect()}
    assert got[1] == "head" and got[2] == "middle"  # (rn-1)*3//2 = 0, 1
    assert got[3] == "head"                          # singleton group


def test_perplexity_buckets_single_exchange(spark):
    """Two window specs (ordered rank + unordered count) must share ONE
    shuffle on the group key."""
    import contextlib
    import io

    from msi_preprocessing_pipeline_spark.operators.lm import (
        perplexity_buckets)

    df = spark.read.parquet(f"{SF001}/documents.parquet") \
        .select("doc_id", "source", F.col("n_chars").alias("nll_u"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        perplexity_buckets(df).explain("formatted")
    plan = buf.getvalue()
    # formatted mode prints each node twice (tree + detail section)
    assert plan.count("Exchange") == 2


# ---------------------------------------------------------------------------
# tokenizer_fertility


def test_tokenizer_fertility_hand_case(spark):
    from msi_preprocessing_pipeline_spark.operators.text import (
        tokenizer_fertility)

    rows = [
        (1, "hello world42", "a"),   # 2 words; pieces: hello,world,42 = 3
        (2, "a b-c", "a"),           # 2 words; pieces: a,b,-,c = 4
        (3, None, "a"),
        (4, "xy", "b"),              # 1 word, 1 piece
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, source string")
    out = {r["source"]: r.asDict()
           for r in tokenizer_fertility(df).collect()}
    a = out["a"]
    assert a["n_docs"] == 3 and a["n_null_text"] == 1
    assert a["n_words"] == 4 and a["n_pieces"] == 7
    assert a["n_chars"] == len("hello world42") + len("a b-c")
    b = out["b"]
    assert (b["n_words"], b["n_pieces"], b["n_chars"]) == (1, 1, 2)


# ---------------------------------------------------------------------------
# unimax_plan


def test_unimax_hand_cases(spark):
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        unimax_plan)

    df = spark.createDataFrame([("a", 10), ("b", 20), ("c", 100)],
                               "source string, n_tok int")
    cases = {
        60: {"a": 10, "b": 20, "c": 30},     # a,b exhausted; c takes rest
        200: {"a": 10, "b": 20, "c": 100},   # everything fits
        25: {"a": 9, "b": 8, "c": 8},        # even split + 1 leftover
        0: {"a": 0, "b": 0, "c": 0},
    }
    for budget, expect in cases.items():
        got = {r["group"]: r["tokens_alloc"]
               for r in unimax_plan(df, budget).collect()}
        assert got == expect, (budget, got)


def test_unimax_conservation_and_caps(spark):
    """Σalloc == min(budget, Σcap); no source ever exceeds its cap."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        unimax_plan)

    docs = spark.read.parquet(f"{SF001}/documents.parquet") \
        .select("source", F.col("n_chars").alias("n_tok"))
    total_cap = 3 * docs.agg(F.sum("n_tok")).collect()[0][0]
    for budget in (0, 1, 1000, total_cap // 2, total_cap, total_cap * 2):
        rows = unimax_plan(docs, budget, max_epochs=3).collect()
        assert all(r["tokens_alloc"] <= r["cap"] for r in rows)
        assert (sum(r["tokens_alloc"] for r in rows)
                == min(budget, total_cap))


def test_unimax_rejects_bad_args(spark):
    import pytest as _pytest

    from msi_preprocessing_pipeline_spark.operators.sampling import (
        unimax_plan)

    df = spark.createDataFrame([("a", 1)], "source string, n_tok int")
    with _pytest.raises(ValueError):
        unimax_plan(df, -1)
    with _pytest.raises(ValueError):
        unimax_plan(df, 10, max_epochs=0)
    with _pytest.raises(ValueError):
        unimax_plan(df, 1 << 53)


# ---------------------------------------------------------------------------
# hard_negatives


def test_hard_negatives_matches_numpy_bruteforce(spark):
    import numpy as np

    from msi_preprocessing_pipeline_spark.operators.similarity import (
        hard_negatives)

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    got = hard_negatives(emb, k=1).collect()
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    labels = np.array([r["label"] for r in rows])
    q = np.floor(np.array([r["embedding"] for r in rows],
                          dtype=np.float64) * 1e6 + 0.5).astype(np.int64)
    n2 = (q * q).sum(axis=1)
    expect = {}
    for i in range(len(ids)):
        best = None
        for j in range(len(ids)):
            if labels[j] == labels[i] or n2[j] == 0:
                continue
            dot = int((q[i] * q[j]).sum())
            cos_q = int(np.floor(
                dot / (np.sqrt(float(n2[i])) * np.sqrt(float(n2[j])))
                * 1e9 + 0.5))
            key = (-cos_q, int(ids[j]))
            if best is None or key < best:
                best = key
        expect[int(ids[i])] = (-best[0], best[1])
    assert len(got) == len(expect)
    for r in got:
        c, nbr = expect[r["vec_id"]]
        assert (r["cos_q"], r["neighbor_id"]) == (c, nbr), r


def test_hard_negatives_candidates_path_subsets_bruteforce(spark):
    """With an explicit candidate-pair relation, results equal the
    brute-force ranking restricted to those pairs."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        hard_negatives)

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet") \
        .where(F.col("vec_id") < 40)
    full = hard_negatives(emb, k=3)
    cand = full.select("vec_id", "neighbor_id")  # feed its own pairs back
    again = hard_negatives(emb, k=3, candidates=cand)
    a = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["cos_q"])
         for r in full.collect()}
    b = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["cos_q"])
         for r in again.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# logreg quality classifier


def test_logreg_learns_and_is_partition_invariant(spark):
    import numpy as np

    from msi_preprocessing_pipeline_spark.operators.classifier import (
        logreg_fit, logreg_score)

    rng = np.random.RandomState(7)
    n = 1500
    x1, x2 = rng.randn(n), rng.randn(n)
    y = ((x1 + 2 * x2 + 0.3 * rng.randn(n)) > 0).astype(int)
    rows = [(float(a), float(b), int(c)) for a, b, c in zip(x1, x2, y)]
    df = spark.createDataFrame(rows, "f1 double, f2 double, y int")

    w = logreg_fit(df, ["f1", "f2"], "y", iters=10, lr=2.0)
    acc = (logreg_score(df, w, ["f1", "f2"])
           .selectExpr("avg(cast(pred = y as int))").collect()[0][0])
    assert acc > 0.9
    # the separating direction is recovered (w2 ≈ 2·w1, both positive)
    assert w[0] > 0 and w[1] > 0 and 1.5 < w[1] / w[0] < 2.7

    # bit-identical weights under any partitioning — the whole point
    for parts in (3, 13):
        w2 = logreg_fit(df.repartition(parts), ["f1", "f2"], "y",
                        iters=10, lr=2.0)
        assert np.array_equal(w, w2)


def test_logreg_rejects_nulls_and_bad_shapes(spark):
    import pytest as _pytest

    from msi_preprocessing_pipeline_spark.operators.classifier import (
        logreg_fit, logreg_score)

    df = spark.createDataFrame([(1.0, None, 1), (0.5, 1.0, 0)],
                               "f1 double, f2 double, y int")
    with _pytest.raises(ValueError, match="non-null"):
        logreg_fit(df, ["f1", "f2"], "y")
    with _pytest.raises(ValueError, match="intercept"):
        logreg_score(df, [1.0, 2.0], ["f1", "f2"])  # missing intercept
    # scoring with nulls: null z, null pred (impute-first contract)
    out = {r["f1"]: (r["z"], r["pred"])
           for r in logreg_score(df, [1.0, 1.0, 0.0],
                                 ["f1", "f2"]).collect()}
    assert out[1.0] == (None, None)
    assert out[0.5] == (1.5, 1)


def test_hard_negatives_arrow_join_strategies_identical(spark):
    """The Arrow matmul path and the JVM nested-loop path must emit
    bit-identical rows (exact-int cos_q, same tie-breaks)."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        hard_negatives)

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet") \
        .where(F.col("vec_id") < 120)
    arrow = hard_negatives(emb, k=3)
    join = hard_negatives(emb, k=3, broadcast_limit=0)
    assert "MapInPandas" in arrow._jdf.queryExecution().executedPlan() \
        .toString()
    assert "MapInPandas" not in join._jdf.queryExecution().executedPlan() \
        .toString()
    a = sorted(map(tuple, arrow.collect()))
    b = sorted(map(tuple, join.collect()))
    assert a == b and len(a) > 0


def test_hard_negatives_arrow_limit_falls_back_or_raises(spark):
    """Over ``broadcast_limit`` the Arrow plan falls back to the join plan,
    with the same rows."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        hard_negatives)

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet") \
        .where(F.col("vec_id") < 30)
    # a 30x64 matrix over a 10-cell limit falls back to the join plan
    # silently and stays correct
    out = hard_negatives(emb, k=1, broadcast_limit=10)
    assert "MapInPandas" not in out._jdf.queryExecution().executedPlan() \
        .toString()
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, hard_negatives(emb, k=1).collect()))
    assert out.count() > 0
