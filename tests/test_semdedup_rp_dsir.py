"""SemDeDup, random projection and DSIR importance weights: brute-force
parity against independent numpy/python recomputes, partition-invariance
(the golden-pin precondition), and the null/guard contracts."""

import hashlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _emb_with_dups(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet") \
        .select("vec_id", "embedding")
    dup = (emb.where(F.col("vec_id") < 5)
           .select((F.col("vec_id") + 1000000).alias("vec_id"),
                   F.transform("embedding",
                               lambda x: (x.cast("double")
                                          * F.lit(1.001)).cast("float"))
                   .alias("embedding")))
    return emb.unionByName(dup)


def _brute_semdedup(pdf, cent, threshold, scale=6):
    """Independent numpy replication of the semdedup verdict given the
    fitted centroids: quantize, assign by float argmin, exact-int d²
    against rint(centroid), pairwise exact-int cosine test, keep the
    farther-from-centroid (ties → lower id)."""
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Q = np.floor(M * 10.0 ** scale + 0.5).astype(np.int64)
    d2f = ((Q.astype(np.float64)[:, None, :]
            - cent[None, :, :]) ** 2).sum(axis=2)
    assign = d2f.argmin(axis=1)
    cr = np.rint(cent).astype(np.int64)
    d2q = np.array([(Q[i] - cr[assign[i]]) @ (Q[i] - cr[assign[i]])
                    for i in range(len(Q))], dtype=object)
    from fractions import Fraction
    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator
    removed = {}
    for i in range(len(Q)):
        removed[ids[i]] = False
        for j in range(len(Q)):
            if i == j or assign[i] != assign[j]:
                continue
            dot = int(Q[i] @ Q[j])
            na, nb = int(Q[i] @ Q[i]), int(Q[j] @ Q[j])
            near = (dot > 0 and na > 0 and nb > 0
                    and dot * dot * den * den >= num * num * na * nb)
            mate_wins = (d2q[j] > d2q[i]
                         or (d2q[j] == d2q[i] and ids[j] < ids[i]))
            if near and mate_wins:
                removed[ids[i]] = True
                break
    return removed, dict(zip(ids, (int(a) for a in assign))), \
        dict(zip(ids, (int(v) for v in d2q)))


def test_semdedup_matches_bruteforce(spark):
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        kmeans_fit, semdedup)

    corpus = _emb_with_dups(spark)
    cent = kmeans_fit(corpus, k=4, iters=3, seed=19, scale=6)
    got = semdedup(corpus, k=4, threshold=0.9, iters=3, seed=19,
                   scale=6, centroids=cent).toPandas()
    assert int(got["removed"].sum()) == 5  # the 5 injected pairs fire
    pdf = corpus.toPandas()
    exp_removed, exp_assign, exp_d2 = _brute_semdedup(pdf, cent, 0.9)
    for r in got.itertuples(index=False):
        assert r.removed == exp_removed[r.vec_id], r
        assert r.cluster == exp_assign[r.vec_id], r
        assert r.d2_q == exp_d2[r.vec_id], r


def test_semdedup_partition_invariant(spark):
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        semdedup)

    corpus = _emb_with_dups(spark)
    a = semdedup(corpus, k=4, threshold=0.9, iters=3, seed=19, scale=6) \
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    b = semdedup(corpus.repartition(3), k=4, threshold=0.9, iters=3,
                 seed=19, scale=6) \
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_semdedup_zero_vectors_never_dup(spark):
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        semdedup)

    zeros = spark.createDataFrame(
        [(i, [0.0] * 8) for i in range(6)]
        + [(10 + i, [1.0 * i + 1.0] + [0.5] * 7) for i in range(4)],
        "vec_id long, embedding array<double>")
    out = semdedup(zeros, k=2, threshold=0.5, iters=2, scale=3).toPandas()
    z = out[out.vec_id < 6]
    # identical zero vectors co-cluster but cosine is undefined → kept
    assert not z["removed"].any()


def test_semdedup_max_cluster_guard(spark):
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        semdedup)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="max_cluster"):
        semdedup(emb, k=2, iters=1, max_cluster=3)


def test_random_projection_matches_numpy(spark):
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        rademacher_signs, random_projection)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet") \
        .select("vec_id", "embedding")
    with_null = emb.unionByName(spark.createDataFrame(
        [(999999, None)], emb.schema))
    got = random_projection(with_null, in_dim=64, out_dim=16).toPandas() \
        .set_index("vec_id")["rp"]
    nullcell = got.loc[999999]
    assert nullcell is None or (isinstance(nullcell, float)
                                and np.isnan(nullcell))
    S = rademacher_signs(64, 16, 7)
    pdf = emb.toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Q = np.floor(M * 1e6 + 0.5).astype(np.int64)
    P = Q @ S
    for i, vid in enumerate(pdf["vec_id"]):
        assert np.array_equal(np.asarray(got.loc[vid], dtype=np.int64),
                              P[i]), vid


def test_random_projection_preserves_distances(spark):
    """The JL property itself: relative pairwise distance distortion of
    the 64→16 sketch stays within the lemma's ballpark for most pairs
    (sanity that the sign matrix isn't degenerate)."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        rademacher_signs)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(40)
    M = np.stack(emb.toPandas()["embedding"].to_numpy()) \
        .astype(np.float64)
    S = rademacher_signs(64, 16, 7).astype(np.float64)
    P = (M @ S) / np.sqrt(16.0)
    do = np.linalg.norm(M[:, None] - M[None, :], axis=2)
    dp = np.linalg.norm(P[:, None] - P[None, :], axis=2)
    iu = np.triu_indices(len(M), 1)
    ratio = dp[iu] / do[iu]
    assert 0.4 < np.median(ratio) < 1.6
    assert (np.abs(ratio - 1.0) < 0.8).mean() > 0.9


def _py_grams_bucketed(text, buckets, seed, ngram_max=2):
    words = re.split(r"\s+", text.strip().lower()) if text is not None \
        else None
    if words is None:
        return []
    out = []
    for n in range(1, ngram_max + 1):
        grams = ([" ".join(words[i:i + n])
                  for i in range(len(words) - n + 1)]
                 if len(words) >= n else [" ".join(words)])
        for g in grams:
            h = int(hashlib.md5(f"{g}:{n}:{seed}".encode())
                    .hexdigest()[:8], 16)
            out.append(h % buckets)
    return out


def test_dsir_weights_match_python(spark):
    from msi_preprocessing_pipeline_spark.operators.importance import (
        dsir_bucket_logratios, dsir_weights)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.where(F.col("lang") == "en")
    B, seed = 512, 7
    lamq = dsir_bucket_logratios(docs, target, buckets=B, seed=seed)
    got = dsir_weights(docs, lamq, buckets=B, seed=seed).toPandas() \
        .set_index("doc_id")
    pdf = docs.select("doc_id", "text", "lang").toPandas()
    t = np.zeros(B, dtype=np.int64)
    r = np.zeros(B, dtype=np.int64)
    per_doc = {}
    for row in pdf.itertuples(index=False):
        bs = _py_grams_bucketed(row.text, B, seed)
        per_doc[row.doc_id] = bs
        for b in bs:
            r[b] += 1
            if row.lang == "en":
                t[b] += 1
    lam = (np.log((t + 1.0) / float(t.sum() + B))
           - np.log((r + 1.0) / float(r.sum() + B)))
    lam_exp = np.floor(lam * 1e9 + 0.5).astype(np.int64)
    assert np.array_equal(lamq, lam_exp)
    for did, bs in per_doc.items():
        assert got.loc[did, "weight_q"] == sum(int(lam_exp[b])
                                               for b in bs), did
        assert got.loc[did, "n_grams"] == len(bs), did


def test_dsir_null_text_keeps_row(spark):
    from msi_preprocessing_pipeline_spark.operators.importance import (
        dsir_weights)

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, None)], "doc_id long, text string")
    lamq = np.ones(64, dtype=np.int64)
    out = dsir_weights(docs, lamq, buckets=64).toPandas() \
        .set_index("doc_id")
    assert out.loc[1, "weight_q"] == 5  # 3 unigrams + 2 bigrams, λ=1
    assert pd.isna(out.loc[2, "weight_q"])


def test_semdedup_decimal_overflow_guard(spark):
    """Magnitudes that pass the int64 dot guard but would overflow the
    decimal(38,0) cosine comparison must fail fast, not silently keep
    true duplicates (the `near` predicate would go NULL/raise)."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        semdedup)

    big = spark.createDataFrame(
        [(i, [215.0 + i * 0.001] * 64) for i in range(8)],
        "vec_id long, embedding array<double>")
    with pytest.raises(OverflowError, match="decimal"):
        semdedup(big, k=2, iters=1, threshold=0.9, scale=6,
                 max_cluster=100)


def test_dsir_buckets_mismatch_fails_fast(spark):
    from msi_preprocessing_pipeline_spark.operators.importance import (
        dsir_weights)

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="buckets"):
        dsir_weights(docs, np.ones(64, dtype=np.int64), buckets=128)


def test_group_kfold_contract(spark):
    from msi_preprocessing_pipeline_spark.operators.cv import group_kfold

    ev = spark.read.parquet(f"{SF}/events.parquet")
    with_null = ev.unionByName(
        ev.limit(1).withColumn("user_id", F.lit(None).cast("long")))
    out = group_kfold(with_null, "user_id", n_folds=5, seed=7).toPandas()
    # group-stable: one fold per user
    per_user = out[out.user_id.notna()].groupby("user_id")["fold"].nunique()
    assert (per_user == 1).all()
    # matches the python md5 mirror
    for uid, fold in out[out.user_id.notna()] \
            .drop_duplicates("user_id")[["user_id", "fold"]].itertuples(
                index=False):
        h = int(hashlib.md5(f"{int(uid)}:gkf:7".encode())
                .hexdigest()[:8], 16)
        assert fold == h % 5, uid
    # null keys get null folds, all folds populated
    assert out[out.user_id.isna()]["fold"].isna().all()
    assert set(out[out.user_id.notna()]["fold"].unique()) == set(range(5))
    # growth-stable: a subset assigns identically
    sub = group_kfold(ev.limit(50), "user_id", n_folds=5, seed=7) \
        .toPandas().drop_duplicates("user_id").set_index("user_id")["fold"]
    full = out[out.user_id.notna()].drop_duplicates("user_id") \
        .set_index("user_id")["fold"]
    for uid in sub.index:
        assert sub.loc[uid] == full.loc[uid]


def test_classification_report(spark):
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        classification_report)

    df = spark.createDataFrame(
        [(True, True), (True, False), (False, True), (False, False),
         (True, True), (None, True), (True, None)],
        "label boolean, pred boolean")
    out = classification_report(df, "label", "pred").collect()[0]
    assert (out.tp, out.fp, out.fn, out.tn, out.n_null) == (2, 1, 1, 1, 2)
    assert out.precision == 2 / 3 and out.recall == 2 / 3
    assert out.f1 == 4 / 6 and out.accuracy == 3 / 5
    # by-group variant + degenerate guards (no positives → null metrics)
    g = spark.createDataFrame(
        [("a", False, False), ("a", False, False), ("b", True, True)],
        "g string, label boolean, pred boolean")
    rep = {r.g: r for r in
           classification_report(g, "label", "pred", by="g").collect()}
    assert rep["a"].precision is None and rep["a"].recall is None
    assert rep["a"].accuracy == 1.0
    assert rep["b"].f1 == 1.0


def test_weighted_sample_k(spark):
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        weighted_sample_k)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with_bad = docs.unionByName(
        docs.limit(2).withColumn("n_chars", F.lit(0).cast("long"))
        .withColumn("doc_id", F.col("doc_id") + 900000)).unionByName(
        docs.limit(1).withColumn("n_chars", F.lit(None).cast("long"))
        .withColumn("doc_id", F.col("doc_id") + 950000))
    got = weighted_sample_k(with_bad, "doc_id", "n_chars", n=20, seed=11) \
        .toPandas()
    assert len(got) == 20
    # zero/null-weight rows can never win
    assert not (got["doc_id"] >= 900000).any()
    # matches the python race-key mirror (rank gaps >> 1 ulp)
    pdf = docs.select("doc_id", "n_chars").toPandas()
    race = {}
    for did, w in pdf.itertuples(index=False):
        h = int(hashlib.md5(f"{did}:11".encode()).hexdigest()[:8], 16)
        u = (h + 1.0) / 16 ** 8
        race[did] = -np.log(u) / float(w)
    exp = sorted(race, key=lambda d: (race[d], d))[:20]
    assert list(got.sort_values(["race_key", "doc_id"])["doc_id"]) == exp
    # partition-invariant selection
    again = weighted_sample_k(with_bad.repartition(7), "doc_id",
                              "n_chars", n=20, seed=11).toPandas()
    assert sorted(again["doc_id"]) == sorted(got["doc_id"])
    # weighting pulls long docs: sampled mean length > corpus mean
    assert got["n_chars"].mean() > pdf["n_chars"].mean()


def test_scalar_quantize(spark):
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        scalar_quantize)

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, -1.0]), (2, [0.0, 0.0, 0.0, 0.0]),
         (3, None)],
        "vec_id long, embedding array<double>")
    out = scalar_quantize(df, bits=8).toPandas().set_index("vec_id")
    assert list(out.loc[1, "codes"]) == [127, -63, 32, -127]
    assert out.loc[1, "qscale"] == 1.0
    assert list(out.loc[2, "codes"]) == [0, 0, 0, 0]
    assert out.loc[2, "qscale"] == 0.0
    assert out.loc[3, "codes"] is None or (
        isinstance(out.loc[3, "codes"], float)
        and np.isnan(out.loc[3, "codes"]))
    # dequantization error bounded by half a step
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = scalar_quantize(emb, bits=8).toPandas().set_index("vec_id")
    pdf = emb.toPandas().set_index("vec_id")
    for vid in list(pdf.index)[:20]:
        x = np.asarray(pdf.loc[vid, "embedding"], dtype=np.float64)
        amax = float(np.abs(x).max())
        deq = np.asarray(got.loc[vid, "codes"], dtype=np.float64) \
            * amax / 127.0
        assert np.abs(deq - x).max() <= amax / 127.0 * 0.5 + 1e-12
    import pytest
    with pytest.raises(ValueError, match="bits"):
        scalar_quantize(df, bits=1)


def test_dsir_fused_predicate_matches_two_pass(spark):
    from msi_preprocessing_pipeline_spark.operators.importance import (
        dsir_bucket_logratios)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    two_pass = dsir_bucket_logratios(
        docs, docs.where(F.col("lang") == "en"), buckets=512)
    fused = dsir_bucket_logratios(
        docs, buckets=512, target_predicate=F.col("lang") == "en")
    assert np.array_equal(two_pass, fused)
    import pytest
    with pytest.raises(ValueError, match="not both"):
        dsir_bucket_logratios(docs, docs, buckets=64,
                              target_predicate=F.lit(True))
    with pytest.raises(ValueError, match="required"):
        dsir_bucket_logratios(docs, buckets=64)
