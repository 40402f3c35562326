"""Similarity search over embedding columns.

* :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set, compute cosine via JVM array expressions (``zip_with``/``aggregate``
  — whole-stage codegen, no Python), rank with a window. The baseline.
* :func:`lsh_topk` — the scale path: sign-LSH bucket candidates (multi-probe
  over the query's own bucket), exact re-rank inside buckets. Recall < 1 by
  construction; the bench compares it against brute force.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm(c):
    return F.sqrt(F.aggregate(
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k neighbors per query by cosine (excluding self-matches).

    Plan shape: broadcast-nested-loop join against the broadcast query set
    (no shuffle for the scoring pass), then one shuffle for the per-query
    top-k window. Deterministic tie-break by neighbor id.
    """
    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("__qvec"))
    scored = (corpus.crossJoin(F.broadcast(q))
              .where(F.col(id_col) != F.col(query_id_col))
              .withColumn("cosine",
                          F.round(_dot(F.col(vec_col), F.col("__qvec"))
                                  / (_norm(F.col(vec_col))
                                     * _norm(F.col("__qvec"))), 6)))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= F.lit(k))
            .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                    "cosine", "rank"))


def ivf_fit_centroids(corpus: DataFrame, n_centroids: int = 16,
                      vec_col: str = "embedding", iters: int = 10,
                      sample_rows: int = 100_000, seed: int = 19,
                      id_col: str = "vec_id") -> np.ndarray:
    """Deterministic IVF coarse quantizer: k-means on a bounded seeded sample
    (collected — the sample, not the corpus). Returns the [k, dim] centroid
    matrix (broadcastable).

    Deterministic REGARDLESS of partitioning: the sample is a seeded
    hash-band filter on ``id_col`` (partition-invariant, unlike ``sample()``
    whose Bernoulli stream is seeded per partition index) and the collected
    rows are sorted by id before k-means (``collect()`` order follows split
    scheduling order, which varies with ``maxPartitionBytes``/parallelism).
    This is what lets the ``ivf_topk`` query be pinned by a VALUES golden.
    """
    sel = corpus.select(id_col, vec_col)
    n = sel.count()
    if n > sample_rows:
        band = int((sample_rows / n) * (1 << 32))
        sel = sel.where(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(int(seed))),
                   F.lit(1 << 32)) < F.lit(band))
    rows = sorted(sel.collect(), key=lambda r: r[0])
    mat = np.stack([np.asarray(r[1], dtype=float) for r in rows])
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(mat.shape[0],
                               size=min(n_centroids, mat.shape[0]),
                               replace=False)]

    def nearest(block: np.ndarray) -> np.ndarray:
        # same naive (x-c)^2 formula as the executor-side assignment (the
        # pinned goldens rely on bit-equal argmins)
        return ((block[:, None, :] - centroids[None, :, :]) ** 2) \
            .sum(axis=2).argmin(axis=1)

    chunk = 8192  # bounds the [chunk, k, dim] temp (~8k·16·64·8 B ≈ 64 MB)
    for _ in range(iters):
        assign = np.concatenate([
            nearest(mat[i:i + chunk]) for i in range(0, mat.shape[0], chunk)
        ])
        for c in range(centroids.shape[0]):
            members = mat[assign == c]
            if members.size:
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_topk(corpus: DataFrame, queries: DataFrame,
             centroids: np.ndarray, k: int = 10, n_probe: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id") -> DataFrame:
    """IVF approximate top-k: corpus rows are assigned to their nearest
    centroid (inverted lists); each query scans only its ``n_probe`` nearest
    lists, exact cosine re-rank inside. The scale path when LSH buckets are
    too coarse: list sizes are balanced by construction of k-means."""
    import pyarrow as pa

    from msi_preprocessing_pipeline_spark.functions.arrowutil import (
        col_of, list_col_matrix)

    spark = corpus.sparkSession
    cent_bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=float))

    def assign_corpus(batches: Iterator["pa.RecordBatch"]) \
            -> Iterator["pa.RecordBatch"]:
        cents = cent_bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            mat = list_col_matrix(rb, vec_col)
            # keep the naive (x-c)^2 form: argmin must match the driver
            # k-means assignment bit-for-bit (pinned ANN goldens); batches
            # are Arrow-sized so the [n, k, dim] temporary stays small
            d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            yield pa.RecordBatch.from_arrays(
                [col_of(rb, id_col), col_of(rb, vec_col),
                 pa.array(d.argmin(axis=1).astype(np.int64),
                          type=pa.int64())],
                names=[id_col, vec_col, "list_id"])

    def assign_queries(batches: Iterator["pa.RecordBatch"]) \
            -> Iterator["pa.RecordBatch"]:
        cents = cent_bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            mat = list_col_matrix(rb, vec_col)
            d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            probes = np.argsort(d, axis=1)[:, :n_probe]
            n = rb.num_rows
            take = pa.array(np.repeat(np.arange(n, dtype=np.int64),
                                      probes.shape[1]))
            yield pa.RecordBatch.from_arrays(
                [col_of(rb, id_col).take(take),
                 col_of(rb, vec_col).take(take),
                 pa.array(probes.ravel().astype(np.int64),
                          type=pa.int64())],
                names=[query_id_col, vec_col, "list_id"])

    c = corpus.select(id_col, vec_col).mapInArrow(
        assign_corpus,
        schema=f"{id_col} long, {vec_col} array<float>, list_id long")
    q = queries.select(id_col, vec_col).mapInArrow(
        assign_queries,
        schema=f"{query_id_col} long, {vec_col} array<float>, list_id long")
    cand = (c.join(F.broadcast(q.withColumnRenamed(vec_col, "__qvec")),
                   "list_id")
            .where(F.col(id_col) != F.col(query_id_col))
            .dropDuplicates([query_id_col, id_col]))
    scored = cand.withColumn(
        "cosine", F.round(_dot(F.col(vec_col), F.col("__qvec"))
                          / (_norm(F.col(vec_col)) * _norm(F.col("__qvec"))),
                          6))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.lit(k))
            .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                    "cosine", "rank"))


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", lsh_bits: int = 8,
             seed: int = 17) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing the query's
    sign-LSH bucket (plus all 1-bit-flip probe buckets), exact cosine re-rank.
    """
    import pyarrow as pa

    from msi_preprocessing_pipeline_spark.functions.arrowutil import (
        col_of, list_col_matrix)

    spark = corpus.sparkSession
    dim = len(corpus.select(vec_col).first()[0])
    rng = np.random.RandomState(seed)
    planes_bc = spark.sparkContext.broadcast(rng.randn(lsh_bits, dim))

    def bucket_of(mat: np.ndarray) -> np.ndarray:
        planes = planes_bc.value
        signs = (mat @ planes.T) > 0
        return (signs * (1 << np.arange(signs.shape[1]))).sum(axis=1) \
            .astype(np.int64)

    def corpus_buckets(batches: Iterator["pa.RecordBatch"]) \
            -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [col_of(rb, id_col), col_of(rb, vec_col),
                 pa.array(bucket_of(list_col_matrix(rb, vec_col)),
                          type=pa.int64())],
                names=[id_col, vec_col, "bucket"])

    def query_probes(batches: Iterator["pa.RecordBatch"]) \
            -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            base = bucket_of(list_col_matrix(rb, vec_col))  # [n]
            # each query probes its own bucket + every 1-bit flip
            flips = np.int64(1) << np.arange(lsh_bits, dtype=np.int64)
            probes = np.concatenate(
                [base[:, None], base[:, None] ^ flips[None, :]], axis=1)
            n = rb.num_rows
            take = pa.array(np.repeat(np.arange(n, dtype=np.int64),
                                      lsh_bits + 1))
            yield pa.RecordBatch.from_arrays(
                [col_of(rb, id_col).take(take),
                 col_of(rb, vec_col).take(take),
                 pa.array(probes.ravel(), type=pa.int64())],
                names=[query_id_col, vec_col, "bucket"])

    c = corpus.select(id_col, vec_col).mapInArrow(
        corpus_buckets,
        schema=f"{id_col} long, {vec_col} array<float>, bucket long")
    q = queries.select(id_col, vec_col).mapInArrow(
        query_probes,
        schema=f"{query_id_col} long, {vec_col} array<float>, bucket long")
    cand = (c.join(F.broadcast(q.withColumnRenamed(vec_col, "__qvec")),
                   "bucket")
            .where(F.col(id_col) != F.col(query_id_col))
            .dropDuplicates([query_id_col, id_col]))
    scored = cand.withColumn(
        "cosine", F.round(_dot(F.col(vec_col), F.col("__qvec"))
                          / (_norm(F.col(vec_col)) * _norm(F.col("__qvec"))),
                          6))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.lit(k))
            .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                    "cosine", "rank"))


# ---------------------------------------------------------------------------
# distributed k-means (full-corpus Lloyd's — the 100 TB path; contrast with
# ivf_fit_centroids, which k-means a bounded collected SAMPLE)


def _quantize_vecs(corpus: DataFrame, vec_col: str, scale: int):
    """Embedding components → ``floor(x·10^s + 0.5)`` int64 arrays (JVM
    transform, map-only). Exact-integer space makes every downstream sum
    partition-order-free — the same discipline as ``embeddings.scale``."""
    from ..functions.util import quantize

    return F.transform(F.col(vec_col), lambda x: quantize(x, scale))


def kmeans_fit(corpus: DataFrame, k: int = 8, vec_col: str = "embedding",
               id_col: str = "vec_id", iters: int = 5, seed: int = 19,
               scale: int = 6) -> np.ndarray:
    """Distributed Lloyd's over the FULL corpus; returns the [k, dim]
    centroid matrix in quantized (``10^-scale``) units, bit-reproducible
    under any partitioning / cluster size.

    Per iteration: broadcast the k·d centroid matrix into one Arrow pass
    that emits per-batch partial sums (one int64 row per cluster seen —
    NOT per input row), reduce those with exact decimal sums, collect the
    k-row result to the driver. Raw vectors never shuffle; the per-iter
    exchange is ≤ partitions·k rows. Determinism: inputs are quantized
    once, partial sums are exact integers (overflow-guarded), and the new
    centroid ``Σq/n`` is the same float64 everywhere since both operands
    are exact; distance argmin ties break to the LOWEST cluster id.

    Init: the k corpus rows with the smallest ``xxhash64(id, seed)``
    (total order, partition-invariant — same rationale as
    ``ivf_fit_centroids``'s hash-band sample).

    Implemented as the single-subspace case of :func:`pq_fit` (identical
    math batch for batch — one shared copy of the init/guard/reduce
    machinery, so a determinism fix cannot drift between them).  Null
    vectors contribute nothing to the fit (the ``_cov_agg`` dropna
    discipline); ``kmeans_assign`` keeps their rows with null
    cluster/dist.
    """
    return pq_fit(corpus, m=1, k=k, vec_col=vec_col, id_col=id_col,
                  iters=iters, seed=seed, scale=scale)[0]


def kmeans_assign(corpus: DataFrame, centroids: np.ndarray,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  scale: int = 6) -> DataFrame:
    """Map-only cluster assignment against a broadcast quantized-unit
    centroid matrix (from :func:`kmeans_fit`): ``(id, cluster, dist)``
    with ``dist`` in original units. Same quantization + argmin rule as
    the fit, so assignments are partitioning-invariant. Null embeddings
    keep their row with null cluster/dist (the
    ``centroid_distance_features`` discipline)."""
    cent = np.asarray(centroids, dtype=np.float64)
    id_type = corpus.schema[id_col].dataType.simpleString()
    mul = float(10 ** scale)

    def run(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            cluster = pd.array([None] * len(pdf), dtype="Int32")
            dist = pd.array([None] * len(pdf), dtype="Float64")
            mask = pdf["q"].notna().to_numpy()
            if mask.any():
                idxs = np.nonzero(mask)[0]
                M = np.stack(pdf["q"].iloc[idxs].to_numpy()) \
                    .astype(np.float64)
                d2 = ((M[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                dd = np.sqrt(d2[np.arange(len(M)), assign]) / mul
                for r, i in enumerate(idxs):
                    cluster[i] = int(assign[r])
                    dist[i] = float(dd[r])
            yield pd.DataFrame({id_col: pdf[id_col],
                                "cluster": cluster, "dist": dist})

    qdf = corpus.select(id_col,
                        _quantize_vecs(corpus, vec_col, scale).alias("q"))
    return qdf.mapInPandas(
        run, schema=f"{id_col} {id_type}, cluster int, dist double")


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic deduplication


def semdedup(corpus: DataFrame, k: int | None = None,
             threshold: float = 0.96,
             vec_col: str = "embedding", id_col: str = "vec_id",
             iters: int = 4, seed: int = 19, scale: int = 6,
             max_cluster: int = 200_000,
             centroids: np.ndarray | None = None,
             materialize: bool = True) -> DataFrame:
    """Semantic dedup à la SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    k-means the corpus, then inside each cluster mark every row that has a
    cluster-mate with cosine ≥ ``threshold`` ranking above it.  Returns
    ``(id, cluster, d2_q, removed)`` — ``d2_q`` the EXACT integer squared
    distance to the row's centroid in quantized units.

    Keep rule (deterministic): within a semantic-duplicate pair the row
    FARTHER from its centroid survives (the paper's "keep low
    centroid-similarity" policy — retains the less prototypical example);
    ties break to the lower id.  A row is removed iff some same-cluster
    mate with ``cos ≥ threshold`` beats it under that order.

    Exactness: vectors are quantized once (``floor(x·10^s + 0.5)``), so
    dot products, squared norms and d² are exact int64; the cosine test
    runs comparison-free in integer space —
    ``dot > 0 ∧ dot²·den² ≥ num²·‖a‖²·‖b‖²`` with ``threshold = num/den``
    exact from its decimal literal — and the fit itself is the
    partitioning-invariant :func:`kmeans_fit`.  Zero-norm vectors are
    never considered duplicates (cosine undefined).

    Scale: the all-pairs stage is scoped to clusters — the published
    recipe grows ``k ∝ N`` to bound cluster sizes, making the self-join
    ``Σ|c|²`` instead of ``N²``; a ``max_cluster`` guard fails fast when
    an input violates that contract (the ``star_over`` philosophy from
    ``dedup.minhash_lsh_pairs``, except SemDeDup's semantics give no
    sound star fallback: removal depends on EVERY pairwise edge).  One
    shuffle on cluster id for the self-join, one groupBy(id) for the
    removal verdict; raw vectors shuffle once, quantized.
    """
    from fractions import Fraction

    from ..functions.util import DEC38

    if k is None and centroids is None:
        # the recipe's k ∝ N default (~64 rows/cluster) — a FIXED k at
        # a growing corpus is the contract violation max_cluster exists
        # to catch; one count() job, cheaper than any wrong k
        k = max(8, corpus.count() // 64)
    if centroids is None:
        centroids = kmeans_fit(corpus, k=k, vec_col=vec_col, id_col=id_col,
                               iters=iters, seed=seed, scale=scale)
    cent = np.asarray(centroids, dtype=np.float64)
    id_type = corpus.schema[id_col].dataType.simpleString()

    def assign(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            cl = pd.array([None] * len(pdf), dtype="Int32")
            d2q = pd.array([None] * len(pdf), dtype="Int64")
            nq = pd.array([None] * len(pdf), dtype="Int64")
            mask = pdf["q"].notna().to_numpy()
            if mask.any():
                idxs = np.nonzero(mask)[0]
                Mi = np.stack(pdf["q"].iloc[idxs].to_numpy()) \
                    .astype(np.int64)
                M = Mi.astype(np.float64)
                d2 = ((M[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)  # ties → lowest cluster id
                # exact integer d² against the argmin centroid (float64
                # d² above is kmeans_fit's assignment rule; the exact
                # int recompute is the CONTRACT value and tie-break key);
                # ‖q‖² is carried from here so the pair stage folds ONE
                # array (the dot), not three — the interpreted
                # higher-order folds dominate the Σ|c|² pair cost
                crounded = np.rint(cent).astype(np.int64)
                sq = (Mi * Mi).sum(axis=1)
                for r, i in enumerate(idxs):
                    diff = Mi[r] - crounded[a[r]]
                    cl[i] = int(a[r])
                    d2q[i] = int((diff * diff).sum())
                    nq[i] = int(sq[r])
            yield pd.DataFrame({id_col: pdf[id_col], "cluster": cl,
                                "d2_q": d2q, "nq": nq, "q": pdf["q"]})

    qdf = corpus.select(
        id_col, _quantize_vecs(corpus, vec_col, scale).alias("q"))
    assigned = qdf.mapInPandas(
        assign, schema=f"{id_col} {id_type}, cluster int, d2_q long, "
                       f"nq long, q array<long>").persist()

    # bounded guards in ONE k-row job: per-cluster sizes + max |q| term
    guard = (assigned.where(F.col("cluster").isNotNull())
             .groupBy("cluster")
             .agg(F.count("*").alias("n"),
                  F.max(F.aggregate(
                      F.transform("q", lambda x: F.abs(x)),
                      F.lit(0).cast("long"),
                      lambda acc, x: F.greatest(acc, x))).alias("qmax"))
             .agg(F.max("n").alias("nmax"), F.max("qmax").alias("qmax"))
             .collect()[0])
    if guard["nmax"] is not None and guard["nmax"] > max_cluster:
        raise ValueError(
            f"semdedup: largest cluster has {guard['nmax']} rows "
            f"(> max_cluster={max_cluster}); raise k so cluster sizes "
            f"stay bounded (SemDeDup scales k with N)")
    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    if guard["qmax"] is not None:
        d = len(cent[0])
        bound = d * float(guard["qmax"]) ** 2  # max |dot| / max norm²
        if bound > float(2 ** 62):
            raise OverflowError(
                "semdedup: pair dot products would overflow int64; "
                "lower scale")
        # the decimal(38,0) cosine comparison needs dot²·den² and
        # na·nb·num² — both bounded by (d·qmax²)²·max(num,den)² — to fit
        # in 10^38, or `near` overflows (NULL/raise depending on ANSI)
        # and a true duplicate silently survives
        if bound * bound * float(max(num, den)) ** 2 > 1e38:
            raise OverflowError(
                "semdedup: cosine comparison would overflow decimal(38,0) "
                "(d·qmax²)²·max(num,den)² > 10^38; lower scale or use a "
                "threshold with a smaller denominator")

    a = assigned.alias("a")
    b = assigned.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    pairs = (a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
                    & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
             .where(F.col("a.cluster").isNotNull())
             .select(F.col(f"a.{id_col}").alias("__id"),
                     F.col("a.d2_q").alias("__da"),
                     F.col("b.d2_q").alias("__db"),
                     F.col(f"b.{id_col}").alias("__mate"),
                     dot.alias("__dot"),
                     F.col("a.nq").alias("__na"),
                     F.col("b.nq").alias("__nb")))
    near = ((F.col("__dot") > 0) & (F.col("__na") > 0)
            & (F.col("__nb") > 0)
            & (F.col("__dot").cast(DEC38) * F.col("__dot")
               * F.lit(den * den)
               >= F.col("__na").cast(DEC38) * F.col("__nb")
               * F.lit(num * num)))
    mate_wins = (F.col("__db") > F.col("__da")) | \
        ((F.col("__db") == F.col("__da"))
         & (F.col("__mate") < F.col("__id")))
    verdicts = (pairs.groupBy(F.col("__id").alias(id_col))
                .agg(F.max(near & mate_wins).alias("__removed")))
    out = (assigned.drop("q")
           .join(verdicts, on=id_col, how="left")
           .select(id_col, "cluster", "d2_q",
                   F.coalesce(F.col("__removed"),
                              F.lit(False)).alias("removed")))
    # materialize the verdict (id/cluster/d2/flag — ~27× narrower than
    # the cached id+q corpus copy) and release the cache: `assigned` is
    # consumed three times (guard, both self-join sides, final join), so
    # it must be cached through the job, but holding the quantized
    # corpus for the session would pin executor storage (the graph.py
    # persist/unpersist discipline — here the consuming action runs
    # inside the operator, like the guard collect already does).
    # materialize=False keeps the lazy plan (and the cache) — for plan
    # inspection/pins; the caller then owns assigned's lifetime
    if materialize:
        out = out.localCheckpoint(eager=True)
        assigned.unpersist()
    return out


# ---------------------------------------------------------------------------
# product quantization (PQ): memory-bounded codes + asymmetric-distance top-k


def pq_fit(corpus: DataFrame, m: int = 8, k: int = 16,
           vec_col: str = "embedding", id_col: str = "vec_id",
           iters: int = 4, seed: int = 19, scale: int = 6) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    quantization for nearest neighbor search"): split the ``d`` dims into
    ``m`` contiguous subspaces and k-means each — returned as a
    ``[m, k, d/m]`` matrix in quantized units.

    Unlike running :func:`kmeans_fit` m times (m × iters corpus scans),
    ALL m sub-fits share ONE Arrow pass per iteration: each batch assigns
    every block of every row and emits per-(subspace, cluster) int64
    partial sums — ≤ partitions·m·k rows cross the wire per iteration,
    reduced with exact decimal sums.  Same determinism contract as
    ``kmeans_fit``: quantize-once inputs, exact-integer partials,
    lowest-id argmin ties, hash-ordered init rows, empty clusters keep
    their centroid — bit-reproducible under any partitioning.
    """
    # materialize the quantized relation ONCE: the init probe plus every
    # Lloyd iteration otherwise re-scans the corpus and re-runs the
    # per-element quantize transform (iters+1 interpreted HOF passes)
    qdf = (corpus.select(id_col,
                         _quantize_vecs(corpus, vec_col, scale).alias("q"))
           .where(F.col("q").isNotNull())
           .localCheckpoint())
    init_rows = (qdf.select(
        "q", F.xxhash64(F.col(id_col), F.lit(int(seed))).alias("h"))
        .orderBy("h", "q").limit(k).collect())
    if not init_rows:
        raise ValueError("pq_fit/kmeans_fit: empty corpus "
                         "(no non-null vectors)")
    full = np.stack([np.asarray(r.q, dtype=np.float64) for r in init_rows])
    d = full.shape[1]
    if d % m != 0:
        raise ValueError(f"pq_fit: dim {d} not divisible by m={m}")
    sub = d // m
    kk = full.shape[0]
    # [m, k, sub] — subspace s's init is the same hash-ordered rows, sliced
    books = np.stack([full[:, s * sub:(s + 1) * sub] for s in range(m)])

    def partials_for(bks: np.ndarray):
        def run(batches):
            import pandas as pd
            for pdf in batches:
                if not len(pdf):
                    continue
                Mi = np.stack(pdf["q"].to_numpy()).astype(np.int64)
                qmax = float(np.abs(Mi).max(initial=0))
                if len(Mi) * qmax > float(2 ** 62):
                    raise OverflowError(
                        "pq_fit partial sums would overflow int64; lower "
                        "scale or repartition finer")
                out = {"sub": [], "cluster": [], "n": [], "s": []}
                for s in range(m):
                    Bi = Mi[:, s * sub:(s + 1) * sub]
                    B = Bi.astype(np.float64)
                    d2 = ((B[:, None, :] - bks[s][None, :, :]) ** 2) \
                        .sum(axis=2)
                    assign = d2.argmin(axis=1)  # ties → lowest id
                    for c in np.unique(assign):
                        members = Bi[assign == c]
                        out["sub"].append(s)
                        out["cluster"].append(int(c))
                        out["n"].append(len(members))
                        out["s"].append(members.sum(axis=0,
                                                    dtype=np.int64))
                yield pd.DataFrame(out)
        return run

    sum_cols = [F.sum(F.element_at("s", i + 1).cast("decimal(38,0)"))
                .alias(f"_s{i}") for i in range(sub)]
    for _ in range(iters):
        parts = qdf.select("q").mapInPandas(
            partials_for(books.copy()),
            schema="sub int, cluster int, n long, s array<long>")
        rows = (parts.groupBy("sub", "cluster")
                .agg(F.sum("n").alias("_n"), *sum_cols)
                .collect())
        new_b = books.copy()  # empty clusters keep their centroid
        for r in rows:
            n = float(r["_n"])
            new_b[r["sub"], r["cluster"]] = np.array(
                [float(r[f"_s{i}"]) for i in range(sub)]) / n
        books = new_b
    return books


def pq_encode(corpus: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id",
              scale: int = 6) -> DataFrame:
    """Map-only PQ encoding against broadcast codebooks: ``(id, codes
    array<int>)`` — m small ints replace d floats (the 100-TB memory
    story: a 64-dim float table becomes 8 bytes/row).  Same quantize +
    lowest-id-argmin rule as the fit → partitioning-invariant.  Null
    embeddings keep their row with null codes."""
    bks = np.asarray(codebooks, dtype=np.float64)
    m, _, sub = bks.shape
    id_type = corpus.schema[id_col].dataType.simpleString()

    def run(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            out = pd.Series([None] * len(pdf), index=pdf.index,
                            dtype=object)
            mask = pdf["q"].notna().to_numpy()
            if mask.any():
                idxs = np.nonzero(mask)[0]
                Mi = np.stack(pdf["q"].iloc[idxs].to_numpy()) \
                    .astype(np.float64)
                if Mi.shape[1] != m * sub:
                    raise ValueError(
                        f"pq_encode: dim {Mi.shape[1]} != m·sub "
                        f"{m * sub}")
                codes = np.empty((len(Mi), m), dtype=np.int32)
                for s in range(m):
                    B = Mi[:, s * sub:(s + 1) * sub]
                    d2 = ((B[:, None, :] - bks[s][None, :, :]) ** 2) \
                        .sum(axis=2)
                    codes[:, s] = d2.argmin(axis=1)
                for r, i in enumerate(idxs):
                    out.iloc[i] = codes[r]
            yield pd.DataFrame({id_col: pdf[id_col], "codes": out})

    qdf = corpus.select(id_col,
                        _quantize_vecs(corpus, vec_col, scale).alias("q"))
    return qdf.mapInPandas(run, schema=f"{id_col} {id_type}, "
                                       f"codes array<int>")


def pq_adc_topk(codes: DataFrame, codebooks: np.ndarray,
                queries: DataFrame, topk: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                query_id_col: str = "query_id",
                scale: int = 6) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, the
    ``[m, k]`` table of EXACT integer squared distances from the query's
    quantized sub-vectors to every codeword is computed once on the
    driver (queries are a bounded relation — collected like
    ``cosine_topk`` broadcasts them) and the per-row score is
    ``Σ_s table[s, code_s]`` — a JVM lookup-fold against the broadcast
    ``(query_id, tab)`` relation (ONE code scan covers every query),
    exact int64, so ranking is partition-order-immune (ties → ascending
    id).  One shuffle: the per-query top-k window.  At scale the scan
    reads ONLY the m-byte code column — the point of PQ.

    Self-matches are excluded (the ``cosine_topk``/``lsh_topk``/
    ``ivf_topk`` family contract).  Fail-fast guards: ADC sums that
    would wrap int64 raise on the driver, and codes inconsistent with
    the codebooks' (m, k) raise in-plan (a code ≥ k would otherwise
    silently read the next subspace's table cells)."""
    bks = np.asarray(codebooks, dtype=np.float64)
    m, kk, sub = bks.shape
    # codewords are float centroids of quantized ints; rint makes the
    # ADC table exact-integer (same contract trick as semdedup's d2_q)
    bki = np.rint(bks).astype(np.int64)
    qrows = (queries.select(F.col(id_col).alias("__qid"),
                            _quantize_vecs(queries, vec_col, scale)
                            .alias("__q"))
             .where(F.col("__q").isNotNull())
             .orderBy("__qid").collect())
    if not qrows:
        raise ValueError("pq_adc_topk: no non-null query vectors")
    per_query = []
    for qr in qrows:
        qv = np.asarray(qr["__q"], dtype=np.int64)
        if len(qv) != m * sub:
            raise ValueError(f"pq_adc_topk: query dim {len(qv)} != "
                             f"m·sub {m * sub}")
        # overflow guard BEFORE the int64 math: numpy int64 wraps
        # silently (the kmeans_fit/semdedup fail-fast discipline) —
        # bound each cell in float64 first, with the m-cell row fold
        # included in the bound
        tab = np.empty((m, kk), dtype=np.int64)
        for s in range(m):
            block = qv[s * sub:(s + 1) * sub]
            diff_f = block.astype(np.float64)[None, :] \
                - bki[s].astype(np.float64)
            cells_f = (diff_f ** 2).sum(axis=1)
            if m * float(cells_f.max(initial=0.0)) > float(2 ** 62):
                raise OverflowError(
                    "pq_adc_topk: ADC sums would overflow int64; "
                    "lower scale")
            diff = block[None, :] - bki[s]
            tab[s] = (diff * diff).sum(axis=1)
        per_query.append((qr["__qid"], tab))

    # ONE scan for all queries: the flattened [m·k] tables ride a
    # broadcast (query_id, tab) relation — a per-query union would
    # re-run the upstream encode pass |queries| times; this is the
    # cosine_topk broadcast pattern.  Explicit schema keeps query_id's
    # type equal to the queries' id column (F.lit would narrow small
    # bigint ids to int).
    qid_type = queries.schema[id_col].dataType.simpleString()
    spark = codes.sparkSession
    qdf = spark.createDataFrame(
        [(qid, [int(v) for v in tab.ravel()]) for qid, tab in per_query],
        f"{query_id_col} {qid_type}, __tab array<long>")
    # score = Σ_s tab[s·k + code_s]: JVM zip_with lookup-fold, no Python.
    # Fit/serve mismatches must RAISE, not corrupt: a code ≥ k would
    # otherwise silently read the NEXT subspace's cells (flattened
    # table), and a wrong-m codes column would mis-pair with the
    # sequence — the dsir buckets-guard class
    err = ("pq_adc_topk: codes do not match the codebooks' (m, k) — "
           "encode and serve must share the same fit")
    lookup = F.aggregate(
        F.zip_with(F.col("codes"),
                   F.sequence(F.lit(0), F.lit(m - 1)),
                   lambda c, s: F.when((c >= 0) & (c < kk),
                                       F.element_at("__tab",
                                                    s * kk + c + 1))
                   .otherwise(F.raise_error(F.lit(err)).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    adc = F.when(F.size("codes") == m, lookup) \
        .otherwise(F.raise_error(F.lit(err)).cast("long"))
    scored = (codes.where(F.col("codes").isNotNull())
              .crossJoin(F.broadcast(qdf))
              .where(F.col(id_col) != F.col(query_id_col))
              .select(query_id_col,
                      F.col(id_col).alias("neighbor_id"),
                      adc.alias("adc_q")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_q").asc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= F.lit(topk)))


# ---------------------------------------------------------------------------
# greedy k-center selection (diverse-coreset data pruning)


def k_center_select(corpus: DataFrame, k: int = 8,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    scale: int = 6) -> DataFrame:
    """Greedy k-center selection (Gonzalez 1985 farthest-first — the
    2-approximation behind diverse-coreset data pruning / DataComp-style
    subset selection): seed with the smallest id, then ``k − 1`` times
    pick the point FARTHEST from the selected set (max over points of
    min squared L2 to any selected center).

    Returns ``k`` rows ``(sel_round, id, dmin_q)`` — selection order,
    picked id, and its min squared distance to the prior centers in
    quantized units (null for the round-0 seed).  The last row's
    ``dmin_q`` is the (squared) coverage radius of the selected set.

    Determinism: vectors quantize once to the ``10^-scale`` integer
    grid, squared distances are exact int64 sums, and the per-round
    argmax breaks ties on ascending id — bit-reproducible under any
    partitioning, mirrored exactly by the oracle's unrolled SQL rounds.

    Scale/plan shape: each round is ONE map-only scan — the ≤ k·d
    selected-center matrix rides along as a broadcast literal, the
    min-distance fold is a JVM array expression — into a
    ``TakeOrderedAndProject`` top-1 and a 1-row collect (k bounded
    driver round-trips, the :func:`kmeans_fit` discipline).  Stateless
    O(k²·N·d) recompute instead of carrying a corpus-sized running-min
    column: at 10^12 rows a per-round materialized dmin relation costs
    more in checkpoint I/O than the k-fold distance recompute (k·d
    int64 multiplies per row, whole-stage codegen) unless k is large —
    for large k, persist a running-min column instead.  Null vectors
    are never selected (no distance defined).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = (corpus.where(F.col(vec_col).isNotNull())
         .select(F.col(id_col).alias("id"),
                 _quantize_vecs(corpus, vec_col, scale).alias("qv")))
    [seed] = q.orderBy("id").limit(1).collect()
    sel = [(0, seed.id, None, list(seed.qv))]
    for r in range(1, int(k)):
        centers = F.array(*[
            F.array(*[F.lit(int(v)) for v in qv])
            for _, _, _, qv in sel])
        dmin = F.array_min(F.transform(
            centers,
            lambda c: F.aggregate(
                F.zip_with(F.col("qv"), c,
                           lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"), lambda acc, v: acc + v)))
        chosen = [i for _, i, _, _ in sel]
        picked = (q.where(~F.col("id").isin(chosen))
                  .select("id", "qv", dmin.alias("dmin"))
                  .orderBy(F.col("dmin").desc(), F.col("id").asc())
                  .limit(1).collect())
        if not picked:
            break
        p = picked[0]
        sel.append((r, p.id, int(p.dmin), list(p.qv)))
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(r, i, d) for r, i, d, _ in sel],
        "sel_round int, id long, dmin_q long").select(
            "sel_round", F.col("id").alias(id_col), "dmin_q")


def hard_negatives(corpus: DataFrame, k: int = 1, id_col: str = "vec_id",
                   label_col: str = "label", vec_col: str = "embedding",
                   scale: int = 6,
                   candidates: DataFrame | None = None,
                   broadcast_limit: int = 4_000_000) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    every vector, the ``k`` most-cosine-similar vectors carrying a
    DIFFERENT label — the canonical "closest wrong answer" pairs fed to
    triplet / InfoNCE losses.

    Determinism contract: components are micro-quantized to int64
    (``_quantize_vecs``), so ``dot`` and the squared norms are exact
    integers (order-free sums), and the ranking key
    ``cos_q = floor(dot/(√n2a·√n2b)·10⁹ + 0.5)`` is a fixed-order IEEE
    expression of exact ints — bit-identical in Spark, DuckDB and
    numpy; ties break by neighbor id.  Zero-norm vectors are excluded
    from BOTH sides (cosine undefined).

    Plan shape: brute force, when the quantized matrix fits
    ``broadcast_limit`` cells (same bound class as the nested-loop
    broadcast it replaces), is ONE Arrow pass: the n×d int64 matrix +
    labels broadcast by closure, per-batch exact matmul (float64 BLAS —
    products and partial sums of micro-quantized ints stay under 2^53, so
    every dot is the exact integer; int64 matmul fallback up to 2^63),
    same-label masking, and a per-row (cos_q desc, id asc) top-k — NO
    pair relation ever materializes.  A larger matrix falls back to the
    pure-JVM broadcast-nested-loop + window formulation (the cross-engine
    reference path, ~10× slower per pair through interpreted HOFs).
    At 10^9+ vectors pass ``candidates`` — an (id, neighbor) pair
    relation from ``lsh_topk``'s bucketer or ``ivf`` probes — and only
    those pairs are scored (two hash joins to fetch vectors, same
    contract).  All three plans emit bit-identical rows (pytest-pinned).
    """
    qv = _quantize_vecs(corpus, vec_col, scale)
    n2 = F.aggregate(F.transform(F.col("__q"), lambda x: x * x),
                     F.lit(0).cast("long"), lambda a, x: a + x)
    base = (corpus.select(F.col(id_col), F.col(label_col),
                          qv.alias("__q"))
            .withColumn("__n2", n2)
            .where(F.col("__n2") > 0))
    nb = base.select(F.col(id_col).alias("neighbor_id"),
                     F.col(label_col).alias("neighbor_label"),
                     F.col("__q").alias("__qb"),
                     F.col("__n2").alias("__n2b"))
    if candidates is None:
        out = _hard_negatives_arrow(base, k, id_col, label_col,
                                    broadcast_limit)
        if out is not None:
            return out
        # over the broadcast budget: fall through to the JVM
        # nested-loop (its Spark-side broadcast enforces its own caps)
    if candidates is None:
        pairs = (base.crossJoin(F.broadcast(nb))
                 .where(F.col(label_col) != F.col("neighbor_label")))
    else:
        pairs = (candidates.select(id_col, "neighbor_id")
                 .join(base, [id_col])
                 .join(nb, ["neighbor_id"])
                 .where(F.col(label_col) != F.col("neighbor_label")))
    dot = F.aggregate(
        F.zip_with(F.col("__q"), F.col("__qb"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda a, x: a + x)
    cos_q = F.floor(
        dot.cast("double")
        / (F.sqrt(F.col("__n2").cast("double"))
           * F.sqrt(F.col("__n2b").cast("double")))
        * F.lit(1e9) + F.lit(0.5)).cast("long")
    scored = pairs.withColumn("cos_q", cos_q)
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos_q").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= F.lit(k))
            .select(id_col, label_col, "neighbor_id", "neighbor_label",
                    "cos_q", "rank"))


def _hard_negatives_arrow(base: DataFrame, k: int, id_col: str,
                          label_col: str, broadcast_limit: int):
    """Brute-force hard negatives as ONE Arrow pass (see
    :func:`hard_negatives`): the quantized matrix broadcasts by
    closure; each batch of anchors scores against it with an EXACT
    matmul and ranks (cos_q desc, id asc) locally.  Returns None when
    the matrix exceeds ``broadcast_limit`` cells (the caller falls back
    to the JVM nested-loop); one aggregate sizes it first, so no row
    reaches the driver then."""
    import numpy as np
    import pandas as pd

    n, d = base.agg(F.count("*"), F.max(F.size("__q"))).first()
    d = d or 0
    if n * d > broadcast_limit:
        return None
    rows = base.select(id_col, label_col, "__q", "__n2").collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    labels = np.array([r[label_col] for r in rows])
    q = np.array([r["__q"] for r in rows], dtype=np.int64) \
        if n else np.zeros((0, 0), dtype=np.int64)
    n2 = np.array([r["__n2"] for r in rows], dtype=np.int64)
    max_abs = int(np.abs(q).max()) if n else 0
    # every |product| <= max_abs^2 and every |partial sum| <= d*max_abs^2:
    # under 2^53 all intermediates are exactly representable doubles, so
    # BLAS float64 matmul returns the exact integer dot
    exact_f64 = d * max_abs * max_abs < (1 << 53)
    if not exact_f64 and d * max_abs * max_abs >= (1 << 62):
        raise ValueError(
            "hard_negatives: quantized components too large for an "
            f"exact matmul (d*max|q|^2 = {d * max_abs * max_abs}); "
            "lower scale=")
    qt = (q.astype(np.float64).T if exact_f64 else q.T)
    rt_n2 = np.sqrt(n2.astype(np.float64))

    # SQL `label != neighbor_label` is null-rejecting on BOTH sides
    notnull = np.array([lb is not None for lb in labels], dtype=bool)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_lab = pdf[label_col].to_numpy()
            a_isnull = pdf[label_col].isna().to_numpy()
            a_q = np.array(list(pdf["__q"]),
                           dtype=qt.dtype).reshape(len(pdf), -1)
            a_n2 = pdf["__n2"].to_numpy(dtype=np.int64)
            dots = a_q @ qt
            # identical IEEE op order to the JVM expression:
            # dot/(sqrt*sqrt) then *1e9 then +0.5 then floor
            cos = np.floor(
                dots.astype(np.float64)
                / (np.sqrt(a_n2.astype(np.float64))[:, None]
                   * rt_n2[None, :])
                * 1e9 + 0.5).astype(np.int64)
            out = {id_col: [], label_col: [], "neighbor_id": [],
                   "neighbor_label": [], "cos_q": [], "rank": []}
            for i in range(len(a_ids)):
                if a_isnull[i]:
                    continue
                valid = np.flatnonzero((labels != a_lab[i]) & notnull)
                if valid.size == 0:
                    continue
                row = cos[i, valid]
                order = valid[np.lexsort((ids[valid], -row))][:k]
                for r_i, j in enumerate(order, 1):
                    out[id_col].append(a_ids[i])
                    out[label_col].append(a_lab[i])
                    out["neighbor_id"].append(ids[j])
                    out["neighbor_label"].append(labels[j])
                    out["cos_q"].append(cos[i, j])
                    out["rank"].append(r_i)
            yield pd.DataFrame(out)

    id_t = base.schema[id_col].dataType.simpleString()
    lab_t = base.schema[label_col].dataType.simpleString()
    schema = (f"{id_col} {id_t}, {label_col} {lab_t}, "
              f"neighbor_id {id_t}, neighbor_label {lab_t}, "
              "cos_q long, rank long")
    return base.select(id_col, label_col, "__q", "__n2") \
        .mapInPandas(run, schema=schema)
