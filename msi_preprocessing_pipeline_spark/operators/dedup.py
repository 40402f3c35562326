"""Deduplication operators: MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for scale:
* MinHash — shingles exploded once, signatures fully JVM-side (seeded
  ``xxhash64`` min-aggregates, map-side combine), then BAND bucketing:
  explode (band, band_hash), bucket join, estimate Jaccard by signature
  agreement. The bucket join is the only shuffle over pair space; candidate
  pairs, not all pairs;
* SimHash — 64-bit bit votes per doc, fully JVM-side; candidates via
  pigeonhole chunk (≤3 bit radius) or chunk-pair (4–7) bucketing, verified
  by Hamming distance (JVM ``bit_count(xor)``);
* n-gram Jaccard — word k-shingles exploded → df-capped (skew guard) →
  equi-self-join on shingle → common counts vs union (pure DataFrame ops,
  SQL-oracle-able);
* embedding near-dup — sign-LSH bucketing (seeded hyperplanes broadcast),
  exact cosine within buckets.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 64,
                       shingle_words: int = 3, seed: int = 7) -> DataFrame:
    """Per-doc MinHash signature over word ``shingle_words``-grams.

    Scale shape: shingles are exploded once (Arrow-batched string gen), then
    EVERYTHING is JVM-side — hash function ``i`` is the independently-seeded
    ``xxhash64(seed·n + i, shingle)`` (a min-wise family: each seed induces
    an independent pseudo-permutation of the shingle universe — unlike an
    affine transform of ONE base hash, whose min degenerates to the same
    shingle for every function), min-aggregated with map-side partial
    aggregation. One shuffle of ``n_hashes`` longs per doc; zero per-token
    Python hashing.
    """
    sh = word_shingles(df, text_col, id_col, k=shingle_words)
    mins = [
        F.min(F.xxhash64(F.lit(seed * n_hashes + i), F.col("shingle")))
        .alias(f"_m{i}")
        for i in range(n_hashes)
    ]
    sigs = sh.groupBy(id_col).agg(*mins)
    return sigs.select(
        id_col,
        F.array(*[F.col(f"_m{i}") for i in range(n_hashes)]).alias("signature"))


def minhash_lsh_pairs(signatures: DataFrame, id_col: str = "doc_id",
                      bands: int = 16, threshold: float = 0.5,
                      star_over: int | None = None) -> DataFrame:
    """Candidate pairs from banded LSH buckets, scored by signature-agreement
    Jaccard estimate; keeps pairs ≥ threshold.

    ``star_over``: the giant-duplicate-cluster guard. A bucket of B docs
    emits B(B−1)/2 candidates — one 10⁶-copy boilerplate cluster is 5·10¹¹
    pairs. Buckets larger than ``star_over`` emit STAR edges instead (every
    member paired with the bucket's min id): O(B) candidates.

    Precision/recall contract: every returned pair still passes the exact
    ``est_jaccard ≥ threshold`` verification (no false positives). Because
    verification runs AFTER the star restriction, a giant bucket whose
    members are near-dups of each other but NOT of the bucket-min hub loses
    those non-hub edges — recall-lossy for heterogeneous giant buckets, and
    downstream :func:`connected_components` may split such a bucket. For
    the case the guard targets (a giant bucket of true near-identical
    copies, where every hub edge verifies) the clustering is exact, since
    the union of verified stars connects the same component the clique
    would.
    """
    # materialize the banded relation ONCE: both self-join sides (and the
    # star guard's window) reference it, and without truncation the whole
    # shingle-explode + 64-min-aggregate signature subtree is planned —
    # and executed — once PER REFERENCE (no exchange reuse fires across
    # the differing projections)
    banded = minhash_bands(signatures, id_col, bands).localCheckpoint()
    left = _star_left_side(banded, ["band_key"], id_col,
                           star_over).alias("l")
    right = banded.alias("r")
    pairs = (left.join(right, (F.col("l.band_key") == F.col("r.band_key"))
                       & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("doc_a"),
                     F.col(f"r.{id_col}").alias("doc_b"),
                     F.col("l.signature").alias("sig_a"),
                     F.col("r.signature").alias("sig_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    return _verify_sig_pairs(pairs, threshold)


def minhash_bands(signatures: DataFrame, id_col: str = "doc_id",
                  bands: int = 16) -> DataFrame:
    """The exploded LSH band-bucket relation ``(id, signature, band,
    band_key)`` — both the join-time shape of :func:`minhash_lsh_pairs`
    and the PERSISTED STORE shape of :func:`incremental_minhash_pairs`
    (write it bucketed/clustered by ``band_key`` so each day's candidate
    join is co-located instead of reshuffling the corpus)."""
    sig_len = F.size("signature")
    rows_per_band = (sig_len / F.lit(bands)).cast("int")
    banded = signatures.select(
        id_col, "signature",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"))
    return banded.withColumn(
        "band_key",
        F.xxhash64(F.col("band"),
                   F.slice("signature", F.col("band") * rows_per_band + 1,
                           rows_per_band).cast("string")))


def _verify_sig_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact signature-agreement verification shared by the batch and
    incremental pair generators (no false positives past here)."""
    agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
        lambda m: m))
    est = (agree.cast("double") / F.size("sig_a").cast("double"))
    return (pairs.withColumn("est_jaccard", F.round(est, 6))
            .where(F.col("est_jaccard") >= F.lit(threshold))
            .select("doc_a", "doc_b", "est_jaccard"))


def incremental_minhash_pairs(new_docs: DataFrame, prior_sigs: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", n_hashes: int = 64,
                              shingle_words: int = 3, seed: int = 7,
                              bands: int = 16, threshold: float = 0.5,
                              star_over: int | None = None,
                              ) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection against a prior signature store:
    shingle + sign ONLY the new batch, then find every verified pair that
    involves at least one new doc — new↔new and new↔prior, never
    prior↔prior (those were emitted when their batch arrived).

    Returns ``(all_sigs, pairs)``: the updated signature store (prior rows
    minus re-ingested ids, plus the new batch — persist it for the next
    increment) and the new pairs ``(doc_a, doc_b, est_jaccard)``.

    Equivalence contract: with the same params and no ``star_over``, the
    union of ``pairs`` across increments equals the one-shot
    :func:`minhash_lsh_pairs` over the full corpus — banding and
    verification are the SAME code (``minhash_bands`` /
    ``_verify_sig_pairs``), so band keys and scores match exactly.

    Scale shape: signing is the expensive part (shingle explode over raw
    text) and touches only the new batch. The candidate join puts the new
    batch's bands on the LEFT (small — broadcast or few partitions) and
    the full band relation on the RIGHT; persist the store as
    :func:`minhash_bands` output bucketed by ``band_key`` and the join is
    co-located with NO shuffle of the accumulated corpus. A re-ingested
    id (present in both inputs) is re-signed and its prior store row
    dropped, so the store keeps one signature per id.
    """
    # the new batch's signatures feed THREE branches (store anti-join,
    # store union, new-side bands): materialize once so the raw-text
    # shingle+sign pass over the batch runs once, not three times
    new_sigs = minhash_signatures(new_docs, text_col, id_col,
                                  n_hashes=n_hashes,
                                  shingle_words=shingle_words,
                                  seed=seed).localCheckpoint()
    prior_kept = prior_sigs.join(new_sigs.select(id_col), [id_col],
                                 "left_anti")
    all_sigs = prior_kept.unionByName(new_sigs)
    new_bands = minhash_bands(new_sigs, id_col, bands)
    all_bands = minhash_bands(all_sigs, id_col, bands)
    left = _star_left_side(new_bands, ["band_key"], id_col,
                           star_over).alias("l")
    right = all_bands.alias("r")
    li, ri = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    # canonical (min, max) orientation: a new↔new pair matches from both
    # sides of the join, a new↔prior pair from one — dropDuplicates
    # collapses both cases to one row per pair
    pairs = (left.join(right, (F.col("l.band_key") == F.col("r.band_key"))
                       & (li != ri))
             .select(F.least(li, ri).alias("doc_a"),
                     F.greatest(li, ri).alias("doc_b"),
                     F.when(li < ri, F.col("l.signature"))
                     .otherwise(F.col("r.signature")).alias("sig_a"),
                     F.when(li < ri, F.col("r.signature"))
                     .otherwise(F.col("l.signature")).alias("sig_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    return all_sigs, _verify_sig_pairs(pairs, threshold)


def connected_components(pairs: DataFrame, id_a: str = "doc_a",
                         id_b: str = "doc_b", max_iter: int = 25,
                         collect_threshold: int = 1_000_000) -> DataFrame:
    """Duplicate-CLUSTER assignment from a pair relation: min-label
    propagation (each node repeatedly adopts the smallest label in its
    neighborhood) until fixpoint. Output: (doc_id, cluster_id) for every
    node appearing in ``pairs``; cluster_id is the component's min doc id.

    Scale-adaptive physical plan (same pattern as ``exact_quantiles``):
    below ``collect_threshold`` edges, ONE collect + driver union-find
    (near-dup pair sets are usually tiny relative to the corpus — a handful
    of Spark jobs per propagation round would dominate); above it, the
    distributed loop: each round is min-label propagation (one map-side-
    combined groupBy over the symmetric edge list) COMPOSED with a pointer-
    jumping step (labels self-join: l ← l(l)), so label distance covered
    doubles per round — O(log D) rounds for diameter D, vs O(D) for plain
    propagation (a 10⁶-long chain of near-dups converges in ~20 rounds,
    not 10⁶). Non-convergence within ``max_iter`` RAISES rather than
    returning silently-split clusters. Identical output by construction
    (both paths assign the component minimum; jumping preserves the
    invariant that a node's label is a node of its own component).
    """
    # one evaluation decides the path AND feeds the fast path: limit()
    # short-circuits, so the probe costs ≤ threshold+1 rows, not a count
    # plus a second full evaluation of the (possibly expensive) pair plan
    rows = pairs.select(id_a, id_b).limit(collect_threshold + 1).collect()
    if len(rows) <= collect_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in rows:
            a, b = r[0], r[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN so the representative is the component min
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(node, find(node)) for node in sorted(parent)]
        return pairs.sparkSession.createDataFrame(
            out, schema=f"doc_id {pairs.schema[id_a].dataType.simpleString()},"
                        f" cluster_id "
                        f"{pairs.schema[id_a].dataType.simpleString()}")

    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(pairs.select(F.col(id_b).alias("src"),
                                       F.col(id_a).alias("dst")))
             .distinct().persist())
    # each round ends in an EAGER localCheckpoint: the self-join of the
    # pointer-jump step references the round's labels twice, so without
    # lineage truncation the logical plan tree would DOUBLE per round
    # (2^rounds nodes — Catalyst analysis itself becomes the bottleneck).
    # Checkpointing also means no persisted DataFrame leaks to the caller;
    # checkpoint blocks are released by the ContextCleaner on GC.
    labels = (edges.select(F.col("src").alias("node"))
              .distinct()
              .withColumn("label", F.col("node"))).localCheckpoint()
    converged = False
    for _ in range(max_iter):
        neighbor_min = (edges.join(labels,
                                   edges.dst == labels.node)
                        .groupBy("src")
                        .agg(F.min("label").alias("nbr_label")))
        prop = (labels.join(neighbor_min,
                            labels.node == neighbor_min.src, "left")
                .select(F.col("node"),
                        F.least(F.col("label"),
                                F.coalesce(F.col("nbr_label"),
                                           F.col("label")))
                        .alias("label"))).localCheckpoint()
        # pointer jumping: l(v) ← l(l(v)). l(v) is a same-component node, so
        # its label is too; monotone non-increasing; identity at fixpoint —
        # label distance doubles per round → O(log diameter) rounds.
        hop = prop.select(F.col("node").alias("__ln"),
                          F.col("label").alias("__ll"))
        new_labels = (prop.join(hop, prop.label == F.col("__ln"), "left")
                      .select(F.col("node"),
                              F.coalesce(F.col("__ll"), F.col("label"))
                              .alias("label"))).localCheckpoint()
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                   .where(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds — with pointer jumping this needs a "
            f"component of diameter ≳ 2^{max_iter}; raise max_iter")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              seed: int = 11) -> DataFrame:
    """64-bit SimHash over words (unweighted bit votes, duplicates counted).

    Fully JVM-side: explode words, ``xxhash64`` per word, 64 bit-vote sums
    with map-side partial aggregation, bits reassembled with shift/OR.
    Bit ``i`` is set iff ``Σ_words (2·bit_i(h) − 1) > 0`` ⟺
    ``2·Σ bit_i(h) > n_words`` — identical to the per-word ±1 vote rule.
    """
    _ = seed
    words = F.explode(
        F.split(F.lower(F.col(text_col).cast("string")), r"\s+")).alias("w")
    exploded = (df.select(id_col, words)
                .where(F.col("w") != F.lit("")))
    h = F.xxhash64(F.col("w"))
    bit_sums = [
        F.sum(F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1))).alias(f"_s{i}")
        for i in range(64)
    ]
    agg = exploded.groupBy(id_col).agg(F.count("*").alias("_n"), *bit_sums)
    # empty-vocabulary docs (whitespace-only text) vote all-negative → 0,
    # matching the Python semantics; restore them via left join on the input
    bits = [
        (F.lit(2) * F.col(f"_s{i}") > F.col("_n")).cast("long").alias(f"_b{i}")
        for i in range(64)
    ]
    with_bits = agg.select(id_col, *bits)
    val: Column = F.lit(0).cast("long")
    for i in range(64):
        val = val.bitwiseOR(F.shiftleft(F.col(f"_b{i}"), i))
    hashed = with_bits.select(id_col, val.alias("simhash"))
    all_ids = df.select(id_col).distinct()
    return (all_ids.join(hashed, id_col, "left")
            .select(id_col, F.coalesce("simhash", F.lit(0)).alias("simhash")))


def _star_left_side(bucketed: DataFrame, bucket_cols: list[str],
                    id_col: str, star_over: int | None) -> DataFrame:
    """Giant-cluster guard shared by every bucketed candidate generator:
    restrict the LEFT join side of buckets larger than ``star_over`` to the
    bucket's min id, so such buckets emit O(B) star edges instead of
    O(B²) pairs. ``None`` → left side unchanged (all pairs).

    The star CANDIDATE set preserves bucket connectivity, but callers
    verify candidates afterwards (Jaccard/Hamming/cosine), so a verified
    star can lose edges a verified clique would keep: exact for
    homogeneous giant buckets (all-copies boilerplate — the target case),
    recall-lossy for heterogeneous ones. See ``minhash_lsh_pairs``.

    Physical shape: the giant-bucket list is a map-side-combined
    aggregation (tiny by construction: ≤ N/star_over buckets qualify)
    broadcast back onto the relation — NOT a window over the full
    relation, which would shuffle every row by bucket just to discover
    that almost no bucket is giant. At extreme N raise ``star_over``
    so the giant-bucket list stays broadcastable.
    """
    if star_over is None:
        return bucketed
    big = (bucketed.groupBy(*bucket_cols)
           .agg(F.count("*").alias("__bucket_n"),
                F.min(id_col).alias("__bucket_min"))
           .where(F.col("__bucket_n") > F.lit(int(star_over)))
           .drop("__bucket_n"))
    return (bucketed.join(F.broadcast(big), bucket_cols, "left")
            .where(F.col("__bucket_min").isNull()
                   | (F.col(id_col) == F.col("__bucket_min")))
            .drop("__bucket_min"))


def _simhash_chunks(n_chunks: int) -> list[tuple[int, int, int]]:
    """(chunk_id, start_bit, mask) cutting 64 bits into ``n_chunks`` pieces."""
    width = 64 // n_chunks
    specs = []
    for i in range(n_chunks):
        start = i * width
        w = 64 - start if i == n_chunks - 1 else width
        specs.append((i, start, (1 << w) - 1))
    return specs


def simhash_near_pairs(hashes: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 3,
                       star_over: int | None = None,
                       hash_col: str = "simhash") -> DataFrame:
    """ALL pairs within Hamming distance ``max_hamming``, exactly.

    Works over ANY 64-bit hash column (``hash_col``) — SimHash here,
    pHash in :mod:`.multimodal` — the pigeonhole banding only assumes
    near-duplicates differ in ≤ ``max_hamming`` bits.

    * ``max_hamming ≤ 3`` — single-round pigeonhole: ``h+1`` chunks of ≥16
      bits; any qualifying pair shares ≥1 exact chunk. Random-pair collision
      probability per chunk ≤ 2⁻¹⁶ → candidate volume ~(h+1)·N²/2¹⁶ — safe.
    * ``4 ≤ max_hamming ≤ 7`` — two-chunk pigeonhole: ``h+2`` chunks (≥8
      bits); ``h`` bit errors leave ≥2 intact chunks, so bucketing on every
      chunk PAIR (C(h+2,2) keys of ≥16 bits) is complete. Candidate volume
      ~C(h+2,2)·N²/2¹⁶ — vs ~N²·(h+1)/2⁹ for the naive 9-bit single-chunk
      cut, a ~40× reduction at h=6.

    Exact ``bit_count(xor)`` verification after bucketing in both paths.
    """
    # materialize the (id, hash) relation ONCE: both self-join sides (and
    # the star guard) reference it, and the upstream hash computation is
    # often an expensive Python pass (pHash decode+DCT) that would
    # otherwise execute per reference — 16 bytes/row, corpus-linear
    hashes = hashes.select(id_col, hash_col).localCheckpoint()
    if max_hamming <= 3:
        specs = _simhash_chunks(max_hamming + 1)
        chunks = hashes.select(
            id_col, hash_col,
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("chunk"),
                         F.shiftrightunsigned(hash_col, start)
                         .bitwiseAND(F.lit(mask)).alias("key"))
                for i, start, mask in specs
            ])).alias("c"))
        chunks = chunks.select(id_col, hash_col, "c.chunk", "c.key")
        l = _star_left_side(chunks, ["chunk", "key"], id_col,
                            star_over).alias("l")
        r = chunks.alias("r")
        cand = (l.join(r, (F.col("l.chunk") == F.col("r.chunk"))
                       & (F.col("l.key") == F.col("r.key"))
                       & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
                .select(F.col(f"l.{id_col}").alias("doc_a"),
                        F.col(f"r.{id_col}").alias("doc_b"),
                        F.col(f"l.{hash_col}").alias("h_a"),
                        F.col(f"r.{hash_col}").alias("h_b"))
                .dropDuplicates(["doc_a", "doc_b"]))
    elif max_hamming <= 7:
        specs = _simhash_chunks(max_hamming + 2)
        pair_structs = []
        for ai in range(len(specs)):
            for bi in range(ai + 1, len(specs)):
                _, sa, ma = specs[ai]
                _, sb, mb = specs[bi]
                pair_structs.append(F.struct(
                    F.lit(ai * len(specs) + bi).alias("chunk"),
                    F.shiftrightunsigned(hash_col, sa)
                    .bitwiseAND(F.lit(ma)).alias("key"),
                    F.shiftrightunsigned(hash_col, sb)
                    .bitwiseAND(F.lit(mb)).alias("key2")))
        chunks = (hashes.select(
            id_col, hash_col,
            F.explode(F.array(*pair_structs)).alias("c"))
            .select(id_col, hash_col, "c.chunk", "c.key", "c.key2"))
        l = _star_left_side(chunks, ["chunk", "key", "key2"], id_col,
                            star_over).alias("l")
        r = chunks.alias("r")
        cand = (l.join(r, (F.col("l.chunk") == F.col("r.chunk"))
                       & (F.col("l.key") == F.col("r.key"))
                       & (F.col("l.key2") == F.col("r.key2"))
                       & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
                .select(F.col(f"l.{id_col}").alias("doc_a"),
                        F.col(f"r.{id_col}").alias("doc_b"),
                        F.col(f"l.{hash_col}").alias("h_a"),
                        F.col(f"r.{hash_col}").alias("h_b"))
                .dropDuplicates(["doc_a", "doc_b"]))
    else:
        raise ValueError(
            f"max_hamming={max_hamming} unsupported: chunks would drop below "
            f"8 bits and the candidate set degenerates toward all-pairs; "
            f"use a larger sketch or multi-round bucketing")
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (cand.withColumn("hamming", hamming)
            .where(F.col("hamming") <= F.lit(max_hamming))
            .select("doc_a", "doc_b", "hamming"))


def word_shingles(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Distinct word k-gram shingles per doc.

    Fully JVM-side via the shared :func:`text.word_grams` generator (Spark
    ML ``NGram`` over a ``split`` column) — no Python workers on the dedup
    hot path.
    """
    from msi_preprocessing_pipeline_spark.operators.text import word_grams
    return word_grams(df, k, text_col, id_col, out_col="shingle",
                      distinct=True)


def drop_hot_keys(rel: DataFrame, key_col: str, max_df: int | None,
                  id_col: str = "doc_id") -> DataFrame:
    """Skew guard for key self-joins: drop keys present in more than
    ``max_df`` documents.

    One ubiquitous key (boilerplate shingle, license header fingerprint)
    otherwise creates an O(N²) bucket in the downstream equi-self-join at
    scale. The hot-key list is small by construction (≤ total_rows/max_df
    keys) → broadcast anti-join, no extra shuffle on ``rel``. Dropping
    ubiquitous shingles also improves pair precision (they carry no
    discriminative signal).
    """
    if max_df is None:
        return rel
    hot = (rel.groupBy(key_col)
           .agg(F.countDistinct(id_col).alias("_df"))
           .where(F.col("_df") > F.lit(int(max_df)))
           .select(key_col))
    return rel.join(F.broadcast(hot), key_col, "left_anti")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        threshold: float = 0.2,
                        max_df: int | None = None) -> DataFrame:
    """Exact word-k-gram Jaccard for every pair sharing ≥1 shingle.

    The shingle relation feeds three plan branches (self-join ×2 + sizes);
    it is persisted so the string-generation subtree runs once — without
    this Catalyst recomputes it per branch (measured 27 s → 2 s at 5k docs).

    ``max_df`` (recommended at scale): drop shingles appearing in more than
    ``max_df`` docs BEFORE the self-join (:func:`drop_hot_keys`); doc sizes
    are computed on the capped relation, so the Jaccard is consistently "over
    non-ubiquitous shingles".
    """
    sh0 = word_shingles(df, text_col, id_col, k).persist()
    # persist BOTH sides of the cap: sh0 so the shingle UDF and the hot-key
    # aggregation run once, and the capped relation so the three downstream
    # branches (sizes + both self-join sides) don't re-run the anti-join's
    # broadcast subtree (Catalyst does not reuse it across branches)
    sh = drop_hot_keys(sh0, "shingle", max_df, id_col=id_col)
    if max_df is not None:
        sh = sh.persist()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    common = (l.join(r, (F.col("l.shingle") == F.col("r.shingle"))
                     & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
              .groupBy(F.col(f"l.{id_col}").alias("doc_a"),
                       F.col(f"r.{id_col}").alias("doc_b"))
              .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col(id_col).alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    jac = F.col("n_common").cast("double") / \
        (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
    # NO broadcast hint on the sizes joins: `sizes` is per-doc, i.e. CORPUS
    # cardinality — forcing a broadcast would ship the whole doc list to
    # every executor at 100 TB.  AQE broadcasts it at small scale on its
    # own (it sees the post-agg size); at scale these become shuffle joins
    # on doc ids, which is the right plan.
    return (common.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard", F.round(jac, 6))
            .where(F.col("jaccard") >= F.lit(threshold))
            .select("doc_a", "doc_b", "jaccard"))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 8, min_common: int = 2,
                  max_df: int | None = None) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ ``min_common``
    word ``k``-gram shingles with ANY benchmark/eval document — the standard
    n-gram-overlap contamination test for LLM training corpora.

    Scale shape: both sides explode to distinct shingles (Arrow-batched
    string gen, then pure JVM); the benchmark shingle relation is small
    (eval sets are) → BROADCAST equi-join on shingle, one groupBy on the
    training doc id. ``max_df`` drops boilerplate shingles first
    (:func:`drop_hot_keys`). Output: one row per CONTAMINATED training doc
    with the matched benchmark count and worst overlap.
    """
    doc_sh = drop_hot_keys(word_shingles(docs, text_col, id_col, k),
                           "shingle", max_df, id_col=id_col)
    bench_sh = word_shingles(
        benchmark.select(F.col(id_col).alias("bench_id"),
                         F.col(text_col)),
        text_col, "bench_id", k)
    overlap = (doc_sh.join(F.broadcast(bench_sh), "shingle")
               .groupBy(id_col, "bench_id")
               .agg(F.count("*").alias("n_common"))
               .where(F.col("n_common") >= F.lit(min_common)))
    return (overlap.groupBy(id_col)
            .agg(F.countDistinct("bench_id").alias("n_matched_benchmarks"),
                 F.max("n_common").alias("max_overlap")))


def winnowing_fingerprints(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 5,
                           window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03): a
    polynomial hash over character k-grams, then the minimum hash of
    every ``window`` consecutive k-grams (ties → rightmost) — the classic
    plagiarism/near-dup fingerprint set.

    Fully vectorized per doc: the k-gram hashes are k numpy multiply-adds
    over the byte array (measured 64× faster than the sequential rolling
    recurrence on 10 KB docs — 5.7 ms vs 365 ms per 50 docs at k=12 — with
    bit-identical output), and window minima/unique are numpy throughout.

    Output: one row per (doc, selected fingerprint).
    """
    base = np.uint64(257)
    mod_mask = np.uint64((1 << 61) - 1)

    # k-gram hash = Σ_j s[i+j]·base^(k-1-j) mod 2^61, computed as k
    # vectorized multiply-adds over the whole doc (NO data-length Python
    # loop). Value-identical to the sequential rolling recurrence
    # h' = ((h − s[i−1]·pw)·base + s[i+k−1]) & mask: every uint64 op wraps
    # mod 2^64 and the mask takes mod 2^61, which divides 2^64, so each
    # wrapped intermediate is congruent mod 2^61 to the exact integer —
    # the ``winnowing_pairs`` golden pins this equivalence.
    powers = np.empty(k, dtype=np.uint64)
    powers[k - 1] = np.uint64(1)
    with np.errstate(over="ignore"):
        for j in range(k - 2, -1, -1):
            powers[j] = (powers[j + 1] * base) & mod_mask

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        np.seterr(over="ignore")  # uint64 wraparound IS the hash semantics
        for pdf in batches:
            id_chunks, hash_chunks = [], []
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                s = np.frombuffer(str(text).lower().encode("utf-8", "ignore"),
                                  dtype=np.uint8).astype(np.uint64)
                if s.size < k:
                    continue
                n_out = s.size - k + 1
                out = np.zeros(n_out, dtype=np.uint64)
                for j in range(k):  # k iterations, not len(doc)
                    out += s[j:j + n_out] * powers[j]
                out &= mod_mask
                if out.size <= window:
                    selected = out.min(keepdims=True)
                else:
                    view = np.lib.stride_tricks.sliding_window_view(out,
                                                                    window)
                    # rightmost minimum per window (winnowing tie rule)
                    rev_arg = window - 1 - np.argmin(view[:, ::-1], axis=1)
                    selected = np.unique(
                        view[np.arange(view.shape[0]), rev_arg])
                # uint64 → int64 two's complement == val − 2^64 for ≥ 2^63
                hash_chunks.append(selected.astype(np.int64, copy=False))
                id_chunks.append(np.full(selected.size, doc, dtype=object))
            if id_chunks:
                ids = np.concatenate(id_chunks)
                hashes = np.concatenate(hash_chunks)
            else:
                ids, hashes = [], np.array([], dtype=np.int64)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="object"),
                "fingerprint": pd.array(hashes, dtype="int64"),
            })

    from msi_preprocessing_pipeline_spark.operators.text import (
        rebalance_for_cpu)
    id_type = df.schema[id_col].dataType.simpleString()
    return rebalance_for_cpu(df).select(id_col, text_col).mapInPandas(
        fp, schema=f"{id_col} {id_type}, fingerprint long")


def fingerprint_overlap_pairs(fps: DataFrame, id_col: str = "doc_id",
                              min_common: int = 3,
                              max_df: int | None = None) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints.

    ``max_df`` drops fingerprints shared by more than ``max_df`` docs before
    the self-join (skew guard, :func:`drop_hot_keys`)."""
    fps = drop_hot_keys(fps, "fingerprint", max_df, id_col=id_col)
    l, r = fps.alias("l"), fps.alias("r")
    return (l.join(r, (F.col("l.fingerprint") == F.col("r.fingerprint"))
                   & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .groupBy(F.col(f"l.{id_col}").alias("doc_a"),
                     F.col(f"r.{id_col}").alias("doc_b"))
            .agg(F.count("*").alias("n_common"))
            .where(F.col("n_common") >= F.lit(min_common)))


def embedding_near_dup(df: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id", threshold: float = 0.95,
                       lsh_bits: int = 12, seed: int = 13,
                       star_over: int | None = None) -> DataFrame:
    """Cosine near-duplicate pairs: sign-LSH bucket (seeded hyperplanes,
    broadcast) then exact cosine within buckets.

    The bucketing UDF is Arrow-native (``mapInArrow``): the embedding
    column is consumed as one [n, dim] matrix per batch — no per-row
    list→ndarray conversion — and the vectors pass through untouched.
    """
    import pyarrow as pa

    from msi_preprocessing_pipeline_spark.functions.arrowutil import (
        col_of, list_col_matrix)

    spark = df.sparkSession
    dim = len(df.select(vec_col).first()[0])
    rng = np.random.RandomState(seed)
    planes_bc = spark.sparkContext.broadcast(rng.randn(lsh_bits, dim))

    def bucket(batches: Iterator["pa.RecordBatch"]) \
            -> Iterator["pa.RecordBatch"]:
        planes = planes_bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            mat = list_col_matrix(rb, vec_col)  # float64: matches goldens
            signs = (mat @ planes.T) > 0
            keys = (signs * (1 << np.arange(signs.shape[1]))).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [col_of(rb, id_col), col_of(rb, vec_col),
                 pa.array(keys.astype(np.int64), type=pa.int64())],
                names=[id_col, vec_col, "bucket"])

    schema = f"{id_col} long, {vec_col} array<float>, bucket long"
    bucketed = df.select(id_col, vec_col).mapInArrow(bucket, schema=schema)
    l = _star_left_side(bucketed, ["bucket"], id_col, star_over).alias("l")
    r = bucketed.alias("r")
    pairs = (l.join(r, (F.col("l.bucket") == F.col("r.bucket"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     F.col(f"l.{vec_col}").alias("v_a"),
                     F.col(f"r.{vec_col}").alias("v_b")))
    dot = F.aggregate(F.zip_with("v_a", "v_b",
                                 lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    cos = dot / (norm(F.col("v_a")) * norm(F.col("v_b")))
    return (pairs.withColumn("cosine", F.round(cos, 6))
            .where(F.col("cosine") >= F.lit(threshold))
            .select("id_a", "id_b", "cosine"))


def positional_word_grams(df: DataFrame, n: int, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Word n-grams WITH their start position: one row per
    ``(doc, word_index)`` as ``(id, pos, end_pos, gram)``.

    Same tokenization and short-doc semantics as ``text.word_grams`` (a doc
    shorter than ``n`` words emits one whole-doc gram at pos 0), but keeps
    the gram's word-coordinate span so substring-level dedup can map gram
    hits back into the document. Fully JVM: ``split`` + Spark ML ``NGram``
    + ``posexplode`` — no Python workers.
    """
    from pyspark.ml.feature import NGram

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col), words.alias("__words")))
    grammed = NGram(n=n, inputCol="__words", outputCol="__grams") \
        .transform(base)
    grams = F.when(F.size("__words") < n,
                   F.array(F.concat_ws(" ", "__words"))) \
        .otherwise(F.col("__grams"))
    return grammed.select(
        F.col(id_col), F.size("__words").alias("__n_words"),
        F.posexplode(grams).alias("pos", "gram")
    ).select(
        F.col(id_col), F.col("pos").cast("long").alias("pos"),
        F.least(F.col("pos") + F.lit(n - 1),
                F.col("__n_words") - F.lit(1)).cast("long").alias("end_pos"),
        "gram")


def duplicate_spans(df: DataFrame, n: int = 8, text_col: str = "text",
                    id_col: str = "doc_id", min_docs: int = 2,
                    max_df: int | None = None) -> DataFrame:
    """Substring-level duplicate detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" shape,
    re-expressed relationally): per document, the maximal word-coordinate
    spans covered by n-grams that occur in >= ``min_docs`` distinct docs.

    Document-level dedup keeps a doc that shares one long boilerplate
    passage with thousands of others; this finds the PASSAGE, so callers
    can cut the span (or weight it down) instead of dropping the doc.

    Plan shape (all JVM, scale-linear):
      1. positional grams (map-only scan),
      2. gram -> distinct-doc-frequency aggregation (map-side combined),
      3. LEFT SEMI join grams against the duplicated-gram set (hash join;
         multiplicity 1 on the build side, so no bucket blow-up even for a
         gram shared by millions of docs — the skew guard ``max_df`` is
         still available to also IGNORE near-ubiquitous grams, the
         "stop-passage" analogue of :func:`drop_hot_keys`),
      4. per-doc interval merge of overlapping-or-adjacent gram spans: one
         window over ``(doc, pos)`` (running max of span ends) + one
         aggregation — the classic cummax interval-union, no Python.

    Returns ``(doc_id, span_start, span_end, span_words)`` — word
    coordinates, inclusive.

    Each gram STRING is replaced by its ``xxhash64`` before anything
    shuffles: the doc-frequency aggregation
    and the semi-join move 8 bytes per gram instead of ~n words of text —
    the difference between shuffling the corpus twice and shuffling a
    fixed-width key column at 100 TB. A collision (2^-64 per gram pair)
    could at worst mark one extra span as duplicated; output is identical
    in practice and pinned so by the oracle.
    """
    grams = positional_word_grams(df, n, text_col, id_col) \
        .withColumn("gram", F.xxhash64("gram"))
    # the gram relation feeds the frequency aggregation AND the semi-join
    # probe side: materialize once so gram generation (split + NGram +
    # explode over the corpus) runs one pass, not two
    grams = grams.localCheckpoint()
    freq = grams.groupBy("gram").agg(
        F.countDistinct(id_col).alias("_df"))
    dup = freq.where(F.col("_df") >= F.lit(int(min_docs)))
    if max_df is not None:
        dup = dup.where(F.col("_df") <= F.lit(int(max_df)))
    hits = grams.join(dup.select("gram"), "gram", "left_semi")

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("end_pos").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    is_new = F.when(prev_max_end.isNull()
                    | (F.col("pos") > prev_max_end + F.lit(1)), 1).otherwise(0)
    grouped = (hits
               .withColumn("_new", is_new)
               .withColumn("_grp", F.sum("_new").over(
                   w.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow))))
    return (grouped.groupBy(id_col, "_grp")
            .agg(F.min("pos").alias("span_start"),
                 F.max("end_pos").alias("span_end"))
            .select(id_col, "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + F.lit(1))
                    .alias("span_words")))


def cut_spans(docs: DataFrame, spans: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", out_col: str = "text_cut") -> DataFrame:
    """Remove word-coordinate ``spans`` (as produced by
    :func:`duplicate_spans`) from each document — the "cut the duplicated
    passage, keep the doc" half of substring-level dedup.

    Tokenization matches the span coordinates (lower + trim + split on
    whitespace), so the output text is the NORMALIZED reconstruction of the
    surviving words. Docs with every word cut are dropped (nothing left),
    as are null-text docs (they carry no spans and no words — same
    filtering as :func:`duplicate_spans` and the SQL oracle).

    Plan shape: one aggregation of ``spans`` to per-doc span arrays (tiny:
    spans-per-doc rows), one equi-join onto ``docs``, then pure JVM
    higher-order expressions — ``filter(words, (w, i) -> !exists(spans,
    s -> start <= i <= end))`` is O(words x spans-per-doc) per row with no
    Python workers and no further shuffle.
    """
    sp = (spans.groupBy(id_col)
          .agg(F.collect_list(F.struct("span_start", "span_end"))
               .alias("__spans")))
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    joined = (docs.where(F.col(text_col).isNotNull())
              .join(sp, id_col, "left")
              .select(F.col(id_col), words.alias("__words"),
                      F.coalesce(F.col("__spans"), F.array()).alias("__spans")))
    kept = F.filter(
        "__words",
        lambda w, i: ~F.exists(
            "__spans",
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"])))
    return (joined
            .select(F.col(id_col),
                    F.concat_ws(" ", kept).alias(out_col),
                    (F.size("__words") - F.size(kept)).cast("long")
                    .alias("n_words_cut"),
                    F.size(kept).cast("long").alias("n_words_kept"))
            .where(F.col("n_words_kept") > 0))


def duplicate_token_spans(df: DataFrame, n: int = 16,
                          tokens_col: str = "tokens",
                          id_col: str = "doc_id", min_docs: int = 2,
                          max_df: int | None = None) -> DataFrame:
    """:func:`duplicate_spans` over PRE-TOKENIZED sequences (the
    ``tokens: array<int32>`` input shape) — span coordinates are token
    indices.

    The token array is rendered to a space-joined string with ONE codegen'd
    ``concat_ws`` per row (linear, no per-gram work), after which the
    whitespace tokenizer recovers exactly the original token boundaries, so
    the whole hashed-gram span machinery applies unchanged. Token ids never
    contain whitespace, making the rendering bijective — for null-FREE
    arrays: ``concat_ws`` silently skips null elements, which would shift
    every later coordinate, so rows whose array is null or contains a null
    element are excluded (a null token id has no defined span semantics).
    """
    toks = F.col(tokens_col)
    no_null_elems = ~F.exists(toks, lambda t: t.isNull())
    rendered = df.where(toks.isNotNull() & no_null_elems).select(
        F.col(id_col),
        F.concat_ws(" ", toks.cast("array<string>"))
        .alias("__tok_text"))
    return duplicate_spans(rendered, n=n, text_col="__tok_text",
                           id_col=id_col, min_docs=min_docs, max_df=max_df)


def contamination_report(docs: DataFrame, benchmark: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 8,
                         max_df: int | None = None) -> DataFrame:
    """Per-document contamination FRACTION against a benchmark set — the
    graded companion to :func:`decontaminate`'s binary flag: for every
    training doc, the share of its distinct word ``k``-gram shingles that
    appear anywhere in the benchmark.

    Output: ``(id, n_shingles, n_contaminated, contamination_frac)`` for
    EVERY training doc (zero-shingle docs keep a row with nulls/zeros;
    ``frac`` is one exact-int division).

    Scale shape: benchmark shingles deduplicate to a small relation →
    broadcast left-semi join against the training shingles; both per-doc
    counts come from ONE aggregation over the semi-join-tagged relation
    (no second corpus scan). ``max_df`` drops boilerplate shingles first.
    """
    doc_sh = drop_hot_keys(word_shingles(docs, text_col, id_col, k),
                           "shingle", max_df, id_col=id_col)
    bench_set = (word_shingles(
        benchmark.select(F.col(id_col).alias("bench_id"), F.col(text_col)),
        text_col, "bench_id", k)
        .select("shingle").distinct())
    tagged = (doc_sh.join(
        F.broadcast(bench_set.withColumn("__hit", F.lit(1))),
        "shingle", "left")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shingles"),
             F.sum(F.coalesce("__hit", F.lit(0))).alias("n_contaminated")))
    return (docs.select(id_col).distinct()
            .join(tagged, [id_col], "left")
            .select(id_col,
                    F.coalesce("n_shingles", F.lit(0)).cast("long")
                    .alias("n_shingles"),
                    F.coalesce("n_contaminated", F.lit(0)).cast("long")
                    .alias("n_contaminated"),
                    (F.col("n_contaminated").cast("double")
                     / F.col("n_shingles").cast("double"))
                    .alias("contamination_frac")))


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 5,
                      threshold: float = 0.5,
                      max_df: int | None = None) -> DataFrame:
    """Exact word-k-gram CONTAINMENT for every pair sharing ≥1 shingle:
    ``C(a→b) = |A∩B| / |A|`` — the asymmetric complement of
    :func:`ngram_jaccard_pairs` that catches near-SUPERSET duplication
    (a quoted post inside a longer page, an aggregator wrapping an
    article): a short doc fully contained in a long one has tiny
    Jaccard but containment ≈ 1.

    Pairs emit when ``max(C(a→b), C(b→a)) ≥ threshold``, with both
    directions micro-quantized (each is ONE IEEE division of exact
    int64 shingle counts — engine-deterministic).  Same plan skeleton,
    persist discipline, and ``max_df`` hot-shingle cap as the Jaccard
    op; the sizes joins stay unhinted (corpus-cardinality — AQE
    decides).
    """
    from ..functions.util import quantize

    sh0 = word_shingles(df, text_col, id_col, k).persist()
    sh = drop_hot_keys(sh0, "shingle", max_df, id_col=id_col)
    if max_df is not None:
        sh = sh.persist()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    common = (l.join(r, (F.col("l.shingle") == F.col("r.shingle"))
                     & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
              .groupBy(F.col(f"l.{id_col}").alias("doc_a"),
                       F.col(f"r.{id_col}").alias("doc_b"))
              .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col(id_col).alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    c_ab = quantize(F.col("n_common").cast("double")
                    / F.col("n_a").cast("double"), 6)
    c_ba = quantize(F.col("n_common").cast("double")
                    / F.col("n_b").cast("double"), 6)
    thr_u = int(threshold * 1_000_000 + 0.5)
    return (common.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("contain_ab_u", c_ab)
            .withColumn("contain_ba_u", c_ba)
            .where(F.greatest(F.col("contain_ab_u"),
                              F.col("contain_ba_u")) >= F.lit(thr_u))
            .select("doc_a", "doc_b", "n_common",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    "contain_ab_u", "contain_ba_u"))


def weighted_jaccard_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           threshold: float = 0.2,
                           max_df: int | None = None) -> DataFrame:
    """Exact WEIGHTED (multiset) Jaccard for every doc pair sharing at
    least one word-k-gram:

        J_w(a, b) = Σ_s min(tf_a(s), tf_b(s)) / Σ_s max(tf_a(s), tf_b(s))

    — the similarity the set-Jaccard of :func:`ngram_jaccard_pairs`
    understates for repetitive documents (a doc repeating one paragraph
    10× and the single-paragraph original are weighted-similar ~0.1,
    set-similar 1.0).  Uses the identity ``Σ max = W_a + W_b − Σ min``
    (non-shared shingles contribute their own tf to max), so only
    SHARED shingles flow through the self-join; W are the per-doc
    capped-vocabulary shingle totals.

    The score is ``jw_micro = (10⁶·M) trunc_div (W_a + W_b − M)`` — an
    exact int64 of exact integer counts: engine-bit-identical, no float
    division to round.  ``threshold`` is applied in micro units
    (``floor(threshold·10⁶ + 0.5)``).

    ``max_df``: the hot-shingle guard (:func:`drop_hot_keys`, distinct
    doc count) — sizes are computed on the capped relation, so the
    score is consistently "over non-ubiquitous shingles" (the
    ngram_jaccard_pairs contract).

    Plan shape: the tf relation (one groupBy over the shingle
    generator) is persisted and feeds sizes + both self-join branches
    (the ngram_jaccard recompute lesson); the self-join fan-out is
    df-bounded by the cap.  Sizes joins carry NO broadcast hint —
    per-doc cardinality is corpus cardinality (AQE broadcasts at small
    scale; shuffle join on ids is the right 100-TB plan).
    """
    from ..functions.util import DEC38, trunc_div
    from .text import word_grams

    thr = int(threshold * 1_000_000 + 0.5)
    g = word_grams(df, k, text_col, id_col, out_col="shingle",
                   distinct=False)
    tf0 = (g.groupBy(id_col, "shingle")
           .agg(F.count("*").alias("tf")).persist())
    tf = drop_hot_keys(tf0, "shingle", max_df, id_col=id_col)
    if max_df is not None:
        tf = tf.persist()
    sizes = tf.groupBy(id_col).agg(F.sum("tf").alias("w"))
    l, r = tf.alias("l"), tf.alias("r")
    common = (l.join(r, (F.col("l.shingle") == F.col("r.shingle"))
                     & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
              .groupBy(F.col(f"l.{id_col}").alias("doc_a"),
                       F.col(f"r.{id_col}").alias("doc_b"))
              .agg(F.sum(F.least(F.col("l.tf"), F.col("r.tf")))
                   .alias("m")))
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("w").alias("wa"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("w").alias("wb"))
    jw = trunc_div(
        F.lit(1_000_000).cast(DEC38) * F.col("m"),
        (F.col("wa") + F.col("wb") - F.col("m")).cast(DEC38)).cast("long")
    return (common.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jw_micro", jw)
            .where(F.col("jw_micro") >= F.lit(thr))
            .select("doc_a", "doc_b", "jw_micro"))
