"""DSIR-style data selection: hashed-n-gram importance weights.

Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) scores every raw document by how target-like its
hashed n-gram distribution is: estimate two bag-of-hashed-grams unigram
models — one over a small TARGET corpus (the distribution you want more
of), one over the RAW corpus — and weight each document by

    w(doc) = Σ_grams  ln p_target(bucket(gram)) − ln p_raw(bucket(gram))

then keep the top-weighted (or Gumbel-sampled) documents.  This module
is the Spark-first recast:

* gram → bucket hashing is the shared ``md5_bucket`` idiom over word
  unigrams+bigrams (``text.word_grams`` — JVM NGram, no Python);
* the two bucket-count estimates are ``groupBy(bucket)`` aggregations
  bounded by ``buckets`` rows (map-side combine ⇒ tiny shuffles);
* the per-bucket log-ratio table λ is computed ONCE on the driver from
  the two EXACT integer count vectors (bounded collect, ≤ ``buckets``
  rows) with add-``smoothing`` Laplace estimates, quantized to
  ``floor(λ·10^lam_scale + 0.5)`` int64 — so every downstream sum is an
  exact integer and the whole contract is partition-order-free (the
  engine-wide quantization discipline, ``functions.util.quantize``);
* per-doc weights are ONE shuffle: explode grams → broadcast-join the
  λ table (≤ ``buckets`` rows) → ``groupBy(doc)`` exact int64 sum with
  map-side partial aggregation.  Raw text never shuffles.

At 100 TB: the target corpus is small by construction (a quality
reference like Wikipedia), the λ table is ``buckets`` rows regardless
of corpus size, and the scoring pass is embarrassingly parallel with a
single doc-keyed combine — no stage is driver- or skew-bound (bucket
ids are md5-uniform).

Reference parity: the reference pipeline has no data-selection stage;
this is part of the §2.11 LLM-training-data surface (alongside
dedup/decontamination) built on the same gram + hash primitives.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import md5_bucket
from .text import word_grams


def _bucketed_grams(docs: DataFrame, buckets: int, seed: int,
                    text_col: str, id_col: str, ngram_max: int,
                    extra_cols: list[str] | None = None) -> DataFrame:
    """One row per gram occurrence: ``(id, bucket[, extra_cols...])``
    for every word n-gram, n = 1..ngram_max, hashed with the
    engine-portable md5 idiom (salted per n so a unigram and a bigram
    with equal text collide no more often than random).  ``extra_cols``
    are carried through the explode (the fused-model path tags each
    occurrence with its row's target flag)."""
    extra = list(extra_cols or [])
    parts = []
    for n in range(1, ngram_max + 1):
        g = word_grams(docs, n, text_col=text_col, id_col=id_col,
                       out_col="__gram", extra_cols=extra)
        parts.append(g.select(
            id_col,
            md5_bucket(F.concat(F.col("__gram"), F.lit(f":{n}:{seed}")),
                       buckets).alias("bucket"), *extra))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dsir_bucket_logratios(raw: DataFrame, target: DataFrame | None = None,
                          buckets: int = 4096, seed: int = 7,
                          text_col: str = "text", id_col: str = "doc_id",
                          ngram_max: int = 2, smoothing: int = 1,
                          lam_scale: int = 9,
                          target_predicate=None) -> np.ndarray:
    """The λ table: a dense ``buckets``-length int64 vector where
    ``λq[b] = floor((ln p̂_t(b) − ln p̂_r(b))·10^lam_scale + 0.5)`` with
    Laplace estimates ``p̂(b) = (count_b + a) / (total + a·B)``.

    Bucket counts are exact distributed integers (partition-invariant);
    the ln/quantize step runs once on the driver over the two collected
    ≤B-row vectors, so the only floating point in the whole operator is
    this bounded, single-threaded, deterministic numpy pass.

    Two ways to name the target distribution: a separate ``target``
    DataFrame (two gram passes), or — when the target is a slice of
    ``raw`` — a ``target_predicate`` Column, which fuses both model
    estimates into ONE gram pass over the corpus (conditional counts in
    the same ≤B-row aggregation).  At 100 TB the fused form saves a full
    corpus scan; results are identical.
    """
    a = float(smoothing)

    if target_predicate is not None:
        if target is not None:
            raise ValueError("dsir_bucket_logratios: pass target OR "
                             "target_predicate, not both")
        flagged = raw.select(
            id_col, text_col,
            F.coalesce(target_predicate, F.lit(False)).alias("__is_t"))
        rows = (_bucketed_grams(flagged.select(id_col, text_col,
                                               "__is_t"),
                                buckets, seed, text_col, id_col,
                                ngram_max, extra_cols=["__is_t"])
                .groupBy("bucket")
                .agg(F.count("*").alias("nr"),
                     F.sum(F.when(F.col("__is_t"), 1).otherwise(0))
                     .alias("nt"))
                .collect())
        t = np.zeros(buckets, dtype=np.int64)
        r = np.zeros(buckets, dtype=np.int64)
        for row in rows:
            r[int(row["bucket"])] = int(row["nr"])
            t[int(row["bucket"])] = int(row["nt"])
    else:
        if target is None:
            raise ValueError("dsir_bucket_logratios: a target "
                             "distribution is required")

        def counts(df: DataFrame) -> np.ndarray:
            rows = (_bucketed_grams(df, buckets, seed, text_col, id_col,
                                    ngram_max)
                    .groupBy("bucket").agg(F.count("*").alias("n"))
                    .collect())
            v = np.zeros(buckets, dtype=np.int64)
            for rr in rows:
                v[int(rr["bucket"])] = int(rr["n"])
            return v

        t, r = counts(target), counts(raw)

    lam = (np.log((t + a) / float(t.sum() + a * buckets))
           - np.log((r + a) / float(r.sum() + a * buckets)))
    return np.floor(lam * float(10 ** lam_scale) + 0.5).astype(np.int64)


def dsir_weights(raw: DataFrame, lamq: np.ndarray, buckets: int = 4096,
                 seed: int = 7, text_col: str = "text",
                 id_col: str = "doc_id",
                 ngram_max: int = 2) -> DataFrame:
    """Per-document importance weights against a fitted λ table:
    ``(id, weight_q, n_grams)`` with ``weight_q = Σ λq[bucket(gram)]``
    an EXACT int64 (documents are bounded, ``|λq| ≤ ~50·10^lam_scale``,
    so overflow needs a 10^8-gram single document — guarded).  Docs with
    null text keep their row with null weight (the engine-wide
    null-payload discipline)."""
    if len(lamq) != buckets:
        # an inner join on bucket would otherwise silently DROP every
        # gram hashing outside the λ table — corrupt weights, no error
        raise ValueError(
            f"dsir_weights: λ table has {len(lamq)} buckets but scoring "
            f"hashes into {buckets}; fit and score must share `buckets`")
    lam_rows = [(int(b), int(v)) for b, v in enumerate(lamq)]
    spark = raw.sparkSession
    lam_df = spark.createDataFrame(lam_rows, "bucket bigint, lamq bigint")
    grams = _bucketed_grams(raw, buckets, seed, text_col, id_col,
                            ngram_max)
    scored = (grams.join(F.broadcast(lam_df), "bucket")
              .groupBy(id_col)
              .agg(F.sum("lamq").alias("__w"),
                   F.count("*").alias("n_grams")))
    if int(np.abs(lamq).max(initial=0)) > 2 ** 36:
        raise OverflowError("dsir_weights: λ quantization scale too "
                            "coarse-grained for int64 doc sums")
    # null-text docs keep their row with null weight — via UNION of the
    # (filter-pushed) null slice, not a row-proportional join back: every
    # non-null-text doc emits ≥1 gram (word_grams' short-doc rule), so
    # `scored` already covers exactly the non-null ids
    missing = raw.where(F.col(text_col).isNull()).select(
        F.col(id_col), F.lit(None).cast("long").alias("weight_q"),
        F.lit(None).cast("long").alias("n_grams"))
    return (scored.select(id_col, F.col("__w").alias("weight_q"),
                          "n_grams")
            .unionByName(missing))
