"""Tokenizer-vocabulary maintenance: frequency pruning and contiguous
id remapping of pre-tokenized sequences.

A production token pipeline periodically SHRINKS its vocabulary — rare
ids (typos, one-off artifacts, retired merges) waste embedding rows and
softmax width — and re-issues the survivors as a dense ``1..|V|`` id
range (0 is reserved for ``<unk>``).  This module does that over the
engine's canonical ``(doc_id, tokens array<int>, ...)`` input shape:

* :func:`prune_vocab` — ONE vocabulary-sized aggregation (the corpus
  unigram histogram, map-side combined) + a rank over the |V|-bounded
  survivor relation.  New ids are ``row_number`` over the total order
  ``(count desc, token asc)`` — deterministic across engines and
  partitionings (no ties: the token id breaks them).
* :func:`remap_tokens` — rewrite every token array through the pruned
  vocabulary, unknown ids -> ``unk_id``.  Two interchangeable plans
  (pytest pins them row-identical):

  - ``strategy="arrow"`` (default): the pruned vocab is COLLECTED
    (guarded — it is |V|-bounded, not corpus-bounded) and broadcast
    into ONE ``mapInPandas`` pass as a numpy lookup table; the batch's
    token arrays are flattened, remapped in one vectorized ``take``,
    and re-split by length.  Zero exchanges on corpus rows — the same
    shape as ``unigram.unigram_tokenize`` and the right plan at 100 TB.
  - ``strategy="relational"``: ``posexplode_outer`` -> broadcast join
    against the vocab -> per-doc ordered reassembly.  One corpus-sized
    shuffle; exists for vocabularies too large to collect and as the
    independent derivation the Arrow path is pinned against.

Reference anchor: the reference pipeline's model-artifact reuse
(components/spectre JSON model applied to every spectrum) is the same
"small fitted artifact, map-only application" shape — see
/root/reference/components/spectrum (GMM model -> per-spectrum apply);
here the artifact is the pruned vocabulary.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lm import unigram_counts

__all__ = ["prune_vocab", "remap_tokens", "vocab_coverage"]

# prune_vocab ranks the survivor relation with a single-partition window;
# the relation is vocabulary-sized (10^4..10^6 rows), never corpus-sized,
# so the single reducer holds megabytes.  The guard makes the bound
# explicit rather than trusting it.
VOCAB_CAP = 5_000_000


def prune_vocab(df: DataFrame, min_count: int = 2,
                tokens_col: str = "tokens",
                max_vocab: int | None = None) -> DataFrame:
    """``(tok, c, new_id)`` for every token id with corpus frequency
    ``>= min_count`` — ``new_id`` is the dense rank ``1..|V'|`` in
    ``(c desc, tok asc)`` order (0 stays free for ``<unk>``).

    ``max_vocab`` additionally caps the survivor count (keep the
    ``max_vocab`` most frequent; ties again broken by token id), the
    "target embedding-table size" knob.

    Scale shape: the histogram is ONE map-side-combined aggregation
    whose output is |V|-bounded; the rank window runs over that bounded
    relation only (never corpus rows).
    """
    freq = unigram_counts(df, tokens_col).where(
        F.col("c") >= F.lit(int(min_count)))
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = (freq.select(F.col("t").alias("tok"), "c")
              .withColumn("new_id",
                          F.row_number().over(w).cast("int")))
    if max_vocab is not None:
        ranked = ranked.where(F.col("new_id") <= F.lit(int(max_vocab)))
    return ranked


def _lookup_remap(vocab_rows):
    """numpy lookup table old_id -> new_id, -1 sentinel = unknown.

    Requires ``new_id >= 0`` (``prune_vocab`` issues 1..|V'|) so the
    sentinel is unambiguous.
    """
    import numpy as np

    if not vocab_rows:
        return np.full(0, -1, dtype="int64")
    hi = max(int(r["tok"]) for r in vocab_rows)
    lut = np.full(hi + 1, -1, dtype="int64")
    for r in vocab_rows:
        nid = int(r["new_id"])
        if nid < 0:
            raise ValueError("remap_tokens: new_id must be >= 0")
        lut[int(r["tok"])] = nid
    return lut


def remap_tokens(df: DataFrame, vocab: DataFrame, unk_id: int = 0,
                 tokens_col: str = "tokens", id_col: str = "doc_id",
                 out_col: str = "remapped", strategy: str = "arrow",
                 vocab_cap: int = VOCAB_CAP) -> DataFrame:
    """Appends ``(out_col array<int>, n_unk long)``: every token array
    rewritten through ``vocab``'s ``(tok, new_id)`` mapping, ids absent
    from the vocab -> ``unk_id``.  Null arrays stay null with
    ``n_unk = 0``; empty arrays stay empty.  Tokens must be >= 0 (they
    index the lookup table); negative ids raise in the Arrow path and
    map to ``unk_id`` relationally, so the contract rejects them
    upstream.
    """
    if strategy == "arrow":
        return _remap_arrow(df, vocab, unk_id, tokens_col, out_col,
                            vocab_cap)
    if strategy == "relational":
        return _remap_relational(df, vocab, unk_id, tokens_col, id_col,
                                 out_col)
    raise ValueError(f"unknown strategy {strategy!r}")


def _remap_arrow(df: DataFrame, vocab: DataFrame, unk_id: int,
                 tokens_col: str, out_col: str,
                 vocab_cap: int) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    n_vocab = vocab.count()
    if n_vocab > vocab_cap:
        raise ValueError(
            f"remap_tokens: vocab has {n_vocab} rows > cap {vocab_cap}; "
            f"use strategy='relational' for unbounded vocabularies")
    rows = vocab.select("tok", "new_id").collect()
    lut = _lookup_remap(rows)
    unk = int(unk_id)

    out_schema = StructType(
        [f for f in df.schema.fields]
        + [StructField(out_col, df.schema[tokens_col].dataType, True),
           StructField("n_unk", LongType(), True)])
    cols = [f.name for f in df.schema.fields]

    def remap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs, unks = [], []
            for arr in pdf[tokens_col]:
                if arr is None or (isinstance(arr, float) and
                                   pd.isna(arr)):
                    outs.append(None)
                    unks.append(0)
                    continue
                a = np.asarray(arr, dtype="int64")
                if a.size == 0:
                    outs.append([])
                    unks.append(0)
                    continue
                if a.min() < 0:
                    raise ValueError(
                        "remap_tokens: negative token id")
                new = np.full(a.shape[0], -1, dtype="int64")
                if lut.shape[0]:
                    inside = a < lut.shape[0]
                    new[inside] = lut[a[inside]]
                miss = new < 0
                unks.append(int(miss.sum()))
                new[miss] = unk
                outs.append(new.astype("int32").tolist())
            res = pdf[cols].copy()
            res[out_col] = outs
            res["n_unk"] = pd.Series(unks, dtype="int64")
            yield res

    return df.mapInPandas(remap, schema=out_schema)


def _remap_relational(df: DataFrame, vocab: DataFrame, unk_id: int,
                      tokens_col: str, id_col: str,
                      out_col: str) -> DataFrame:
    """posexplode_outer -> broadcast vocab join -> ordered reassembly.

    ``posexplode_outer`` keeps null/empty arrays as a (null, null)
    position row, so every input doc survives the round trip; the
    reassembly filters that marker back out and ``sort_array`` over
    ``struct(pos, id)`` restores token order without a window.
    """
    pos = df.select(
        F.col(id_col),
        F.col(tokens_col).isNull().alias("__was_null"),
        F.posexplode_outer(tokens_col).alias("__pos", "__tok"))
    joined = pos.join(F.broadcast(vocab.select(
        F.col("tok").alias("__tok"), "new_id")), "__tok", "left")
    mapped = joined.select(
        id_col, "__was_null", "__pos",
        F.when(F.col("__pos").isNull(), None)
        .otherwise(F.coalesce(F.col("new_id"),
                              F.lit(int(unk_id)))).alias("__nid"),
        (F.col("__pos").isNotNull() & F.col("new_id").isNull())
        .cast("long").alias("__is_unk"))
    agg = (mapped.groupBy(id_col)
           .agg(F.first("__was_null").alias("__was_null"),
                F.sort_array(F.collect_list(
                    F.struct("__pos", "__nid"))).alias("__pairs"),
                F.sum("__is_unk").alias("n_unk")))
    rebuilt = agg.select(
        id_col,
        F.when(F.col("__was_null"), None)
        .otherwise(F.transform(
            F.filter("__pairs", lambda p: p["__pos"].isNotNull()),
            lambda p: p["__nid"].cast("int"))).alias(out_col),
        F.coalesce("n_unk", F.lit(0)).cast("long").alias("n_unk"))
    others = [c for c in df.columns]
    return df.select(*others).join(rebuilt, id_col, "inner")


def vocab_coverage(df: DataFrame, vocab: DataFrame,
                   tokens_col: str = "tokens") -> DataFrame:
    """ONE-row corpus summary ``(vocab_size, n_tokens, n_covered,
    coverage_frac)`` — the fraction of corpus token OCCURRENCES the
    pruned vocabulary retains (the embedding-table sizing statistic).

    Scale shape: reuses the unigram histogram (|V|-bounded) joined
    against the vocab — corpus rows are touched once, in the histogram
    aggregation.
    """
    freq = unigram_counts(df, tokens_col)
    tagged = freq.join(F.broadcast(vocab.select(
        F.col("tok").alias("t"), "new_id")), "t", "left")
    return tagged.agg(
        F.count(F.col("new_id")).cast("long").alias("vocab_size"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.sum(F.when(F.col("new_id").isNotNull(),
                                F.col("c"))), F.lit(0))
        .cast("long").alias("n_covered"),
        (F.coalesce(F.sum(F.when(F.col("new_id").isNotNull(),
                                 F.col("c"))), F.lit(0)).cast("double")
         / F.coalesce(F.sum("c"), F.lit(0)).cast("double"))
        .alias("coverage_frac"))
