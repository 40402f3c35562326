"""Curriculum ordering of training data: difficulty buckets with a
deterministic intra-bucket shuffle.

Curriculum learning feeds easier examples first, but strict
score-ordering correlates adjacent batches (all same-length docs
together), so the standard layout is COARSE difficulty buckets with the
rows SHUFFLED inside each bucket.  Both halves are made deterministic
here:

* bucket — :func:`operators.encoding.quantile_bin` over the difficulty
  score: exact quantile edges, so equal scores always share a bucket
  and the assignment is partition- and engine-invariant (``ntile``'s
  arbitrary tie splits are exactly what we avoid);
* shuffle key — the repo's md5 idiom (``functions.util.md5_bucket``),
  a pure function of ``(id, seed)``: reruns, resumes and both engines
  draw the same permutation; no stored RNG state.

Like ``functions.util.zorder_key``, the operator EMITS SORT KEYS rather
than a global position: at 10^12 rows the curriculum materializes as
``repartitionByRange(bucket, shuffle_key).sortWithinPartitions(...)``
— Spark's distributed total sort — and a global ordinal would add a
single-reducer rank for no training benefit (loaders consume the
stream in key order).  :func:`curriculum_order` applies exactly that
sort for bounded outputs and tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import md5_bucket
from .encoding import quantile_bin

__all__ = ["curriculum_keys", "curriculum_order"]

# md5_bucket draws 32 hash bits; keep the modulus a power of two below
# that so the key is uniform and collision-rare but never biased
_SHUFFLE_MOD = 1 << 30


def curriculum_keys(df: DataFrame, score_col: str, n_buckets: int = 4,
                    id_col: str = "doc_id", seed: int = 7) -> DataFrame:
    """Appends ``(cur_bucket int, cur_key long)``: the difficulty bucket
    (0 = easiest, i.e. lowest score) and the deterministic intra-bucket
    shuffle key.  NULL scores get NULL bucket (order them
    explicitly or filter upstream — a silent default bucket would hide
    missing difficulty signals).

    Scale shape: one edges aggregation (broadcast 1-row join) + a
    map-only projection — the bucket test is a JVM fold over the
    ``n_buckets - 1`` edge array and the key is one md5 expression.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    binned = quantile_bin(df, score_col, n_bins=n_buckets,
                          out_col="__qbin")
    key = md5_bucket(
        F.concat(F.col(id_col).cast("string"), F.lit(f":cur:{seed}")),
        _SHUFFLE_MOD)
    return (binned
            .withColumn("cur_bucket", F.col("__qbin").cast("int"))
            .withColumn("cur_key", key.cast("long"))
            .drop("__qbin"))


def curriculum_order(df: DataFrame, score_col: str, n_buckets: int = 4,
                     id_col: str = "doc_id", seed: int = 7) -> DataFrame:
    """The materialized curriculum stream: :func:`curriculum_keys` +
    Spark's distributed total sort on ``(cur_bucket, cur_key, id)`` —
    range-partitioned, no single-reducer stage.  NULL-score rows sort
    last (nulls-last on the bucket), keeping the defined curriculum
    prefix clean."""
    keyed = curriculum_keys(df, score_col, n_buckets, id_col, seed)
    return keyed.orderBy(F.col("cur_bucket").asc_nulls_last(),
                         F.col("cur_key").asc(), F.col(id_col).asc())
