"""Mergeable sketches over Spark's built-in aggregates: HLL distinct
counts (``hll_sketch_agg`` / ``hll_sketch_estimate``), Count-Min
frequencies and Theta distinct sets.

At 10^12 rows an exact ``countDistinct`` over a high-cardinality key is a
full shuffle of every distinct value; the HLL sketch is a few KB per group,
map-side combined, and — because register-max merging is commutative and
associative — the estimate is DETERMINISTIC regardless of partitioning or
merge order, so it is golden-pinnable like the other seeded operators.

Theta sketches carry the slice-table shape: persist per-slice sketches (e.g.
one row per day x group), then union any subset of slices to answer
"distinct users over an arbitrary date range" without rescanning raw data —
the classic pre-aggregated-sketch rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from ..functions.util import as_list as _as_list  # noqa: E402


def approx_distinct(df: DataFrame, key: str, group_by,
                    lg_k: int = 12,
                    out_col: str = "n_distinct") -> DataFrame:
    """Direct per-group approximate distinct count (sketch + estimate in
    one aggregation — no intermediate table)."""
    return (df.groupBy(*_as_list(group_by))
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col(key), F.lit(lg_k))).alias(out_col)))


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable approximate frequencies (heavy hitters)

class CountMinSketch:
    """Driver-side decoder for Spark's ``count_min_sketch`` binary
    (``org.apache.spark.util.sketch.CountMinSketchImpl`` v1 layout:
    ``int version, long total, int depth, int width, long hashA[depth],
    long table[depth][width]``, big-endian). The hash is stream-lib's
    ``h = (a*x + ((a*x) >> 32)) & (2^31-1) mod width`` — reproduced here
    with wrapping int64 numpy ops and verified exact against Spark for
    integral keys.
    """

    _PRIME = (1 << 31) - 1

    def __init__(self, total: int, hash_a, table):
        import numpy as np
        self.total = int(total)
        self.hash_a = np.asarray(hash_a, dtype=np.int64)
        self.table = np.asarray(table, dtype=np.int64)
        self.depth, self.width = self.table.shape

    @classmethod
    def from_bytes(cls, b: bytes) -> "CountMinSketch":
        import struct

        import numpy as np
        version, = struct.unpack(">i", b[:4])
        if version != 1:
            raise ValueError(f"unsupported CountMinSketch version {version}")
        total, = struct.unpack(">q", b[4:12])
        depth, width = struct.unpack(">ii", b[12:20])
        off = 20
        hash_a = np.frombuffer(b[off:off + 8 * depth], dtype=">i8")
        off += 8 * depth
        table = np.frombuffer(b[off:off + 8 * depth * width],
                              dtype=">i8").reshape(depth, width)
        return cls(total, hash_a, table)

    def estimate(self, items) -> "list[int]":
        """Upper-bound frequency estimates for integral ``items``
        (exact ≤ estimate; error ≤ eps·total with prob ≥ confidence)."""
        import numpy as np
        out = []
        w = np.int64(self.width)
        rows = np.arange(self.depth)
        for item in items:
            h = self.hash_a * np.int64(int(item))  # wrapping, like Java
            h = h + (h >> np.int64(32))
            h = h & np.int64(self._PRIME)
            out.append(int(self.table[rows, (h % w).astype(int)].min()))
        return out


def count_min(df: DataFrame, key: str, group_by=None,
              eps: float = 1e-3, confidence: float = 0.99,
              seed: int = 42, sketch_col: str = "cms") -> DataFrame:
    """Count-Min sketch aggregate over an integral ``key`` — the mergeable
    heavy-hitter structure: KB–MB of state per group regardless of key
    cardinality, elementwise-add merge (commutative/associative, so the
    sketch bytes are partitioning-invariant and golden-pinnable). Answer
    point queries with :meth:`CountMinSketch.estimate`.
    """
    agg = F.count_min_sketch(F.col(key), F.lit(float(eps)),
                             F.lit(float(confidence)),
                             F.lit(int(seed))).alias(sketch_col)
    keys = [] if group_by is None else _as_list(group_by)
    return df.groupBy(*keys).agg(agg)


# ---------------------------------------------------------------------------
# Theta sketch: mergeable distinct sets WITH set algebra

def theta_sketches(df: DataFrame, key: str, group_by,
                   sketch_col: str = "theta") -> DataFrame:
    """DataSketches Theta sketch per group — like HLL a KB-sized distinct
    counter, but supporting UNION / INTERSECTION / DIFFERENCE estimates
    across groups (``theta_union``/``theta_intersection``/
    ``theta_difference``). The retained set is the k smallest key hashes,
    so the sketch is order/partition-invariant, and EXACT below k (default
    nominal 4096) distinct keys.
    """
    return (df.groupBy(*_as_list(group_by))
            .agg(F.theta_sketch_agg(F.col(key)).alias(sketch_col)))


def theta_overlap(df: DataFrame, key: str, group_col: str,
                  a: str, b: str) -> DataFrame:
    """Distinct-key overlap between two groups via theta set algebra:
    one row ``(n_a, n_b, n_union, n_intersection, n_only_a)`` of
    estimates. The classic audience-overlap question answered from two
    KB-sized sketches instead of a distinct-join over raw data.

    An ABSENT group is an empty set (0 / n_other / 0 / ...), matching the
    relational semantics — group values are mapped to fixed labels before
    the pivot, so arbitrary strings (quotes, backticks) are safe.
    """
    tagged = (df.where(F.col(group_col).isin([a, b]))
              .withColumn("__side", F.when(F.col(group_col) == a, "a")
                          .otherwise("b")))
    sk = theta_sketches(tagged, key, "__side")
    one = sk.groupBy().pivot("__side", ["a", "b"]).agg(F.first("theta"))
    sa, sb = F.col("a"), F.col("b")
    est = F.theta_sketch_estimate
    n_a = F.coalesce(est(sa), F.lit(0)).alias("n_a")
    n_b = F.coalesce(est(sb), F.lit(0)).alias("n_b")
    n_union = F.coalesce(est(F.theta_union(sa, sb)), est(sa), est(sb),
                         F.lit(0)).alias("n_union")
    n_inter = (F.when(sa.isNull() | sb.isNull(), F.lit(0))
               .otherwise(est(F.theta_intersection(sa, sb)))
               .alias("n_intersection"))
    n_only_a = (F.when(sa.isNull(), F.lit(0))
                .when(sb.isNull(), est(sa))
                .otherwise(est(F.theta_difference(sa, sb)))
                .alias("n_only_a"))
    return one.select(n_a, n_b, n_union, n_inter, n_only_a)
