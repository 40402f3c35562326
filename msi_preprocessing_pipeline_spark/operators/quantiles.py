"""Distributed EXACT quantiles.

The compat path requires numpy-identical quantiles (MATLAB-alike plotting
positions, linear interpolation — SURVEY.md §2 A7/A9); ``percentile_approx``
is not acceptable there. The scalable exact algorithm: global sort (range
shuffle), global ranks via per-partition offsets, then fetch only the 2·|q|
boundary rows and interpolate on the driver.

Cost: one shuffle of the single projected column + one count per call —
O(n log n) network-free per partition, no driver materialization beyond the
handful of boundary rows. This survives 10^12 rows (the sort is Spark's
bread and butter); the alternative (collect to numpy) does not.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels.stats import interp_quantile_from_sorted, lerp
from .layout import global_rank


COLLECT_THRESHOLD = 10_000_000  # scalars; ~80 MB on the driver


def exact_quantiles(df: DataFrame, col: str, qs,
                    collect_threshold: int = COLLECT_THRESHOLD) -> np.ndarray:
    """numpy ``percentile(..., method='linear')``-identical quantiles of a
    column. ``qs`` in [0, 1].

    Scale-adaptive physical plan: below ``collect_threshold`` non-null values
    the single projected column is collected and numpy computes the
    percentile directly (one job); above it, the distributed global-sort +
    rank-fetch path runs. Both are bit for bit ``np.percentile``: the
    distributed path takes numpy's position and interpolation rule
    (:func:`~..kernels.stats.interp_quantile_from_sorted`,
    :func:`~..kernels.stats.lerp`)."""
    qs = np.atleast_1d(np.asarray(qs, dtype=float))
    values = df.select(col).where(f"{col} is not null")
    n = values.count()
    if n == 0:
        return np.full(qs.shape, np.nan)
    if n <= collect_threshold:
        # Arrow-batched transfer: row-based collect() deserializes one Row
        # object per value (~10× wall on 10^6 scalars)
        vals = values.toPandas()[values.columns[0]].to_numpy(dtype=float)
        return np.percentile(vals, 100.0 * qs)
    # distributed: global ranks, then fetch only the 2·|q| boundary rows
    ranked = global_rank(values.select(F.col(col).alias("__v")),
                         [F.col("__v")], "__gr")
    plans = [interp_quantile_from_sorted(n, float(q)) for q in qs]
    wanted = {i for lo, hi, _frac in plans for i in (lo, hi)}
    fetched = {
        int(r["__gr"]): float(r["__v"])
        for r in ranked.where(F.col("__gr").isin(*wanted)).collect()
    }
    return np.array([lerp(fetched[lo], fetched[hi], frac)
                     for lo, hi, frac in plans])


def grouped_exact_quantiles(df: DataFrame, col: str, group_cols,
                            qs) -> DataFrame:
    """EXACT per-group quantiles as a relation ``(group_cols…, q, value)``
    — numpy ``percentile(method='linear')`` / DuckDB ``quantile_cont``
    semantics — built to survive GIANT groups.

    A plain ``percentile`` aggregate (or any collect_list/sort-per-group
    form) materializes each group's values on one reducer;
    ``Window.partitionBy(group)`` serializes each group onto one task.
    This operator instead range-partitions on ``(group, value)`` so a hot
    group spreads over many partitions, computes per-(partition, group)
    counts (a small relation), turns them into global in-group ranks via
    a prefix window over that SMALL relation, and fetches only the ≤2·|q|
    boundary rows per group before interpolating — fully declarative,
    zero driver-side collects or loops.

    Cost: one range exchange of the projected columns + one hash exchange
    on (partition-id, group) for the in-partition rank, plus small joins.
    NULL values are excluded; groups with no non-null values emit nothing.
    """
    from ..functions.util import as_list as _as_list

    groups = _as_list(group_cols)
    qs = [float(q) for q in qs]
    if not qs:
        raise ValueError("qs must be non-empty")
    bad_q = [q for q in qs if not 0.0 <= q <= 1.0]
    if bad_q:
        raise ValueError(f"qs must be in [0, 1], got {bad_q}")
    vals = (df.where(F.col(col).isNotNull())
            .select(*groups, F.col(col).cast("double").alias("__v")))
    part = (vals.repartitionByRange(*groups, "__v")
            .withColumn("__pid", F.spark_partition_id()))
    pc = part.groupBy("__pid", *groups).agg(F.count("*").alias("__c"))
    w_off = (Window.partitionBy(*groups).orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_tot = Window.partitionBy(*groups)
    offs = pc.select(
        "__pid", *groups,
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__c").over(w_tot).alias("__n"))
    w_rank = Window.partitionBy("__pid", *groups).orderBy("__v")
    # NULL-SAFE join back on the group keys: groupBy emits a row for the
    # NULL group (quantile_cont GROUP BY semantics keep it) and a plain
    # equi-join would silently drop it — the same pitfall
    # encoding._join_group_stats documents
    offs_r = offs.withColumnRenamed("__pid", "__gq_pid")
    for g in groups:
        offs_r = offs_r.withColumnRenamed(g, f"__gq_{g}")
    cond = F.col("__pid") == F.col("__gq_pid")
    for g in groups:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__gq_{g}"))
    ranked = (part.join(offs_r, cond)
              .select(*groups, "__v", "__n",
                      (F.col("__off") + F.row_number().over(w_rank) - 1)
                      .alias("__r")))
    nm1 = (F.col("__n") - 1).cast("double")
    keep = None
    for q in qs:
        pos = nm1 * F.lit(q)
        c = (F.col("__r") == F.floor(pos)) | (F.col("__r") == F.ceil(pos))
        keep = c if keep is None else (keep | c)
    boundary = ranked.where(keep)
    b2 = boundary.select(
        *groups, "__v", "__r", "__n",
        F.explode(F.array(*[F.lit(q) for q in qs])).alias("q"))
    pos = (F.col("__n") - 1).cast("double") * F.col("q")
    b3 = (b2.where((F.col("__r") == F.floor(pos))
                   | (F.col("__r") == F.ceil(pos)))
          .withColumn("__frac", pos - F.floor(pos))
          .withColumn("__is_lo", F.col("__r") == F.floor(pos))
          .withColumn("__is_hi", F.col("__r") == F.ceil(pos)))
    agg = b3.groupBy(*groups, "q").agg(
        F.max(F.when(F.col("__is_lo"), F.col("__v"))).alias("__lo"),
        F.max(F.when(F.col("__is_hi"), F.col("__v"))).alias("__hi"),
        F.first("__frac").alias("__f"))
    return agg.select(
        *groups, "q",
        (F.col("__lo")
         + F.col("__f") * (F.col("__hi") - F.col("__lo"))).alias("value"))
