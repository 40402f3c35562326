"""Window operators over (entity, ts): sessionize, rolling stats.

All are thin declarative shapes over ``Window.partitionBy(entity)
.orderBy(ts)`` — one shuffle on the entity key, whole-stage-codegen'd, no
Python in the path (SURVEY.md §2.5 graft additions).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from ..functions.util import as_list as _as_list  # noqa: E402


def sessionize(df: DataFrame, partition_by, ts_col: str = "ts",
               gap_seconds: float = 1800.0,
               session_col: str = "session_id",
               tiebreak: Sequence[str] | None = None) -> DataFrame:
    """Assign a session index per entity: a new session starts when the gap
    to the previous event exceeds ``gap_seconds``.

    Classic lag + running-sum shape (single shuffle); sessions are numbered
    from 1 within each entity. ``tiebreak`` columns make the order total when
    timestamps can collide.
    """
    keys = _as_list(partition_by)
    w = Window.partitionBy(*keys).orderBy(ts_col, *(tiebreak or []))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.col(ts_col).cast("double") - F.lag(F.col(ts_col).cast("double")).over(w)
    is_new = F.when(gap.isNull() | (gap > F.lit(float(gap_seconds))), 1).otherwise(0)
    return (df.withColumn("__is_new", is_new)
              .withColumn(session_col, F.sum("__is_new").over(cum))
              .drop("__is_new"))


def session_stats(df: DataFrame, partition_by, ts_col: str = "ts",
                  gap_seconds: float = 1800.0,
                  agg_exprs: Sequence | None = None,
                  tiebreak: Sequence[str] | None = None) -> DataFrame:
    """Sessionize then aggregate one row per (entity, session):
    event count, start/end ts, duration in seconds, plus any extra aggs."""
    keys = _as_list(partition_by)
    sess = sessionize(df, keys, ts_col, gap_seconds, tiebreak=tiebreak)
    aggs = [
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (F.max(F.col(ts_col).cast("double"))
         - F.min(F.col(ts_col).cast("double"))).alias("duration_s"),
    ]
    if agg_exprs:
        aggs.extend(agg_exprs)
    return sess.groupBy(*keys, "session_id").agg(*aggs)


def rolling_range(df: DataFrame, col: str, partition_by,
                  order_col: str = "ts_ms", preceding: int = 3_600_000,
                  fns=("count", "sum", "avg"),
                  suffix: str | None = None) -> DataFrame:
    """Rolling EVENT-TIME-range statistics: the trailing ``preceding`` units
    of ``order_col`` (inclusive of the current row's instant), e.g. "events
    and value sum/avg in the last hour per user".

    Unlike a row frame, a RANGE frame is tie-insensitive:
    all rows sharing the current timestamp are peers and always included,
    so the result is deterministic without a tiebreak column. ``order_col``
    must be numeric (epoch ms/seconds); one shuffle on the entity key, the
    frame scan is whole-stage-codegen'd JVM — no Python.

    At 10^12 rows this is the right PIT-feature shape: the shuffle is the
    same entity-hash exchange every window op shares, and the frame bound
    is O(events-in-window) per row with Spark's sliding frame evaluator.
    """
    # materialize the numeric order key ONCE so every aggregate shares the
    # same window spec and Catalyst collapses them into a single Window
    # node (distinct cast aliases would otherwise yield one Window per fn)
    ord_key = "__rr_ord"
    w = (Window.partitionBy(*_as_list(partition_by)).orderBy(ord_key)
         .rangeBetween(-int(preceding), Window.currentRow))
    sfx = suffix if suffix is not None else f"_{preceding}"
    out = df.withColumn(ord_key, F.col(order_col).cast("long"))
    for fn in fns:
        if fn == "count":
            expr = F.count(F.lit(1)).over(w)
        else:
            expr = getattr(F, fn)(F.col(col)).over(w)
        out = out.withColumn(f"{col}_{fn}{sfx}", expr)
    return out.drop(ord_key)


def rolling_zscore(df: DataFrame, col: str, partition_by,
                   order_by: str = "ts", window_rows: int = 20,
                   min_periods: int = 2, threshold: float = 3.0,
                   tiebreak: Sequence[str] | None = None,
                   prefix: str | None = None) -> DataFrame:
    """Per-entity rolling z-score against the TRAILING ``window_rows`` rows
    EXCLUDING the current row (the PIT convention: a point is scored
    against its past, never against itself), plus an anomaly flag:

        z      = (x - mean_prev) / stddev_prev
        is_anom = |z| > threshold

    NULL when fewer than ``min_periods`` prior rows or zero variance.
    Scale shape: one shuffle on the entity key; mean/stddev/count share a
    single frame → ONE Window node, whole-stage codegen, no Python.
    ``tiebreak`` makes the frame deterministic on timestamp collisions.
    """
    p = prefix if prefix is not None else f"{col}_"
    w = (Window.partitionBy(*_as_list(partition_by))
         .orderBy(order_by, *(tiebreak or []))
         .rowsBetween(-window_rows, -1))
    x = F.col(col).cast("double")
    base = df.select(
        "*",
        F.avg(x).over(w).alias(f"{p}roll_mean"),
        F.stddev_samp(x).over(w).alias(f"{p}roll_std"),
        F.count(x).over(w).alias(f"{p}roll_n"),
    )
    ok = ((F.col(f"{p}roll_n") >= F.lit(int(min_periods)))
          & (F.col(f"{p}roll_std") > F.lit(0.0)))
    z = F.when(ok, (x - F.col(f"{p}roll_mean")) / F.col(f"{p}roll_std"))
    return (base.withColumn(f"{p}zscore", z)
            .withColumn(f"{p}is_anom",
                        F.when(z.isNotNull(),
                               F.abs(z) > F.lit(float(threshold)))))


def decayed_sum(df: DataFrame, value_col: str, partition_by,
                ts_col: str = "ts_ms", tau: float = 3_600_000.0,
                strategy: str = "window", include_current: bool = True,
                tiebreak: Sequence[str] | None = None,
                out_col: str | None = None) -> DataFrame:
    """Exponentially time-decayed running sum per entity — the classic
    recency-weighted feature (``s_i = Σ_{j≤i} v_j · exp(-(t_i-t_j)/τ)``):

    * ``strategy='window'`` — pure JVM: anchor-offset factorization
      ``s_i = exp(-(t_i-t_a)/τ) · Σ v_j·exp((t_j-t_a)/τ)`` turns the pair
      weights into a single expanding window sum (one shuffle on the
      entity key, whole-stage codegen). The anchor ``t_a`` is each
      ENTITY'S OWN min timestamp (a second whole-partition window over
      the same exchange — no extra shuffle), so the exp-overflow bound
      ``(entity max ts - entity min ts)/τ ≲ 700`` is per-entity, not
      dataset-wide. Still lazy (no aggregate job at compose time).
    * ``strategy='scan'`` — ``applyInPandas`` per entity running the
      numerically-stable recurrence ``s_i = v_i + s_{i-1}·exp(-(t_i -
      t_{i-1})/τ)`` (never exponentiates an absolute time), for
      arbitrary-span data. Same shuffle; Python in the path.

    ``include_current=False`` excludes the row's own value (the strict
    PIT convention, like ``target_encode_pit``). ``tiebreak`` columns
    total-order equal timestamps.
    """
    keys = _as_list(partition_by)
    out = out_col or f"{value_col}_decayed"
    tie = list(tiebreak or [])
    if strategy == "window":
        w = (Window.partitionBy(*keys).orderBy(ts_col, *tie)
             .rowsBetween(Window.unboundedPreceding,
                          0 if include_current else -1))
        wa = Window.partitionBy(*keys)  # whole-partition: entity min ts
        t = F.col(ts_col).cast("double")
        # materialize the anchor first (window exprs cannot nest); both
        # windows share the entity partitioning -> ONE exchange
        base = df.select("*", F.min(t).over(wa).alias("__ds_anchor"))
        anchor = F.col("__ds_anchor")
        weighted = F.col(value_col).cast("double") * \
            F.exp((t - anchor) / F.lit(float(tau)))
        return (base.select(
            "*", (F.exp(-(t - anchor) / F.lit(float(tau)))
                  * F.sum(weighted).over(w)).alias(out))
            .drop("__ds_anchor"))
    if strategy != "scan":
        raise ValueError(f"strategy must be window|scan, got {strategy}")
    import numpy as np
    import pandas as pd

    fields = df.schema.fields
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in fields) + f", {out} double"
    sort_cols = [ts_col] + tie

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="stable")
        t = pdf[ts_col].to_numpy(dtype=float)
        v = pdf[value_col].to_numpy(dtype=float)
        n = len(pdf)
        s = np.empty(n)
        acc = 0.0
        for i in range(n):
            if i:
                acc *= float(np.exp(-(t[i] - t[i - 1]) / tau))
            cur = acc + (v[i] if v[i] == v[i] else 0.0)  # NaN-safe add
            s[i] = cur if include_current else acc
            acc = cur
        # rows whose value is null everywhere so far -> 0.0 by the
        # recurrence; mirror the window strategy's null only when the
        # frame saw no numeric value at all
        seen = np.cumsum(~np.isnan(v)) if include_current else \
            np.concatenate(([0], np.cumsum(~np.isnan(v))[:-1]))
        s = np.where(seen > 0, s, np.nan)
        pdf[out] = s
        return pdf

    return df.groupBy(*keys).applyInPandas(scan, schema=schema)


def sliding_distinct(labels: DataFrame, events: DataFrame,
                     key_col: str, window_ms: int,
                     label_ts: str = "ms", event_ts: str = "ms",
                     out_col: str = "n_distinct",
                     bucket_width: int | None = None) -> DataFrame:
    """EXACT count of distinct ``key_col`` values active in the
    trailing window ``(t - window_ms, t]`` at every label row — e.g.
    "distinct users seen in the last hour" at each serving instant.

    Spark windows cannot express ``count(distinct) over range``, and
    the naive label×event join is quadratic.  This uses the
    presence-interval identity instead: key ``u`` is in the window at
    ``t`` iff u's LAST event at-or-before ``t`` is newer than
    ``t - window_ms`` — i.e. iff ``t`` lands in the interval
    ``[ts, min(next_same_key_ts, ts + window_ms) - 1]`` of exactly one
    of u's events.  Counting interval hits therefore counts distinct
    keys, with no distinct-aggregation anywhere.

    Capping ``hi`` at ``ts + window_ms - 1`` is what makes this scale:
    every interval spans at most ``window_ms``, so
    :func:`..joins.range_join` keeps ALL intervals on its bucketized
    equi-join branch (zero broadcast-side wide intervals even with
    10^9 one-event keys, where the uncapped next-event gap would be
    unbounded).  Plan: one lead window on the event key + one
    bucketized range join + one label-side count.

    ``labels`` keeps all its columns; unmatched labels (no active key)
    get ``out_col = 0``.  ``label_ts`` / ``event_ts`` are integer
    epoch-millis columns.  Events with null ``event_ts`` or null key
    are ignored (no place on the timeline / nothing to count).  Label
    rows must be distinct (the count groups by the full label row —
    duplicate labels collapse into one output row; carry a unique id).
    """
    if window_ms < 1:
        raise ValueError(f"window_ms must be >= 1, got {window_ms}")
    w = Window.partitionBy(key_col).orderBy(event_ts)
    ev = events.where(
        F.col(event_ts).isNotNull() & F.col(key_col).isNotNull())
    iv = ev.select(
        F.col(event_ts).alias("__lo"),
        (F.least(
            F.coalesce(F.lead(event_ts).over(w),
                       F.col(event_ts) + F.lit(window_ms)),
            F.col(event_ts) + F.lit(window_ms)) - 1).alias("__hi"))
    # duplicate (key, ts) rows collapse naturally: all but the last of a
    # same-timestamp run get __hi < __lo and can never match — but they
    # would double the interval relation, so drop them before the join
    iv = iv.where(F.col("__hi") >= F.col("__lo"))
    from .joins import range_join

    pts = labels.withColumn("__pt", F.col(label_ts).cast("long"))
    joined = range_join(pts, iv, "__pt", "__lo", "__hi",
                        bucket_width=float(bucket_width or window_ms),
                        how="left")
    return (joined.groupBy(*labels.columns)
            .agg(F.count("__lo").cast("long").alias(out_col)))


def time_weighted_mean(df: DataFrame, value_col: str, partition_by,
                       order_by: str = "ts", scale: int = 6,
                       out_scale: int = 6, tiebreak=None) -> DataFrame:
    """Duration-weighted mean per entity over an irregularly-sampled
    stream — the TWAP / sample-and-hold average: each observation's
    value holds until the NEXT observation, so its weight is that
    holding interval in millis.  The standard correction when plain
    ``avg(value)`` over-represents bursty periods (sensor readings,
    price ticks, state snapshots).

    Exact contract: quantized values × integer interval weights
    accumulate in decimal(38,0); the emitted mean is ONE truncating
    division ``trunc_div(Σ(q·w)·10^out, Σw·10^scale)`` — micro units,
    engine/partition bit-identical.  The LAST observation of each
    entity has no holding interval and carries zero weight (it bounds
    the window, contributing its timestamp, not its value — the
    standard left-closed convention); entities with a single
    observation therefore emit a null mean but a real span.

    Returns ``(entity…, n_obs, span_ms, twa_u)``.  Null value/ts rows
    are dropped.  Plan: one per-entity ordered window (lead) + one
    group aggregate — two exchanges on the entity key, nothing global.
    """
    from ..functions.util import as_list, quantize, trunc_div

    parts = as_list(partition_by)
    tiebreak = as_list(tiebreak) if tiebreak is not None else []
    is_ts = dict(df.dtypes).get(order_by, "").startswith("timestamp")
    ms = (F.unix_millis(F.col(order_by).cast("timestamp")) if is_ts
          else F.col(order_by).cast("long"))
    dec = "decimal(38,0)"
    obs = (df.where(F.col(order_by).isNotNull()
                    & F.col(value_col).isNotNull())
           .select(*parts, ms.alias("__ms"),
                   quantize(F.col(value_col), scale).alias("__q"),
                   *[F.col(c) for c in tiebreak]))
    w = Window.partitionBy(*parts).orderBy(
        F.col("__ms"), *[F.col(c) for c in tiebreak])
    held = obs.select(
        *parts, "__ms", "__q",
        (F.lead("__ms").over(w) - F.col("__ms")).alias("__w"))
    agg = held.groupBy(*parts).agg(
        F.count("*").alias("n_obs"),
        (F.max("__ms") - F.min("__ms")).alias("span_ms"),
        F.sum(F.col("__w").cast(dec)).alias("__sw"),
        F.sum(F.col("__q").cast(dec) * F.col("__w").cast(dec))
        .alias("__sqw"))
    twa = F.when(
        F.col("__sw") > 0,
        trunc_div(F.col("__sqw") * F.lit(10 ** out_scale).cast(dec),
                  F.col("__sw") * F.lit(10 ** scale).cast(dec))
        .cast("bigint"))
    return agg.select(*parts, "n_obs", "span_ms", twa.alias("twa_u"))
