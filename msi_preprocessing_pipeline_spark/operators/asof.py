"""As-of joins and backfill — the point-in-time core of the engine.

Vanilla Spark has no as-of join (SURVEY.md §4); two strategies are provided:

* :func:`asof_join` — **union + window** (default): tag both sides, union,
  and carry the most recent right-side values forward with
  ``last(..., ignorenulls=True)`` over ``(keys) ORDER BY (ts, side)``.
  ONE shuffle, fully distributed, no driver involvement; AQE handles mild
  skew, and ``salt_buckets`` splits pathological hot entities (the right side
  is replicated per salt so every bucket still sees the full artifact
  timeline — correctness is preserved by construction).
* :func:`asof_join_broadcast` — **broadcast timeline**: for a small right
  side (artifact/dimension timelines), one sorted timeline array per key is
  broadcast onto the left and the as-of element picked with JVM array
  functions; ZERO shuffle on the left.

Zero temporal leakage contract: ``direction='backward'`` matches the latest
right row with ``right_ts <= left_ts`` — a row can never observe an artifact
versioned after its own timestamp.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TS = "__asof_ts"
_SIDE = "__asof_side"
_MATCHED = "__asof_matched_ts"
_SALT = "__asof_salt"


from ..functions.util import as_list as _as_list  # noqa: E402


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str] | str,
              left_ts: str = "ts", right_ts: str | None = None,
              value_cols: Sequence[str] | None = None,
              direction: str = "backward",
              tolerance: Column | int | float | None = None,
              salt_buckets: int | None = None,
              matched_ts_col: str | None = None) -> DataFrame:
    """Attach, to every left row, the right row's ``value_cols`` as of the
    left row's timestamp.

    Parameters mirror ``pd.merge_asof``: ``direction`` is ``backward``
    (latest right ≤ left) or ``forward`` (earliest right ≥ left);
    ``tolerance`` (same units as the ts columns' numeric form) nulls out
    matches further away than the bound. ``salt_buckets=S`` splits each key
    into S sub-partitions for skew (left rows are hashed to one bucket,
    right rows replicated to all S).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    on = _as_list(on)
    right_ts = right_ts or left_ts
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in on and c != right_ts]
    value_cols = _as_list(value_cols)

    left_cols = left.columns
    for c in value_cols:
        if c in left_cols:
            raise ValueError(f"value column {c!r} collides with a left column;"
                             " rename it on the right side first")

    r = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias(_TS),
        F.lit(1).alias(_SIDE),
        *[F.col(c) for c in value_cols],
    )
    l = left.select(  # noqa: E741
        "*",
        F.col(left_ts).alias(_TS),
        F.lit(0).alias(_SIDE),
        *[F.lit(None).cast(r.schema[c].dataType).alias(c) for c in value_cols],
    )

    # pad the right side with nulls for every left-only column so the two
    # sides union by name
    left_types = {f.name: f.dataType for f in left.schema.fields}
    r = r.select(
        *[F.lit(None).cast(left_types[c]).alias(c) if c not in on else F.col(c)
          for c in left_cols],
        F.col(_TS), F.col(_SIDE), *[F.col(c) for c in value_cols],
    )

    if salt_buckets and salt_buckets > 1:
        # left rows land in one bucket each (hash of the full row ts keeps it
        # deterministic); right rows are replicated into every bucket
        l = l.withColumn(_SALT, F.pmod(F.xxhash64(F.col(_TS), *on),
                                       F.lit(salt_buckets)).cast("int"))
        r = r.withColumn(
            _SALT, F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
        part_keys = on + [_SALT]
    else:
        part_keys = on

    unioned = l.unionByName(r)

    if direction == "backward":
        # right row at equal ts must precede the left row
        order = [F.col(_TS).asc(), F.col(_SIDE).desc()]
    else:
        order = [F.col(_TS).desc(), F.col(_SIDE).desc()]
    w = (Window.partitionBy(*part_keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    filled = unioned.select(
        "*",
        *[F.last(F.when(F.col(_SIDE) == 1, F.col(c)), ignorenulls=True)
          .over(w).alias(f"__filled_{c}") for c in value_cols],
        F.last(F.when(F.col(_SIDE) == 1, F.col(_TS)), ignorenulls=True)
        .over(w).alias(_MATCHED),
    ).where(F.col(_SIDE) == 0)

    if tolerance is not None:
        gap = (F.col(_TS).cast("double") - F.col(_MATCHED).cast("double")) \
            if direction == "backward" else \
            (F.col(_MATCHED).cast("double") - F.col(_TS).cast("double"))
        in_tol = F.col(_MATCHED).isNotNull() & (gap <= F.lit(tolerance))
        value_exprs = [F.when(in_tol, F.col(f"__filled_{c}")).alias(c)
                       for c in value_cols]
        matched_expr = F.when(in_tol, F.col(_MATCHED))
    else:
        value_exprs = [F.col(f"__filled_{c}").alias(c) for c in value_cols]
        matched_expr = F.col(_MATCHED)

    out = filled.select(
        *[F.col(c) for c in left_cols],
        *value_exprs,
        *([matched_expr.alias(matched_ts_col)] if matched_ts_col else []),
    )
    return out


def asof_join_broadcast(left: DataFrame, right: DataFrame,
                        on: Sequence[str] | str, left_ts: str = "ts",
                        right_ts: str | None = None,
                        value_cols: Sequence[str] | None = None,
                        direction: str = "backward",
                        tolerance: float | None = None) -> DataFrame:
    """As-of join for a SMALL right side: collapse the right side into one
    sorted timeline array per key, broadcast-hash-join it onto the left, and
    binary-search-equivalent pick the as-of element with JVM array functions.

    ZERO shuffle on the left side (the broadcast join is map-side) — the
    correct plan when the right side is an artifact/dimension timeline; skew
    on the left is irrelevant because nothing repartitions. Falls back to
    :func:`asof_join` for large right sides.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    on = _as_list(on)
    right_ts = right_ts or left_ts
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in on and c != right_ts]
    value_cols = _as_list(value_cols)

    timeline = (right
                .groupBy(*on)
                .agg(F.array_sort(F.collect_list(F.struct(
                    F.col(right_ts).alias("__vf"),
                    *[F.col(c).alias(c) for c in value_cols],
                ))).alias("__timeline")))

    joined = left.join(F.broadcast(timeline), on=on, how="left")
    if direction == "backward":
        matches = F.filter(F.col("__timeline"),
                           lambda x: x["__vf"] <= F.col(left_ts))
        pick = F.try_element_at(matches, F.lit(-1))
    else:
        matches = F.filter(F.col("__timeline"),
                           lambda x: x["__vf"] >= F.col(left_ts))
        pick = F.try_element_at(matches, F.lit(1))
    if tolerance is not None:
        gap = (F.col(left_ts).cast("double") - pick["__vf"].cast("double")) \
            if direction == "backward" else \
            (pick["__vf"].cast("double") - F.col(left_ts).cast("double"))
        pick = F.when(gap <= F.lit(tolerance), pick)
    out = joined.select(
        *[F.col(c) for c in left.columns],
        *[pick[c].alias(c) for c in value_cols],
    )
    return out


def backfill(df: DataFrame, cols: Sequence[str] | str,
             partition_by: Sequence[str] | str,
             order_by: Sequence[str] | str = "ts",
             direction: str = "forward") -> DataFrame:
    """Fill nulls from the previous non-null value per entity
    (``direction='forward'``, i.e. LOCF) or the next one (``'backward'``).

    SQL shape: ``last(col, ignorenulls) OVER (PARTITION BY entity ORDER BY ts
    ROWS UNBOUNDED PRECEDING)`` — single shuffle on the entity key.
    """
    cols = _as_list(cols)
    partition_by = _as_list(partition_by)
    order_cols = _as_list(order_by)
    if direction == "forward":
        w = (Window.partitionBy(*partition_by)
             .orderBy(*[F.col(c).asc() for c in order_cols])
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    elif direction == "backward":
        w = (Window.partitionBy(*partition_by)
             .orderBy(*[F.col(c).desc() for c in order_cols])
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    else:
        raise ValueError(f"direction must be forward|backward, got {direction}")
    return df.withColumns({
        c: F.coalesce(F.col(c), F.last(F.col(c), ignorenulls=True).over(w))
        for c in cols
    })


def interpolate_linear(labels: DataFrame, events: DataFrame,
                       on: Sequence[str] | str,
                       label_ts: str = "ts_ms", event_ts: str | None = None,
                       value_col: str = "value",
                       out_col: str | None = None,
                       salt_buckets: int | None = None) -> DataFrame:
    """Time-weighted linear interpolation of ``value_col`` at every label
    timestamp: blend the nearest event before (t0, v0) and after (t1, v1)
    the label instant as

        v = v0 + (v1 - v0) * ((ts - t0) / (t1 - t0))

    Edge semantics: only a past event -> v0 (flat extrapolation), only a
    future event -> v1, neither -> NULL, t0 == t1 (event exactly at the
    label instant) -> v0.  Timestamps must be numeric (epoch ms/seconds).

    Built as the composition of the two tested as-of directions (backward
    + forward, :func:`asof_join`) — two entity-key union+window passes, no
    new join machinery; ``salt_buckets`` passes through to both for
    skewed entities.  The blend itself is a fixed-order double expression
    (mirrorable bit-for-bit in a SQL oracle)."""
    event_ts = event_ts or label_ts
    # drop null-valued observations UP FRONT: asof_join fills values with
    # the last NON-NULL (ignorenulls) but the matched ts with the nearest
    # ROW's ts — keeping null rows would anchor an older value at a newer
    # timestamp and skew the blend. "Nearest event" therefore means
    # "nearest event with a value".
    ev = (events.where(F.col(value_col).isNotNull())
          .select(*_as_list(on), F.col(event_ts),
                  F.col(value_col).alias("__ip_v")))
    b = asof_join(labels, ev.select(*_as_list(on), F.col(event_ts),
                                    F.col("__ip_v").alias("__ip_v0")),
                  on, left_ts=label_ts, right_ts=event_ts,
                  value_cols=["__ip_v0"], direction="backward",
                  salt_buckets=salt_buckets, matched_ts_col="__ip_t0")
    f = asof_join(b, ev.select(*_as_list(on), F.col(event_ts),
                               F.col("__ip_v").alias("__ip_v1")),
                  on, left_ts=label_ts, right_ts=event_ts,
                  value_cols=["__ip_v1"], direction="forward",
                  salt_buckets=salt_buckets, matched_ts_col="__ip_t1")
    ts = F.col(label_ts).cast("double")
    t0 = F.col("__ip_t0").cast("double")
    t1 = F.col("__ip_t1").cast("double")
    v0 = F.col("__ip_v0").cast("double")
    v1 = F.col("__ip_v1").cast("double")
    blended = (F.when(v0.isNull(), v1)
               .when(v1.isNull(), v0)
               .when(t1 == t0, v0)
               .otherwise(v0 + (v1 - v0) * ((ts - t0) / (t1 - t0))))
    out = out_col or f"{value_col}_interp"
    return (f.withColumn(out, blended)
            .drop("__ip_v0", "__ip_v1", "__ip_t0", "__ip_t1"))


def resample_to_grid(df: DataFrame, on: Sequence[str] | str,
                     ts_col: str, value_col: str, step: int,
                     fill: str = "locf",
                     salt_buckets: int | None = None) -> DataFrame:
    """Regularize each entity's irregular series onto a fixed time grid —
    the gap-filled ``SAMPLE BY`` / ``time_bucket_gapfill`` shape every
    time-series feature pipeline needs before windowed models.

    Grid points are the multiples of ``step`` inside the entity's own
    observed span (``ceil(min/step)·step … floor(max/step)·step``;
    entities whose span contains no multiple emit nothing). ``fill``:

    * ``'locf'`` — last observation carried forward (backward as-of);
    * ``'linear'`` — time-weighted interpolation between the surrounding
      observations (:func:`interpolate_linear`; exact-hit and edge
      semantics documented there).

    Scale shape: one entity-cardinality aggregation for the spans, a JVM
    ``sequence``+``explode`` for the grid (no Python, grid size bounded
    by span/step per entity), then the as-of machinery — the same
    union+window single shuffle as every other PIT operator here, with
    ``salt_buckets`` passed through for hot entities. ``ts_col`` must be
    numeric (epoch ms/seconds)."""
    keys = _as_list(on)
    # null observations carry nothing — filter them BEFORE the span
    # aggregation too, so an entity's grid is shaped only by rows that can
    # actually fill it (and matches the oracle's filtered-span semantics)
    obs = df.where(F.col(value_col).isNotNull())
    spans = obs.groupBy(*keys).agg(
        F.min(F.col(ts_col).cast("long")).alias("__rg_min"),
        F.max(F.col(ts_col).cast("long")).alias("__rg_max"))
    st = F.lit(int(step))
    lo = (F.ceil(F.col("__rg_min") / st.cast("double")) * st).cast("long")
    hi = (F.floor(F.col("__rg_max") / st.cast("double")) * st).cast("long")
    grid = (spans
            .where(hi >= lo)
            .select(*keys, F.explode(
                F.sequence(lo, hi, st)).alias(ts_col)))
    ev = obs.select(*keys, F.col(ts_col).cast("long").alias(ts_col),
                    F.col(value_col))
    if fill == "locf":
        out = asof_join(grid, ev.withColumnRenamed(value_col,
                                                   f"{value_col}_grid"),
                        keys, left_ts=ts_col, right_ts=ts_col,
                        value_cols=[f"{value_col}_grid"],
                        direction="backward", salt_buckets=salt_buckets)
        return out
    if fill != "linear":
        raise ValueError(f"fill must be locf|linear, got {fill!r}")
    return interpolate_linear(grid, ev, keys, label_ts=ts_col,
                              value_col=value_col,
                              out_col=f"{value_col}_grid",
                              salt_buckets=salt_buckets)
