"""As-of joins and backfill — the point-in-time core of the engine.

Vanilla Spark has no as-of join (SURVEY.md §4). Every as-of pick here is one
plan, :func:`_asof` — **union + window**: tag the left rows (side 0) and
each right input (side ``i``), union them, and carry each side's most recent
values forward with ``last(when(side == i, col), ignorenulls=True)`` over
``(keys) ORDER BY (ts, side)``. ONE shuffle on the keys however many right
inputs there are, fully distributed, no driver involvement; AQE handles mild
skew. :func:`asof_join` is its one-side form and
:func:`~.training.build_training_set_fused` its many-side form.

Zero temporal leakage contract: ``direction='backward'`` matches the latest
right row with ``right_ts <= left_ts`` — a row can never observe an artifact
versioned after its own timestamp.
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.util import as_list as _as_list

_TS = "__asof_ts"
_SIDE = "__asof_side"


class _Side(NamedTuple):
    """One right input of :func:`_asof`. ``cols`` maps each output column
    to its source column in ``df``; ``tolerance`` (ts units) nulls a match
    further away than the bound; ``matched`` names the output column for
    the matched ``ts`` (``None``: not exposed)."""

    df: DataFrame
    ts: str
    cols: dict[str, str]
    tolerance: Column | int | float | None = None
    matched: str | None = None


def _asof(left: DataFrame, keys: list[str], left_ts: str,
          sides: Sequence[_Side], direction: str) -> DataFrame:
    """The one as-of plan: ``left`` plus, per side in order, its ``cols``
    picked as of each left row's ``left_ts`` (then its ``matched`` column).

    ``backward`` picks the latest side row with ``ts <= left_ts``,
    ``forward`` the earliest with ``ts >= left_ts``; a side row at the left
    row's instant always matches. One exchange, one sort and one Window
    node for any number of sides. Output names are not checked for
    collisions here — the callers do that with their own advice."""
    # every side carries only its keys, ts, tag and values;
    # allowMissingColumns pads the rest of the union with typed nulls
    unioned = left.select("*", F.col(left_ts).alias(_TS),
                          F.lit(0).alias(_SIDE))
    for i, s in enumerate(sides, start=1):
        unioned = unioned.unionByName(s.df.select(
            *keys, F.col(s.ts).alias(_TS), F.lit(i).alias(_SIDE),
            *[F.col(c).alias(n) for n, c in s.cols.items()]),
            allowMissingColumns=True)

    # a side row at the left row's instant must precede it
    ts_order = F.col(_TS).asc() if direction == "backward" \
        else F.col(_TS).desc()
    w = (Window.partitionBy(*keys).orderBy(ts_order, F.col(_SIDE).desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    def pick(i: int, c: str) -> Column:
        return F.last(F.when(F.col(_SIDE) == i, F.col(c)),
                      ignorenulls=True).over(w)

    filled = unioned.select(
        "*", *[pick(i, n).alias(f"__asof_v_{n}")
               for i, s in enumerate(sides, start=1) for n in s.cols],
        *[pick(i, _TS).alias(f"__asof_m_{i}")
          for i in range(1, len(sides) + 1)],
    ).where(F.col(_SIDE) == 0)

    out = [F.col(c) for c in left.columns]
    for i, s in enumerate(sides, start=1):
        matched = F.col(f"__asof_m_{i}")
        values = [F.col(f"__asof_v_{n}") for n in s.cols]
        if s.tolerance is not None:
            ts, m = F.col(_TS).cast("double"), matched.cast("double")
            gap = ts - m if direction == "backward" else m - ts
            ok = matched.isNotNull() & (gap <= F.lit(s.tolerance))
            values = [F.when(ok, v) for v in values]
            matched = F.when(ok, matched)
        out += [v.alias(n) for v, n in zip(values, s.cols)]
        if s.matched:
            out.append(matched.alias(s.matched))
    return filled.select(*out)


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str] | str,
              left_ts: str = "ts", right_ts: str | None = None,
              value_cols: Sequence[str] | None = None,
              direction: str = "backward",
              tolerance: Column | int | float | None = None,
              matched_ts_col: str | None = None) -> DataFrame:
    """Attach, to every left row, the right row's ``value_cols`` as of the
    left row's timestamp — :func:`_asof` with one side.

    Parameters mirror ``pd.merge_asof``: ``direction`` is ``backward``
    (latest right ≤ left) or ``forward`` (earliest right ≥ left);
    ``tolerance`` (same units as the ts columns' numeric form) nulls out
    matches further away than the bound. ``matched_ts_col`` additionally
    exposes the matched right ts.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    on = _as_list(on)
    right_ts = right_ts or left_ts
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in on and c != right_ts]
    value_cols = _as_list(value_cols)
    names = [*value_cols, *([matched_ts_col] if matched_ts_col else [])]
    dupes = {n for n in names if names.count(n) > 1} | \
        (set(names) & set(left.columns))
    if dupes:
        raise ValueError(
            f"output columns collide: {sorted(dupes)} — rename them on the "
            "right side first, or pick another matched_ts_col")
    side = _Side(right, right_ts, {c: c for c in value_cols}, tolerance,
                 matched_ts_col)
    return _asof(left, on, left_ts, [side], direction)


def backfill(df: DataFrame, cols: Sequence[str] | str,
             partition_by: Sequence[str] | str,
             order_by: Sequence[str] | str = "ts") -> DataFrame:
    """Fill nulls from the previous non-null value per entity (LOCF, last
    observation carried forward): a row is only ever filled from an
    earlier one, never from its future.

    SQL shape: ``last(col, ignorenulls) OVER (PARTITION BY entity ORDER BY ts
    ROWS UNBOUNDED PRECEDING)`` — single shuffle on the entity key.
    """
    w = (Window.partitionBy(*_as_list(partition_by))
         .orderBy(*[F.col(c).asc() for c in _as_list(order_by)])
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumns({
        c: F.coalesce(F.col(c), F.last(F.col(c), ignorenulls=True).over(w))
        for c in _as_list(cols)
    })


def interpolate_linear(labels: DataFrame, events: DataFrame,
                       on: Sequence[str] | str,
                       label_ts: str = "ts_ms", event_ts: str | None = None,
                       value_col: str = "value",
                       out_col: str | None = None) -> DataFrame:
    """Time-weighted linear interpolation of ``value_col`` at every label
    timestamp: blend the nearest event before (t0, v0) and after (t1, v1)
    the label instant as

        v = v0 + (v1 - v0) * ((ts - t0) / (t1 - t0))

    Edge semantics: only a past event -> v0 (flat extrapolation), only a
    future event -> v1, neither -> NULL, t0 == t1 (event exactly at the
    label instant) -> v0.  Timestamps must be numeric (epoch ms/seconds).

    Built as the composition of the two tested as-of directions (backward
    + forward, :func:`asof_join`) — two entity-key union+window passes, no
    new join machinery.  The blend itself is a fixed-order double expression
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
                  matched_ts_col="__ip_t0")
    f = asof_join(b, ev.select(*_as_list(on), F.col(event_ts),
                               F.col("__ip_v").alias("__ip_v1")),
                  on, left_ts=label_ts, right_ts=event_ts,
                  value_cols=["__ip_v1"], direction="forward",
                  matched_ts_col="__ip_t1")
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
                     fill: str = "locf") -> DataFrame:
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
    union+window single shuffle as every other PIT operator here.
    ``ts_col`` must be numeric (epoch ms/seconds)."""
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
                        direction="backward")
        return out
    if fill != "linear":
        raise ValueError(f"fill must be locf|linear, got {fill!r}")
    return interpolate_linear(grid, ev, keys, label_ts=ts_col,
                              value_col=value_col,
                              out_col=f"{value_col}_grid")
