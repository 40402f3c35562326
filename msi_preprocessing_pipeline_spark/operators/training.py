"""Point-in-time training-set assembly: a spine of labeled observations
enriched with N feature tables, each attached via a leakage-free as-of join.

This is the feature-store composition the north rule describes — the staged
reference pipeline (resample -> baseline -> normalize -> model) re-expressed
as "label spine joined, as of each observation timestamp, against every
feature source" (reference workflow: pipeline/_preprocessing.py:24-77, where
every stage consumes the artifacts fitted strictly before it).

Scale shapes, pick per workload:
* :func:`build_training_set` — one as-of join per feature (strategy
  ``shuffle`` / ``broadcast``, result-identical);
* :func:`build_training_set_fused` — every backward feature in ONE
  union + one fused window (1 shuffle total vs F);
* :func:`pit_window_agg` / :func:`pit_window_agg_multi` — trailing
  (feature) or leading (label) interval aggregates at each observation,
  any number of horizons/sources/aggregates in one Window node, hot
  entities split by time bucket with boundary carry.
No Python on any hot path; composition is purely lazy, so Catalyst sees
the whole multi-join program and can reorder scans/prune columns across
stages.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .asof import asof_join, asof_join_broadcast
from ..functions.util import as_list as _as_list


@dataclass
class FeatureSpec:
    """One feature source to attach to the spine.

    ``df`` must carry the entity key(s) ``on``, an event-time column
    ``ts_col`` and the ``value_cols`` to expose. ``prefix`` namespaces the
    output columns (``<prefix><value_col>``); ``matched_ts`` additionally
    exposes the matched feature timestamp as ``<prefix>ts`` so staleness is
    auditable (and temporal leakage testable: matched ts <= spine ts).

    ``strategy`` picks the physical as-of plan per feature table:
    ``'shuffle'`` (union + window — one exchange of spine+feature on the
    entity key, skew-saltable via ``salt_buckets``), ``'broadcast'``
    (per-key timeline arrays broadcast onto the spine — ZERO shuffle on the
    spine; the right plan when the feature table is dimension-sized, e.g.
    model/artifact timelines, and what keeps a 10^12-row spine map-only).
    Both are result-identical (tested).
    """

    df: DataFrame
    ts_col: str
    value_cols: Sequence[str]
    prefix: str
    on: Sequence[str] | str | None = None  # default: the spine's keys
    direction: str = "backward"
    tolerance: float | int | None = None
    salt_buckets: int | None = None
    matched_ts: bool = True
    strategy: str = "shuffle"


def build_training_set(spine: DataFrame, on: Sequence[str] | str,
                       spine_ts: str,
                       features: Sequence[FeatureSpec]) -> DataFrame:
    """Attach every :class:`FeatureSpec` to ``spine`` as of ``spine_ts``.

    Each feature's columns come out as ``<prefix><col>`` (plus
    ``<prefix>ts`` when ``matched_ts``), so independently-built feature
    tables cannot collide. Point-in-time correctness per feature is the
    as-of contract: for ``direction='backward'`` only feature rows with
    ``feature.ts <= spine.ts`` are visible — zero temporal leakage.
    """
    out = spine
    for spec in features:
        cols = list(spec.value_cols)
        renamed = spec.df
        for c in cols:
            renamed = renamed.withColumnRenamed(c, f"{spec.prefix}{c}")
        keys = spec.on if spec.on is not None else on
        out_cols = [f"{spec.prefix}{c}" for c in cols]
        if spec.strategy == "broadcast":
            # the broadcast plan carries the matched timestamp as a regular
            # value column duplicated from the feature's ts
            if spec.matched_ts:
                renamed = renamed.withColumn(f"{spec.prefix}ts",
                                             F.col(spec.ts_col))
                out_cols = out_cols + [f"{spec.prefix}ts"]
            out = asof_join_broadcast(
                out, renamed, on=keys, left_ts=spine_ts,
                right_ts=spec.ts_col, value_cols=out_cols,
                direction=spec.direction, tolerance=spec.tolerance)
        elif spec.strategy == "shuffle":
            out = asof_join(
                out, renamed, on=keys, left_ts=spine_ts,
                right_ts=spec.ts_col, value_cols=out_cols,
                direction=spec.direction, tolerance=spec.tolerance,
                salt_buckets=spec.salt_buckets,
                matched_ts_col=(f"{spec.prefix}ts" if spec.matched_ts
                                else None))
        else:
            raise ValueError(
                f"strategy must be shuffle|broadcast, "
                f"got {spec.strategy!r}")
    return out


def pit_window_agg(spine: DataFrame, events: DataFrame,
                   on: Sequence[str] | str, spine_ts: str,
                   event_ts: str, value_col: str,
                   window: int | Sequence[int],
                   fns: Sequence[str] = ("count", "sum"),
                   prefix: str = "f_",
                   include_current_instant: bool = False,
                   bucket_width: int | None = None,
                   frame: str = "trailing") -> DataFrame:
    """Trailing-window aggregate features evaluated AT each spine row's
    timestamp: "count/sum/avg of the entity's events in the ``window``
    units before the observation" — the aggregate-at-label-time primitive.

    Physical shape — the union trick: spine rows (tagged, value = null) and
    event rows are unioned and sorted once per entity; every aggregate is a
    trailing RANGE frame over the union, which sees exactly the events in
    ``[ts - window, ts)`` (nulls on spine rows keep them out of the
    aggregates); spine rows are then filtered back out. ONE shuffle on the
    entity key and ONE Window node total, regardless of how many aggregates
    are requested — vs a range join's candidate blow-up or one pass per
    feature.

    Leakage contract: the frame ends at ``ts - 1`` (strictly before the
    observation) unless ``include_current_instant=True``; with it, events
    at exactly the observation instant are peers and included.

    ``window`` may be a list of horizons (e.g. 1h/24h/7d): every
    (window, fn) feature comes out of the SAME exchange and sort — one
    Window node per horizon, zero extra shuffles, since all frames share
    the partitioning and ordering.

    Skew: a window partitioned only by entity serializes a hot entity's
    whole history onto one task. ``bucket_width`` (in ``ts`` units, must be
    >= max(window)) splits each entity's timeline into buckets and
    partitions by ``(entity, bucket)``; event rows within max(window) of a
    bucket's end are DUPLICATED into the next bucket so every trailing
    frame still sees its full horizon — result-identical (tested), with
    per-task work bounded by the bucket span instead of the entity's
    lifetime.

    ``frame='leading'`` flips to the LABEL side: events in the window
    strictly AFTER the observation (``(ts, ts + window]``; with
    ``include_current_instant`` the instant itself joins the frame) —
    "did/how-much the entity convert within the horizon" targets, with the
    same zero-peeking-backward symmetry and the bucket carry mirrored into
    the PREVIOUS bucket.
    """
    if frame not in ("trailing", "leading"):
        raise ValueError(f"frame must be trailing|leading, got {frame!r}")
    keys = [on] if isinstance(on, str) else list(on)
    ev_val = events.select(F.col(value_col)).schema[0].dataType
    ev2 = events.select(
        *[F.col(k) for k in keys],
        F.col(event_ts).cast("long").alias("__ts"),
        F.col(value_col).alias("__val"))
    for c in spine.columns:
        if c not in keys:
            ev2 = ev2.withColumn(c, F.lit(None).cast(spine.schema[c].dataType))
    ev2 = ev2.withColumn("__side", F.lit(0))
    sp2 = (spine
           .withColumn("__ts", F.col(spine_ts).cast("long"))
           .withColumn("__val", F.lit(None).cast(ev_val))
           .withColumn("__side", F.lit(1)))
    u = sp2.unionByName(ev2.select(*sp2.columns))

    windows = [window] if isinstance(window, int) else list(window)
    part_keys = list(keys)
    drop_cols = ["__ts", "__val", "__side"]
    if bucket_width is not None:
        max_win = max(int(w) for w in windows)
        bw = int(bucket_width)
        if bw < max_win:
            raise ValueError(
                f"bucket_width {bw} < max window {max_win}: a "
                "frame would span more than two buckets")
        bucket = F.floor(F.col("__ts") / F.lit(bw))
        own = u.withColumn("__bucket", bucket)
        # event rows near a bucket boundary also serve the adjacent
        # bucket's frames; spine rows live only in their own bucket
        if frame == "trailing":
            carry = (u.where((F.col("__side") == 0)
                             & (F.col("__ts") >= (bucket + 1) * F.lit(bw)
                                - F.lit(max_win)))
                     .withColumn("__bucket", bucket + F.lit(1)))
        else:
            carry = (u.where((F.col("__side") == 0)
                             & (F.col("__ts") < bucket * F.lit(bw)
                                + F.lit(max_win)))
                     .withColumn("__bucket", bucket - F.lit(1)))
        u = own.unionByName(carry)
        part_keys = part_keys + ["__bucket"]
        drop_cols.append("__bucket")
    # all window columns in ONE select so Catalyst emits one fused Window
    # node (chained withColumn blocks CollapseWindow across frames)
    exprs = []
    for win in windows:
        if frame == "trailing":
            lo, hi = -int(win), (0 if include_current_instant else -1)
        else:
            lo, hi = (0 if include_current_instant else 1), int(win)
        w = (Window.partitionBy(*part_keys).orderBy("__ts")
             .rangeBetween(lo, hi))
        for fn in fns:
            name = f"{prefix}{fn}_{win}"
            agg = (F.count("__val") if fn == "count"
                   else getattr(F, fn)(F.col("__val")))
            exprs.append(agg.over(w).alias(name))
    return (u.select("*", *exprs)
            .where(F.col("__side") == 1)
            .drop(*drop_cols))


def build_training_set_fused(spine: DataFrame, on: Sequence[str] | str,
                             spine_ts: str,
                             features: Sequence[FeatureSpec]) -> DataFrame:
    """All-backward multi-feature PIT assembly in ONE shuffle.

    :func:`build_training_set` with the shuffle strategy exchanges the
    (growing) spine once PER feature table — F features cost F shuffles of
    the biggest relation. This variant unions the spine with EVERY feature
    source at once (each row tagged with its source index) and computes all
    as-of picks in a single entity-partitioned window:
    ``last(when(side == i, col), ignore nulls)`` per feature column. One
    exchange + one sort + one fused Window node total; at 10^12 spine rows
    the saving is (F-1) full shuffles.

    Constraints (falls back is the caller's choice): every spec must be
    ``direction='backward'``, unsalted, and keyed on the spine keys.
    Result-identical to the sequential composition (tested), including
    per-spec ``tolerance`` and ``<prefix>ts`` audit columns.
    """
    keys = [on] if isinstance(on, str) else list(on)
    for spec in features:
        if spec.direction != "backward":
            raise ValueError("fused training set supports backward only")
        if spec.salt_buckets:
            raise ValueError("fused training set does not salt; use "
                             "build_training_set per-feature for hot keys")
        if spec.on is not None and list(
                [spec.on] if isinstance(spec.on, str) else spec.on) != keys:
            raise ValueError("fused training set requires all specs keyed "
                             "on the spine keys")

    spine_cols = spine.columns
    spine_types = {f.name: f.dataType for f in spine.schema.fields}
    # (out_name, dtype, side_idx, spec) for every exposed feature column
    plan = []
    for i, spec in enumerate(features, start=1):
        for c in spec.value_cols:
            plan.append((f"{spec.prefix}{c}",
                         spec.df.select(F.col(c)).schema[0].dataType, i))
    names = [n for n, _t, _i in plan] + [f"{s.prefix}ts" for s in features
                                         if s.matched_ts]
    dupes = {n for n in names if names.count(n) > 1} | \
        (set(names) & set(spine_cols))
    if dupes:
        raise ValueError(
            f"feature output columns collide: {sorted(dupes)} — give each "
            "FeatureSpec a distinct prefix")

    val_null = [(n, t) for (n, t, _i) in plan]
    sp2 = spine.select(
        "*", F.col(spine_ts).alias("__ts"), F.lit(0).alias("__side"),
        *[F.lit(None).cast(t).alias(n) for n, t in val_null])
    unioned = sp2
    for i, spec in enumerate(features, start=1):
        mine = {f"{spec.prefix}{c}": c for c in spec.value_cols}
        branch = spec.df.select(
            *[F.col(k) if k in keys else F.lit(None)
              .cast(spine_types[k]).alias(k) for k in spine_cols],
            F.col(spec.ts_col).alias("__ts"), F.lit(i).alias("__side"),
            *[F.col(mine[n]).alias(n) if n in mine
              else F.lit(None).cast(t).alias(n) for n, t in val_null])
        unioned = unioned.unionByName(branch)

    w = (Window.partitionBy(*keys)
         .orderBy(F.col("__ts").asc(), F.col("__side").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    picks, audit = {}, {}
    for n, _t, i in plan:
        picks[n] = F.last(F.when(F.col("__side") == i, F.col(n)),
                          ignorenulls=True).over(w)
    for i, spec in enumerate(features, start=1):
        audit[i] = F.last(F.when(F.col("__side") == i, F.col("__ts")),
                          ignorenulls=True).over(w)

    filled = unioned.select(
        "*",
        *[picks[n].alias(f"__p_{n}") for n, _t, _i in plan],
        *[audit[i].alias(f"__m_{i}") for i in audit],
    ).where(F.col("__side") == 0)

    out_exprs = [F.col(c) for c in spine_cols]
    for i, spec in enumerate(features, start=1):
        matched = F.col(f"__m_{i}")
        if spec.tolerance is not None:
            gap = (F.col("__ts").cast("double") - matched.cast("double"))
            ok = matched.isNotNull() & (gap <= F.lit(spec.tolerance))
            val = lambda n, ok=ok: F.when(ok, F.col(f"__p_{n}"))  # noqa: E731
            matched = F.when(ok, matched)
        else:
            val = lambda n: F.col(f"__p_{n}")  # noqa: E731
        for c in spec.value_cols:
            n = f"{spec.prefix}{c}"
            out_exprs.append(val(n).alias(n))
        if spec.matched_ts:
            out_exprs.append(matched.alias(f"{spec.prefix}ts"))
    return filled.select(*out_exprs)


@dataclass
class EventSource:
    """One event stream feeding :func:`pit_window_agg_multi`. ``value_col``
    is cast to double for aggregation (sources may differ in type)."""

    df: DataFrame
    ts_col: str
    value_col: str
    prefix: str


def pit_window_agg_multi(spine: DataFrame, on: Sequence[str] | str,
                         spine_ts: str, sources: Sequence[EventSource],
                         window: int | Sequence[int],
                         fns: Sequence[str] = ("count", "sum"),
                         include_current_instant: bool = False,
                         bucket_width: int | None = None,
                         frame: str = "trailing") -> DataFrame:
    """:func:`pit_window_agg` over SEVERAL event streams at once: every
    (source, horizon, fn) feature — e.g. click/view/error counts and sums
    for 1h and 24h — out of ONE union, one shuffle, one fused Window node.
    Aggregates select their stream via ``fn(when(src == i, val))`` inside
    the shared RANGE frame (``frame='trailing'`` for features,
    ``'leading'`` for labels). Same leakage contract and ``bucket_width``
    skew handling as the single-source operator.
    """
    if frame not in ("trailing", "leading"):
        raise ValueError(f"frame must be trailing|leading, got {frame!r}")
    keys = [on] if isinstance(on, str) else list(on)
    prefixes = [src.prefix for src in sources]
    dupes = {p for p in prefixes if prefixes.count(p) > 1}
    if dupes:
        raise ValueError(
            f"duplicate EventSource prefixes: {sorted(dupes)} — feature "
            "columns would collide")
    sp2 = (spine
           .withColumn("__ts", F.col(spine_ts).cast("long"))
           .withColumn("__val", F.lit(None).cast("double"))
           .withColumn("__src", F.lit(0)))
    unioned = sp2
    for i, src in enumerate(sources, start=1):
        ev = src.df.select(
            *[F.col(k) for k in keys],
            F.col(src.ts_col).cast("long").alias("__ts"),
            F.col(src.value_col).cast("double").alias("__val"))
        for c in spine.columns:
            if c not in keys:
                ev = ev.withColumn(c,
                                   F.lit(None).cast(spine.schema[c].dataType))
        unioned = unioned.unionByName(ev.withColumn("__src", F.lit(i)))

    windows = [window] if isinstance(window, int) else list(window)
    part_keys = list(keys)
    drop_cols = ["__ts", "__val", "__src"]
    if bucket_width is not None:
        max_win = max(int(w) for w in windows)
        bw = int(bucket_width)
        if bw < max_win:
            raise ValueError(
                f"bucket_width {bw} < max window {max_win}")
        bucket = F.floor(F.col("__ts") / F.lit(bw))
        own = unioned.withColumn("__bucket", bucket)
        if frame == "trailing":
            carry = (unioned.where((F.col("__src") > 0)
                                   & (F.col("__ts") >= (bucket + 1)
                                      * F.lit(bw) - F.lit(max_win)))
                     .withColumn("__bucket", bucket + F.lit(1)))
        else:
            carry = (unioned.where((F.col("__src") > 0)
                                   & (F.col("__ts") < bucket * F.lit(bw)
                                      + F.lit(max_win)))
                     .withColumn("__bucket", bucket - F.lit(1)))
        unioned = own.unionByName(carry)
        part_keys.append("__bucket")
        drop_cols.append("__bucket")

    exprs = []
    for win in windows:
        if frame == "trailing":
            lo, hi = -int(win), (0 if include_current_instant else -1)
        else:
            lo, hi = (0 if include_current_instant else 1), int(win)
        w = (Window.partitionBy(*part_keys).orderBy("__ts")
             .rangeBetween(lo, hi))
        for i, src in enumerate(sources, start=1):
            mine = F.when(F.col("__src") == i, F.col("__val"))
            for fn in fns:
                name = f"{src.prefix}{fn}_{win}"
                expr = (F.count(mine) if fn == "count"
                        else getattr(F, fn)(mine))
                exprs.append(expr.over(w).alias(name))
    return (unioned.select("*", *exprs)
            .where(F.col("__src") == 0)
            .drop(*drop_cols))


def _expanding_prior_sums(df: DataFrame, category_col: str, ts_col: str,
                          tiebreak, aggs: dict,
                          bucket_width: int | None) -> DataFrame:
    """Strictly-prior expanding aggregates per category, with an optional
    bucketed two-pass for HOT categories.

    ``aggs`` maps output column name -> sum-combinable aggregate column
    (``F.sum(expr)`` / ``F.count(expr)`` — anything whose partials merge
    by ``+``). Without ``bucket_width``: one Window over the category
    key (fine when categories are many). With it: a category like
    ``event_type`` with a handful of values serializes its ENTIRE history
    onto one reducer at 10^12 rows, so the expanding sums are split into
    (1) intra-bucket expanding aggregates partitioned by ``(category,
    floor(ts/bucket_width))``, and (2) a per-(category, bucket) totals
    relation whose strict-prior prefix (a window over the tiny
    bucket-cardinality relation) is joined back as a carry — per-task
    work is bounded by the bucket span, and the carry join is
    AQE-broadcastable. Aggregates combine by ``+``, so the result is
    IDENTICAL for integer/decimal inputs and equal up to float
    association for doubles (empty-history rows come back 0, not null —
    both callers coalesce anyway). ``ts_col`` must be non-null in the
    bucketed form.
    """
    tie = _as_list(tiebreak or [])
    if bucket_width is None:
        w = (Window.partitionBy(category_col).orderBy(ts_col, *tie)
             .rowsBetween(Window.unboundedPreceding, -1))
        return df.select(
            "*", *[F.coalesce(a.over(w), F.lit(0)).alias(n)
                   for n, a in aggs.items()])
    bucket = F.floor(F.col(ts_col).cast("double")
                     / F.lit(float(int(bucket_width)))).cast("long")
    base = df.withColumn("__xp_bucket", bucket)
    wb = (Window.partitionBy(category_col, "__xp_bucket")
          .orderBy(ts_col, *tie)
          .rowsBetween(Window.unboundedPreceding, -1))
    intra = base.select(
        "*", *[F.coalesce(a.over(wb), F.lit(0)).alias(f"__xp_i_{n}")
               for n, a in aggs.items()])
    totals = base.groupBy(category_col, "__xp_bucket").agg(
        *[a.alias(f"__xp_t_{n}") for n, a in aggs.items()])
    wc = (Window.partitionBy(category_col).orderBy("__xp_bucket")
          .rowsBetween(Window.unboundedPreceding, -1))
    carry = totals.select(
        F.col(category_col).alias("__xp_cat"),
        F.col("__xp_bucket").alias("__xp_cb"),
        *[F.coalesce(F.sum(f"__xp_t_{n}").over(wc), F.lit(0))
          .alias(f"__xp_c_{n}") for n in aggs])
    # NULL-SAFE on the category key: a plain equi-join would silently
    # drop every null-category row (null != null) — the same defect
    # class fixed in encoding._join_group_stats / grouped quantiles
    joined = (intra.join(
        carry,
        F.col(category_col).eqNullSafe(F.col("__xp_cat"))
        & (F.col("__xp_bucket") == F.col("__xp_cb")))
        .drop("__xp_cat", "__xp_cb"))
    out = joined.select(
        "*", *[(F.col(f"__xp_i_{n}") + F.col(f"__xp_c_{n}")).alias(n)
               for n in aggs])
    drop = ["__xp_bucket"] + [f"__xp_i_{n}" for n in aggs] + \
        [f"__xp_c_{n}" for n in aggs]
    return out.drop(*drop)


def target_encode_pit(df: DataFrame, category_col: str, target_col: str,
                      ts_col: str = "ts",
                      tiebreak: Sequence[str] | str | None = None,
                      prior_weight: float = 0.0,
                      prior_value: float | None = None,
                      out_col: str | None = None,
                      keep_stats: bool = False,
                      bucket_width: int | None = None) -> DataFrame:
    """Leakage-free (point-in-time) target encoding: each row's encoding
    is the mean of ``target_col`` over STRICTLY EARLIER rows of the same
    category, smoothed toward a prior:

        te = (sum_prev + prior_weight * prior) / (cnt_prev + prior_weight)

    A category's first occurrence (cnt_prev = 0) with ``prior_weight = 0``
    yields NULL — there is genuinely no past signal. The trailing frame
    ends at the PREVIOUS row, so the row's own target never leaks into its
    feature (the classic target-encoding leak).

    ``prior_value=None`` attaches the GLOBAL target mean as an in-plan
    broadcast 1-row aggregate (fully lazy — composing runs no job). Note
    the global prior is computed over the whole relation; strictly-PIT
    pipelines should pass the prior from the training window explicitly.

    Scale shape: one shuffle on the category key; both expanding
    aggregates share a single frame, so Catalyst collapses them into ONE
    Window node (whole-stage codegen, no Python). ``tiebreak`` columns
    make the frame deterministic when timestamps collide.
    ``bucket_width`` (ts units) enables the hot-category two-pass of
    :func:`_expanding_prior_sums` — REQUIRED when the category has few
    distinct values (e.g. an event-type column) at large scale, where a
    plain category window serializes each category onto one reducer.
    """
    # sum in the TARGET COLUMN'S TYPE (cast to double only afterwards):
    # double window sums are association-order-sensitive across engines, so
    # callers wanting bit-exact cross-engine results pass a decimal target
    # (the weighted_mean_nation idiom) and the expanding sum stays exact.
    tgt = F.col(target_col)
    base = _expanding_prior_sums(
        df, category_col, ts_col, tiebreak,
        {"__te_sum": F.sum(tgt), "__te_cnt": F.count(tgt)}, bucket_width)
    if prior_weight == 0.0:
        # the prior is multiplied by 0 — do not build (or broadcast) it
        prior = F.lit(0.0)
    elif prior_value is not None:
        prior = F.lit(float(prior_value))
    else:
        prior_rel = df.agg(F.avg(tgt).cast("double").alias("__te_prior"))
        base = base.crossJoin(F.broadcast(prior_rel))
        prior = F.col("__te_prior")
    pw = F.lit(float(prior_weight))
    denom = F.col("__te_cnt").cast("double") + pw
    te = F.when(denom > F.lit(0.0),
                (F.coalesce(F.col("__te_sum").cast("double"), F.lit(0.0))
                 + pw * prior) / denom)
    out = out_col or f"te_{target_col}"
    res = base.withColumn(out, te)
    if keep_stats:
        # expose the exact expanding stats (in the target's own type) for
        # callers that need engine-exact downstream arithmetic
        res = (res.withColumn(f"{out}_sum", F.col("__te_sum"))
               .withColumn(f"{out}_cnt", F.col("__te_cnt")))
    drop = ["__te_sum", "__te_cnt"] + \
        ([] if prior_value is not None else ["__te_prior"])
    return res.drop(*drop)


def woe_encode_pit(df: DataFrame, category_col: str, label_col: str,
                   ts_col: str = "ts",
                   tiebreak: Sequence[str] | str | None = None,
                   smoothing: float = 0.5,
                   out_col: str | None = None,
                   bucket_width: int | None = None) -> DataFrame:
    """Leakage-free weight-of-evidence encoding of a binary label per
    category (the credit-scoring classic), computed point-in-time: each
    row sees only STRICTLY EARLIER rows of its category plus the global
    class totals, Laplace-smoothed so empty cells stay finite:

        woe = ln( ((ev + s) / (T_ev + 2s)) / ((ne + s) / (T_ne + 2s)) )

    with ``ev``/``ne`` = prior event/non-event counts of the category and
    ``T_ev``/``T_ne`` the global class totals (attached as an in-plan
    broadcast 1-row aggregate — lazy; pass a training-window relation if
    the global totals must also be PIT-strict). ``label_col`` is
    interpreted as boolean/0-1; NULL labels count toward neither class.

    Scale shape: identical to :func:`target_encode_pit` — one shuffle on
    the category key, both expanding counts in ONE Window node, all
    arithmetic on exact integers until the final ln. ``bucket_width``
    enables the hot-category two-pass (:func:`_expanding_prior_sums`,
    bit-identical here — integer counts combine exactly).
    """
    is_ev = F.col(label_col).cast("boolean")
    ev1 = F.when(is_ev, 1).otherwise(0)
    ne1 = F.when(~is_ev, 1).otherwise(0)  # null labels -> neither class
    base = _expanding_prior_sums(
        df, category_col, ts_col, tiebreak,
        {"__woe_ev": F.sum(ev1), "__woe_ne": F.sum(ne1)}, bucket_width)
    totals = df.agg(
        F.coalesce(F.sum(ev1), F.lit(0)).alias("__woe_tev"),
        F.coalesce(F.sum(ne1), F.lit(0)).alias("__woe_tne"))
    s = float(smoothing)
    p_ev = (F.col("__woe_ev").cast("double") + F.lit(s)) / \
        (F.col("__woe_tev").cast("double") + F.lit(2.0 * s))
    p_ne = (F.col("__woe_ne").cast("double") + F.lit(s)) / \
        (F.col("__woe_tne").cast("double") + F.lit(2.0 * s))
    out = out_col or f"woe_{label_col}"
    return (base.crossJoin(F.broadcast(totals))
            .withColumn(out, F.log(p_ev / p_ne))
            .drop("__woe_ev", "__woe_ne", "__woe_tev", "__woe_tne"))


def count_encode_pit(df: DataFrame, category_col: str,
                     ts_col: str = "ts",
                     tiebreak: Sequence[str] | str | None = None,
                     out_col: str | None = None,
                     bucket_width: int | None = None) -> DataFrame:
    """Point-in-time count encoding: each row's feature is the number of
    STRICTLY EARLIER rows of the same category — the online-serving
    counter (a production counter at time t has seen exactly the prior
    rows, so this is the train/serve-skew-free form of frequency
    encoding; no label is involved, the PIT discipline here is about
    serving parity, not target leakage).

    Same scale contract as :func:`target_encode_pit`:
    ``bucket_width`` enables the hot-category bucket+carry two-pass —
    REQUIRED for low-cardinality categories at large scale — and is
    bit-identical to the plain window (counts are integers, partials
    merge by +).
    """
    out = out_col or f"ce_{category_col}"
    return _expanding_prior_sums(
        df, category_col, ts_col, tiebreak,
        {out: F.count("*")}, bucket_width)


def oof_target_stats(df: DataFrame, category_col: str, target_col: str,
                     fold_col: str = "fold", scale: int = 6,
                     out_scale: int = 6, densify: bool = False) -> DataFrame:
    """Out-of-fold target-encoding table: for every (category, fold)
    cell, the mean target over the SAME category in ALL OTHER folds —
    the cross-fitting complement of :func:`target_encode_pit` (PIT
    blocks temporal leakage; OOF blocks the self-label leak for
    temporally-unstructured tabular features, the standard
    cross-validated target-encoder: a row's own fold never contributes
    to its encoding).

    Exact contract: quantized-target decimal sums per (category, fold);
    the out-of-fold complement is the per-category total minus the own
    cell (one window over the |categories×folds|-bounded relation, never
    the corpus); the mean is one ``trunc_div`` — micro units,
    engine/partition bit-identical.

    Returns ``(category, fold, n_oof, te_oof_u)``; ``te_oof_u`` null
    when no other fold has the category (no out-of-fold signal).  Rows
    with a null category, fold, or target contribute nothing.

    Plan shape at 10^12 rows: ONE map-side-combined aggregation on
    (category, fold) → k·|categories| rows → window + arithmetic.  Join
    the result back broadcast (:func:`target_encode_oof`).
    """
    from ..functions.util import quantize, trunc_div

    dec = "decimal(38,0)"
    cat, fold = F.col(category_col), F.col(fold_col)
    base = df.where(cat.isNotNull() & fold.isNotNull()
                    & F.col(target_col).isNotNull())
    cf = base.groupBy(category_col, fold_col).agg(
        F.count("*").cast(dec).alias("__n_cf"),
        F.sum(quantize(F.col(target_col), scale).cast(dec))
        .alias("__s_cf"))
    if densify:
        # categories × observed folds, absent cells as (0, 0): a cell
        # with no valid-target rows still has a well-defined
        # out-of-fold mean (the other folds' total) — without this its
        # corpus rows encode null despite real signal
        cells = (cf.select(category_col).distinct()
                 .crossJoin(df.where(fold.isNotNull())
                            .select(fold_col).distinct()))
        cf = (cells.join(cf, [category_col, fold_col], "left")
              .select(category_col, fold_col,
                      F.coalesce("__n_cf", F.lit(0).cast(dec))
                      .alias("__n_cf"),
                      F.coalesce("__s_cf", F.lit(0).cast(dec))
                      .alias("__s_cf")))
    wall = Window.partitionBy(category_col)
    oof = cf.select(
        category_col, fold_col,
        (F.sum("__n_cf").over(wall) - F.col("__n_cf")).alias("__n_oof"),
        (F.sum("__s_cf").over(wall) - F.col("__s_cf")).alias("__s_oof"))
    te = F.when(
        F.col("__n_oof") > 0,
        trunc_div(F.col("__s_oof") * F.lit(10 ** out_scale).cast(dec),
                  F.col("__n_oof") * F.lit(10 ** scale).cast(dec))
        .cast("bigint"))
    return oof.select(category_col, fold_col,
                      F.col("__n_oof").cast("bigint").alias("n_oof"),
                      te.alias("te_oof_u"))


def target_encode_oof(df: DataFrame, category_col: str, target_col: str,
                      fold_col: str = "fold", scale: int = 6,
                      out_scale: int = 6,
                      out_col: str | None = None) -> DataFrame:
    """Row-level out-of-fold target encoding: broadcast-join the
    :func:`oof_target_stats` table (densified to categories × observed
    folds, so a cell with zero valid-target rows still receives the
    other folds' mean) back onto the corpus.  Rows whose (category,
    fold) truly has no out-of-fold signal — and rows with null
    category/fold — keep a null encoding.  One broadcast hash join, no
    corpus shuffle."""
    out = out_col or f"te_oof_{target_col}"
    table = oof_target_stats(df, category_col, target_col, fold_col,
                             scale, out_scale, densify=True)
    enc = F.broadcast(table.select(
        category_col, fold_col, F.col("te_oof_u").alias(out)))
    return df.join(enc, [category_col, fold_col], "left")
