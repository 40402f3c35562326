"""Event-sequence feature operators: Markov transitions, recency,
trailing-value arrays.

The behavioural-feature family a training pipeline derives from an
ordered event stream ``(entity, ts, type, value)``: what happened
before each row, how long ago, and with what empirical dynamics — all
strictly point-in-time (every feature at a row sees only earlier rows,
mirroring the leakage discipline of ``operators.training``).

Reference parity: the reference orders spectra within a source and
derives per-position structure (``components/spectrum/alignment.py``
works on ordered peak sequences); here the same ordered-sequence
semantics are recast as Spark window/aggregation plans over event
tables.

Scale notes: each operator is ONE window specification (one shuffle on
the entity key) or one map-side-combined aggregation; transition
matrices are bounded by |types|², never by rows.  Skewed entities hit
the same single-entity window limit as ``windows.rolling_range`` — salt or
bucket upstream if one entity holds a meaningful fraction of the corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.util import as_list as _as_list


def transition_counts(df: DataFrame, partition_by,
                      type_col: str = "event_type", order_by: str = "ts",
                      tiebreak: Sequence[str] | str = ()) -> DataFrame:
    """Empirical first-order Markov transition matrix of ``type_col``
    within each entity's ordered event sequence, aggregated corpus-wide:
    ``(from_type, to_type, n, p)`` with ``p = n / Σ_to n`` (rows sum to
    1 over observed successors).

    The first event of each entity has no predecessor and contributes
    nothing; null types participate as their own state (a null FROM
    state groups like any other — transitions out of "unknown" are
    real signal).

    Plan shape: one lag window (one shuffle on the entity key) → one
    map-side-combined count aggregation (|types|²-bounded) → one
    |types|-bounded marginal join.  ``p`` is a double division of two
    exact int64 counts — engine-portable bit-for-bit.
    """
    parts = _as_list(partition_by)
    order = [F.col(order_by)] + [F.col(c) for c in _as_list(tiebreak)]
    w = Window.partitionBy(*parts).orderBy(*order)
    # lag yields null BOTH for "no previous row" and for "previous type
    # was null"; a row-number probe disambiguates (only true first rows
    # are dropped — null-typed predecessors stay).
    pairs = (df.select(F.col(type_col).alias("to_type"),
                       F.lag(type_col).over(w).alias("from_type"),
                       F.row_number().over(w).alias("__rn"))
             .where(F.col("__rn") > 1)
             .drop("__rn"))
    cnt = (pairs.groupBy("from_type", "to_type")
           .agg(F.count("*").alias("n")))
    marg = (cnt.groupBy(F.col("from_type").alias("__ft"))
            .agg(F.sum("n").alias("__n_from")))
    out = (cnt.join(marg, F.col("from_type").eqNullSafe(F.col("__ft")))
           .select("from_type", "to_type", "n",
                   (F.col("n").cast("double")
                    / F.col("__n_from").cast("double")).alias("p")))
    return out


def recency_features(df: DataFrame, partition_by,
                     order_by: str = "ts",
                     tiebreak: Sequence[str] | str = ()) -> DataFrame:
    """Point-in-time recency features within each entity partition:
    for every row, seconds since the previous row
    (``secs_since_prev``, null on the first) and the count of strictly
    earlier rows (``n_prior``).

    Partition by ``(entity,)`` for global recency or
    ``(entity, type)`` for per-type recency ("time since this user's
    last *purchase*").  One window specification → one shuffle; both
    features come from the same sort (no second exchange).
    """
    parts = _as_list(partition_by)
    order = [F.col(order_by)] + [F.col(c) for c in _as_list(tiebreak)]
    w = Window.partitionBy(*parts).orderBy(*order)
    prev_ts = F.lag(order_by).over(w)
    return df.select(
        "*",
        (F.unix_timestamp(F.col(order_by))
         - F.unix_timestamp(prev_ts)).alias("secs_since_prev"),
        (F.row_number().over(w) - 1).cast("long").alias("n_prior"))


def trailing_values(df: DataFrame, value_col: str, partition_by,
                    order_by: str = "ts", k: int = 3,
                    tiebreak: Sequence[str] | str = (),
                    out_col: str | None = None) -> DataFrame:
    """The last ``k`` values strictly BEFORE each row as an array, in
    event order — the fixed-length recent-history feature sequence
    models consume (point-in-time: the current row is excluded, so the
    feature at time t sees only t' < t).

    Null values are kept OUT of the array (``collect_list`` skips
    nulls) but still occupy a frame slot, so a null-valued previous
    event shortens the array rather than shifting in an older value;
    rows with no history get ``[]``.  NOTE: SQL engines differ here —
    DuckDB's windowed ``list()`` KEEPS nulls, so a SQL mirror must
    ``list_filter`` them out after the frame (the driver oracle does).
    One window frame → one shuffle.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    parts = _as_list(partition_by)
    order = [F.col(order_by)] + [F.col(c) for c in _as_list(tiebreak)]
    w = (Window.partitionBy(*parts).orderBy(*order)
         .rowsBetween(-k, -1))
    out = out_col or f"{value_col}_last{k}"
    return df.withColumn(out, F.collect_list(value_col).over(w))


def autocorr(df: DataFrame, value_col: str, partition_by,
             order_by: str = "ts", lags: Sequence[int] = (1,),
             scale: int = 6, tiebreak: Sequence[str] | str = ()) -> DataFrame:
    """Per-entity lag-``k`` Pearson autocorrelation of ``value_col``
    over the entity's time-ordered OBSERVED series (null values are
    dropped before lagging, so lag 1 means "previous non-null
    observation"): one output row ``(entity…, lag, n_pairs, r)`` per
    entity × lag with at least one pair (entities with fewer than
    ``k + 1`` observations emit nothing for lag ``k``); ``r`` is null
    when fewer than 2 pairs or either side is constant.

    Exactness contract: values are quantized to ``10**-scale`` units
    (``floor(v * 10**scale + 0.5)`` — every step IEEE, so Spark /
    DuckDB / numpy agree bit-for-bit) and all moment sums run in exact
    decimal integers; only the final ratio touches floating point.
    ``r`` is therefore the autocorrelation of the quantized series —
    reproducible across engines and partitionings, and within
    ``~10**-(scale-1)`` of the raw-double value.  Pick ``scale`` so
    ``|v| * 10**scale < 1e10`` (quantized products must stay inside
    the exact-decimal range).

    Plan shape: ONE window (single shuffle on the entity key) building
    every lag column in one select — CollapseWindow keeps one Window
    node — then explode(lags) → one map-side-combined aggregation on
    (entity, lag).  Output cardinality |entities| × |lags|.
    """
    parts = _as_list(partition_by)
    lags = [int(k) for k in lags]
    if not lags or any(k < 1 for k in lags):
        raise ValueError(f"lags must be positive ints, got {lags}")
    order = [F.col(order_by)] + [F.col(c) for c in _as_list(tiebreak)]
    w = Window.partitionBy(*parts).orderBy(*order)
    q = F.floor(F.col(value_col) * F.lit(float(10 ** scale)) + F.lit(0.5))
    obs = df.where(F.col(value_col).isNotNull()).select(
        *parts, F.col(order_by), *[F.col(c) for c in _as_list(tiebreak)],
        q.alias("__x"))
    # every lag column in ONE select: one Window node, one shuffle
    lagged = obs.select(
        *parts, F.col("__x"),
        *[F.lag("__x", k).over(w).alias(f"__y{k}") for k in lags])
    pairs = (lagged.select(
        *parts, "__x",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("lag"), F.col(f"__y{k}").alias("y"))
            for k in lags])).alias("__p"))
        .select(*parts, F.col("__p.lag").alias("lag"),
                F.col("__x").alias("x"), F.col("__p.y").alias("y"))
        .where(F.col("y").isNotNull()))
    d = lambda c: c.cast("decimal(20,0)")  # noqa: E731
    agg = pairs.groupBy(*parts, "lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum(d(F.col("x"))).alias("__sx"),
        F.sum(d(F.col("y"))).alias("__sy"),
        F.sum(d(F.col("x")) * d(F.col("y"))).alias("__sxy"),
        F.sum(d(F.col("x")) * d(F.col("x"))).alias("__sxx"),
        F.sum(d(F.col("y")) * d(F.col("y"))).alias("__syy"))
    n = F.col("n_pairs").cast("decimal(20,0)")
    num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
    d1 = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
    d2 = (n * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    den = F.sqrt(d1.cast("double") * d2.cast("double"))
    r = F.when((F.col("n_pairs") >= 2) & (den > 0),
               num.cast("double") / den)
    return agg.select(*parts, "lag", "n_pairs", r.alias("r"))


def event_pattern_count(df: DataFrame, partition_by, order_by,
                        type_col: str, type_map: dict,
                        pattern: str,
                        max_events: int = 100_000) -> DataFrame:
    """Regex matches over each entity's ordered event-type sequence:
    ``(partition_by…, n_events, n_matches)`` — MATCH_RECOGNIZE-lite.

    Each event maps to a single character via ``type_map`` (unmapped
    or null types become ``'_'`` — never use ``'_'`` in patterns);
    the per-entity sequence is ordered by ``order_by`` (must be a
    total order — add a unique id as final tie-break) and
    ``n_matches`` counts non-overlapping leftmost matches of
    ``pattern``.  Keep patterns to the portable regex subset
    (literals, classes, ``* + ? |``) — the Spark (Java) and oracle
    (RE2) engines agree there.

    Scale notes: the per-entity sequence IS per-entity state, so this
    is the one operator family where a giant entity hurts —
    ``max_events`` drops entities above the cap (pre-counted with a
    semi-join BEFORE any collect, same documented-recall discipline
    as ``er.candidate_pairs``'s ``max_block``).  Rows with a null in
    any ``order_by`` column are excluded (engines disagree on null
    order; an unorderable event has no position).
    """
    if max_events < 1:
        raise ValueError(f"max_events must be >= 1, got {max_events}")
    for t, ch in type_map.items():
        if len(ch) != 1 or ch == "_":
            raise ValueError(
                f"type_map values must be single non-'_' chars, "
                f"got {t!r} -> {ch!r}")
    parts = _as_list(partition_by)
    order = _as_list(order_by)
    keep = df
    for c in parts + order:
        keep = keep.where(F.col(c).isNotNull())
    ch = F.lit("_")
    for t, c in sorted(type_map.items()):
        ch = F.when(F.col(type_col) == t, F.lit(c)).otherwise(ch)
    ev = keep.select(*parts, *order, ch.alias("__ch"))
    counts = ev.groupBy(*parts).agg(F.count("*").alias("__n"))
    small = ev.join(counts.where(F.col("__n") <= max_events)
                    .select(*parts), parts, "left_semi")
    seq = (small.groupBy(*parts)
           .agg(F.count("*").alias("n_events"),
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(
                            F.struct(*order, F.col("__ch")))),
                        lambda x: x["__ch"]),
                    "").alias("__seq")))
    return seq.select(
        *parts, "n_events",
        F.size(F.regexp_extract_all(F.col("__seq"), F.lit(pattern),
                                    F.lit(0))).alias("n_matches"))


def trend_features(df: DataFrame, value_col: str, partition_by,
                   order_by: str = "ts", scale: int = 6,
                   slope_unit_ms: int = 1000) -> DataFrame:
    """Per-entity ordinary-least-squares trend of ``value_col`` against
    event time: ``(entity…, n_obs, t0, slope, intercept, r2)`` — the
    classic "is this user's engagement rising or falling" feature.

    ``t0`` is the entity's first observed timestamp; ``intercept`` is
    the fitted value AT ``t0`` (times are regressed relative to the
    entity's own start, which both shrinks the exact-arithmetic
    magnitudes and makes the intercept a meaningful feature);
    ``slope`` is per ``slope_unit_ms`` milliseconds (default: per
    second).  ``order_by`` may be a timestamp column (converted to
    epoch milliseconds) or any integer/long time column already in
    milliseconds.  Rows with null value or null time are dropped;
    ``slope``/``intercept``/``r2`` are null when fewer than 2
    observations or all observations share one timestamp.

    Exactness contract (same as :func:`autocorr`): values are
    quantized to ``10**-scale`` units via ``floor(v*10**scale + 0.5)``
    and every moment sum runs in exact ``decimal(38,0)``; only the
    final ratios touch floating point (all-IEEE, engine-reproducible).
    Bounds: with per-entity relative times ``T`` ms and ``|v|*10**scale
    <= V``, the largest sum is ``n * max(T², T·V, V²)`` — keep it under
    1e38 (e.g. T=1e10 ≈ 4 months, V=1e10, n=1e9 rows/entity holds).

    Plan shape: one filter → one Window (``min(ts)`` over the entity,
    no order — single shuffle on the entity key) → one map-side-combined
    aggregation on the same key (exchange reused).  No joins, no
    driver state; skewed entities reduce in the combiner.
    """
    parts = _as_list(partition_by)
    if scale < 0 or slope_unit_ms <= 0:
        raise ValueError(
            f"need scale >= 0 and slope_unit_ms > 0, "
            f"got {scale}, {slope_unit_ms}")
    w = Window.partitionBy(*parts)
    q = F.floor(F.col(value_col) * F.lit(float(10 ** scale)) + F.lit(0.5))
    obs = (df.where(F.col(value_col).isNotNull()
                    & F.col(order_by).isNotNull())
           .select(*parts, F.col(order_by).alias("__ts"), q.alias("__y")))
    rel = obs.select(
        *parts, "__y", "__ts",
        F.min("__ts").over(w).alias("__t0"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    is_ts = dict(df.dtypes).get(order_by, "").startswith("timestamp")
    # the .cast("timestamp") accepts TIMESTAMP_NTZ too (session TZ UTC)
    ms = ((lambda c: F.unix_millis(c.cast("timestamp"))) if is_ts
          else (lambda c: c.cast("long")))
    x = d(ms(F.col("__ts")) - ms(F.col("__t0")))
    y = d(F.col("__y"))
    agg = rel.groupBy(*parts).agg(
        F.count("*").alias("n_obs"),
        F.min("__t0").alias("t0"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"))
    n = F.col("n_obs").cast("decimal(38,0)")
    num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
    d1 = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
    d2 = (n * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    ok = (F.col("n_obs") >= 2) & (d1.cast("double") > 0)
    # slope in quantized-units/ms, de-quantized and re-scaled in double
    slope_q = num.cast("double") / d1.cast("double")
    slope = slope_q * F.lit(float(slope_unit_ms) / 10 ** scale)
    # intercept at t0: (sy - slope_q * sx) / n, de-quantized
    intercept = ((F.col("__sy").cast("double")
                  - slope_q * F.col("__sx").cast("double"))
                 / F.col("n_obs").cast("double") / F.lit(float(10 ** scale)))
    r2 = F.when(d2.cast("double") > 0,
                (num.cast("double") / d1.cast("double"))
                * (num.cast("double") / d2.cast("double")))
    return agg.select(
        *parts, "n_obs", "t0",
        F.when(ok, slope).alias("slope"),
        F.when(ok, intercept).alias("intercept"),
        F.when(ok, r2).alias("r2"))


def calendar_features(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Calendar feature expansion of a timestamp column: adds
    ``year month day hour minute dow is_weekend days_since_epoch``
    (``dow``: 0=Sunday … 6=Saturday).  Null timestamps yield null
    features.  Pre-1970 timestamps are rejected nowhere but ``dow``/
    ``hour``/``minute``/``days_since_epoch`` assume non-negative epoch
    (integer div/mod conventions diverge below zero — documented
    contract, not a guess).

    Engine-portability: ``year/month/day`` are proleptic-Gregorian
    field extractions (identical across engines); ``dow``, ``hour``,
    ``minute`` and ``days_since_epoch`` are PURE integer arithmetic on
    epoch milliseconds (``(days + 4) % 7`` — 1970-01-01 was a
    Thursday), so no engine's week-numbering or locale conventions are
    involved.  Map-only: zero shuffles, whole-stage-codegen friendly.
    """
    is_ts = dict(df.dtypes).get(ts_col, "").startswith("timestamp")
    t = (F.col(ts_col).cast("timestamp") if is_ts
         else F.timestamp_millis(F.col(ts_col).cast("long")))
    ms = (F.unix_millis(F.col(ts_col).cast("timestamp")) if is_ts
          else F.col(ts_col).cast("long"))
    days = ms - (ms % F.lit(86_400_000))  # guard: exact multiples
    days = (days / F.lit(86_400_000)).cast("long")
    in_day = ms % F.lit(86_400_000)
    dow = (days + F.lit(4)) % F.lit(7)
    return (df
            .withColumn("year", F.year(t))
            .withColumn("month", F.month(t))
            .withColumn("day", F.dayofmonth(t))
            .withColumn("hour", (in_day / F.lit(3_600_000)).cast("int"))
            .withColumn("minute",
                        ((in_day % F.lit(3_600_000)) / F.lit(60_000))
                        .cast("int"))
            .withColumn("dow", dow.cast("int"))
            .withColumn("is_weekend",
                        F.when(dow.isNotNull(),
                               dow.isin(0, 6)))
            .withColumn("days_since_epoch", days))


def gap_stats(df: DataFrame, partition_by, order_by: str = "ts",
              threshold_ms: int = 3_600_000,
              tiebreak: Sequence[str] | str = ()) -> DataFrame:
    """Per-entity inactivity-gap summary over the time-ordered event
    stream: ``(entity…, n_obs, n_gaps, max_gap_ms, median_gap_ms,
    n_gaps_over)`` where a gap is the millisecond delta between
    consecutive events (``n_gaps = n_obs - 1``) and ``n_gaps_over``
    counts gaps strictly greater than ``threshold_ms`` — the broken-
    sensor / churn-risk inactivity feature.  Rows with null time are
    dropped; single-event entities report ``n_gaps 0`` with null gap
    stats.  ``order_by`` may be a timestamp or an epoch-millisecond
    integer column (the :func:`trend_features` convention).

    ``median_gap_ms`` uses the exact ``percentile`` aggregate (linear
    interpolation — the DuckDB ``quantile_cont`` definition), over
    integer gaps: midpoints are x.0 or x.5 exactly, engine-portable.

    Plan shape: one lag window + one map-side-combined aggregation on
    the same entity key (Exchange reused) — the :func:`autocorr`
    shape.  The percentile state is the entity's gap list on one
    reducer; for 10^8+-event entities swap in
    ``quantiles.grouped_exact_quantiles``.
    """
    parts = _as_list(partition_by)
    if threshold_ms < 0:
        raise ValueError(f"threshold_ms must be >= 0, got {threshold_ms}")
    is_ts = dict(df.dtypes).get(order_by, "").startswith("timestamp")
    ms = (F.unix_millis(F.col(order_by).cast("timestamp")) if is_ts
          else F.col(order_by).cast("long"))
    obs = (df.where(F.col(order_by).isNotNull())
           .select(*parts, ms.alias("__ms"),
                   *[F.col(c) for c in _as_list(tiebreak)]))
    # order on the projected integer key (ms preserves the ts order)
    w = Window.partitionBy(*parts).orderBy(
        F.col("__ms"), *[F.col(c) for c in _as_list(tiebreak)])
    lagged = obs.select(
        *parts, "__ms",
        (F.col("__ms") - F.lag("__ms").over(w)).alias("__gap"))
    return (lagged.groupBy(*parts)
            .agg(F.count("*").alias("n_obs"),
                 F.count("__gap").alias("n_gaps"),
                 F.max("__gap").alias("max_gap_ms"),
                 F.expr("percentile(__gap, 0.5)").alias("median_gap_ms"),
                 F.coalesce(F.sum(F.when(F.col("__gap")
                                         > F.lit(threshold_ms), 1)),
                            F.lit(0)).cast("long").alias("n_gaps_over")))


def sax_breakpoints(alphabet_size: int) -> list[float]:
    """The k−1 standard-normal quantile breakpoints of classic SAX (Lin
    et al. 2003, "A Symbolic Representation of Time Series"):
    ``Φ⁻¹(j/k)`` for j = 1..k−1, from the repo's scipy-free
    ``kernels.special.norm_ppf``.  Frozen at plan-build time into BOTH
    the Spark plan and any SQL oracle (the lockstep-literal idiom), so
    no engine evaluates the inverse CDF."""
    from ..kernels.special import norm_ppf

    if alphabet_size < 2:
        raise ValueError(
            f"alphabet_size must be >= 2, got {alphabet_size}")
    return [float(norm_ppf(j / alphabet_size))
            for j in range(1, alphabet_size)]


def sax_symbols(df: DataFrame, value_col: str, partition_by,
                order_by: str = "ts", n_segments: int = 8,
                alphabet_size: int = 4, scale: int = 3,
                tiebreak=None) -> DataFrame:
    """SAX symbolization per entity series: PAA-reduce each ordered
    series to ``n_segments`` means, z-normalize against the SERIES'
    own mean/σ, and map each segment to its Gaussian-breakpoint symbol
    — the classic shape-token featurization for time-series indexing /
    motif mining (Lin et al. 2003).

    Cross-engine determinism: all moments are exact decimal integers
    over the quantized series (the repo discipline); the z-score is ONE
    fixed IEEE tree over them —

        ``z = (s·L − S·c) / (c · √(L·SS − S²))``

    — each operand cast exactly (an in-plan ``raise_error`` guards the
    2^53 cast bound, corr_matrix-style: a decimal→double cast beyond it
    may double-round differently per engine), and /, ·, √ are all
    correctly-rounded IEEE ops, so the double — and its micro-quantized
    ``z_u`` and breakpoint symbol — are bit-identical across engines
    and partitionings.  Constant series (σ = 0) emit null z/symbol.

    Row i (1-based per entity, ordered by ``order_by`` + ``tiebreak``)
    lands in segment ``((i−1)·w) div L`` — the standard balanced PAA
    split when w ∤ L; series shorter than ``n_segments`` simply skip
    the empty segments.  Null value/ts rows are dropped first (their
    positions do not exist on the series).

    Returns ``(entity…, segment, n_in_seg, z_u, symbol)`` with
    ``symbol ∈ [0, k)`` counting breakpoints strictly below z.

    Plan shape: one per-entity ordered window (row_number) → one
    (entity, segment) aggregation → one |entities|-bounded window for
    the series moments → arithmetic.  Corpus rows shuffle once on the
    entity key; everything after is segment-relation sized.
    """
    from ..functions.util import as_list, quantize

    parts = as_list(partition_by)
    tiebreak = as_list(tiebreak) if tiebreak is not None else []
    bps = sax_breakpoints(alphabet_size)
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
    wall = Window.partitionBy(*parts)
    pos = obs.select(
        *parts, "__q",
        (F.row_number().over(w) - 1).alias("__i"),
        F.count("*").over(wall).alias("__L"))
    seg = pos.select(
        *parts, "__q", "__L",
        ((F.col("__i") * n_segments) - (F.col("__i") * n_segments)
         % F.col("__L")).alias("__sw"))
    seg = seg.withColumn(
        "segment", (F.col("__sw") / F.col("__L")).cast("int")).drop("__sw")
    per_seg = seg.groupBy(*parts, "segment").agg(
        F.count("*").alias("n_in_seg"),
        F.sum(F.col("__q").cast(dec)).alias("__s"),
        F.sum(F.col("__q").cast(dec) * F.col("__q").cast(dec))
        .alias("__ss"))
    went = Window.partitionBy(*parts)
    # NB: Spark resolution is case-insensitive — totals get distinct
    # names, not case variants of __s/__ss
    tot = per_seg.select(
        *parts, "segment", "n_in_seg", "__s",
        F.sum(F.col("n_in_seg").cast(dec)).over(went).alias("__len"),
        F.sum("__s").over(went).alias("__sum"),
        F.sum("__ss").over(went).alias("__sumsq"))
    num = (F.col("__s") * F.col("__len")
           - F.col("__sum") * F.col("n_in_seg").cast(dec))
    varnum = (F.col("__len") * F.col("__sumsq")
              - F.col("__sum") * F.col("__sum"))
    two53 = F.lit(str(1 << 53))
    z = (num.cast("double")
         / (F.col("n_in_seg").cast("double")
            * F.sqrt(varnum.cast("double"))))
    z_u = F.when(varnum > 0, quantize(z, 6))
    z_u = F.when(
        F.greatest(F.abs(num), F.abs(varnum))
        > two53.cast("decimal(38,0)"),
        F.raise_error(F.lit(
            "sax_symbols: a moment exceeds 2^53 - the "
            "decimal->double cast may double-round differently "
            "per engine; lower the quantization scale"))
        .cast("bigint")).otherwise(z_u)
    sym = None
    for bp in bps:
        c = F.when(z > F.lit(bp), 1).otherwise(0)
        sym = c if sym is None else sym + c
    symbol = F.when(z_u.isNotNull(), sym).cast("int")
    return tot.select(*parts, "segment", "n_in_seg",
                      z_u.alias("z_u"), symbol.alias("symbol"))


def markov_score(df: DataFrame, type_col: str, partition_by,
                 order_by: str = "ts", k: float = 0.5,
                 n_symbols: int | None = None,
                 tiebreak=None) -> DataFrame:
    """Behavioral-anomaly score per entity: the add-k log-likelihood of
    the entity's categorical event stream under the CORPUS first-order
    Markov transition model — the event-stream analog of the CCNet
    perplexity filter (``lm.lm_score``): bots/fraud/broken
    instrumentation walk the event graph in improbable orders even when
    every individual event type is common.

    Per transition ``ln P(b|a) = ln((c(a,b)+k)/(c(a,·)+k·V))`` is
    nano-quantized (the ``lm.worst_span`` idiom — a deterministic
    scalar of exact counts), so the per-entity sum is exact int64 and
    the mean is one ``trunc_div`` — engine/partition bit-identical.
    ``V`` defaults to the in-plan distinct symbol count (1-row
    broadcast).

    Returns ``(entity…, n_trans, sum_q9, mean_q9)`` — more negative =
    less typical; entities with < 2 ordered events have no transitions
    and are absent.  Null order/type rows are dropped.

    Plan shape: one per-entity lead window → ONE (a, b) count shuffle
    (|symbols|²-bounded relation) → AQE-broadcast joins back → one
    group aggregate.  Corpus rows shuffle twice on the entity key
    (window + final group), both map-side-combinable.
    """
    from ..functions.util import as_list, trunc_div

    parts = as_list(partition_by)
    tiebreak = as_list(tiebreak) if tiebreak is not None else []
    is_ts = dict(df.dtypes).get(order_by, "").startswith("timestamp")
    ms = (F.unix_millis(F.col(order_by).cast("timestamp")) if is_ts
          else F.col(order_by).cast("long"))
    obs = (df.where(F.col(order_by).isNotNull()
                    & F.col(type_col).isNotNull())
           .select(*parts, ms.alias("__ms"),
                   F.col(type_col).alias("__a"),
                   *[F.col(c) for c in tiebreak]))
    w = Window.partitionBy(*parts).orderBy(
        F.col("__ms"), *[F.col(c) for c in tiebreak])
    big = (obs.select(*parts, "__a",
                      F.lead("__a").over(w).alias("__b"))
           .where(F.col("__b").isNotNull()))
    cab = big.groupBy("__a", "__b").agg(F.count("*").alias("__c"))
    ca = cab.groupBy("__a").agg(F.sum("__c").alias("__ca"))
    if n_symbols is None:
        vrel = obs.agg(
            F.countDistinct("__a").cast("double").alias("__v"))
        scored = big.join(cab, ["__a", "__b"]).join(ca, ["__a"]) \
            .crossJoin(F.broadcast(vrel))
        v = F.col("__v")
    else:
        scored = big.join(cab, ["__a", "__b"]).join(ca, ["__a"])
        v = F.lit(float(n_symbols))
    lnp = F.log((F.col("__c").cast("double") + F.lit(float(k)))
                / (F.col("__ca").cast("double") + F.lit(float(k)) * v))
    q9 = F.floor(lnp * F.lit(1e9) + F.lit(0.5)).cast("long")
    dec = "decimal(38,0)"
    agg = scored.groupBy(*parts).agg(
        F.count("*").alias("n_trans"),
        F.sum(q9.cast(dec)).alias("__s"))
    return agg.select(
        *parts, "n_trans",
        F.col("__s").cast("bigint").alias("sum_q9"),
        trunc_div(F.col("__s"), F.col("n_trans").cast(dec))
        .cast("bigint").alias("mean_q9"))
