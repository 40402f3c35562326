"""Deterministic, engine-portable sampling and dataset splitting.

Training-data pipelines need samples and train/test splits that are
(a) reproducible run-to-run, (b) stable under repartitioning/backfill, and
(c) GROUP-stable (every row of an entity lands in the same split — the
row-level Bernoulli of ``df.sample`` leaks entities across splits). The
standard trick: hash a key with a seed and threshold the hash. We use the
first 8 hex chars of md5 — uniform over [0, 16^8) and bit-identical across
engines (Spark, DuckDB, Python), so every sample/split is SQL-oracle-able
and auditable.

Scale shape: pure JVM expressions (md5 + substring + string compare), no
shuffle, fully pushdown-friendly — a filter on 10^12 rows stays a map-only
scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_SPACE = 16 ** 8


def _bucket_hex(key: Column, seed: int) -> Column:
    """First 8 hex chars of md5(key ':' seed) — a uniform draw in
    [0, 16^8) encoded as fixed-width lowercase hex (string order ==
    numeric order)."""
    return F.substring(
        F.md5(F.concat_ws(":", key.cast("string"), F.lit(str(seed)))), 1, 8)


def _hex_threshold(fraction: float) -> str:
    # fraction >= 1.0 must keep EVERY key: 'g' sorts after every 8-char hex
    # bucket under the strict <, where the old 'ffffffff' clamp silently
    # dropped keys hashing exactly to ffffffff (~1 in 4.3e9 per seed) from
    # groups documented as "kept whole" (mixture_sample's binding group)
    if fraction >= 1.0:
        return "g"
    # clamp BOTH ends: int(f * 2^32) rounds UP to 2^32 for f within one
    # ulp below 1.0 (f*2^32 = 2^32 - 2^-21 -> 2^32.0 in double), which
    # would emit a 9-char threshold and break the fixed-width compare
    return format(min(max(int(fraction * _HEX_SPACE), 0),
                      _HEX_SPACE - 1), "08x")


def hash_sample(df: DataFrame, key, fraction: float,
                seed: int = 0) -> DataFrame:
    """Deterministic ``fraction`` sample keyed on ``key``.

    Rows with the same key are kept or dropped together (dedup-safe), and
    the selection is identical regardless of partitioning, ordering, or
    engine — unlike ``DataFrame.sample`` whose outcome depends on the
    partition layout."""
    key_col = F.col(key) if isinstance(key, str) else key
    return df.where(_bucket_hex(key_col, seed) < F.lit(
        _hex_threshold(fraction)))


def stable_split(df: DataFrame, key, weights: dict[str, float],
                 seed: int = 0, split_col: str = "split") -> DataFrame:
    """Group-stable dataset split: every row whose ``key`` hashes into a
    weight band gets that split label; all rows of an entity share a label.

    ``weights`` are normalized; band boundaries are cumulative fractions of
    the hex hash space (e.g. ``{"train": .8, "val": .1, "test": .1}``)."""
    key_col = F.col(key) if isinstance(key, str) else key
    total = float(sum(weights.values()))
    bucket = _bucket_hex(key_col, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = bucket < F.lit(_hex_threshold(acc))
        expr = (F.when(cond, F.lit(name)) if expr is None
                else expr.when(cond, F.lit(name)))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def stratified_sample(df: DataFrame, key, group_col: str,
                      rates: dict[str, float], seed: int = 0,
                      default_rate: float = 0.0) -> DataFrame:
    """Deterministic per-group sampling rates (e.g. downsample dominant
    languages, keep all of a rare one) — the corpus-mixing primitive.

    Same hash-band mechanics as :func:`hash_sample` (partition-invariant,
    key-stable, engine-portable); the group's rate picks the band width.
    Groups absent from ``rates`` get ``default_rate``. Pure JVM
    expressions, shuffle-free, pushdown-friendly.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    bucket = _bucket_hex(key_col, seed)
    thr = None
    for g, rate in rates.items():
        cond = F.col(group_col) == F.lit(g)
        lit = F.lit(_hex_threshold(float(rate)))
        thr = F.when(cond, lit) if thr is None else thr.when(cond, lit)
    thr = (F.lit(_hex_threshold(default_rate)) if thr is None
           else thr.otherwise(F.lit(_hex_threshold(default_rate))))
    return df.where(bucket < thr)


def mixture_sample(df: DataFrame, key, group_col: str,
                   target_weights: dict[str, float],
                   seed: int = 0) -> DataFrame:
    """Rebalance a corpus to a TARGET mixture: the largest deterministic
    sample whose per-group share matches ``target_weights`` (groups not
    listed are dropped). The standard LLM domain-mixing move — "make the
    training set 50% web / 30% wiki / 20% code" — as one hash-band filter.

    The binding group (smallest ``count/weight`` ratio) is kept whole and
    every other group is downsampled to proportion. Group counts come from
    one aggregation whose result is GROUP-cardinality-sized (collected to
    the driver — bounded, like the IVF centroid sample), after which the
    filter itself is the same shuffle-free JVM md5-band predicate as
    :func:`stratified_sample`.

    The rate arithmetic is pinned to double ops in a fixed order
    (``ratio = c / w``; ``t = min(ratio)``; ``rate = (t * w) / c``) so a
    SQL oracle reproduces the thresholds bit-for-bit.
    """
    # a zero/negative weight means "exclude the group" — same as unlisted
    target_weights = {g: w for g, w in target_weights.items() if w > 0}
    counts = {
        r[0]: int(r[1])
        for r in (df.where(F.col(group_col).isin(list(target_weights)))
                  .groupBy(group_col).agg(F.count("*")).collect())
    }
    present = [g for g in target_weights if g in counts and counts[g] > 0]
    if not present:
        return df.where(F.lit(False))
    t = min(float(counts[g]) / float(target_weights[g]) for g in present)
    rates = {g: (t * float(target_weights[g])) / float(counts[g])
             for g in present}
    return stratified_sample(df, key, group_col, rates, seed=seed,
                             default_rate=0.0)


def group_sample_k(df: DataFrame, key, group_col: str, k: int,
                   seed: int = 0) -> DataFrame:
    """Deterministic uniform-without-replacement sample of at most ``k``
    rows PER GROUP: rows ranked inside each group by the md5 hex of
    ``(key, seed)`` (the shared cross-engine idiom — DuckDB:
    ``row_number() over (partition by g order by md5(key || ':' || s),
    key)``), keeping ranks ≤ ``k``.  Groups smaller than ``k`` are kept
    whole.  ``key`` should be unique per row (ties fall back to key
    order, biasing nothing but determinism requires a total order).

    The per-group complement of :func:`hash_sample`'s global fraction:
    bounds EVERY group's contribution — the "cap each domain / user /
    dedup cluster at k examples" step of a training mix, where a
    fraction-based sample would keep hot groups hot.  Null group values
    form their own group; null keys sort after every hash (kept only
    when the group has < k non-null-key rows).

    Scale notes: one shuffle on ``group_col`` + a per-group sort —
    rank-k per group needs no global sort and no driver state; a
    giant group costs its sort, never memory (window emits rank
    incrementally).
    """
    from pyspark.sql import Window

    from ..functions.util import as_list

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    keys = as_list(key)
    if len(keys) != 1:
        raise ValueError(f"key must be a single column, got {keys}")
    h = F.md5(F.concat_ws(":", F.col(keys[0]).cast("string"),
                          F.lit(str(seed))))
    w = (Window.partitionBy(group_col)
         .orderBy(h.asc_nulls_last(), F.col(keys[0]).asc_nulls_last()))
    return (df.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


def token_budget_plan(df: DataFrame, weights: dict[str, int],
                      budget_tokens: int, group_col: str = "source",
                      tokens_col: str = "n_tok") -> DataFrame:
    """Data-mixing recipe: given per-source target weights (integer parts
    per million — exact by construction) and a total token budget, compute
    each source's available tokens, its target, the sampling fraction that
    hits the target (capped at 1 when the source is too small to fill its
    share) and the expected token yield.

    Output per source: ``(group, n_docs, tokens_available, weight_ppm,
    tokens_target, sample_fraction, tokens_expected, exhausted)``.

    ``tokens_target = budget·ppm // 10⁶`` and ``tokens_expected =
    min(available, target)`` are pure int64 arithmetic;
    ``sample_fraction`` is one division of exact ints. Feed the fractions
    to :func:`hash_sample`/:func:`mixture_sample` per source to
    materialize the mix. One map-side-combined aggregation over the
    corpus; |sources|-bounded output. Sources absent from ``weights``
    get weight 0 (reported, not sampled).
    """
    if sum(weights.values()) > 1_000_000:
        raise ValueError("weights (ppm) must sum to <= 1e6")
    # targets in driver-side EXACT int math (ppm·budget can exceed 2^53,
    # where a float64 division would silently round)
    targets = {k: (int(v) * int(budget_tokens)) // 1_000_000
               for k, v in weights.items()}
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    tmap = F.create_map(*[F.lit(x) for kv in targets.items() for x in kv])
    g = (df.groupBy(F.col(group_col).alias("group"))
         .agg(F.count("*").alias("n_docs"),
              F.sum(F.col(tokens_col).cast("long"))
              .alias("tokens_available")))
    ppm = F.coalesce(wmap[F.col("group")], F.lit(0)).cast("long")
    target = F.coalesce(tmap[F.col("group")], F.lit(0)).cast("long")
    avail = F.col("tokens_available")
    expected = F.least(avail, target)
    frac = F.when(avail > 0, expected.cast("double")
                  / avail.cast("double")).otherwise(F.lit(0.0))
    return g.select(
        "group", "n_docs", avail.alias("tokens_available"),
        ppm.alias("weight_ppm"), target.alias("tokens_target"),
        frac.alias("sample_fraction"),
        expected.alias("tokens_expected"),
        (avail < target).alias("exhausted"))


def weighted_sample_k(df: DataFrame, key, weight_col: str, n: int,
                      seed: int = 0) -> DataFrame:
    """Weighted sampling WITHOUT replacement: the n rows with the
    smallest exponential race keys ``-ln(u)/w`` (Efraimidis & Spirakis
    2006, "Weighted random sampling with a reservoir") — inclusion
    favors high ``weight_col`` in the without-replacement sense, unlike
    a per-row Bernoulli thinning which cannot hit an exact n.

    The uniform draw ``u`` is the engine-portable md5 hex band of
    ``key`` (deterministic, partition-invariant, seedable — the
    ``hash_sample`` idiom), mapped to ``(0, 1]`` so ``ln`` never sees
    0; the race key is one JVM expression per row and selection is a
    ``TakeOrderedAndProject`` top-n — no full sort, no reservoir state,
    no Python.  Rows with null or non-positive weights never win (they
    are filtered: a zero weight must have zero inclusion probability,
    and its race key would be infinite).

    Determinism: the float race keys are IEEE-deterministic per row in
    Spark, so any partitioning and any rerun returns the identical
    sample; the cross-engine CONTRACT is golden-pinned because DuckDB's
    ``ln`` differs from the JVM's at 1 ulp (the dsir_weights
    precedent).
    """
    keys = [key] if isinstance(key, str) else list(key)
    h = _bucket_hex(
        F.concat_ws("|", *[F.col(k).cast("string") for k in keys]), seed)
    # (hex + 1) / 16^8 is in (0, 1] — u = 0 would make -ln(u) infinite
    u = ((F.conv(h, 16, 10).cast("double") + F.lit(1.0))
         / F.lit(float(16 ** 8)))
    race = -F.log(u) / F.col(weight_col).cast("double")
    # NaN > 0 is TRUE under Spark's total ordering — a NaN weight would
    # survive the filter with a NaN race key (and win whenever fewer
    # than n positive-weight rows exist); exclude it explicitly
    wd = F.col(weight_col).cast("double")
    return (df.where(F.col(weight_col).isNotNull()
                     & ~F.isnan(wd) & (wd > 0))
            .withColumn("race_key", race)
            .orderBy(F.col("race_key").asc(),
                     *[F.col(k).asc() for k in keys])
            .limit(n))


def unimax_plan(df: DataFrame, budget_tokens: int,
                max_epochs: int = 1, group_col: str = "source",
                tokens_col: str = "n_tok") -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): split a total token
    budget across sources as uniformly as possible, capping every source
    at ``max_epochs`` passes over its data — the principled alternative
    to temperature sampling for multi-source pre-training mixes.

    Exact integer water-filling, fully relational (one |sources|-bounded
    aggregation + window prefix sums — no driver loop, no floats):
    sources sorted by capacity ``cap = max_epochs·tokens`` ascending
    (group name tie-break), a source is EXHAUSTED when even giving every
    source from it onward its own capacity fits the remaining budget
    (``cap_i·(m−i+1) + prefix_excl_i ≤ B``); the largest exhausted rank
    is the water line ``k*``.  Ranks ≤ k* take their full capacity; the
    rest split the remainder evenly (integer floor), with the leftover
    ``r`` tokens going one each to the ``r`` first non-exhausted sources
    in sort order — allocations are deterministic ints, never a float
    rounding.

    Output per source: ``(group, n_docs, tokens_available, cap,
    exhausted, tokens_alloc, epochs_u)`` where ``epochs_u`` is the
    micro-quantized achieved epoch count ``alloc/available``.

    Scale: the corpus scan is one map-side-combined aggregation; all
    window work happens on the |sources|-row relation.  Matches
    ``token_budget_plan``'s output discipline so the fractions feed
    ``hash_sample`` per source the same way.
    """
    from pyspark.sql import Window

    from ..functions.util import quantize

    if budget_tokens < 0 or max_epochs <= 0:
        raise ValueError("budget_tokens must be >= 0, max_epochs >= 1")
    if int(budget_tokens) >= 1 << 53:
        # the even-share division below rides through float64; keep it
        # exact (10^15 tokens is well inside this)
        raise ValueError("budget_tokens must be < 2^53")
    b = F.lit(int(budget_tokens)).cast("long")
    g = (df.groupBy(F.col(group_col).alias("group"))
         .agg(F.count("*").alias("n_docs"),
              F.coalesce(F.sum(F.col(tokens_col).cast("long")), F.lit(0))
              .alias("tokens_available")))
    cap = (F.col("tokens_available") * F.lit(int(max_epochs))
           ).alias("cap")
    g = g.select("*", cap)
    # |sources|-bounded relation: a single unpartitioned window is fine
    w = Window.orderBy(F.col("cap").asc(), F.col("group").asc())
    wall = w.rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)
    rk = F.row_number().over(w).cast("long")
    m = F.count("*").over(wall).cast("long")
    prefix_excl = (F.coalesce(
        F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0))).cast("long")
    exhausted = (F.col("cap") * (m - rk + 1) + prefix_excl) <= b
    ranked = g.select(
        "*", rk.alias("__rk"), m.alias("__m"),
        prefix_excl.alias("__pfx"), exhausted.alias("exhausted"))
    kline = F.max(F.when(F.col("exhausted"), F.col("__rk"))
                  .otherwise(F.lit(0))).over(wall).alias("__k")
    pk = F.max(F.when(F.col("exhausted"),
                      F.col("__pfx") + F.col("cap"))
               .otherwise(F.lit(0))).over(wall).alias("__pk")
    lined = ranked.select("*", kline, pk)
    rem = F.greatest(b - F.col("__pk"), F.lit(0).cast("long"))
    nfree = F.col("__m") - F.col("__k")
    share = F.when(nfree > 0, rem / nfree).otherwise(F.lit(0)) \
        .cast("long")  # int floor: rem/nfree exact for < 2^53
    leftover = rem - share * nfree
    alloc = F.when(F.col("exhausted"), F.col("cap")).otherwise(
        share + F.when(F.col("__rk") - F.col("__k") <= leftover,
                       F.lit(1)).otherwise(F.lit(0)))
    avail = F.col("tokens_available")
    out = lined.select(
        "group", "n_docs", "tokens_available", "cap", "exhausted",
        alloc.cast("long").alias("tokens_alloc"))
    return out.withColumn(
        "epochs_u",
        F.when(avail > 0, quantize(F.col("tokens_alloc") / avail, 6)))


def temperature_mixture_plan(df: DataFrame, budget_docs: int,
                             group_col: str = "source",
                             tokens_col: str = "n_tok",
                             scale: int = 1_000_000) -> DataFrame:
    """Temperature-sampling mixture weights (T = 2) with an EXACT
    integer document allocation: each source's sampling mass is
    ``sqrt(n_tokens)`` — the standard temperature rebalance that lifts
    low-resource sources (Conneau & Lample 2019 use ``p^(1/T)``; T = 2
    is the square-root schedule) — and ``budget_docs`` is split across
    sources by the Hamilton largest-remainder method, so the integer
    allocations sum to the budget exactly.

    Determinism contract: IEEE-754 ``sqrt`` is correctly rounded in
    every engine, so ``q = floor(sqrt(n_tokens)·scale + 0.5)`` is the
    same exact int64 everywhere (the zipf_fit quantization pattern;
    general T would need ``pow``, whose 1-ulp engine drift is why this
    operator pins T = 2).  Products ``budget·q`` run in decimal(38,0)
    (they overflow int64 at corpus scale), quotas are integer
    ``div``/``mod``, and remainder ties break by group asc —
    partition- and engine-invariant end to end.  ``weight`` is one
    IEEE division of the two exact ints ``q / Q``.

    Output per source: ``(group, n_docs, n_tokens, q_temp, weight,
    alloc_docs)`` with ``sum(alloc_docs) = budget_docs`` whenever any
    source has tokens.

    Scale shape: ONE corpus scan (map-side-combined source aggregation)
    to a |sources|-bounded relation; ALL quota math — the mass total,
    the floor quotas, the remainder rank, the leftover count — runs in
    unpartitioned windows over that bounded relation (a SinglePartition
    exchange of |sources| rows, never of corpus rows).  The 1-row-aggregate
    crossJoin formulation would re-derive the group relation per aggregate
    and re-scan the corpus 4× (caught by the plan pin).
    """
    from pyspark.sql import Window

    if budget_docs < 0:
        raise ValueError(f"budget_docs must be >= 0, got {budget_docs}")
    dec = "decimal(38,0)"
    g = (df.groupBy(F.col(group_col).alias("group"))
         .agg(F.count("*").alias("n_docs"),
              F.coalesce(F.sum(F.col(tokens_col).cast("long")),
                         F.lit(0)).alias("n_tokens")))
    q = F.floor(F.sqrt(F.col("n_tokens").cast("double"))
                * F.lit(float(scale)) + F.lit(0.5)).cast("long")
    g = g.withColumn("q_temp", q)
    w_all = Window.partitionBy()  # |sources|-bounded by construction
    j = g.withColumn("__Q", F.sum(F.col("q_temp").cast(dec)).over(w_all))
    # decimal `div`/`%`, never `/`: decimal division rounds, and the
    # quota must be the exact floor for the remainders to sum right
    base = F.when(F.col("__Q") > 0,
                  F.expr(f"cast(cast(q_temp as {dec}) * "
                         f"cast({int(budget_docs)} as {dec}) as {dec}) "
                         f"div __Q")).otherwise(F.lit(0)).cast("long")
    rem = F.when(F.col("__Q") > 0,
                 F.expr(f"cast(cast(q_temp as {dec}) * "
                        f"cast({int(budget_docs)} as {dec}) as {dec}) "
                        f"% __Q").cast(dec)).otherwise(F.lit(0))
    j = j.withColumn("__base", base).withColumn("__rem", rem)
    j = j.withColumn("__sum_base", F.sum("__base").over(w_all))
    w_rank = Window.orderBy(F.col("__rem").desc(), F.col("group").asc())
    j = j.withColumn("__rk", F.row_number().over(w_rank))
    leftover = F.lit(int(budget_docs)) - F.col("__sum_base")
    # a zero-mass corpus allocates nothing — without the __Q guard the
    # whole budget would leak out through the remainder ranks
    alloc = F.when(
        F.col("__Q") > 0,
        F.col("__base")
        + F.when(F.col("__rk") <= leftover, 1).otherwise(0)) \
        .otherwise(F.lit(0))
    weight = F.when(
        F.col("__Q") > 0,
        F.col("q_temp").cast("double") / F.col("__Q").cast("double"))
    return j.select("group", "n_docs", "n_tokens", "q_temp",
                    weight.alias("weight"),
                    alloc.cast("long").alias("alloc_docs"))


def take_per_group(df: DataFrame, alloc: DataFrame, key,
                   group_col: str = "source",
                   alloc_group_col: str = "group",
                   n_col: str = "alloc_docs",
                   seed: int = 0) -> DataFrame:
    """Execute an allocation plan: keep exactly ``alloc[n_col]`` rows
    from each group (fewer only if the group is smaller), drawn
    deterministically by the md5 hex of ``(key, seed)`` — the
    :func:`group_sample_k` draw with the constant ``k`` replaced by a
    per-group quota relation, so e.g. :func:`temperature_mixture_plan`
    output can be materialized into an actual training mix whose
    composition is reproducible on any engine, partitioning, or
    cluster size.

    Groups absent from ``alloc`` contribute nothing (inner join);
    a null/zero/negative quota likewise keeps no rows.

    Scale shape: ``alloc`` is |groups|-bounded by construction (it is
    an aggregation output), so the quota join is broadcast; the row
    side costs ONE hash exchange on ``group_col`` + the per-group
    rank window — identical to :func:`group_sample_k`, and a giant
    group costs its sort, never memory.
    """
    from pyspark.sql import Window

    from ..functions.util import as_list

    keys = as_list(key)
    if len(keys) != 1:
        raise ValueError(f"key must be a single column, got {keys}")
    quota = F.broadcast(
        alloc.select(F.col(alloc_group_col).alias("__g"),
                     F.col(n_col).cast("long").alias("__n")))
    h = F.md5(F.concat_ws(":", F.col(keys[0]).cast("string"),
                          F.lit(str(seed))))
    w = (Window.partitionBy(group_col)
         .orderBy(h.asc_nulls_last(), F.col(keys[0]).asc_nulls_last()))
    return (df.withColumn("__rk", F.row_number().over(w))
            .join(quota, F.col(group_col).eqNullSafe(F.col("__g")),
                  "inner")
            .where(F.col("__rk") <= F.col("__n"))
            .drop("__rk", "__g", "__n"))


def histogram_match_sample(src: DataFrame, ref: DataFrame, col: str,
                           key, lo: float, hi: float,
                           n_bins: int = 20, seed: int = 0) -> DataFrame:
    """Distribution-matching subsample: thin ``src`` so ``col``'s
    histogram matches ``ref``'s SHAPE over fixed equal-width bins on
    ``[lo, hi)`` — the "make the web slice look like the curated slice
    on this feature" data-mixing step (the histogram-level counterpart
    of DSIR's importance weighting).

    Per bin the keep fraction is ``f_b ∝ ref_b / src_b`` normalized so
    the best-covered bin keeps everything: with ``B* = argmax_b
    ref_b/src_b`` (exact cross-product comparison, ties to the lowest
    bin), ``f_b = (ref_b·src_B*) / (src_b·ref_B*)`` — an exact integer
    rational.  Each row keeps iff its 60-bit md5 draw satisfies
    ``draw·den_b < num_b·2^60`` in decimal(38,0) — deterministic,
    partition/engine-invariant, SQL-mirrorable, and consistent for a
    given key across reruns (the ``hash_sample`` idiom with a per-bin
    fraction).  Bins absent from ``ref`` drop entirely; null values
    drop (no bin).

    Scale shape: two partial+final bin histograms (collected —
    ``n_bins``-bounded by construction) and ONE map-only filter over
    ``src`` with the per-bin rationals as a literal when-chain: no
    joins, no shuffle of source rows.
    """
    from .drift import _bin_counts, bin_expr
    from ..functions.util import DEC38, as_list

    keys = as_list(key)
    if len(keys) != 1:
        raise ValueError(f"key must be a single column, got {keys}")
    rc = {r["bin"]: int(r["n_ref"])
          for r in _bin_counts(ref, col, lo, hi, n_bins, "n_ref")
          .collect()}
    sc = {r["bin"]: int(r["n_src"])
          for r in _bin_counts(src, col, lo, hi, n_bins, "n_src")
          .collect()}
    best = None
    for b in sorted(sc):
        rb, sb = rc.get(b, 0), sc[b]
        if rb == 0:
            continue
        # ref_b/src_b > ref_best/src_best ⇔ rb·s_best > r_best·sb
        if best is None or rb * sc[best] > rc[best] * sb:
            best = b
    if best is None:  # no bin overlap: nothing can be kept
        return src.where(F.lit(False))
    bexpr = bin_expr(col, lo, hi, n_bins)
    draw = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col(keys[0]).cast("string"),
                          F.lit(str(seed)))), 1, 15), 16, 10) \
        .cast("long")
    num = F.lit(None).cast("long")
    den = F.lit(None).cast("long")
    num_chain, den_chain = None, None
    for b in sorted(sc):
        nb = rc.get(b, 0) * sc[best]
        db = sc[b] * rc[best]
        cond = bexpr == F.lit(b)
        num_chain = (F.when(cond, F.lit(nb)) if num_chain is None
                     else num_chain.when(cond, F.lit(nb)))
        den_chain = (F.when(cond, F.lit(db)) if den_chain is None
                     else den_chain.when(cond, F.lit(db)))
    keep = (F.col(col).isNotNull()
            & (draw.cast(DEC38) * den_chain.cast(DEC38)
               < num_chain.cast(DEC38)
               * F.lit(2 ** 60).cast(DEC38)))
    return src.where(keep)


def raking_weights(df: DataFrame, row_col: str, col_col: str,
                   row_targets: dict, col_targets: dict,
                   iters: int = 3, scale: int = 9) -> DataFrame:
    """Iterative proportional fitting (raking, Deming & Stephan 1940):
    per-(row, col) cell weights that match BOTH target marginals —
    the 2-D generalization of ``token_budget_plan``-style mixture
    reweighting ("make the training mix match target language × source
    proportions simultaneously").

    ``row_targets`` / ``col_targets`` map category → target count in
    arbitrary units (only proportions matter).  Cells absent from the
    data get no weight; categories absent from a target dict drop.

    Determinism contract: cell weights live as q<scale> integers
    (init ``n_cell · 10^scale``); each half-iteration rescales every
    cell by exact integer ``w ← (w · T_m · U) // (S_m · U_m)`` where
    ``S_m`` is the current marginal sum, ``T_m`` the target, and
    ``U = Σ targets`` normalizes units — all truncation-toward-zero on
    decimals (DuckDB ``//``), so Spark/DuckDB/Python agree exactly;
    the ≤1-ulp-per-cell truncation defect IS the contract (raking is
    itself iterative-approximate).  ``iters`` full (row+col) passes,
    unrolled — the oracle mirrors with one CTE pair per pass.

    Scale shape: ONE corpus aggregation to the |rows|×|cols| cell
    relation; every iteration is two windows over that tiny relation.
    Output per cell, ordered: ``(row, col, n, w_q<scale>,
    unit_w_q<scale>)`` — ``unit_w`` = cell weight per underlying unit.
    """
    from pyspark.sql import Window

    from ..functions.util import DEC38, trunc_div

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    rt = {k: int(v) for k, v in row_targets.items()}
    ct = {k: int(v) for k, v in col_targets.items()}
    if min(rt.values(), default=0) <= 0 or \
            min(ct.values(), default=0) <= 0:
        raise ValueError("targets must be positive")
    u_r, u_c = sum(rt.values()), sum(ct.values())

    spark = df.sparkSession
    rtd = F.broadcast(spark.createDataFrame(
        list(rt.items()), schema=f"{row_col} string, __tr long"))
    ctd = F.broadcast(spark.createDataFrame(
        list(ct.items()), schema=f"{col_col} string, __tc long"))
    cells = (df.where(F.col(row_col).isNotNull()
                      & F.col(col_col).isNotNull())
             .groupBy(F.col(row_col).cast("string").alias(row_col),
                      F.col(col_col).cast("string").alias(col_col))
             .agg(F.count("*").alias("n"))
             .join(rtd, row_col).join(ctd, col_col))
    base = F.lit(10 ** int(scale)).cast(DEC38)
    cur = cells.withColumn(
        "w", (F.col("n").cast(DEC38) * base).cast(DEC38))
    w_row = Window.partitionBy(row_col)
    w_col = Window.partitionBy(col_col)
    w_all = Window.partitionBy(F.lit(1))
    for _ in range(int(iters)):
        # two-stage exact division (the logrank overflow lesson): the
        # single product w*T*W would need ~2 grand-total magnitudes
        # PLUS a target magnitude inside 38 digits; staging as
        # R_m = (T_m*W)//U_m then w' = (w*R_m)//S_m bounds every
        # intermediate by W^2 < 10^38 (N <= 10^10 at scale 9,
        # 10^13 at scale 6)
        s_r = F.sum("w").over(w_row).cast(DEC38)
        w_tot = F.sum("w").over(w_all).cast(DEC38)
        r_tgt = trunc_div(F.col("__tr").cast(DEC38) * w_tot,
                          F.lit(u_r).cast(DEC38))
        cur = cur.withColumn("w", trunc_div(F.col("w") * r_tgt, s_r))
        # column pass
        s_c = F.sum("w").over(w_col).cast(DEC38)
        w_tot = F.sum("w").over(w_all).cast(DEC38)
        c_tgt = trunc_div(F.col("__tc").cast(DEC38) * w_tot,
                          F.lit(u_c).cast(DEC38))
        cur = cur.withColumn("w", trunc_div(F.col("w") * c_tgt, s_c))
    return (cur.select(
        row_col, col_col, F.col("n").cast("long").alias("n"),
        F.col("w").cast("long").alias(f"w_q{int(scale)}"),
        trunc_div(F.col("w"), F.col("n").cast(DEC38)).cast("long")
        .alias(f"unit_w_q{int(scale)}"))
        .orderBy(row_col, col_col))


def effective_sample_size(df: DataFrame, weight_col: str,
                          group_cols=None, scale: int = 6,
                          out_scale: int = 6) -> DataFrame:
    """Kish effective sample size of a weight column, per group:
    ``ESS = (Σw)² / Σw²`` — THE diagnostic for importance-weighted
    training mixtures (DSIR weights, raking weights, temperature
    mixtures): n rows with wildly uneven weights train like ESS ≪ n
    rows, and a collapsed ESS means the weighting, not the data, drives
    the gradient (Kish 1965, §8.2).

    Exact contract: weights quantize once; Σq and Σq² accumulate in
    decimal(38,0); ``ess_u = trunc_div((Σq)²·10^out, Σq²)`` is ONE
    truncating division (the 10^scale quantization factor cancels in
    the ratio) — engine/partition bit-identical.  Negative
    weights are rejected in-plan (``raise_error`` — a signed weight
    makes ESS meaningless); zero/null weights contribute nothing.

    Returns per group: ``(group…, n_obs, ess_u, ess_ratio_u)`` with
    ``ess_ratio_u = trunc_div(ess_u, n_obs)`` — the utilization share
    in 10^-out units (1e6 = perfectly uniform weights).  ONE
    map-side-combined aggregation; nothing row-proportional leaves the
    scan.  Headroom: ``(Σq)²·10^out`` must stay inside decimal(38,0) —
    at 10^12 rows of 10^3-magnitude weights drop ``scale`` to 0–2.
    """
    from ..functions.util import as_list, quantize, trunc_div

    parts = as_list(group_cols) if group_cols is not None else []
    dec = "decimal(38,0)"
    w = quantize(F.col(weight_col), scale)
    w = F.when(
        w < 0,
        F.raise_error(F.lit(
            "effective_sample_size: negative weight — ESS is defined "
            "for non-negative weights only")).cast("long")
    ).otherwise(w).cast(dec)
    base = df.where(F.col(weight_col).isNotNull())
    agg = base.groupBy(*parts).agg(
        F.count("*").alias("n_obs"),
        F.coalesce(F.sum(w), F.lit(0).cast(dec)).alias("__sw"),
        F.coalesce(F.sum(w * w), F.lit(0).cast(dec)).alias("__sww"))
    ess = F.when(
        F.col("__sww") > 0,
        trunc_div(F.col("__sw") * F.col("__sw")
                  * F.lit(10 ** out_scale).cast(dec),
                  F.col("__sww")).cast("bigint"))
    out = agg.select(*parts, "n_obs", ess.alias("ess_u"), "__sww")
    ratio = F.when(
        F.col("__sww") > 0,
        trunc_div(F.col("ess_u").cast(dec),
                  F.col("n_obs").cast(dec)).cast("bigint"))
    return out.select(*parts, "n_obs", "ess_u",
                      ratio.alias("ess_ratio_u"))
