"""Feature drift metrics between two dataset snapshots.

The monitoring half of a feature-engineering pipeline: once features are
served, production needs to know when their distribution walks away from
the training snapshot. PSI (population stability index) is the standard
per-feature scalar; it is exactly SQL-expressible over fixed bins, so the
whole operator stays declarative (no Python, two map-side-combined
aggregations, bin-cardinality output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bin_expr(col: str, lo: float, hi: float, n_bins: int):
    """THE fixed equal-width bin index expression shared by the batch PSI
    operator and the streaming monitor (one definition so they can never
    desynchronize): ``floor((x - lo)/width)`` clamped into [0, n_bins)."""
    width = (hi - lo) / n_bins
    x = F.col(col).cast("double")
    return F.least(F.greatest(
        F.floor((x - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1)).cast("int")


def _bin_counts(df: DataFrame, col: str, lo: float, hi: float,
                n_bins: int, out: str) -> DataFrame:
    """Histogram over fixed equal-width bins on [lo, hi); out-of-range
    values clamp into the edge bins, nulls are dropped."""
    x = F.col(col).cast("double")
    return (df.where(x.isNotNull())
            .select(bin_expr(col, lo, hi, n_bins).alias("bin"))
            .groupBy("bin").agg(F.count("*").alias(out)))


def psi_drift(ref: DataFrame, cur: DataFrame, col: str,
              lo: float, hi: float, n_bins: int = 10,
              smoothing: float = 0.5) -> DataFrame:
    """Population Stability Index between a reference and a current
    snapshot of a numeric feature over FIXED equal-width bins on
    ``[lo, hi)`` — fixed edges keep the operator embarrassingly parallel,
    deterministic, and SQL-oracle-able (quantile edges would add a
    reference-wide quantile pass; compose with
    ``operators.quantiles.exact_quantiles`` if data-driven edges are
    wanted). Laplace-smoothed shares so empty bins stay finite:

        p_i = (ref_i + s) / (N_ref + s·n_bins)    (q_i likewise)
        contrib_i = (p_i - q_i) · ln(p_i / q_i)   ;   PSI = Σ contrib_i

    Returns one row per bin: ``(bin, n_ref, n_cur, p_ref, p_cur,
    psi_contrib)`` — sum ``psi_contrib`` for the scalar (rule of thumb:
    <0.1 stable, 0.1–0.25 moderate shift, >0.25 major shift).

    Scale shape: two partial+final count aggregations (map-side combine),
    joined onto a driver-side ``spark.range(n_bins)`` spine so every bin
    appears exactly once regardless of data; totals come from an
    unbounded window over the BIN-cardinality relation (n_bins rows — a
    single-partition window over bounded data, never over corpus rows).
    """
    spine = ref.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin"))
    counts = (spine
              .join(_bin_counts(ref, col, lo, hi, n_bins, "n_ref"),
                    "bin", "left")
              .join(_bin_counts(cur, col, lo, hi, n_bins, "n_cur"),
                    "bin", "left")
              .select("bin",
                      F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                      F.coalesce("n_cur", F.lit(0)).alias("n_cur")))
    w = Window.partitionBy()  # n_bins rows: bounded by construction
    s = F.lit(float(smoothing))
    denom_ref = (F.sum("n_ref").over(w).cast("double")
                 + s * F.lit(float(n_bins)))
    denom_cur = (F.sum("n_cur").over(w).cast("double")
                 + s * F.lit(float(n_bins)))
    p = (F.col("n_ref").cast("double") + s) / denom_ref
    q = (F.col("n_cur").cast("double") + s) / denom_cur
    return counts.select(
        "bin", "n_ref", "n_cur",
        p.alias("p_ref"), q.alias("p_cur"),
        ((p - q) * F.log(p / q)).alias("psi_contrib"))


def calibration_bins(df: DataFrame, score_col: str, label_col: str,
                     n_bins: int = 10, lo: float = 0.0,
                     hi: float = 1.0) -> DataFrame:
    """Reliability-diagram relation for a probabilistic score: per
    fixed-width score bin, the count, positive count, mean score and
    observed positive rate — the standard calibration monitoring table
    (sum ``n·|pos_rate − mean_score|/N`` for ECE).

    The score is summed in ITS OWN column type (cast to double only for
    the final ratios) — pass a decimal score for bit-exact cross-engine
    parity, the same idiom as ``target_encode_pit``. NULL scores are
    dropped; NULL labels count as negatives in ``n`` (documented: they
    dilute the rate; filter upstream if that is wrong for the use case).

    Scale shape: ONE partial+final aggregation to an n_bins-sized
    relation, joined onto the full bin spine so empty bins appear with
    zero counts. Same fixed-bin expression as :func:`psi_drift`.
    """
    x = F.col(score_col).cast("double")
    is_pos = F.col(label_col).cast("boolean")
    binned = (df.where(x.isNotNull())
              .select(bin_expr(score_col, lo, hi, n_bins).alias("bin"),
                      F.col(score_col).alias("__score"),
                      F.when(is_pos, 1).otherwise(0).alias("__pos")))
    agg = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("__pos").alias("n_pos"),
        F.sum("__score").alias("__ssum"))
    spine = df.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin"))
    full = (spine.join(agg, "bin", "left")
            .select("bin",
                    F.coalesce("n", F.lit(0)).alias("n"),
                    F.coalesce("n_pos", F.lit(0)).alias("n_pos"),
                    F.col("__ssum")))
    mean_score = F.when(F.col("n") > 0,
                        F.col("__ssum").cast("double")
                        / F.col("n").cast("double"))
    pos_rate = F.when(F.col("n") > 0,
                      F.col("n_pos").cast("double")
                      / F.col("n").cast("double"))
    return full.select("bin", "n", "n_pos",
                       mean_score.alias("mean_score"),
                       pos_rate.alias("pos_rate"))


def mutual_info(df: DataFrame, x_col: str, y_col: str,
                scale: int | None = None) -> DataFrame:
    """Mutual information (nats) and chi-square between two CATEGORICAL
    columns — the feature-relevance screen ("does this feature carry
    signal about the label?") and its independence test, as one tiny
    relation: ``(n, n_x, n_y, dof, mi, chi2)``.

    * ``mi = Σ_xy p(x,y)·ln(p(x,y)/(p(x)p(y)))`` over OBSERVED cells
      (0·ln0 ≡ 0, so unobserved cells contribute nothing — exact).
    * ``chi2 = Σ_xy (o − e)²/e`` over ALL margin cells (the full
      |X|×|Y| cross of observed margins; unobserved cells contribute
      ``e`` each), ``dof = (|X|−1)(|Y|−1)``.

    NULL categories are real states (grouped null-safely).  Intended
    for bounded-cardinality categoricals: the contingency relation is
    |X|·|Y|-sized, never row-sized — at 10^12 rows the plan is one
    map-side-combined count aggregation plus |X|/|Y|-bounded margin
    joins and a final single-row reduce.  Quantile-bin continuous
    features first (``encoding.quantile_bin``).

    ``scale`` (e.g. 9): each per-cell term — a deterministic scalar of
    exact integer counts — is quantized (mi at ``10^(s+3)`` units since
    its terms are ≤1-magnitude probabilities, chi2 at ``10^s``) and
    summed exactly (decimal for chi2, whose terms can reach ``n``), so
    neither statistic depends on the combine order of a distributed
    float sum.
    """
    cell = (df.groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
            .agg(F.count("*").alias("o")))
    mx = (cell.groupBy(F.col("x").alias("__mx"))
          .agg(F.sum("o").alias("c_x")))
    my = (cell.groupBy(F.col("y").alias("__my"))
          .agg(F.sum("o").alias("c_y")))
    tot = cell.agg(F.sum("o").alias("_n"),
                   F.countDistinct(F.struct("x")).alias("_nx"),
                   F.countDistinct(F.struct("y")).alias("_ny"))
    # full margin cross (|X|·|Y| rows) so chi2 sees unobserved cells
    grid = (mx.crossJoin(my)
            .join(cell,
                  F.col("__mx").eqNullSafe(F.col("x"))
                  & F.col("__my").eqNullSafe(F.col("y")), "left")
            .select(F.col("__mx").alias("x"), F.col("__my").alias("y"),
                    "c_x", "c_y",
                    F.coalesce("o", F.lit(0)).alias("o")))
    g = grid.crossJoin(F.broadcast(tot))
    n = F.col("_n").cast("double")
    e = F.col("c_x").cast("double") * F.col("c_y").cast("double") / n
    p_xy = F.col("o").cast("double") / n
    mi_raw = p_xy * F.log((F.col("o").cast("double") * n)
                          / (F.col("c_x").cast("double")
                             * F.col("c_y").cast("double")))
    chi_raw = (F.col("o").cast("double") - e) * \
        (F.col("o").cast("double") - e) / e
    if scale is None:
        mi_term = (F.when(F.col("o") > 0, mi_raw)
                   .otherwise(F.lit(0.0)))
        mi_sum = F.sum(mi_term).alias("mi")
        chi_sum = F.sum(chi_raw).alias("chi2")
        sel_mi, sel_chi = F.col("mi"), F.col("chi2")
    else:
        from ..functions.util import quantize
        mi_q = (F.when(F.col("o") > 0, quantize(mi_raw, scale + 3))
                .otherwise(F.lit(0).cast("long")))
        chi_q = quantize(chi_raw, scale)
        mi_sum = F.sum(mi_q).alias("mi")
        chi_sum = F.sum(chi_q.cast("decimal(38,0)")).alias("chi2")
        sel_mi = (F.col("mi").cast("double")
                  / F.lit(float(10 ** (scale + 3))))
        sel_chi = (F.col("chi2").cast("double")
                   / F.lit(float(10 ** scale)))
    return g.groupBy("_n", "_nx", "_ny").agg(
        mi_sum, chi_sum,
    ).select(F.col("_n").alias("n"),
             F.col("_nx").alias("n_x"),
             F.col("_ny").alias("n_y"),
             ((F.col("_nx") - 1) * (F.col("_ny") - 1)).alias("dof"),
             sel_mi.alias("mi"), sel_chi.alias("chi2"))


def ks_stat(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    distributions of ``col`` in ``ref`` and ``cur`` — the
    binning-free complement of :func:`psi_drift` (PSI depends on bin
    edges; D does not).

    One row: ``(n_ref, n_cur, d)`` with
    ``D = sup_x |F_ref(x) - F_cur(x)|`` over the pooled empirical
    CDFs.  Exactness: D is maximized as integers —
    ``|c_ref·n_cur − c_cur·n_ref|`` over pooled distinct values, with
    ONE double division at the very end — so the result is
    engine/partition-order bit-identical (same discipline as
    ``sequences.autocorr``).  Null values are ignored (they have no
    place on the real line); an empty side yields a null ``d``.

    Plan shape: per-side value histograms (two map-side-combined
    aggs, |distinct values|-bounded) → full-outer merge on value →
    ONE global-order window for the two running sums → 1-row max.
    The window is a single ordered partition over the DISTINCT-value
    relation, not the corpus — for a continuous column at 10^12 rows
    pre-quantize (e.g. ``F.round(col, 6)``) to bound it; counts stay
    exact for the quantized variable.
    """
    r = (ref.where(F.col(col).isNotNull())
         .groupBy(F.col(col).alias("v"))
         .agg(F.count("*").alias("cr")))
    c = (cur.where(F.col(col).isNotNull())
         .groupBy(F.col(col).alias("v"))
         .agg(F.count("*").alias("cc")))
    merged = r.join(c, ["v"], "full_outer").select(
        "v", F.coalesce("cr", F.lit(0)).alias("cr"),
        F.coalesce("cc", F.lit(0)).alias("cc"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    run = merged.select(
        F.sum("cr").over(w).alias("fr"),
        F.sum("cc").over(w).alias("fc"))
    # the totals ARE the last running sums: max(fr)/max(fc) — so the
    # |c_ref·n_cur − c_cur·n_ref| maximization needs the totals joined
    # back; both relations are |distinct values|-bounded (1-row tot)
    tot = merged.agg(
        F.coalesce(F.sum("cr"), F.lit(0)).alias("n_ref"),
        F.coalesce(F.sum("cc"), F.lit(0)).alias("n_cur"))
    dec = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    # decimal products: fr·n_cur reaches n_ref·n_cur ≈ 10^24 at corpus
    # scale — int64 would silently wrap
    d_int = F.abs(dec("fr") * dec("n_cur") - dec("fc") * dec("n_ref"))
    dmax = (run.crossJoin(tot)
            .agg(F.max(d_int).alias("__dmax")))
    return (tot.crossJoin(dmax)
            .select("n_ref", "n_cur",
                    F.when((F.col("n_ref") > 0) & (F.col("n_cur") > 0),
                           F.col("__dmax").cast("double")
                           / (dec("n_ref") * dec("n_cur")).cast("double"))
                    .alias("d")))


def cusum_changepoint(df: DataFrame, group_cols, order_col: str,
                      value_col: str, scale: int = 6,
                      tiebreak=None) -> DataFrame:
    """Offline CUSUM changepoint per group: the index (and order-key)
    where the cumulative deviation from the group mean peaks — the
    classic single-changepoint locator (Page 1954's statistic evaluated
    retrospectively; the max-|CUSUM| estimator in Basseville &
    Nikiforov, *Detection of Abrupt Changes*, 1993, §2.6).

    The drift family's third leg: :func:`psi_drift` and :func:`ks_stat`
    say *whether* two snapshots differ; this says *when* a single
    ordered stream broke.

    Exactness (the repo-wide integer discipline): with ``q_i =
    floor(v·10^scale + 0.5)``, ``S = Σq``, ``n = count``, the scaled
    CUSUM at row i is ``stat_i = n·prefix_i − i·S`` — ``n·(prefix_i −
    i·μ)`` with the rational mean cleared of its denominator.  Every
    term is an exact decimal(38,0) integer, so the argmax is
    partition-order and engine bit-identical.  The emitted magnitude is
    ``max_dev_u = trunc_div(max|stat_i|, n)`` — ``max_i |prefix_i −
    i·μ|`` truncated to quantized-value units (int64-safe: bounded by
    ``Σ|q|``).

    Returns one row per group: ``(group…, n_obs, cp_index, cp_ms,
    max_dev_u)`` where ``cp_index`` is the 1-based last row of the
    left segment (the break is AFTER it) and ``cp_ms`` its order key in
    epoch millis (or the raw long).  Ties in ``|stat|`` break to the
    SMALLEST index.  The interior argmax excludes i = n (stat ≡ 0
    there); groups with < 2 rows yield null cp columns.  Null
    order/value rows are dropped (no place on the time axis).

    Plan shape at 10^12 rows: one projection → per-group ordered window
    (prefix sum + row_number) → group aggregate + rank-1 filter.  The
    window partitions by entity, so no global sort; skewed entities are
    the caller's salting problem only if a single entity's history
    outgrows one task (the ``windows.rolling_range`` caveat).
    """
    from ..functions.util import as_list, trunc_div

    parts = as_list(group_cols)
    tiebreak = as_list(tiebreak) if tiebreak is not None else []
    is_ts = dict(df.dtypes).get(order_col, "").startswith("timestamp")
    ms = (F.unix_millis(F.col(order_col).cast("timestamp")) if is_ts
          else F.col(order_col).cast("long"))
    from ..functions.util import quantize

    dec = "decimal(38,0)"
    obs = (df.where(F.col(order_col).isNotNull()
                    & F.col(value_col).isNotNull())
           .select(*parts, ms.alias("__ms"),
                   quantize(F.col(value_col), scale).cast(dec)
                   .alias("__q"),
                   *[F.col(c) for c in tiebreak]))
    w = Window.partitionBy(*parts).orderBy(
        F.col("__ms"), *[F.col(c) for c in tiebreak])
    wall = Window.partitionBy(*parts)
    run = obs.select(
        *parts, "__ms",
        F.row_number().over(w).cast(dec).alias("__i"),
        F.sum("__q").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("__pre"),
        F.count("*").over(wall).cast(dec).alias("__n"),
        F.sum("__q").over(wall).alias("__s"))
    stat = run.select(
        *parts, "__ms", "__i", "__n",
        F.abs(F.col("__n") * F.col("__pre")
              - F.col("__i") * F.col("__s")).alias("__stat"))
    interior = stat.where(F.col("__i") < F.col("__n"))
    rk = Window.partitionBy(*parts).orderBy(
        F.col("__stat").desc(), F.col("__i").asc())
    best = (interior
            .withColumn("__rk", F.row_number().over(rk))
            .where(F.col("__rk") == 1)
            .select(*parts,
                    F.col("__i").cast("bigint").alias("cp_index"),
                    F.col("__ms").alias("cp_ms"),
                    trunc_div(F.col("__stat"), F.col("__n"))
                    .cast("bigint").alias("max_dev_u")))
    totals = stat.groupBy(*parts).agg(
        F.max(F.col("__n")).cast("bigint").alias("n_obs"))
    return totals.join(best, parts, "left").select(
        *parts, "n_obs", "cp_index", "cp_ms", "max_dev_u")


def cvm_stat(ref: DataFrame, cur: DataFrame, col: str,
             out_scale: int = 9) -> DataFrame:
    """Exact two-sample Cramér–von Mises statistic — the INTEGRAL
    companion of :func:`ks_stat`'s supremum: KS sees the worst single
    gap between the two empirical CDFs; CvM accumulates every gap, so
    diffuse drift that never spikes (many small shifts across the whole
    range) still registers (Anderson 1962, "On the distribution of the
    two-sample Cramér–von Mises criterion").

        ``T = (n·m / N²) · Σ_pooled (F_ref(x) − F_cur(x))²``

    summed over all N = n+m pooled sample points.  Exactness: with
    per-value censuses ``(c_ref, c_cur)`` and running sums ``(fr, fc)``,
    each pooled point at value x contributes ``(fr·m − fc·n)²`` with
    multiplicity ``c_ref+c_cur``, all in decimal(38,0), and

        ``t_u = trunc_div(Σ w·D² · 10^out, n·m·N²)``

    is ONE truncating division — engine/partition bit-identical (the
    whole ks_stat discipline, squared).  Null values are ignored; an
    empty side yields a null statistic.

    Plan shape: two map-side-combined per-side censuses → full-outer
    merge on value → ONE ordered window over the |distinct|-bounded
    relation → 1-row aggregate.  For a continuous column at corpus
    scale, pre-quantize to bound the distinct relation (ks_stat's
    guidance); counts stay exact for the quantized variable.
    """
    from ..functions.util import trunc_div

    dec = "decimal(38,0)"
    r = (ref.where(F.col(col).isNotNull())
         .groupBy(F.col(col).alias("v"))
         .agg(F.count("*").alias("cr")))
    c = (cur.where(F.col(col).isNotNull())
         .groupBy(F.col(col).alias("v"))
         .agg(F.count("*").alias("cc")))
    merged = r.join(c, ["v"], "full_outer").select(
        "v", F.coalesce("cr", F.lit(0)).cast(dec).alias("cr"),
        F.coalesce("cc", F.lit(0)).cast(dec).alias("cc"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    run = merged.select(
        "cr", "cc",
        F.sum("cr").over(w).alias("fr"),
        F.sum("cc").over(w).alias("fc"))
    tot = merged.agg(
        F.coalesce(F.sum("cr"), F.lit(0).cast(dec)).alias("n"),
        F.coalesce(F.sum("cc"), F.lit(0).cast(dec)).alias("m"))
    d = (F.col("fr") * F.col("m") - F.col("fc") * F.col("n"))
    num = (run.crossJoin(tot)
           .agg(F.coalesce(F.sum((F.col("cr") + F.col("cc")) * d * d),
                           F.lit(0).cast(dec)).alias("__num")))
    nn, mm = F.col("n"), F.col("m")
    den = nn * mm * (nn + mm) * (nn + mm)
    t = F.when((nn > 0) & (mm > 0),
               trunc_div(F.col("__num")
                         * F.lit(10 ** out_scale).cast(dec), den)
               .cast("bigint"))
    # decimal(38,0) headroom guard (the mwu_stat/corr_matrix
    # discipline): __num·10^out_scale is bounded by
    # (n+m)·(n·m)²·10^out_scale — past 10^38 Spark silently NULLs the
    # decimal product, so fail fast instead.  The bound check runs in
    # double on the 1-row totals (no decimal overflow in the guard
    # itself; the ~1e-16 relative slack is inside the safety margin).
    nd, md = nn.cast("double"), mm.cast("double")
    bound = (nd + md) * (nd * md) * (nd * md) \
        * F.lit(float(10 ** out_scale))
    t = F.when(
        bound > F.lit(0.9e38),
        F.raise_error(F.lit(
            "cvm_stat: statistic numerator may exceed decimal(38,0) - "
            "pre-quantize the column coarser or subsample the sides"))
        .cast("bigint")).otherwise(t)
    return (tot.crossJoin(num)
            .select(nn.cast("bigint").alias("n_ref"),
                    mm.cast("bigint").alias("n_cur"),
                    t.alias(f"t_q{out_scale}")))


def mwu_stat(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """Exact two-sample Mann–Whitney U (Wilcoxon rank-sum) — the
    LOCATION leg of the drift suite: KS sees the worst CDF gap, CvM the
    accumulated gap; U asks the directional question "did the
    distribution shift UP or DOWN", robust to any monotone transform of
    the value (Mann & Whitney 1947).

    Exactness: midranks live on half-integers, so the contract carries
    DOUBLED ranks — at a pooled distinct value with prior cumulative
    count ``cum`` and pooled multiplicity ``w``, ``2·midrank = 2·cum +
    w + 1`` (exact int64); the doubled rank sum over the ref side and

        ``u_x2 = 2·U = Σ cr·(2·cum + w + 1) − n·(n+1)``

    are exact decimal integers.  The tie-corrected normal approximation

        ``z = (2U − n·m) / (2·√Var(U))``,
        ``Var(U) = n·m·((N+1)·N·(N−1) − Σ(w³−w)) / (12·N·(N−1))``

    is emitted as ``z_q6``: the variance is first truncated to an exact
    integer (one ``trunc_div``) — in-range for √'s exact cast as long as
    ``Var(U) < 2^53`` (an in-plan ``raise_error`` guards it, the
    corr_matrix discipline) — then ONE fixed IEEE tree.  Null values
    ignored; an empty side yields null u/z.

    Plan shape: identical to :func:`ks_stat`/:func:`cvm_stat` — two
    censuses → merge → one window over the |distinct|-bounded relation
    → 1-row aggregate.
    """
    from ..functions.util import trunc_div

    dec = "decimal(38,0)"
    r = (ref.where(F.col(col).isNotNull())
         .groupBy(F.col(col).alias("v"))
         .agg(F.count("*").alias("cr")))
    c = (cur.where(F.col(col).isNotNull())
         .groupBy(F.col(col).alias("v"))
         .agg(F.count("*").alias("cc")))
    merged = r.join(c, ["v"], "full_outer").select(
        "v", F.coalesce("cr", F.lit(0)).cast(dec).alias("cr"),
        F.coalesce("cc", F.lit(0)).cast(dec).alias("cc"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    run = merged.select(
        "cr", "cc", (F.col("cr") + F.col("cc")).alias("w"),
        (F.sum(F.col("cr") + F.col("cc")).over(w)
         - (F.col("cr") + F.col("cc"))).alias("cum"))
    agg = run.agg(
        F.coalesce(F.sum("cr"), F.lit(0).cast(dec)).alias("n"),
        F.coalesce(F.sum("cc"), F.lit(0).cast(dec)).alias("m"),
        F.coalesce(F.sum(F.col("cr")
                         * (F.lit(2).cast(dec) * F.col("cum")
                            + F.col("w") + 1)),
                   F.lit(0).cast(dec)).alias("r2x"),
        F.coalesce(F.sum(F.col("w") * F.col("w") * F.col("w")
                         - F.col("w")), F.lit(0).cast(dec))
        .alias("ties"))
    n, m = F.col("n"), F.col("m")
    big_n = n + m
    u_x2 = F.col("r2x") - n * (n + 1)
    var_num = n * m * ((big_n + 1) * big_n * (big_n - 1) - F.col("ties"))
    # CASE WHEN evaluates lazily per row — N < 2 must not reach the
    # modulo inside trunc_div (division by zero)
    var_q = F.when(
        big_n >= 2,
        trunc_div(var_num, F.lit(12).cast(dec) * big_n * (big_n - 1)))
    two53 = F.lit(str(1 << 53)).cast(dec)
    z = ((u_x2 - n * m).cast("double")
         / (F.lit(2.0) * F.sqrt(var_q.cast("double"))))
    z_q6 = F.when((n > 0) & (m > 0) & (var_q > 0),
                  F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("bigint"))
    z_q6 = F.when(
        var_q > two53,
        F.raise_error(F.lit(
            "mwu_stat: Var(U) exceeds 2^53 - its decimal->double cast "
            "may double-round differently per engine; pre-quantize the "
            "column coarser or subsample"))
        .cast("bigint")).otherwise(z_q6)
    return agg.select(
        n.cast("bigint").alias("n_ref"), m.cast("bigint").alias("n_cur"),
        F.when((n > 0) & (m > 0), u_x2).cast("bigint").alias("u_x2"),
        z_q6.alias("z_q6"))
