"""Experimentation analytics: A/B test statistics with CUPED variance
reduction.

The feature-engineering engine's consumer loop: after a model ships, the
same event stream feeds experiment readouts. One map-side-combined
aggregation per readout; every moment sum runs in exact micro-unit
integers (the ``embeddings.scale`` discipline), so the statistics are
partition-order-free and engine-portable — only fixed-order final
expressions touch floating point.

Reference parity: the reference computes grouped moment statistics for
merge decisions (``components/merge.py`` moment matching); this module is
the same exact-moments machinery pointed at treatment/control groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.util import DEC38 as _DEC
from ..functions.util import quantize as _q


def ab_stats(df: DataFrame, group_col: str, metric_col: str,
             control: str, treatment: str,
             covariate_col: str | None = None,
             scale: int = 6) -> DataFrame:
    """One-row A/B readout: per-group exact moments, mean difference,
    Welch's t, and (with ``covariate_col``, e.g. the PRE-experiment value
    of the metric) the CUPED-adjusted difference and variance-reduction
    factor.

    Output row: ``(n_c, n_t, mean_c, mean_t, diff, welch_t[, theta,
    cuped_diff, cuped_t, var_reduction])``.

    CUPED (Deng et al., WSDM'13): ``Y' = Y − θ·(X − X̄)`` with
    ``θ = cov(X, Y)/var(X)`` pooled over both groups; Var(Y') shrinks by
    the factor ``1 − ρ²``. All sums (Σy, Σy², Σx, Σx², Σxy) accumulate as
    exact decimal integers over ``floor(v·10^s + 0.5)`` micro-units —
    partition-order-free — and every statistic is a fixed-order double
    expression of those exact sums. Null metrics/covariates drop (CUPED
    needs the pair).

    Scale shape: ONE aggregation over the filtered stream to a 2-row
    relation, pivoted driver-free to one row. Moment-sum bound:
    ``n·(|v|·10^s)² < 10³⁸`` — astronomically safe at decimal(38).
    """
    # square/cross-multiply IN DECIMAL: the micro-unit longs wrap int64
    # silently at |v| >= ~3037 (scale 6) if multiplied before the cast
    y = _q(F.col(metric_col), scale).cast(_DEC)
    cond = F.col(group_col).isin([control, treatment]) \
        & F.col(metric_col).isNotNull()
    aggs = [F.count("*").alias("n"),
            F.sum(y).alias("sy"),
            F.sum(y * y).alias("syy")]
    if covariate_col is not None:
        cond = cond & F.col(covariate_col).isNotNull()
        x = _q(F.col(covariate_col), scale).cast(_DEC)
        aggs += [F.sum(x).alias("sx"),
                 F.sum(x * x).alias("sxx"),
                 F.sum(x * y).alias("sxy")]
    g = (df.where(cond)
         .groupBy(F.col(group_col).alias("__g")).agg(*aggs))
    is_t = F.col("__g") == F.lit(treatment)
    picks = [F.max(F.when(~is_t, F.col("n"))).alias("n_c"),
             F.max(F.when(is_t, F.col("n"))).alias("n_t")]
    for c in ("sy", "syy", "sx", "sxx", "sxy"):
        if c in [a for a in ("sy", "syy")] or covariate_col is not None:
            picks += [F.max(F.when(~is_t, F.col(c))).alias(f"{c}_c"),
                      F.max(F.when(is_t, F.col(c))).alias(f"{c}_t")]
    one = g.agg(*picks)

    mul = float(10 ** scale)

    def mean(s, n):
        return (F.col(s).cast("double") / F.col(n).cast("double")) / mul

    def var(s2, s, n):  # sample variance of the micro-unit values / 10^2s
        nn = F.col(n).cast("double")
        return ((F.col(s2).cast("double")
                 - F.col(s).cast("double") * F.col(s).cast("double") / nn)
                / (nn - F.lit(1.0))) / (mul * mul)

    mean_c, mean_t = mean("sy_c", "n_c"), mean("sy_t", "n_t")
    var_c, var_t = var("syy_c", "sy_c", "n_c"), var("syy_t", "sy_t", "n_t")
    nc, nt = F.col("n_c").cast("double"), F.col("n_t").cast("double")
    se2 = var_c / nc + var_t / nt
    out_cols = [
        F.col("n_c"), F.col("n_t"),
        mean_c.alias("mean_c"), mean_t.alias("mean_t"),
        (mean_t - mean_c).alias("diff"),
        # degenerate guards (ANSI mode raises on /0): constant metric →
        # no t-stat; constant covariate → no θ; perfectly correlated
        # covariate (ρ²=1, e.g. X ≡ aY+b) → CUPED residual variance is 0
        # and the adjusted t is undefined — null, not ±inf
        F.when(se2 > 0, (mean_t - mean_c) / F.sqrt(se2)).alias("welch_t"),
    ]
    if covariate_col is not None:
        # pooled θ over both groups from the exact sums
        n = nc + nt
        sx = F.col("sx_c").cast("double") + F.col("sx_t").cast("double")
        sy = F.col("sy_c").cast("double") + F.col("sy_t").cast("double")
        sxx = F.col("sxx_c").cast("double") + F.col("sxx_t").cast("double")
        syy = F.col("syy_c").cast("double") + F.col("syy_t").cast("double")
        sxy = F.col("sxy_c").cast("double") + F.col("sxy_t").cast("double")
        cov_xy = sxy - sx * sy / n
        var_x = sxx - sx * sx / n
        var_y = syy - sy * sy / n
        theta = F.when(var_x > 0, cov_xy / var_x)  # micro-units: scale cancels
        x_bar_all = sx / n
        # adjusted group means: Ȳg − θ·(X̄g − X̄)  (exact-sum expressions)
        adj_c = (F.col("sy_c").cast("double") / nc
                 - theta * (F.col("sx_c").cast("double") / nc - x_bar_all)) \
            / mul
        adj_t = (F.col("sy_t").cast("double") / nt
                 - theta * (F.col("sx_t").cast("double") / nt - x_bar_all)) \
            / mul
        rho2 = F.when((var_x > 0) & (var_y > 0),
                      (cov_xy * cov_xy) / (var_x * var_y))
        cuped_se2 = se2 * (F.lit(1.0) - rho2)
        out_cols += [
            theta.alias("theta"),
            (adj_t - adj_c).alias("cuped_diff"),
            F.when(cuped_se2 > 0, (adj_t - adj_c) / F.sqrt(cuped_se2))
            .alias("cuped_t"),
            (F.lit(1.0) - rho2).alias("var_reduction"),
        ]
    return one.select(*out_cols)


def classification_report(df: DataFrame, label_col: str, pred_col: str,
                          by: str | None = None) -> DataFrame:
    """Confusion counts + precision/recall/F1/accuracy for boolean
    label/prediction columns — ONE map-side-combined aggregation (a
    single scan at 10^12 scored rows), optionally per ``by`` group.

    Exactness: the four confusion cells are exact int64 counts; each
    metric is a SINGLE IEEE division (or one div after one add) of
    exact integers, so Spark and DuckDB produce bit-identical doubles —
    no summation-order anywhere.  Rows where label or prediction is
    NULL are excluded from the cells but reported in ``n_null`` (a
    silent drop would overstate accuracy on sparsely-labeled data).
    Degenerate denominators (no predicted positives, no actual
    positives) yield null metrics under ANSI-safe guards, never 0/0.
    """
    lab, prd = F.col(label_col), F.col(pred_col)
    valid = lab.isNotNull() & prd.isNotNull()

    def cell(cond):
        # coalesce: sum over ZERO rows is NULL — an empty input must
        # report 0-count cells, not nulls (the documented contract)
        return F.coalesce(F.sum(F.when(valid & cond, 1).otherwise(0)),
                          F.lit(0)).cast("long")

    keys = [by] if by else []
    agg = df.groupBy(*keys).agg(
        cell(lab & prd).alias("tp"),
        cell(~lab & prd).alias("fp"),
        cell(lab & ~prd).alias("fn"),
        cell(~lab & ~prd).alias("tn"),
        F.coalesce(F.sum(F.when(~valid, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_null"))
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    precision = F.when(tp + fp > 0, tp.cast("double") / (tp + fp))
    recall = F.when(tp + fn > 0, tp.cast("double") / (tp + fn))
    # F1 from the cells directly (2tp / (2tp + fp + fn)): one division
    # of exact ints — algebraically equal to the harmonic mean but
    # engine-bit-identical, unlike 2PR/(P+R) which composes 3 divisions
    f1 = F.when(tp + tp + fp + fn > 0,
                (tp + tp).cast("double") / (tp + tp + fp + fn))
    total = tp + fp + fn + tn
    accuracy = F.when(total > 0, (tp + tn).cast("double") / total)
    return agg.select(
        *keys, "tp", "fp", "fn", "tn", "n_null",
        precision.alias("precision"), recall.alias("recall"),
        f1.alias("f1"), accuracy.alias("accuracy"))


def cohens_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelings (annotator pairs, model-vs-gold, heuristic-
    vs-classifier): one row ``(n, n_null, n_agree, sum_rc, kappa)``.

    Using exact integer counts only,

        kappa = (n·n_agree − Σ_k r_k·c_k) / (n² − Σ_k r_k·c_k)

    with ``r_k``/``c_k`` the per-class marginals of ``col_a``/``col_b``
    over the ``n`` rows where BOTH labels are non-null (``n_null``
    reports the excluded rest — never silently dropped).  Numerator and
    denominator are exact DECIMAL products of exact counts, so ``kappa``
    is ONE IEEE division — partition-order-free and engine-portable.
    Degenerate chance agreement (``n² = Σ r_k·c_k``, e.g. a constant
    column) yields null kappa under the ANSI-safe division guard.

    Plan shape: the corpus is read ONCE — a single map-side-combined
    groupBy to the (|classes_a| × |classes_b|)-bounded label-pair
    histogram (null labels kept as their own cells), eagerly
    ``localCheckpoint``-ed so the marginal/total/null branches read the
    bounded relation instead of re-running the corpus scan each (the
    ``ranking.bradley_terry`` model-relation discipline).
    """
    from ..functions.util import DEC38

    a, b = F.col(col_a), F.col(col_b)
    # null labels kept as null-keyed cells: n_null derives from the
    # same single corpus pass
    all_cells = (df.groupBy(a.alias("__a"), b.alias("__b"))
                 .agg(F.count("*").alias("__c"))
                 .localCheckpoint())
    both = F.col("__a").isNotNull() & F.col("__b").isNotNull()
    cells = all_cells.where(both)
    ra = cells.groupBy("__a").agg(F.sum("__c").alias("__ra"))
    cb = cells.groupBy("__b").agg(F.sum("__c").alias("__cb"))
    # sum_rc over the joint class grid (including never-cooccurring
    # class pairs contributes nothing: r_k·c_k only for classes present
    # on BOTH sides — the standard square-table embedding)
    rc = (ra.join(cb, ra["__a"] == cb["__b"])
          .agg(F.coalesce(F.sum((F.col("__ra") * F.col("__cb"))
                                .cast(DEC38)),
                          F.lit(0).cast(DEC38)).alias("sum_rc")))
    tot = all_cells.agg(
        F.coalesce(F.sum(F.when(both, F.col("__c"))), F.lit(0))
        .alias("n"),
        F.coalesce(F.sum(F.when(both & (F.col("__a") == F.col("__b")),
                                F.col("__c"))),
                   F.lit(0)).alias("n_agree"),
        F.coalesce(F.sum(F.when(~both, F.col("__c"))), F.lit(0))
        .alias("n_null"))
    n = F.col("n").cast(DEC38)
    num = (n * F.col("n_agree").cast(DEC38) - F.col("sum_rc"))
    den = (n * n - F.col("sum_rc"))
    return (tot.crossJoin(F.broadcast(rc))
            .select("n", "n_null", "n_agree",
                    F.col("sum_rc").cast("long").alias("sum_rc"),
                    F.when(den != F.lit(0).cast(DEC38),
                           num.cast("double") / den.cast("double"))
                    .alias("kappa")))


def isotonic_calibration(df: DataFrame, score_col: str, label_col: str,
                         scale: int = 6,
                         max_distinct: int = 100_000) -> DataFrame:
    """Isotonic (PAV) probability calibration: the maximum-likelihood
    MONOTONE mapping score → P(label=1), the non-parametric upgrade of
    the fixed-bin reliability table (`drift.calibration_bins`) used to
    calibrate quality-classifier scores before thresholding.

    Plan: ONE partial+final aggregation reduces the corpus to its
    |distinct quantized scores|-bounded (score_q, n, n_pos) relation
    (guard: raises above ``max_distinct`` rows — quantize coarser);
    pool-adjacent-violators then runs driver-side over that bounded
    relation in EXACT RATIONAL arithmetic — pools merge while
    ``pos_l/n_l >= pos_r/n_r``, compared as the cross-product integers
    ``pos_l·n_r >= pos_r·n_l`` — so the fit has no floating point at
    all until the single output division, making it partition-,
    engine-, and iteration-order-invariant (PAV's fixpoint is unique;
    left-to-right pooling reaches it deterministically).

    Output: one row per pooled block — ``(score_lo_q, score_hi_q, n,
    n_pos, cal_num, cal_den, cal_prob)`` with ``cal_prob`` the one IEEE
    division and the exact rational carried alongside (the oracle pins
    the integers, immune to rounding).  Null scores are dropped; null
    labels count as negatives (the `calibration_bins` convention).
    """
    from ..functions.util import quantize

    sq = quantize(F.col(score_col), scale)
    agg = (df.where(F.col(score_col).isNotNull())
           .groupBy(sq.alias("score_q"))
           .agg(F.count("*").alias("n"),
                F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0))
                .cast("long").alias("n_pos")))
    rows = (agg.orderBy("score_q")
            .limit(max_distinct + 1).collect())
    if len(rows) > max_distinct:
        raise ValueError(
            f"isotonic_calibration: > {max_distinct} distinct quantized "
            f"scores; lower scale= or raise max_distinct")
    # PAV with exact integer pools: (lo, hi, n, pos)
    stack: list[list[int]] = []
    for r in rows:
        cur = [int(r["score_q"]), int(r["score_q"]),
               int(r["n"]), int(r["n_pos"])]
        stack.append(cur)
        while len(stack) > 1:
            l, rgt = stack[-2], stack[-1]
            # violation: rate(l) >= rate(r)  ⇔  pos_l·n_r >= pos_r·n_l
            if l[3] * rgt[2] >= rgt[3] * l[2]:
                l[1] = rgt[1]
                l[2] += rgt[2]
                l[3] += rgt[3]
                stack.pop()
            else:
                break
    spark = df.sparkSession
    out = [(lo, hi, n, pos, pos, n,
            (pos / n) if n else None)
           for lo, hi, n, pos in stack]
    return spark.createDataFrame(
        out, "score_lo_q long, score_hi_q long, n long, n_pos long, "
             "cal_num long, cal_den long, cal_prob double")


def roc_auc(df: DataFrame, score_col: str, label_col: str,
            scale: int = 6) -> DataFrame:
    """Exact ROC AUC (Mann–Whitney U with the standard tie correction —
    what sklearn's ``roc_auc_score`` computes) for a scored binary
    label, as ONE aggregation + ONE bounded window:

        AUC = (Σ_pos avgrank − n_pos·(n_pos+1)/2) / (n_pos·n_neg)

    The corpus reduces to its |distinct quantized scores| relation
    (score_q, n, n_pos); average ranks come from a running sum over
    THAT bounded relation, carried as DOUBLED integers (``2·avgrank =
    2·cum_before + n + 1``) so ties never produce half-ranks — the
    whole numerator is an exact decimal integer and AUC is ONE IEEE
    division (engine/partition bit-identical, the ``ks_stat``
    discipline).  Null scores are dropped; null labels count as
    negatives (the `calibration_bins` convention).  Output one row:
    ``(n, n_pos, n_neg, auc_num2, auc_den2, auc)`` where
    ``auc = auc_num2 / auc_den2`` and the exact integers ride along
    (as int64 — faithful while ``2·n_pos·n_neg < 2^63`` ≈ 3·10^9
    balanced rows; ``auc`` itself divides the DECIMAL values before
    the cast, so it stays correct beyond that).

    Scale shape: one partial+final agg (corpus → distinct scores), one
    running-sum window over the distinct-score relation (bounded by
    score resolution, never corpus size), one 1-row reduce.
    """
    from pyspark.sql import Window

    from ..functions.util import DEC38, quantize

    sq = quantize(F.col(score_col), scale)
    agg = (df.where(F.col(score_col).isNotNull())
           .groupBy(sq.alias("score_q"))
           .agg(F.count("*").alias("n"),
                F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0))
                .cast("long").alias("n_pos")))
    w = Window.orderBy("score_q").rowsBetween(
        Window.unboundedPreceding, -1)
    ranked = agg.withColumn(
        "__cum", F.coalesce(F.sum("n").over(w), F.lit(0)))
    # Σ over distinct scores: pos_cnt · (2·cum_before + n + 1), exact
    contrib = (F.col("n_pos").cast(DEC38)
               * (F.lit(2).cast(DEC38) * F.col("__cum") + F.col("n")
                  + F.lit(1)))
    tot = ranked.agg(
        F.sum("n").alias("n_total"),
        F.sum("n_pos").alias("p"),
        F.sum(contrib).cast(DEC38).alias("ranksum2"))
    np_ = F.col("p").cast(DEC38)
    nn = (F.col("n_total") - F.col("p")).cast(DEC38)
    num2 = (F.col("ranksum2") - np_ * (np_ + 1)).cast(DEC38)
    den2 = (F.lit(2).cast(DEC38) * np_ * nn).cast(DEC38)
    return tot.select(
        F.col("n_total").cast("long").alias("n"),
        F.col("p").cast("long").alias("n_pos"),
        (F.col("n_total") - F.col("p")).cast("long").alias("n_neg"),
        num2.cast("long").alias("auc_num2"),
        den2.cast("long").alias("auc_den2"),
        F.when(den2 > 0,
               num2.cast("double") / den2.cast("double")).alias("auc"))


def average_precision(df: DataFrame, score_col: str, label_col: str,
                      scale: int = 6) -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    step-wise sum sklearn's ``average_precision_score`` computes):
    ``AP = Σ_t (R_t − R_{t−1}) · P_t`` over distinct score thresholds
    descending, with tie groups as blocks.

    Exactness contract: each term is the rational
    ``pos_t · TP_t / (n_pos · cum_n_t)``; terms are evaluated as ONE
    fixed-order IEEE expression each, micro-quantized to 1e-12 int64
    units, and summed as exact integers (the ``kn_score``
    quantize-then-sum idiom — a raw double sum over the threshold
    relation would be partition-order-sensitive).  ``ap`` is the one
    final division by 1e12.  Null scores dropped; null labels count as
    negatives.  Output one row: ``(n, n_pos, n_neg, ap_u, ap)``.

    Scale shape: identical to :func:`roc_auc` — one corpus agg to the
    |distinct scores| relation, one running-sum window over it, one
    1-row reduce.
    """
    from pyspark.sql import Window

    from ..functions.util import DEC38, quantize

    sq = quantize(F.col(score_col), scale)
    agg = (df.where(F.col(score_col).isNotNull())
           .groupBy(sq.alias("score_q"))
           .agg(F.count("*").alias("n"),
                F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0))
                .cast("long").alias("n_pos")))
    w = Window.orderBy(F.col("score_q").desc()).rowsBetween(
        Window.unboundedPreceding, 0)
    ranked = (agg.withColumn("tp", F.sum("n_pos").over(w))
              .withColumn("cum_n", F.sum("n").over(w)))
    # total positives via an unpartitioned window over the BOUNDED
    # distinct-score relation — a 1-row-aggregate crossJoin would
    # re-derive the corpus aggregation and scan the input twice (the
    # temperature_mixture_plan lesson, pinned there)
    r = ranked.withColumn(
        "__p", F.sum("n_pos").over(Window.partitionBy()))
    # one fixed-order IEEE expression per threshold, then exact int sum
    term = (F.col("n_pos").cast("double") * F.col("tp").cast("double")
            / (F.col("__p").cast("double")
               * F.col("cum_n").cast("double")))
    term_u = F.when(F.col("__p") > 0,
                    quantize(term, 12)).otherwise(F.lit(0))
    out = r.agg(
        F.sum("n").cast("long").alias("n"),
        F.max("__p").cast("long").alias("n_pos"),
        (F.sum("n") - F.max("__p")).cast("long").alias("n_neg"),
        F.sum(term_u.cast(DEC38)).cast("long").alias("ap_u"))
    return out.select(
        "n", "n_pos", "n_neg", "ap_u",
        F.when(F.col("n_pos") > 0,
               F.col("ap_u").cast("double") / F.lit(1e12)).alias("ap"))


# ---------------------------------------------------------------------------
# Poisson bootstrap: uncertainty for massive data in ONE scan

def poisson1_thresholds(k_max: int = 12) -> "list[int]":
    """Inverse-CDF thresholds for Poisson(1) on the 60-bit uniform grid:
    ``t_k = floor(CDF(k)·2^60)``.  A draw ``u ∈ [0, 2^60)`` maps to the
    weight ``w = #{k : u ≥ t_k}`` = min(Poisson(1), k_max) exactly —
    the truncation mass above ``k_max=12`` is ~1e-9.  The thresholds
    are plain integer literals, so Spark and DuckDB make IDENTICAL
    draws from identical md5 bits."""
    import math
    ts, cdf, term = [], 0.0, math.exp(-1.0)
    for k in range(k_max):
        cdf += term
        ts.append(min(int(math.floor(cdf * (1 << 60))), (1 << 60) - 1))
        term /= (k + 1)
    return ts


def _with_replicate_weights(df: DataFrame, id_col: str, n_reps: int,
                            seed: int) -> DataFrame:
    """Adds the per-row Poisson(1) pseudo-count columns ``__w_r``: a
    seeded md5 draw per replicate against the integer thresholds.
    Null ids: ``concat_ws`` SKIPS nulls (all null-id rows share the
    draw of "seed:r") — the generated DuckDB oracles use ``concat_ws``
    too, so the engines agree even on null ids.

    Two explicit projection layers (draws, then threshold counts): the
    threshold sum references its draw 12 times, and inlining the
    ``conv(md5(..))`` subtree into every comparison — what happens when
    the whole thing is one aggregate expression — evaluated the md5
    TWELVE times per (row, replicate) in the observed plan.  Catalyst's
    CollapseProject keeps the layers separate (non-cheap expression,
    multiple consumers), so each draw is computed exactly once."""
    ts = poisson1_thresholds()
    draws = {f"__d_{r}": F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col(id_col).cast("string"), F.lit(str(seed)),
        F.lit(str(r)))), 1, 15), 16, 10).cast("long")
        for r in range(n_reps)}
    out = df.withColumns(draws)
    ws = {}
    for r in range(n_reps):
        draw = F.col(f"__d_{r}")
        w = None
        for t in ts:
            c = (draw >= F.lit(t)).cast("long")
            w = c if w is None else w + c
        ws[f"__w_{r}"] = w
    return out.withColumns(ws)


def _replicate_aggs(y, n_reps: int):
    """The shared Poisson-replicate aggregate list over the ``__w_r``
    columns of :func:`_with_replicate_weights`:
    ``[count, sum(y), ws_0, wy_0, ...]`` — map-side combined, exact
    decimal sums."""
    aggs = [F.count("*").alias("__n"), F.sum(y).alias("__sy")]
    for r in range(n_reps):
        w = F.col(f"__w_{r}")
        aggs += [F.sum(w).alias(f"__ws_{r}"),
                 F.sum(w.cast(_DEC) * y).alias(f"__wy_{r}")]
    return aggs


def poisson_bootstrap_ci(df: DataFrame, metric_col: str, id_col: str,
                         group_by=None, n_reps: int = 50, seed: int = 42,
                         scale: int = 6, alpha: float = 0.05,
                         out_scale: int = 6) -> DataFrame:
    """Percentile bootstrap CI for the mean of ``metric_col`` without
    resampling: the Poisson bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012).  Classic
    bootstrap resampling is impossible at 10^12 rows (each replicate is
    a full shuffle of the corpus); instead each row gets ``n_reps``
    independent Poisson(1) pseudo-counts — seeded md5 draws against
    integer thresholds (:func:`poisson1_thresholds`), deterministic and
    engine-portable — and every replicate reduces in the SAME map-side-
    combined aggregation: ONE scan, ``2·n_reps`` integer cells per
    group over the wire, zero extra shuffles.

    Replicate means are exact-int divisions (``Σw·y_q / Σw``); the CI is
    the [α/2, 1−α/2] order statistics of the non-degenerate replicate
    means (a replicate whose total weight is 0 — probability ``e^-n`` —
    reports null and is excluded in-plan).  Output per group:
    ``(n, mean_u, lo_u, hi_u, n_reps_valid)`` quantized at
    ``10^-out_scale``.
    """
    from ..functions.util import as_list
    keys = [] if group_by is None else as_list(group_by)
    src = _with_replicate_weights(df.where(F.col(metric_col).isNotNull()),
                                  id_col, n_reps, seed)
    y = _q(F.col(metric_col), scale).cast(_DEC)
    aggs = _replicate_aggs(y, n_reps)
    agg = src.groupBy(*keys).agg(*aggs) if keys else src.agg(*aggs)

    unscale = F.lit(float(10 ** scale))
    means = F.array_sort(F.filter(F.array(*[
        F.when(F.col(f"__ws_{r}") > 0,
               F.col(f"__wy_{r}").cast("double")
               / F.col(f"__ws_{r}").cast("double") / unscale)
        for r in range(n_reps)]), lambda x: x.isNotNull()))
    m = F.size(means)
    lo_i = F.floor(F.lit(alpha / 2.0) * (m - 1).cast("double")) \
        .cast("int") + 1
    hi_i = F.ceil(F.lit(1.0 - alpha / 2.0) * (m - 1).cast("double")) \
        .cast("int") + 1
    return agg.select(
        *keys,
        F.col("__n").alias("n"),
        _q(F.col("__sy").cast("double") / F.col("__n").cast("double")
           / unscale, out_scale).alias("mean_u"),
        F.when(m > 0, _q(F.element_at(means, lo_i), out_scale))
        .alias("lo_u"),
        F.when(m > 0, _q(F.element_at(means, hi_i), out_scale))
        .alias("hi_u"),
        m.cast("long").alias("n_reps_valid"))


# ---------------------------------------------------------------------------
# Split-conformal prediction: distribution-free intervals from a
# calibration slice

def conformal_qhat(df: DataFrame, score_col: str, alpha: float = 0.1,
                   scale: int = 6) -> DataFrame:
    """Split-conformal calibration (Vovk et al.; Angelopoulos & Bates
    2021 tutorial): given held-out nonconformity scores (e.g.
    ``|y − ŷ|``), the quantile ``q̂`` = the ``⌈(n+1)(1−α)⌉``-th smallest
    score gives distribution-free ≥(1−α) coverage for ``ŷ ± q̂`` on
    exchangeable data.

    Exact at any scale: scores are micro-quantized, the corpus reduces
    ONCE to the |distinct scores|-bounded count relation, the rank
    threshold is INTEGER arithmetic (``ceil`` of an exact product —
    computed as ``(n+1)·(1−α)`` in IEEE then ceil; α is a shared
    literal, so Spark/DuckDB agree bit-for-bit), and q̂ is the minimal
    distinct score whose running count reaches the rank (the ``ks_stat``
    running-sum-over-distinct-values shape — one window over the
    bounded relation, never the corpus).  Returns one row
    ``(n_cal, rank_r, qhat_u)``; if the rank exceeds n (tiny
    calibration sets: ``(n+1)(1−α) > n``) q̂ is null — the honest
    "cannot certify coverage" answer, not max(score).
    """
    q = _q(F.col(score_col), scale)
    cal = df.where(F.col(score_col).isNotNull())
    dist = cal.groupBy(q.alias("s_u")).agg(F.count("*").alias("c"))
    return qhat_from_counts(dist, alpha)


def qhat_from_counts(dist: DataFrame, alpha: float = 0.1) -> DataFrame:
    """The conformal rank selection over a ``(s_u, c)`` quantized-score
    count relation, behind :func:`conformal_qhat`.

    ONE lineage: running count AND the grand total ride the same window
    pass over the |distinct|-bounded relation (re-deriving the total as
    a second aggregate would rescan the source — the
    temperature_mixture lesson); q̂ falls out of one final aggregate.
    Rank unreachable ((n+1)(1−α) > n, tiny calibration sets) → null q̂:
    the honest "cannot certify coverage" answer, not max(score)."""
    from pyspark.sql import Window
    w_run = Window.orderBy("s_u").rowsBetween(
        Window.unboundedPreceding, 0)
    w_all = Window.orderBy("s_u").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ann = dist.select(
        "s_u", F.sum("c").over(w_run).alias("cum"),
        F.sum("c").over(w_all).alias("n_all"))
    r = F.ceil((F.col("n_all") + 1).cast("double")
               * F.lit(1.0 - alpha)).cast("long")
    return ann.agg(
        F.coalesce(F.max("n_all"), F.lit(0)).cast("long").alias("n_cal"),
        F.max(r).alias("rank_r"),
        F.min(F.when(F.col("cum") >= r, F.col("s_u"))).alias("qhat_u"))


def conformal_coverage(test: DataFrame, score_col: str,
                       qhat: DataFrame, scale: int = 6) -> DataFrame:
    """Coverage audit of :func:`conformal_qhat` on a disjoint test
    slice: one row ``(n_cal, rank_r, qhat_u, n_test, n_covered)`` where
    ``n_covered`` counts test scores ≤ q̂ (exact integers; the marginal
    coverage guarantee says ``n_covered/n_test ≳ 1−α``).  ONE scan of
    the test slice against the broadcast 1-row q̂ relation."""
    q = _q(F.col(score_col), scale)
    t = test.where(F.col(score_col).isNotNull()).select(q.alias("s_u"))
    return (t.crossJoin(F.broadcast(qhat))
            .groupBy("n_cal", "rank_r", "qhat_u")
            .agg(F.count("*").alias("n_test"),
                 F.coalesce(F.sum(
                     F.when(F.col("s_u") <= F.col("qhat_u"), 1)
                     .otherwise(0)), F.lit(0)).cast("long")
                 .alias("n_covered")))


def poisson_bootstrap_diff_ci(df: DataFrame, metric_col: str,
                              id_col: str, group_col: str, control: str,
                              treatment: str, n_reps: int = 50,
                              seed: int = 42, scale: int = 6,
                              alpha: float = 0.05,
                              out_scale: int = 6) -> DataFrame:
    """Percentile bootstrap CI for the A/B mean DIFFERENCE
    (treatment − control) — the distribution-free complement to
    :func:`ab_stats`'s Welch t (no normality assumption, correct for
    skewed/heavy-tailed metrics).

    Same machinery as :func:`poisson_bootstrap_ci`: per-row Poisson(1)
    pseudo-counts from seeded md5 draws, every replicate reduced in ONE
    map-side-combined aggregation — here per arm (a 2-row relation),
    pivoted driver-free to one row, with per-replicate diffs
    ``wy_t/ws_t − wy_c/ws_c`` (fixed-order IEEE over exact ints).  A
    replicate degenerate in EITHER arm is excluded.  Output one row:
    ``(n_c, n_t, diff_u, lo_u, hi_u, n_reps_valid)`` — a CI excluding 0
    is the bootstrap's significance verdict.
    """
    src = _with_replicate_weights(
        df.where(F.col(metric_col).isNotNull()
                 & F.col(group_col).isin([control, treatment])),
        id_col, n_reps, seed)
    y = _q(F.col(metric_col), scale).cast(_DEC)
    arms = src.groupBy(F.col(group_col).alias("__g")).agg(
        *_replicate_aggs(y, n_reps))

    is_t = F.col("__g") == F.lit(treatment)
    picks = []
    for c in (["__n", "__sy"]
              + [f"__{p}_{r}" for r in range(n_reps)
                 for p in ("ws", "wy")]):
        picks += [F.max(F.when(~is_t, F.col(c))).alias(f"{c}_c"),
                  F.max(F.when(is_t, F.col(c))).alias(f"{c}_t")]
    one = arms.agg(*picks)

    unscale = F.lit(float(10 ** scale))

    def _mean(wy, ws):
        return F.col(wy).cast("double") / F.col(ws).cast("double") \
            / unscale

    diffs = F.array_sort(F.filter(F.array(*[
        F.when((F.col(f"__ws_{r}_c") > 0) & (F.col(f"__ws_{r}_t") > 0),
               _mean(f"__wy_{r}_t", f"__ws_{r}_t")
               - _mean(f"__wy_{r}_c", f"__ws_{r}_c"))
        for r in range(n_reps)]), lambda x: x.isNotNull()))
    m = F.size(diffs)
    lo_i = F.floor(F.lit(alpha / 2.0) * (m - 1).cast("double")) \
        .cast("int") + 1
    hi_i = F.ceil(F.lit(1.0 - alpha / 2.0) * (m - 1).cast("double")) \
        .cast("int") + 1
    return one.select(
        F.col("__n_c").alias("n_c"), F.col("__n_t").alias("n_t"),
        _q(_mean("__sy_t", "__n_t") - _mean("__sy_c", "__n_c"),
           out_scale).alias("diff_u"),
        F.when(m > 0, _q(F.element_at(diffs, lo_i), out_scale))
        .alias("lo_u"),
        F.when(m > 0, _q(F.element_at(diffs, hi_i), out_scale))
        .alias("hi_u"),
        m.cast("long").alias("n_reps_valid"))


def conformal_qhat_by(df: DataFrame, score_col: str, group_by,
                      alpha: float = 0.1, scale: int = 6) -> DataFrame:
    """Mondrian (group-conditional) split-conformal calibration: one q̂
    PER GROUP, giving the coverage guarantee within each group rather
    than only marginally (the fairness-relevant variant — a global q̂
    can under-cover a minority slice while over-covering the rest).

    Same shape as :func:`qhat_from_counts` with the windows partitioned
    by the group keys: the corpus reduces once to the per-group
    |distinct scores|-bounded relation, running count + group total
    ride one window pass, q̂ per group falls out of one aggregation.
    Groups too small to certify ((n_g+1)(1−α) > n_g) report null.
    """
    from pyspark.sql import Window
    from ..functions.util import as_list
    keys = as_list(group_by)
    q = _q(F.col(score_col), scale)
    dist = (df.where(F.col(score_col).isNotNull())
            .groupBy(*keys, q.alias("s_u"))
            .agg(F.count("*").alias("c")))
    w_run = Window.partitionBy(*keys).orderBy("s_u").rowsBetween(
        Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(*keys).orderBy("s_u").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ann = dist.select(
        *keys, "s_u", F.sum("c").over(w_run).alias("cum"),
        F.sum("c").over(w_all).alias("n_all"))
    r = F.ceil((F.col("n_all") + 1).cast("double")
               * F.lit(1.0 - alpha)).cast("long")
    return ann.groupBy(*keys).agg(
        F.max("n_all").cast("long").alias("n_cal"),
        F.max(r).alias("rank_r"),
        F.min(F.when(F.col("cum") >= r, F.col("s_u"))).alias("qhat_u"))


from ..functions.util import trunc_div as _trunc_div  # noqa: E402


def ate_stratified(df: DataFrame, treat_col: str, outcome_col: str,
                   stratum_col: str, scale: int = 2,
                   diff_scale: int = 6) -> DataFrame:
    """Stratified average-treatment-effect readout (exact-integer
    contract): per-stratum treated/control counts, quantized outcome
    sums, the within-stratum mean difference, and the
    stratification-weighted pooled ATE (Imbens & Rubin, ch. 9 —
    subclassification on a pre-treatment covariate removes the
    confounding the covariate carries; with a randomized treatment it
    is a pure variance-reduction readout, the nonparametric cousin of
    :func:`ab_stats`' CUPED).

    ``df`` holds one row per unit: a 0/1 ``treat_col``, a numeric
    ``outcome_col`` (quantized at ``10^scale``), and a categorical/int
    ``stratum_col``.  Strata missing either arm drop (no within-stratum
    contrast exists); the pooled ATE weights the surviving strata by
    their unit counts.

    Determinism: outcome sums accumulate as exact decimal integers;
    the per-stratum difference is *defined* as the truncated integer

        ``diff_q = trunc(10^diff_scale · (sy_t·n_c − sy_c·n_t)
                          / (n_t·n_c·10^scale))``

    and the pooled estimate as ``trunc(Σ_s n_s·diff_q_s / N)`` — every
    step an integer op both engines execute identically (DuckDB ``//``),
    no float in any aggregate.  Scale shape: ONE map-side-combined
    aggregation to a |strata|-bounded relation; the pooled number rides
    a window over that tiny relation — no second scan, no collect.

    Output (one row per kept stratum, ordered): ``(stratum, n_t, n_c,
    sy_t_u, sy_c_u, diff_q<diff_scale>, ate_q<diff_scale>)``, sums in
    ``10^-scale`` micro-units as bigint.
    """
    from pyspark.sql import Window

    t = F.col(treat_col).cast("int")
    y = _q(F.col(outcome_col), scale)
    per = (df.where(F.col(outcome_col).isNotNull() & t.isNotNull())
           .groupBy(F.col(stratum_col).alias("stratum"))
           .agg(F.sum(F.when(t == 1, 1).otherwise(0)).alias("n_t"),
                F.sum(F.when(t == 0, 1).otherwise(0)).alias("n_c"),
                F.sum(F.when(t == 1, y).otherwise(0).cast(_DEC))
                .alias("sy_t"),
                F.sum(F.when(t == 0, y).otherwise(0).cast(_DEC))
                .alias("sy_c"))
           .where((F.col("n_t") > 0) & (F.col("n_c") > 0)))

    dmul = F.lit(10 ** int(diff_scale)).cast(_DEC)
    smul = F.lit(10 ** int(scale)).cast(_DEC)
    num = dmul * (F.col("sy_t") * F.col("n_c")
                  - F.col("sy_c") * F.col("n_t"))
    den = (F.col("n_t") * F.col("n_c")).cast(_DEC) * smul
    ann = per.withColumn("diff_q", _trunc_div(num, den)) \
             .withColumn("n_s", (F.col("n_t") + F.col("n_c")).cast(_DEC))
    w = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    pooled = _trunc_div(F.sum(F.col("n_s") * F.col("diff_q")).over(w),
                        F.sum("n_s").over(w))
    dq = f"diff_q{int(diff_scale)}"
    return (ann.select(
        "stratum",
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("sy_t").cast("long").alias("sy_t_u"),
        F.col("sy_c").cast("long").alias("sy_c_u"),
        F.col("diff_q").cast("long").alias(dq),
        pooled.cast("long").alias(f"ate_q{int(diff_scale)}"))
        .orderBy("stratum"))


def uplift_curve(df: DataFrame, treat_col: str, outcome_col: str,
                 score_col: str, id_col: str, n_buckets: int = 10,
                 scale: int = 2, q_scale: int = 6) -> DataFrame:
    """Uplift / Qini decile table (Radcliffe 2007): rank units by a
    model score descending, cut into ``n_buckets`` equal-count buckets,
    and report per-bucket and cumulative treated/control outcomes plus
    the Qini curve value — the standard offline evaluation of an
    uplift / targeting model (which users should we treat?).

    Bucketing is EXACT and deterministic: 0-based global rank under the
    total order ``(score desc, id asc)`` via :func:`layout.global_rank`
    (range-sort + broadcast offsets — never a single-partition window),
    then ``bucket = rank · B // n``.  Per-bucket sums are exact decimal
    integers over ``10^scale``-quantized outcomes.

    Per bucket ``k`` (cumulative ≤ k):

    * ``uplift_q = trunc(10^q_scale (sy_t n_c − sy_c n_t)/(n_t n_c 10^scale))``
      — the within-bucket mean difference (null if an arm is empty);
    * ``qini_q = trunc(10^q_scale (cy_t cn_c − cy_c cn_t)/(cn_c 10^scale))``
      — ``cy_t − cy_c·cn_t/cn_c``, incremental outcome vs the scaled
      control, in outcome units (null while the control arm is empty).

    Every step is integer (truncation-toward-zero ≡ DuckDB ``//`` on
    the signed numerators); worst case ``cy·cn·10^6 ≈ 10^27`` is inside
    decimal(38,0)/hugeint.  Scale shape: one global range-sort (the
    rank), ONE aggregation to the B-row relation, windows over B rows.

    Output (one row per non-empty bucket, ordered): ``(bucket, n_t,
    n_c, sy_t_u, sy_c_u, uplift_q<q>, cum_n_t, cum_n_c, qini_q<q>)``.
    """
    from .layout import global_rank

    t = F.col(treat_col).cast("int")
    y = _q(F.col(outcome_col), scale)
    base = (df.where(F.col(score_col).isNotNull() & t.isNotNull()
                     & F.col(outcome_col).isNotNull())
            .select(t.alias("__t"), y.alias("__y"),
                    F.col(score_col).alias("__s"),
                    F.col(id_col).alias("__id")))
    # global_rank already collects per-partition counts for the offsets,
    # so the total comes for free — no second corpus scan for n
    ranked, n = global_rank(base, [F.col("__s").desc(), F.col("__id")],
                            "__rk", with_total=True)
    if n == 0:
        raise ValueError("uplift_curve: empty input after null filter")
    b = F.lit(int(n_buckets)).cast("long")
    rkb = F.col("__rk") * b
    nn = F.lit(int(n)).cast("long")
    per = (ranked
           # exact floor: subtract the remainder first — a bare long/long
           # is DOUBLE division in Spark, whose rounding could cross a
           # bucket edge; the adjusted numerator divides exactly
           .withColumn("bucket", ((rkb - rkb % nn) / nn).cast("long"))
           .groupBy("bucket")
           .agg(F.sum(F.when(F.col("__t") == 1, 1).otherwise(0))
                .alias("n_t"),
                F.sum(F.when(F.col("__t") == 0, 1).otherwise(0))
                .alias("n_c"),
                F.sum(F.when(F.col("__t") == 1, F.col("__y"))
                      .otherwise(0).cast(_DEC)).alias("sy_t"),
                F.sum(F.when(F.col("__t") == 0, F.col("__y"))
                      .otherwise(0).cast(_DEC)).alias("sy_c")))
    from pyspark.sql import Window
    w = Window.partitionBy(F.lit(1)).orderBy("bucket") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    qmul = F.lit(10 ** int(q_scale)).cast(_DEC)
    smul = F.lit(10 ** int(scale)).cast(_DEC)
    cum = (per
           .withColumn("cn_t", F.sum("n_t").over(w).cast(_DEC))
           .withColumn("cn_c", F.sum("n_c").over(w).cast(_DEC))
           .withColumn("cy_t", F.sum("sy_t").over(w).cast(_DEC))
           .withColumn("cy_c", F.sum("sy_c").over(w).cast(_DEC)))
    up_num = qmul * (F.col("sy_t") * F.col("n_c")
                     - F.col("sy_c") * F.col("n_t"))
    up_den = (F.col("n_t") * F.col("n_c")).cast(_DEC) * smul
    qi_num = qmul * (F.col("cy_t") * F.col("cn_c")
                     - F.col("cy_c") * F.col("cn_t"))
    qi_den = F.col("cn_c") * smul
    uq, qq = f"uplift_q{int(q_scale)}", f"qini_q{int(q_scale)}"
    return (cum.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("sy_t").cast("long").alias("sy_t_u"),
        F.col("sy_c").cast("long").alias("sy_c_u"),
        F.when((F.col("n_t") > 0) & (F.col("n_c") > 0),
               _trunc_div(up_num, up_den)).cast("long").alias(uq),
        F.col("cn_t").cast("long").alias("cum_n_t"),
        F.col("cn_c").cast("long").alias("cum_n_c"),
        F.when(F.col("cn_c") > 0,
               _trunc_div(qi_num, qi_den)).cast("long").alias(qq))
        .orderBy("bucket"))


def sequential_ab(df: DataFrame, treat_col: str, outcome_col: str,
                  look_col: str, alpha: float = 0.05,
                  scale: int = 6) -> DataFrame:
    """Group-sequential A/B monitoring with O'Brien–Fleming-style
    boundaries: one Welch z per *look* (an ordered interim-analysis
    index, e.g. experiment day), compared against the spending
    boundary ``b_k = z_{α/2}·√(K/k)`` — very conservative early, the
    fixed-sample bound at the final look — so the experimenter can
    peek K times without inflating false-positive rate (O'Brien &
    Fleming 1979; Pocock 1977 for the framework).

    Determinism: moment sums (n, Σy, Σy²) accumulate per look as exact
    decimal integers over ``floor(y·10^scale+0.5)`` micro-units and
    cumulate by windows over the |looks| relation; z and the boundary
    are FIXED-ORDER IEEE expressions over those exact ints (division /
    multiply / sqrt are all correctly-rounded ops, so both engines
    produce bit-identical doubles — the ab_stats/corr_matrix
    discipline; no exp/ln anywhere).  ``z_{α/2}`` is evaluated once in
    Python (``kernels.special.norm_ppf``) and embedded as a literal,
    exactly like the bootstrap oracles embed their thresholds.

    Scale shape: ONE map-side-combined corpus aggregation to the
    |looks|×2-cell relation; windows ride |looks| rows.

    Output one row per look (ordered): ``(look, k, n_looks, cum_n_t,
    cum_n_c, z_q6, bound_q6, crossed)`` — ``z_q6`` null while either
    arm has <2 cumulative units or the pooled SE is 0.
    """
    per = seq_ab_moments(df, treat_col, outcome_col, look_col,
                         scale=scale)
    return seq_ab_decisions(per, alpha=alpha)


def seq_ab_moments(df: DataFrame, treat_col: str, outcome_col: str,
                   look_col: str, scale: int = 6) -> DataFrame:
    """The per-look exact moment relation feeding
    :func:`seq_ab_decisions`: ``(look, n_t, n_c, sy_t, sy_c, syy_t,
    syy_c)`` with decimal(38,0) sums over 10^scale micro-units.
    Additive and commutative per look: moment relations of disjoint
    slices merge by summation into the identical table."""
    t = F.col(treat_col).cast("int")
    # square IN DECIMAL (int64 wraps at |v| >= ~3037 at scale 6); the
    # oracle squares in hugeint — this keeps the engines in lockstep
    y = _q(F.col(outcome_col), scale).cast(_DEC)
    zero = F.lit(0).cast(_DEC)
    return (df.where(F.col(outcome_col).isNotNull() & t.isNotNull()
                     & F.col(look_col).isNotNull())
            .groupBy(F.col(look_col).alias("look"))
            .agg(F.sum(F.when(t == 1, 1).otherwise(0)).alias("n_t"),
                 F.sum(F.when(t == 0, 1).otherwise(0)).alias("n_c"),
                 F.sum(F.when(t == 1, y).otherwise(zero)).alias("sy_t"),
                 F.sum(F.when(t == 0, y).otherwise(zero)).alias("sy_c"),
                 F.sum(F.when(t == 1, y * y).otherwise(zero))
                 .alias("syy_t"),
                 F.sum(F.when(t == 0, y * y).otherwise(zero))
                 .alias("syy_c")))


def seq_ab_decisions(per: DataFrame, alpha: float = 0.05) -> DataFrame:
    """Decision table from a per-look moment relation (see
    :func:`seq_ab_moments`) — windows over |looks| rows only."""
    from ..kernels.special import norm_ppf
    from pyspark.sql import Window

    z_a = float(norm_ppf(1.0 - alpha / 2.0))
    w_ord = Window.partitionBy(F.lit(1)).orderBy("look")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)
    w_all = Window.partitionBy(F.lit(1))
    cum = per.select(
        "look",
        F.row_number().over(w_ord).cast("long").alias("k"),
        F.count("*").over(w_all).cast("long").alias("n_looks"),
        F.sum("n_t").over(w_cum).cast("long").alias("cn_t"),
        F.sum("n_c").over(w_cum).cast("long").alias("cn_c"),
        F.sum("sy_t").over(w_cum).cast("double").alias("cy_t"),
        F.sum("sy_c").over(w_cum).cast("double").alias("cy_c"),
        F.sum("syy_t").over(w_cum).cast("double").alias("cyy_t"),
        F.sum("syy_c").over(w_cum).cast("double").alias("cyy_c"))
    nt = F.col("cn_t").cast("double")
    nc = F.col("cn_c").cast("double")
    var_t = (F.col("cyy_t") - F.col("cy_t") * F.col("cy_t") / nt) \
        / (nt - F.lit(1.0))
    var_c = (F.col("cyy_c") - F.col("cy_c") * F.col("cy_c") / nc) \
        / (nc - F.lit(1.0))
    # guard on se2 BEFORE sqrt (the ab_stats discipline): a float-
    # cancellation-negative variance would make sqrt() NaN, and Spark
    # orders NaN > 0 — an unguarded `se > 0` would pass, emitting a
    # spurious crossed=true, while DuckDB raises on sqrt(negative)
    se2 = var_t / nt + var_c / nc
    z = (F.col("cy_t") / nt - F.col("cy_c") / nc) / F.sqrt(se2)
    bound = F.lit(z_a) * F.sqrt(
        F.col("n_looks").cast("double") / F.col("k").cast("double"))
    ok = (F.col("cn_t") > 1) & (F.col("cn_c") > 1) & (se2 > 0)
    zq = F.when(ok, F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long"))
    bq = F.floor(bound * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (cum.select(
        "look", "k", "n_looks", F.col("cn_t").alias("cum_n_t"),
        F.col("cn_c").alias("cum_n_c"),
        zq.alias("z_q6"), bq.alias("bound_q6"),
        F.when(ok, F.abs(z) > bound).otherwise(F.lit(False))
        .alias("crossed"))
        .orderBy("look"))


def mde_ab(df: DataFrame, treat_col: str, outcome_col: str,
           alpha: float = 0.05, power: float = 0.8,
           scale: int = 6) -> DataFrame:
    """Minimum detectable effect of the CURRENT experiment allocation —
    the pre-registration sanity readout ("with this traffic split and
    outcome variance, what lift could we even see?"):

        ``MDE = (z_{α/2} + z_{power}) · √(s²_t/n_t + s²_c/n_c)``

    (two-sided α, Welch-style pooled SE; Lehr/van Belle).  Also reports
    the per-arm n required for a target relative lift of the control
    mean at the same α/power — the other direction of the same formula.

    Determinism: ONE map-side-combined aggregation to exact decimal
    moments; MDE and n-required are fixed-order IEEE expressions of
    those ints with the z constants evaluated once in Python
    (``kernels.special.norm_ppf``) — the sequential_ab discipline
    (div/mul/sqrt correctly rounded ⇒ bit-identical doubles; no
    exp/ln).  Output one row: ``(n_t, n_c, mean_c, sd_pooled, mde_abs,
    mde_rel, n_per_arm_for_5pct)`` — float columns null when either
    arm has <2 units or variance is 0.
    """
    from ..kernels.special import norm_ppf

    z = float(norm_ppf(1.0 - alpha / 2.0)) + float(norm_ppf(power))
    t = F.col(treat_col).cast("int")
    y = _q(F.col(outcome_col), scale).cast(_DEC)
    zero = F.lit(0).cast(_DEC)
    one = (df.where(F.col(outcome_col).isNotNull() & t.isNotNull())
           .agg(F.sum(F.when(t == 1, 1).otherwise(0)).alias("n_t"),
                F.sum(F.when(t == 0, 1).otherwise(0)).alias("n_c"),
                F.sum(F.when(t == 1, y).otherwise(zero)).alias("sy_t"),
                F.sum(F.when(t == 0, y).otherwise(zero)).alias("sy_c"),
                F.sum(F.when(t == 1, y * y).otherwise(zero))
                .alias("syy_t"),
                F.sum(F.when(t == 0, y * y).otherwise(zero))
                .alias("syy_c")))
    mul = float(10 ** scale)
    nt = F.col("n_t").cast("double")
    nc = F.col("n_c").cast("double")
    var_t = (F.col("syy_t").cast("double")
             - F.col("sy_t").cast("double")
             * F.col("sy_t").cast("double") / nt) / (nt - F.lit(1.0))
    var_c = (F.col("syy_c").cast("double")
             - F.col("sy_c").cast("double")
             * F.col("sy_c").cast("double") / nc) / (nc - F.lit(1.0))
    se2 = var_t / nt + var_c / nc
    mean_c = F.col("sy_c").cast("double") / nc / F.lit(mul)
    ok = (F.col("n_t") > 1) & (F.col("n_c") > 1) & (se2 > 0)
    mde_abs = F.when(ok, F.lit(z) * F.sqrt(se2) / F.lit(mul))
    # pooled (equal-weight) variance for the n-required direction
    var_p = (var_t + var_c) / F.lit(2.0)
    target = F.lit(0.05) * mean_c * F.lit(mul)  # 5% lift in micro-units
    n_req = F.when(ok & (target > 0),
                   F.ceil(F.lit(2.0) * F.lit(z * z) * var_p
                          / (target * target)).cast("long"))
    return one.select(
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        mean_c.alias("mean_c"),
        F.when(ok, F.sqrt(var_p) / F.lit(mul)).alias("sd_pooled"),
        mde_abs.alias("mde_abs"),
        F.when(ok & (mean_c > 0), mde_abs / mean_c).alias("mde_rel"),
        n_req.alias("n_per_arm_for_5pct"))


def srm_check(df: DataFrame, treat_col: str,
              ratio_t: int = 1, ratio_c: int = 1) -> DataFrame:
    """Sample-ratio-mismatch guard — the first thing an experiment
    platform checks before ANY readout: do the realized arm counts
    match the intended allocation?  A biased splitter invalidates
    every downstream statistic (Fabijan et al., KDD'19 diagnoses).

    Chi-square with 1 dof against the intended ``ratio_t : ratio_c``:
    ``E_t = N·r_t/(r_t+r_c)``, ``chi2 = (n_t−E_t)²/E_t + (n_c−E_c)²/E_c``.
    ONE count-only aggregation; chi2 is a fixed-order IEEE expression
    of two exact int64 counts (bit-identical across engines).  The
    boundary column flags chi2 > 3.841 (χ²₁ at α=0.05, literal).

    Output one row: ``(n_t, n_c, expected_t, chi2_q6, srm_flag)``.
    """
    if ratio_t <= 0 or ratio_c <= 0:
        raise ValueError("ratios must be positive")
    t = F.col(treat_col).cast("int")
    one = (df.where(t.isNotNull())
           .agg(F.sum(F.when(t == 1, 1).otherwise(0)).cast("long")
                .alias("n_t"),
                F.sum(F.when(t == 0, 1).otherwise(0)).cast("long")
                .alias("n_c")))
    rt, rc = float(ratio_t), float(ratio_c)
    n = (F.col("n_t") + F.col("n_c")).cast("double")
    e_t = n * F.lit(rt) / F.lit(rt + rc)
    e_c = n * F.lit(rc) / F.lit(rt + rc)
    dt = F.col("n_t").cast("double") - e_t
    dc = F.col("n_c").cast("double") - e_c
    chi2 = dt * dt / e_t + dc * dc / e_c
    ok = (F.col("n_t") + F.col("n_c")) > 0
    return one.select(
        "n_t", "n_c",
        F.when(ok, e_t).alias("expected_t"),
        F.when(ok, F.floor(chi2 * F.lit(1e6) + F.lit(0.5))
               .cast("long")).alias("chi2_q6"),
        F.when(ok, chi2 > F.lit(3.841458820694124)).otherwise(False)
        .alias("srm_flag"))


def ps_match(df: DataFrame, treat_col: str, score_col: str,
             id_col: str, caliper: float | None = None,
             scale: int = 6) -> DataFrame:
    """Propensity-score 1-nearest-neighbor matching WITH replacement
    (Rosenbaum & Rubin 1983's matching estimator in its greedy-NN form):
    each treated unit is paired with the control whose score is closest;
    pairs farther than ``caliper`` (in score units) are left unmatched.
    The causal family's third leg — :func:`ate_stratified`
    subclassifies, ``uplift_curve`` ranks, this MATCHES.

    Deterministic cross-engine contract: scores are micro-quantized, and
    the nearest control is resolved on the |distinct score|-bounded AXIS
    relation (the ``drift.ks_stat`` discipline — corpus rows never enter
    a global window): one ordered sweep carries the nearest control
    score at-or-below each score (a running max of control scores) and
    the reverse sweep the nearest at-or-above; the winner is the smaller
    absolute gap, ties to the LOWER control score, and within the chosen
    score the control with the SMALLEST id.  All comparisons are int64.

    Returns one row per treated unit: ``(id, score_u, ctrl_id,
    ctrl_score_u, dist_u)`` — null ctrl columns when no control exists
    within the caliper.  Null score/treat rows are dropped.

    Plan shape at 10^12 rows: two corpus aggregations (distinct treated
    scores; controls grouped by score) → ordered windows over the
    distinct-score axis → one equi-join of treated rows to the axis map
    on score (broadcastable while |distinct scores| is bounded — for a
    continuous score coarsen ``scale``, exactly the ks_stat guidance).
    """
    cal_u = (None if caliper is None
             else int(round(abs(caliper) * 10 ** scale)))
    from pyspark.sql import Window

    base = (df.where(F.col(score_col).isNotNull()
                     & F.col(treat_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.col(treat_col).cast("boolean").alias("__t"),
                    _q(F.col(score_col), scale).alias("__s")))
    ctrl = (base.where(~F.col("__t"))
            .groupBy("__s").agg(F.min("id").alias("__cid")))
    taxis = base.where(F.col("__t")).select("__s").distinct()
    axis = (taxis.join(ctrl, ["__s"], "full_outer")
            .select("__s", F.col("__cid"),
                    F.when(F.col("__cid").isNotNull(), F.col("__s"))
                    .alias("__cs")))
    wb = (Window.orderBy("__s")
          .rowsBetween(Window.unboundedPreceding, 0))
    wa = (Window.orderBy("__s")
          .rowsBetween(0, Window.unboundedFollowing))
    swept = axis.select(
        "__s",
        F.max("__cs").over(wb).alias("__before"),
        F.min("__cs").over(wa).alias("__after"))
    db = F.col("__s") - F.col("__before")
    da = F.col("__after") - F.col("__s")
    chosen = (F.when(F.col("__before").isNull(), F.col("__after"))
              .when(F.col("__after").isNull(), F.col("__before"))
              .when(db <= da, F.col("__before"))
              .otherwise(F.col("__after")))
    mapped = swept.select("__s", chosen.alias("__cs"))
    if cal_u is not None:
        mapped = mapped.select(
            "__s",
            F.when(F.abs(F.col("__cs") - F.col("__s")) <= F.lit(cal_u),
                   F.col("__cs")).alias("__cs"))
    mapped = mapped.join(
        ctrl.select(F.col("__s").alias("__cs"), "__cid"),
        ["__cs"], "left")
    treated = base.where(F.col("__t")).select("id", "__s")
    out = treated.join(mapped, ["__s"], "left")
    return out.select(
        "id", F.col("__s").alias("score_u"),
        F.col("__cid").alias("ctrl_id"),
        F.col("__cs").alias("ctrl_score_u"),
        F.when(F.col("__cs").isNotNull(),
               F.abs(F.col("__cs") - F.col("__s"))).alias("dist_u"))
