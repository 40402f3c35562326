"""Feature selection: exact pairwise Pearson correlation matrix and
filter scores.

The classic pre-training screen — drop features that are near-copies of
another feature — needs all d(d-1)/2 pairwise correlations.  ``df.stat
.corr`` answers one pair per JOB (2 scans each) and its float sums are
partition-order dependent; MLlib's ``Correlation.corr`` assembles a
Vector column and densifies on the driver.  Here the whole matrix is ONE
map-side-combined aggregation over the corpus:

* inputs are micro-quantized to integers (``functions.util.quantize`` —
  the shared cross-engine idiom), per-pair moments ``(n, Σx, Σy, Σxy,
  Σx², Σy²)`` accumulate in DECIMAL(38,0) — exact, associative,
  partition-order free;
* each pair is pairwise-complete (only rows where BOTH columns are
  non-null count — the pandas ``df.corr`` convention), so one scan still
  serves columns with different null masks;
* ``corr = (n·Σxy − ΣxΣy) / √((n·Σx² − Σx²)·(n·Σy² − Σy²))`` is a FIXED
  IEEE tree evaluated over those exact integers, then micro-quantized —
  bit-identical in Spark / DuckDB / numpy PROVIDED the three derived
  components stay below 2^53 (above it a decimal→double cast may
  double-round differently per engine); every call enforces that
  bound IN-PLAN with ``raise_error`` folded into the kept output column
  (a standalone guard column would be pruned by the optimizer and never
  evaluate — see PLANS.md `changelog.merge_into`).

At 10^12 rows the plan is scan → partial aggregate → single final row
(3·d² integer cells cross the wire) → d²-bounded pair explode: no
shuffle of corpus rows, no driver matrix.  The d(d-1)/2 aggregate
expressions bound d to O(10²) features per call — chunk wider frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import quantize

_TWO53 = float(1 << 53)


def _pair_aggs(cols, scales):
    """Aggregate expressions for every i<j pair: pairwise-complete
    exact-decimal moments."""
    aggs, pairs = [], []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            a, b = cols[i], cols[j]
            both = F.col(a).isNotNull() & F.col(b).isNotNull()
            qa = F.when(both, quantize(F.col(a), scales[a]))
            qb = F.when(both, quantize(F.col(b), scales[b]))
            d = "decimal(38,0)"
            tag = f"{i}_{j}"
            da, db = qa.cast(d), qb.cast(d)  # pre-cast: int64 q·q overflows
            aggs += [
                F.count(F.when(both, F.lit(1))).alias(f"n_{tag}"),
                F.coalesce(F.sum(da), F.lit(0).cast(d))
                .alias(f"sx_{tag}"),
                F.coalesce(F.sum(db), F.lit(0).cast(d))
                .alias(f"sy_{tag}"),
                F.coalesce(F.sum(da * db), F.lit(0).cast(d))
                .alias(f"sxy_{tag}"),
                F.coalesce(F.sum(da * da), F.lit(0).cast(d))
                .alias(f"sx2_{tag}"),
                F.coalesce(F.sum(db * db), F.lit(0).cast(d))
                .alias(f"sy2_{tag}"),
            ]
            pairs.append((i, j, tag))
    return aggs, pairs


def corr_matrix(df: DataFrame, cols, scales=None,
                out_scale: int = 6) -> DataFrame:
    """All-pairs Pearson correlation over numeric ``cols`` in ONE scan.

    ``scales``: int or {col: int} quantization scales (default 6).
    Returns ``(feat_a, feat_b, n, corr_u)`` with ``corr_u`` the
    correlation quantized at ``10^-out_scale`` (exact int64; null when a
    side has zero variance or fewer than 2 complete rows).
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least 2 columns")
    if scales is None:
        scales = {c: 6 for c in cols}
    elif isinstance(scales, int):
        scales = {c: scales for c in cols}
    missing = [c for c in cols if c not in scales]
    if missing:
        raise ValueError(f"no quantization scale for {missing}")

    aggs, pairs = _pair_aggs(cols, scales)
    one = df.agg(*aggs)

    structs = []
    for i, j, tag in pairs:
        n = F.col(f"n_{tag}").cast("decimal(38,0)")
        sx, sy = F.col(f"sx_{tag}"), F.col(f"sy_{tag}")
        sxy = F.col(f"sxy_{tag}")
        sx2, sy2 = F.col(f"sx2_{tag}"), F.col(f"sy2_{tag}")
        num = (n * sxy - sx * sy).cast("double")
        denx = (n * sx2 - sx * sx).cast("double")
        deny = (n * sy2 - sy * sy).cast("double")
        corr = num / F.sqrt(denx * deny)
        corr_u = F.when((denx > 0) & (deny > 0),
                        quantize(corr, out_scale))
        worst = F.greatest(F.abs(num), F.abs(denx), F.abs(deny))
        corr_u = F.when(
            worst > F.lit(_TWO53),
            F.raise_error(F.lit(
                f"corr_matrix({cols[i]},{cols[j]}): a derived moment "
                f"exceeds 2^53 — the decimal->double cast may "
                f"double-round differently per engine; lower the "
                f"quantization scale"))
            .cast("bigint")).otherwise(corr_u)
        structs.append(F.struct(
            F.lit(cols[i]).alias("feat_a"), F.lit(cols[j]).alias("feat_b"),
            F.col(f"n_{tag}").alias("n"), corr_u.alias("corr_u")))

    return (one.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.feat_a", "p.feat_b", "p.n", "p.corr_u"))


def chi2_scores(df: DataFrame, feature_cols, label_col: str) -> DataFrame:
    """Chi-square independence score of each categorical feature column
    against a categorical label — the classic sklearn-``chi2``-style
    filter screen, computed distributively with EXACT integer
    arithmetic.

    Uses the zero-cell-free expansion ``χ² = Σ_observed O²·N/(r·c) − N``
    (unobserved cells contribute 0 to ``Σ O²/E``), so only the observed
    contingency cells — bounded by |values|·|labels|, never corpus rows
    — flow through the plan.  Each term is micro-quantized by staged
    truncating division (``t1 = (10⁶·O²) // r``; ``term = (t1·N) // c``
    — every intermediate ≤ ~10³⁰ at N = 10¹², inside decimal(38,0) /
    hugeint; the log-rank three-stage idiom, PLANS.md session 10), so
    the score is associative and engine-bit-identical; the staging
    defect is ≤ |cells|·1e-6 in χ² units.  Null feature values and null
    labels group as their own category (both engines keep null groups).

    Returns one row per feature: ``(feature, n, dof, chi2_micro)`` with
    ``dof = (|values|−1)·(|labels|−1)`` counting the null category.

    Plan shape: ONE Expand scan (``stack``) over the |features| columns
    → map-side-combined cell counts → marginals as windows over the
    cell-bounded relation (joins would re-derive the cells subtree and
    re-scan the corpus once per marginal) → per-feature aggregate.
    Nothing corpus-sized shuffles except the first cell aggregation.
    """
    from ..functions.util import DEC38, trunc_div

    feats = list(feature_cols)
    if not feats or label_col in feats:
        raise ValueError("feature_cols must be non-empty and exclude "
                         "the label")
    stacked = df.select(
        F.col(label_col).cast("string").alias("__y"),
        F.stack(F.lit(len(feats)),
                *[c for f in feats
                  for c in (F.lit(f), F.col(f).cast("string"))])
        .alias("feature", "__v"))
    from pyspark.sql import Window

    cells = (stacked.groupBy("feature", "__v", "__y")
             .agg(F.count("*").cast(DEC38).alias("o")))
    # marginals as WINDOWS over the cell relation, NOT joins back to it:
    # a join re-derives the cells subtree per marginal and re-scans the
    # corpus 4x (the session-8 scan-hazard class); windows share one
    # child.  Window partitioning also keeps null categories natively
    # (no null-safe-join footgun).  All three windows are over the
    # |values|x|labels|-bounded relation, never corpus rows.
    wr = Window.partitionBy("feature", "__v")
    wc = Window.partitionBy("feature", "__y")
    wf = Window.partitionBy("feature")
    t1 = trunc_div(F.lit(1_000_000).cast(DEC38) * F.col("o") * F.col("o"),
                   F.sum("o").over(wr))
    marked = cells.select(
        "feature", "__v", "__y", "o",
        trunc_div(t1 * F.sum("o").over(wf),
                  F.sum("o").over(wc)).alias("__t"))
    return (marked.groupBy("feature")
            .agg(F.sum("o").alias("__n"),
                 F.sum("__t").alias("__s"),
                 (F.count_distinct("__v")
                  + F.max(F.when(F.col("__v").isNull(), 1).otherwise(0)))
                 .alias("__nv"),
                 (F.count_distinct("__y")
                  + F.max(F.when(F.col("__y").isNull(), 1).otherwise(0)))
                 .alias("__ny"))
            .select("feature", F.col("__n").cast("long").alias("n"),
                    ((F.col("__nv") - 1) * (F.col("__ny") - 1))
                    .cast("long").alias("dof"),
                    (F.col("__s") - F.col("__n") * F.lit(1_000_000))
                    .cast("long").alias("chi2_micro")))


def split_candidates(df: DataFrame, feature_cols, label_col: str,
                     x_scales=2, y_scale: int = 0,
                     out_scale: int = 4) -> DataFrame:
    """Decision-stump split search: for every feature and every candidate
    threshold, the variance-reduction gain of the binary split ``x <= t``
    against a numeric label — the CART regression-split primitive
    (Breiman et al. 1984, §8.3) and the standard univariate screen for
    "does this feature carry signal about the target at any cutpoint".

    Exact-integer contract (the repo discipline): with quantized label
    ``q = floor(y·10^ys + 0.5)`` and per-feature totals ``n, S``, a
    candidate split at threshold t has left moments ``(nL, SL)`` (prefix
    sums over the |distinct x|-bounded relation) and

        ``gain_n = BSS·n = (SL·nR − SR·nL)² / (nL·nR)``

    — the between-group sum of squares scaled by the per-feature constant
    n, so its argmax over thresholds is the argmax of BSS (equivalently
    the within-SSE minimizer).  Emitted as ``gain_n_u = trunc_div(diff²·
    10^out, nL·nR·10^(2·ys))`` — label² units at ``10^-out`` — every term
    an exact decimal(38,0) integer, bit-identical across engines and
    partitionings.

    Overflow guard (in-plan, corr_matrix-style): ``diff²·10^max(out,0)``
    must stay inside decimal(38,0), i.e. ``|diff| ≤
    isqrt(10^(38−max(out,0)))`` with ``diff ≤ Σ|q|·n`` — the
    ``raise_error`` fires (rather than silently nulling) beyond.
    ``out_scale`` may be NEGATIVE: the emitted gain is then in
    ``10^|out|`` label² units, which keeps n²·Var-magnitude gains inside
    int64 for large × high-magnitude labels.  For 10^12-row corpora drop
    ``y_scale`` (coarser label quanta) and use a negative ``out_scale``;
    the candidate relation itself is |features|·|distinct x_q| rows —
    pre-bin continuous features (``encoding.quantile_bin``) to bound it.

    Plan shape: one map-only explode (feature stack) → ONE shuffle
    (groupBy feature,xq) → per-feature ordered window over the distinct-
    value relation → arithmetic.  Corpus rows never shuffle twice; at
    10^12 rows the window partition is |distinct x| per feature, not n.

    Rows with a null feature value or null label are excluded per
    feature (pairwise-complete — the :func:`corr_matrix` convention).
    Returns ``(feature, threshold_u, n_left, n_right, gain_n_u)`` —
    threshold in quantized-x units; the split is ``x_q <= threshold_u``;
    the max-x candidate (empty right side) is omitted.
    """
    from pyspark.sql import Window

    from ..functions.util import as_list, trunc_div

    cols = as_list(feature_cols)
    if not cols:
        raise ValueError("split_candidates needs at least one feature")
    if isinstance(x_scales, int):
        x_scales = {c: x_scales for c in cols}
    missing = [c for c in cols if c not in x_scales]
    if missing:
        raise ValueError(f"no quantization scale for {missing}")

    dec = "decimal(38,0)"
    stacked = (df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("feature"),
                 quantize(F.col(c), x_scales[c]).alias("xq"),
                 quantize(F.col(label_col), y_scale).alias("yq"))
        for c in cols])).alias("s"))
        .select("s.feature", "s.xq", "s.yq")
        .where(F.col("xq").isNotNull() & F.col("yq").isNotNull()))
    per_x = stacked.groupBy("feature", "xq").agg(
        F.count("*").cast(dec).alias("c"),
        F.sum(F.col("yq").cast(dec)).alias("sy"))
    wp = (Window.partitionBy("feature").orderBy("xq")
          .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("feature")
    run = per_x.select(
        "feature", "xq",
        F.sum("c").over(wp).alias("nl"),
        F.sum("sy").over(wp).alias("sl"),
        F.sum("c").over(wall).alias("n"),
        F.sum("sy").over(wall).alias("s"))
    cand = run.where(F.col("nl") < F.col("n"))
    nr = (F.col("n") - F.col("nl")).alias("nr")
    sr = F.col("s") - F.col("sl")
    diff = F.col("sl") * nr - sr * F.col("nl")
    # out_scale may be NEGATIVE (gain in 10^|out| label^2 units) so that
    # n^2·Var-magnitude gains still fit int64 — the factor then belongs
    # in the denominator (still one exact trunc_div)
    num_exp, den_exp = max(out_scale, 0), max(-out_scale, 0)
    num = diff * diff * F.lit(10 ** num_exp).cast(dec)
    den = (F.col("nl") * nr
           * F.lit(10 ** (2 * y_scale + den_exp)).cast(dec))
    gain = trunc_div(num, den).cast("bigint")
    # only the numerator can overflow decimal(38,0): diff²·10^num_exp
    # (bound can exceed int64 — ship it as a string-typed literal)
    bound = _isqrt_pow10(38 - num_exp)
    gain = F.when(
        F.abs(diff) > F.lit(str(bound)).cast(dec),
        F.raise_error(F.lit(
            "split_candidates: |SL*nR - SR*nL| exceeds the "
            "decimal(38,0) headroom for this out_scale/y_scale - "
            "coarsen y_scale or lower out_scale"))
        .cast("bigint")).otherwise(gain)
    return cand.select(
        "feature", F.col("xq").cast("bigint").alias("threshold_u"),
        F.col("nl").cast("bigint").alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        gain.alias("gain_n_u"))


def _isqrt_pow10(exp: int) -> int:
    import math
    return math.isqrt(10 ** exp)


def best_splits(cand: DataFrame) -> DataFrame:
    """Rank-1 selection over a :func:`split_candidates` relation: the
    highest-gain threshold per feature, ties to the SMALLEST threshold
    (deterministic, engine-order free).  One window over the candidate
    relation (|features|·|distinct x| rows, never the corpus)."""
    from pyspark.sql import Window

    rk = Window.partitionBy("feature").orderBy(
        F.col("gain_n_u").desc(), F.col("threshold_u").asc())
    return (cand.withColumn("__rk", F.row_number().over(rk))
            .where(F.col("__rk") == 1).drop("__rk"))


def spearman_corr(df: DataFrame, col_a: str, col_b: str,
                  scales=6, out_scale: int = 6,
                  shrink_pow: int = 0) -> DataFrame:
    """Exact-contract Spearman rank correlation between two numeric
    columns — the robust (monotone-invariant) twin of
    :func:`corr_matrix`'s Pearson: outlier-heavy features correlate on
    RANKS, not magnitudes (Spearman 1904).

    Determinism pipeline (every step integer-exact, then ONE IEEE
    tree):

    1. pairwise-complete rows, both columns quantized;
    2. per-column midranks from the |distinct value|-bounded census
       (DOUBLED to stay integer under ties: ``2·mid = 2·cum + w + 1``,
       the ``drift.mwu_stat`` idiom), broadcast-joined back;
    3. doubled midranks normalized to [0, 10^6] by one ``trunc_div``
       (bounds every moment independently of n's magnitude);
    4. exact decimal Pearson moments over the normalized integer
       ranks;
    5. ``num/denx/deny`` each truncated by ``10^shrink_pow`` (exact,
       identical in both engines) to fit the 2^53 double-cast bound —
       an in-plan ``raise_error`` fires if they still exceed it;
       relative truncation error ≤ 10^(shrink_pow)/|moment|, i.e.
       negligible when the guard passes;
    6. one fixed IEEE tree ``corr = num/√(denx·deny)``, micro-quantized.

    Sizing: the derived moments grow ~n²·10^12, so pick
    ``shrink_pow ≥ 2·log10(n) − 3.9`` — 0 holds to n ≈ 90, 3 to
    n ≈ 3·10^3, 8 to n ≈ 10^6, 21 through n ≈ 10^12 (truncation
    error stays ≤ ~10^-15 relative because the guard keeps ~16
    significant digits).
    Returns one row: ``(n_pairs, rho_u)`` (null when either side is
    constant or n < 2).
    """
    from pyspark.sql import Window

    from ..functions.util import trunc_div

    dec = "decimal(38,0)"
    if isinstance(scales, int):
        scales = {col_a: scales, col_b: scales}
    base = (df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
            .select(quantize(F.col(col_a), scales[col_a]).alias("qa"),
                    quantize(F.col(col_b), scales[col_b]).alias("qb")))

    def ranked(rel, col, out):
        cen = rel.groupBy(col).agg(F.count("*").alias("__w"))
        wax = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, 0)
        axis = cen.select(
            col,
            (F.lit(2).cast(dec)
             * (F.sum("__w").over(wax) - F.col("__w")).cast(dec)
             + F.col("__w") + 1).alias("__r2"),
            F.sum("__w").over(Window.partitionBy(F.lit(1)))
            .cast(dec).alias("__n2x"))
        # normalized rank in [0, 1e6]: trunc_div(r2·1e6, 2N)
        axis = axis.select(col, trunc_div(
            F.col("__r2") * F.lit(1_000_000).cast(dec),
            F.lit(2).cast(dec) * F.col("__n2x")).alias(out))
        return rel.join(F.broadcast(axis), [col])

    rr = ranked(ranked(base, "qa", "ra"), "qb", "rb")
    agg = rr.agg(
        F.count("*").cast(dec).alias("n"),
        F.coalesce(F.sum("ra"), F.lit(0).cast(dec)).alias("sa"),
        F.coalesce(F.sum("rb"), F.lit(0).cast(dec)).alias("sb"),
        F.coalesce(F.sum(F.col("ra") * F.col("rb")),
                   F.lit(0).cast(dec)).alias("sab"),
        F.coalesce(F.sum(F.col("ra") * F.col("ra")),
                   F.lit(0).cast(dec)).alias("saa"),
        F.coalesce(F.sum(F.col("rb") * F.col("rb")),
                   F.lit(0).cast(dec)).alias("sbb"))
    n = F.col("n")
    num = n * F.col("sab") - F.col("sa") * F.col("sb")
    denx = n * F.col("saa") - F.col("sa") * F.col("sa")
    deny = n * F.col("sbb") - F.col("sb") * F.col("sb")
    g = F.lit(10 ** shrink_pow).cast(dec)
    nx, dx, dy = (trunc_div(num, g), trunc_div(denx, g),
                  trunc_div(deny, g))
    two53 = F.lit(str(1 << 53)).cast(dec)
    rho = (nx.cast("double")
           / F.sqrt(dx.cast("double") * dy.cast("double")))
    rho_u = F.when((dx > 0) & (dy > 0),
                   F.floor(rho * F.lit(1e6) + F.lit(0.5))
                   .cast("bigint"))
    rho_u = F.when(
        F.greatest(F.abs(nx), dx, dy) > two53,
        F.raise_error(F.lit(
            "spearman_corr: a shrunk moment still exceeds 2^53 - "
            "raise shrink_pow")).cast("bigint")).otherwise(rho_u)
    return agg.select(n.cast("bigint").alias("n_pairs"),
                      rho_u.alias("rho_u"))
