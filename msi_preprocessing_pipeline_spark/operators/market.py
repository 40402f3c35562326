"""Basket co-occurrence and association rules.

The co-occurrence statistics a recommendation / feature pipeline mines
from grouped item sets (orders × parts, sessions × pages, documents ×
entities): pair counts, support, confidence, lift.  All counts are
exact integers and every score is a single double division of exact
integers — engine-portable bit-for-bit.

Scale notes: baskets are assembled with ONE shuffle
(``collect_set`` on the basket key — the per-group state is the
distinct item set, bounded by basket size, with ``max_basket``
dropping degenerate giants under the same documented-recall-loss
discipline as ``dedup``'s ``star_over`` / ``er``'s ``max_block``) and
pairs are expanded JVM-side from each basket array (quadratic only in
BASKET size, never corpus size) into a map-side-combined count.  The
self-join formulation this replaced cost three exchanges for the same
result.  Supports and the rule join are |items|- and |pairs|-bounded
relations AQE can broadcast.

Reference parity: the reference's component-merge stage scores all
component pairs inside a sorted neighborhood before merging
(``components/spectrum/model.py``); this is the same
"group, pair within group, score" shape over basket payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _baskets(df: DataFrame, basket_col: str, item_col: str,
             max_basket: int) -> DataFrame:
    """One row per surviving basket: ``(basket, items)`` with ``items``
    the SORTED distinct item array (sorting makes pair orientation
    ``item_a < item_b`` a free by-product of expansion order).  Null
    baskets/items are excluded (they identify nothing); baskets with
    more than ``max_basket`` distinct items are dropped (documented
    recall guard: one 10^6-item basket would alone emit 5·10^11
    pairs).  ONE shuffle."""
    return (df.where(F.col(basket_col).isNotNull()
                     & F.col(item_col).isNotNull())
            .groupBy(F.col(basket_col).alias("__b"))
            .agg(F.sort_array(F.collect_set(item_col)).alias("__items"))
            .where(F.size("__items") <= max_basket))


def _pair_structs(items):
    """array<struct<item_a, item_b>> of all ordered-by-sort pairs of a
    sorted array — pure JVM nested transform/flatten."""
    return F.flatten(F.transform(
        items,
        lambda x, i: F.transform(
            F.slice(items, i + 2, F.greatest(F.size(items) - i - 1,
                                             F.lit(0))),
            lambda y: F.struct(x.alias("item_a"), y.alias("item_b")))))


def association_rules(df: DataFrame, basket_col: str, item_col: str,
                      min_count: int = 1,
                      max_basket: int = 10_000) -> DataFrame:
    """Directed association rules over basket presence: one row per
    ordered pair ``(antecedent, consequent)`` whose unordered pair
    count passes ``min_count``, with exact counts and

    * ``support``    = n_pair / n_baskets
    * ``confidence`` = n_pair / n_antecedent
    * ``lift``       = n_pair · n_baskets / (n_antecedent · n_consequent)

    All three are single double divisions / products of exact int64
    counts (the lift numerator/denominator run in decimal so
    n_pair·n_baskets cannot wrap int64) — identical across engines.
    ``n_baskets`` and the supports count baskets that SURVIVED the
    ``max_basket`` guard, so scores stay consistent with the pair
    universe.

    Plan: everything derives from the ONE-shuffle basket relation —
    pair counts (JVM expansion), item supports (explode), and the
    1-row basket count; the |items|-bounded support relation joins
    back unhinted (AQE broadcasts).
    """
    # the basket relation feeds THREE branches (supports, basket count,
    # pair expansion): materialize once so the corpus groupBy
    # collect_set shuffle runs one pass, not three
    baskets = _baskets(df, basket_col, item_col, max_basket) \
        .localCheckpoint()
    supports = (baskets.select(F.explode("__items").alias(item_col))
                .groupBy(item_col)
                .agg(F.count("*").alias("n_item")))
    n_baskets = baskets.agg(F.count("*").alias("n_baskets"))
    pairs = (baskets
             .select(F.explode(_pair_structs(F.col("__items")))
                     .alias("__p"))
             .groupBy(F.col("__p.item_a").alias("item_a"),
                      F.col("__p.item_b").alias("item_b"))
             .agg(F.count("*").alias("n_pair"))
             .where(F.col("n_pair") >= min_count))
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"), "n_pair"
    ).unionByName(pairs.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"), "n_pair"))
    out = (directed
           .join(supports.select(F.col(item_col).alias("antecedent"),
                                 F.col("n_item").alias("n_ante")),
                 ["antecedent"])
           .join(supports.select(F.col(item_col).alias("consequent"),
                                 F.col("n_item").alias("n_cons")),
                 ["consequent"])
           .crossJoin(n_baskets))
    # exact decimal numerator so n_pair * n_baskets cannot wrap int64
    num = (F.col("n_pair").cast("decimal(20,0)")
           * F.col("n_baskets").cast("decimal(20,0)"))
    den = (F.col("n_ante").cast("decimal(20,0)")
           * F.col("n_cons").cast("decimal(20,0)"))
    return out.select(
        "antecedent", "consequent", "n_pair", "n_ante", "n_cons",
        "n_baskets",
        (F.col("n_pair").cast("double")
         / F.col("n_baskets").cast("double")).alias("support"),
        (F.col("n_pair").cast("double")
         / F.col("n_ante").cast("double")).alias("confidence"),
        (num.cast("double") / den.cast("double")).alias("lift"))
