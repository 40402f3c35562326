"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time featurization (as-of join +
GMM featurization over the synthesized tokenized-sequence table — the
``BASELINE.json`` input shape, synthesized deterministically; no external
data). ``queries()``/``oracle_sql()`` cover the operator inventory from
SURVEY.md §2 plus the training-data-pipeline operators (dedup + clustering,
similarity, text analysis, decontamination, sampling/splits, packing):
257 queries, 257 with exact DuckDB oracles — relational SQL where expressible,
pinned VALUES goldens (``_golden_oracles.py``) for the seeded-deterministic
pipeline/sketch/ANN operators (the ANN queries additionally have recall
asserted in pytest against exact cosine top-k).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.functions.util import zorder_sql

# ---------------------------------------------------------------------------
# helpers

_EN = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]
_DE = ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu"]
_FR = ["le", "la", "et", "les", "des", "est", "un", "une", "dans"]
_ES = ["el", "la", "de", "que", "y", "los", "es", "un", "una", "por"]


def _uq(col, scale: int = 6):
    """The shared micro-quantized contract idiom — floor(x·10^scale + 0.5)
    as an exact int64 (``functions.util.quantize``); SQL mirror:
    ``cast(floor(x * 1e<scale> + 0.5) as bigint)``."""
    from msi_preprocessing_pipeline_spark.functions.util import quantize

    return quantize(F.col(col) if isinstance(col, str) else col, scale)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ms(col: str):
    """Epoch millis from a parquet TIMESTAMP_NTZ column (session TZ is UTC,
    so the NTZ→TZ cast matches DuckDB's naive epoch_ms)."""
    return F.unix_millis(F.col(col).cast("timestamp"))


def _synth_table(spark: SparkSession, n_sources=3, rows=16, channels=512):
    from msi_preprocessing_pipeline_spark.operators import spectrum as sp
    from msi_preprocessing_pipeline_spark.sources import synthetic

    sources = synthetic.source_plan(n_sources, rows, skew_factor=2)
    df = synthetic.sequences_df(spark, sources, base_channels=channels)
    axes = synthetic.source_axes_for(sources, channels)
    return sp.with_ts(df), axes


# ---------------------------------------------------------------------------
# flagship

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PIT as-of join + GMM featurization (smoke scale)."""
    from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline
    from msi_preprocessing_pipeline_spark.oracle import PipelineConfig

    cfg = PipelineConfig()
    df, axes = _synth_table(spark, n_sources=3, rows=12, channels=512)
    pipe = FeaturePipeline(spark, axes, cfg)
    t_mid = cfg.epoch_base + 6 * cfg.epoch_step
    arts = pipe.fit_pit(df, [cfg.epoch_base, t_mid])
    return pipe.transform(df, arts)


# ---------------------------------------------------------------------------
# queries

def _q_agg_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double").alias("sum_base"),
                 F.sum(dec("l_extendedprice")
                       * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
                 .cast("double").alias("sum_disc"),
                 F.count("*").alias("n_rows")))


def _q_minmax_brand(spark, sf_dir):
    return (_t(spark, sf_dir, "part").groupBy("p_brand")
            .agg(F.min("p_retailprice").cast("double").alias("min_price"),
                 F.max("p_retailprice").cast("double").alias("max_price"),
                 F.count("*").alias("n")))


def _q_weighted_mean_nation(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    dec = F.col("c_acctbal").cast("decimal(18,4)")
    return (cust.join(F.broadcast(nation),
                      cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum(dec).cast("double").alias("sum_bal"),
                 F.count("*").alias("n_cust"))
            .withColumn("avg_bal",
                        F.round(F.col("sum_bal") / F.col("n_cust"), 6)))


def _q_asof_click_purchase(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select("event_id", "user_id",
                      _ms("ts").alias("click_ms")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("user_id", _ms("ts").alias("p_ms"),
                         F.col("value").alias("purchase_value")))
    return asof_join(clicks, purchases, on="user_id", left_ts="click_ms",
                     right_ts="p_ms", value_cols=["purchase_value"],
                     direction="backward", matched_ts_col="purchase_ms")


def _q_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"))


def _q_sessionize(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.windows import session_stats

    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "event_id", _ms("ts").alias("ms")))
    out = session_stats(ev, "user_id", ts_col="ms",
                        gap_seconds=1_800_000.0, tiebreak=["event_id"])
    return out.select("user_id", "session_id",
                      F.col("n_events"),
                      F.col("session_start").alias("start_ms"),
                      F.col("session_end").alias("end_ms"))


def _q_backfill(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.asof import backfill

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") == "click", F.col("value"))
        .alias("click_value"))
    out = backfill(ev, "click_value", "user_id", order_by=["ts", "event_id"])
    return out.select("event_id", "user_id",
                      F.col("click_value").alias("filled_click_value"))


def _q_rolling(spark, sf_dir):
    # window sums of doubles differ by summation ALGORITHM across engines
    # (DuckDB segment tree vs Spark sequential slide) — quantize the input
    # to micro-unit longs so the frame sum is exact and the avg is one
    # fixed division of identical operands (the r4 covariance lesson)
    ev = _t(spark, sf_dir, "events")
    q = _uq("value")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, Window.currentRow))
    return ev.select(
        "event_id", "user_id",
        (F.sum(q).over(w).cast("double")
         / F.count(F.lit(1)).over(w).cast("double")).alias("value_avg_5_u"))


def _q_rolling_time(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.windows import rolling_range

    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id", _ms("ts").alias("ms"),
                  _uq("value").alias("value")))
    # integer micro-units in → frame sums are exact longs; avg derived by
    # one division (Spark's built-in avg(long) would re-accumulate in
    # float64 and reintroduce the combine-order hazard)
    out = rolling_range(ev, "value", "user_id", order_col="ms",
                        preceding=3_600_000, fns=("count", "sum"),
                        suffix="_1h")
    return out.select(
        "event_id", "user_id",
        F.col("value_count_1h").alias("n_1h"),
        F.col("value_sum_1h").alias("sum_1h_u"),
        (F.col("value_sum_1h").cast("double")
         / F.col("value_count_1h").cast("double")).alias("avg_1h_u"))


def _q_training_set(spark, sf_dir):
    """Multi-feature PIT assembly via the FUSED plan (all features in one
    union + one window — 1 shuffle total; pinned result-identical to the
    sequential per-feature as-of composition)."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        FeatureSpec, build_training_set_fused)

    ev = _t(spark, sf_dir, "events")
    spine = (ev.where(F.col("event_type") == "purchase")
             .select("event_id", "user_id", _ms("ts").alias("purchase_ms"),
                     F.col("value").alias("label_value")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", _ms("ts").alias("ms"), "value"))
    views = (ev.where(F.col("event_type") == "view")
             .select("user_id", _ms("ts").alias("ms"), "value"))
    return build_training_set_fused(
        spine, on="user_id", spine_ts="purchase_ms",
        features=[
            FeatureSpec(clicks, ts_col="ms", value_cols=["value"],
                        prefix="click_"),
            FeatureSpec(views, ts_col="ms", value_cols=["value"],
                        prefix="view_"),
        ])


def _q_dup_spans(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.dedup import duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicate_spans(docs, n=8)


def _q_pit_agg_features(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    ev = _t(spark, sf_dir, "events")
    spine = (ev.where(F.col("event_type") == "purchase")
             .select("event_id", "user_id", _ms("ts").alias("purchase_ms")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", _ms("ts").alias("cms"),
                      _uq("value").alias("value")))
    out = pit_window_agg(spine, clicks, on="user_id",
                         spine_ts="purchase_ms", event_ts="cms",
                         value_col="value", window=3_600_000,
                         fns=("count", "sum"), prefix="clk_")
    return out.select(
        "event_id", "user_id", "purchase_ms",
        F.col("clk_count_3600000").alias("n_clicks_1h"),
        F.coalesce(F.col("clk_sum_3600000"), F.lit(0)).cast("long")
        .alias("sum_clicks_1h_u"))


def _q_label_window(spark, sf_dir):
    """Label generation: purchases within 24h AFTER each click (leading
    frame — the forward-looking half of the PIT training set)."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        pit_window_agg)

    ev = _t(spark, sf_dir, "events")
    spine = (ev.where(F.col("event_type") == "click")
             .select("event_id", "user_id", _ms("ts").alias("click_ms")))
    purch = (ev.where(F.col("event_type") == "purchase")
             .select("user_id", _ms("ts").alias("pms"),
                     _uq("value").alias("value")))
    out = pit_window_agg(spine, purch, on="user_id", spine_ts="click_ms",
                         event_ts="pms", value_col="value",
                         window=86_400_000, frame="leading",
                         fns=("count", "sum"), prefix="buy_")
    return out.select(
        "event_id", "user_id", "click_ms",
        F.col("buy_count_86400000").alias("n_purchases_24h"),
        F.coalesce(F.col("buy_sum_86400000"), F.lit(0)).cast("long")
        .alias("sum_purchases_24h_u"),
        (F.col("buy_count_86400000") > 0).alias("converted_24h"))


def _q_multi_source_agg(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.training import (
        EventSource, pit_window_agg_multi)

    ev = _t(spark, sf_dir, "events")
    spine = (ev.where(F.col("event_type") == "purchase")
             .select("event_id", "user_id", _ms("ts").alias("purchase_ms")))
    src = lambda t: ev.where(F.col("event_type") == t).select(  # noqa: E731
        "user_id", _ms("ts").alias("ems"),
        _uq("value").alias("value"))
    out = pit_window_agg_multi(
        spine, on="user_id", spine_ts="purchase_ms",
        sources=[EventSource(src("click"), "ems", "value", "clk_"),
                 EventSource(src("view"), "ems", "value", "vw_")],
        window=3_600_000, fns=("count", "sum"))
    return out.select(
        "event_id", "user_id", "purchase_ms",
        F.col("clk_count_3600000").alias("n_clicks_1h"),
        F.coalesce(F.col("clk_sum_3600000"), F.lit(0)).cast("long")
        .alias("sum_clicks_1h_u"),
        F.col("vw_count_3600000").alias("n_views_1h"),
        F.coalesce(F.col("vw_sum_3600000"), F.lit(0)).cast("long")
        .alias("sum_views_1h_u"))


def _q_cut_dup_spans(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        cut_spans, duplicate_spans)

    docs = _t(spark, sf_dir, "documents")
    return cut_spans(docs, duplicate_spans(docs, n=8))


def _q_mixture_sample(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample(docs, "doc_id", "source",
                         {"src0": 0.5, "src1": 0.3, "src2": 0.2}, seed=7)
    return out.select("doc_id", "source")


def _q_apply_changelog(spark, sf_dir):
    """CDC apply: base snapshot (latest view per user) folded with click
    upserts and error deletes — one union + one window, no join."""
    from msi_preprocessing_pipeline_spark.operators.changelog import (
        apply_changelog)

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    base = (ev.where(F.col("event_type") == "view")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", _ms("ts").alias("ms"), "value", "event_id"))
    changes = (ev.where(F.col("event_type").isin("click", "error"))
               .select("user_id", _ms("ts").alias("ms"), "value",
                       "event_id",
                       F.when(F.col("event_type") == "click", "u")
                       .otherwise("d").alias("op")))
    return apply_changelog(base, changes, key="user_id", ts_col="ms",
                           tiebreak=["event_id"])


def _q_validate_docs(spark, sf_dir):
    """Data-quality expectations over documents: one aggregation pass
    evaluating null/uniqueness/range/set rules -> (rule, violations)."""
    from msi_preprocessing_pipeline_spark.operators import validate as V

    docs = _t(spark, sf_dir, "documents")
    return V.validate(docs, [
        V.not_null("text"),
        V.unique("doc_id"),
        V.in_range("n_chars", 1, 100_000),
        V.one_of("lang", ["en", "de", "fr", "es"]),
        V.matches("source", r"^src\d+$"),
    ])


def _q_fk_checks(spark, sf_dir):
    """Referential-integrity report across the star schema (anti-join
    orphan counts, one row per FK)."""
    from msi_preprocessing_pipeline_spark.operators.validate import (
        check_reference)

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (check_reference(orders, "o_custkey", cust, "c_custkey")
            .unionByName(check_reference(li, "l_partkey", part,
                                         "p_partkey"))
            .unionByName(check_reference(li, "l_orderkey", orders,
                                         "o_orderkey")))


def _q_latest_snapshot(spark, sf_dir):
    """SCD latest-per-key snapshot: each user's most recent event per
    type (row_number desc with event_id tiebreak)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", "event_id",
                    _ms("ts").alias("latest_ms"), "value"))


def _q_bpe_tokenize(spark, sf_dir):
    """BPE tokenizer: fit 40 merges on the corpus word histogram (driver
    loop over the bounded vocab; deterministic tie-breaks), Arrow-encode
    every doc. Golden-pinned — the fit is not SQL-expressible."""
    from msi_preprocessing_pipeline_spark.operators.bpe import (
        encode_bpe, fit_bpe, word_frequencies)

    docs = _t(spark, sf_dir, "documents")
    merges = fit_bpe(word_frequencies(docs), n_merges=40)
    enc = encode_bpe(docs, merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe"),
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 5)).alias("head"))


def _q_theta_overlap(spark, sf_dir):
    """Audience overlap from theta sketches (exact below the 4096-entry
    nominal, so the relational oracle's true counts match exactly)."""
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        theta_overlap)

    ev = _t(spark, sf_dir, "events")
    out = theta_overlap(ev, "user_id", "event_type", "click", "purchase")
    return out.select(*[F.col(c).cast("long").alias(c)
                        for c in out.columns])


def _q_cms_counts(spark, sf_dir):
    """Count-Min sketch point queries: estimated vs exact event counts for
    ten users. The sketch is merge-order invariant (elementwise add), so
    the whole row set is deterministic and golden-pinned."""
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        CountMinSketch, count_min)

    ev = _t(spark, sf_dir, "events")
    sketch_row = count_min(ev, "user_id", eps=1e-3, confidence=0.99,
                           seed=42).first()
    cms = CountMinSketch.from_bytes(bytes(sketch_row["cms"]))
    users = list(range(10))
    ests = cms.estimate(users)
    exact = {r["user_id"]: r["n"] for r in
             ev.where(F.col("user_id") < 10).groupBy("user_id")
             .agg(F.count("*").alias("n")).collect()}
    return spark.createDataFrame(
        [(u, int(e), int(exact.get(u, 0))) for u, e in zip(users, ests)],
        schema="user_id long, est_count long, exact_count long")


def _q_approx_distinct(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.sketches import approx_distinct

    ev = _t(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    hll = approx_distinct(ev, "user_id", "event_type", lg_k=12,
                          out_col="n_hll")
    return exact.join(hll, "event_type")


def _q_exact_quantiles(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.quantiles import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    qs = [0.25, 0.5, 0.75, 0.9]
    vals = exact_quantiles(li, "l_extendedprice", qs)
    return spark.createDataFrame(
        [(float(q), float(round(v, 6))) for q, v in zip(qs, vals)],
        schema="q double, value double")


def _q_dedup_prefix(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    key = F.substring(F.lower(F.col("text")), 1, 16).alias("prefix_key")
    return (docs.groupBy(key)
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("group_size")))


def _q_text_stats(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    out = tx.quality_metrics(docs)
    return out.select("doc_id",
                      F.col("n_words").cast("long").alias("n_words"),
                      F.col("n_nospace").cast("long").alias("n_nospace"),
                      "punct_ratio", "mean_word_len",
                      tx.fingerprint().alias("fingerprint"))


def _q_lang_id(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.lang_id().alias("lang_pred"))


def _q_ngram_jaccard(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, k=5, threshold=0.2, max_df=100)


def _q_cosine_topk(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=10)


def _q_topk_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (orders.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.col("o_totalprice").cast("double").alias("price"),
                    "rank"))


def _q_rollup_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (orders.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                 .cast("double").alias("total")))


def _q_pivot_event_values(spark, sf_dir):
    # micro-unit integer sums: a distributed float sum combines in
    # task-completion order (the r4 covariance lesson), so the contract
    # quantizes value per row and sums exact longs instead
    ev = _t(spark, sf_dir, "events")
    q = _uq("value")

    def s(t):
        return F.sum(F.when(F.col("event_type") == t, q)
                     .otherwise(F.lit(0).cast("long")))

    return ev.groupBy("user_id").agg(
        s("click").alias("click_sum_u"),
        s("purchase").alias("purchase_sum_u"),
        s("view").alias("view_sum_u"), s("signup").alias("signup_sum_u"),
        s("error").alias("error_sum_u"))


def _q_asof_forward(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select("event_id", "user_id", _ms("ts").alias("click_ms")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("user_id", _ms("ts").alias("p_ms"),
                         F.col("value").alias("next_purchase_value")))
    return asof_join(clicks, purchases, on="user_id", left_ts="click_ms",
                     right_ts="p_ms", value_cols=["next_purchase_value"],
                     direction="forward", matched_ts_col="next_purchase_ms")


def _q_token_counts(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count().cast("long").alias("ws_tokens"),
        tx.bpe_ish_token_count().cast("long").alias("bpe_ish_tokens"))


def _q_near_dup_exact(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.functions import cosine_expr

    emb = _t(spark, sf_dir, "embeddings")
    left = (emb.where(F.col("vec_id") % 7 == 0)
            .select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("v_a")))
    right = emb.select(F.col("vec_id").alias("id_b"),
                       F.col("embedding").alias("v_b"))
    pairs = (right.crossJoin(F.broadcast(left))
             .where(F.col("id_a") < F.col("id_b"))
             .withColumn("cosine",
                         F.round(cosine_expr("v_a", "v_b"), 6))
             .where(F.col("cosine") >= 0.3)
             .select("id_a", "id_b", "cosine"))
    return pairs


def _q_range_count(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.sum(F.when(F.col("l_quantity").between(10, 30), 1)
                       .otherwise(0)).alias("n_in_range"),
                 F.count("*").alias("n_total")))


def _q_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count("*").alias("n_events")))


def _q_customers_without_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 300000)
    return (cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


def _q_user_key_overlap(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"))
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"))
    inter = ev.intersect(cust).withColumn("setop", F.lit("intersect"))
    exc = ev.subtract(cust).withColumn("setop", F.lit("except"))
    return inter.unionByName(exc)


def _q_median_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.percentile("value", F.lit(0.5)), 6)
                 .alias("median_value"),
                 F.round(F.percentile("value", F.lit(0.9)), 6)
                 .alias("p90_value")))


def _q_json_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"))


def _q_hash_sample(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", fraction=0.2, seed=7) \
        .select("doc_id", "lang")


def _q_stable_split(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.sampling import stable_split

    ev = _t(spark, sf_dir, "events")
    out = stable_split(ev, "user_id",
                       {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
    return out.select("event_id", "user_id", "split")


def _q_range_join(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.joins import range_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("price"))
    bands = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice") * 30).cast("double").alias("lo"),
        (F.col("p_retailprice") * 30 + 500).cast("double").alias("hi"))
    joined = range_join(li, bands, "price", "lo", "hi", bucket_width=500.0)
    return joined.groupBy("p_partkey").agg(F.count("*").alias("n_in_band"))


def _q_repetition_stats(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    return tx.repetition_metrics(docs, n=2)


def _q_pack_assignments(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import text as tx
    from msi_preprocessing_pipeline_spark.operators.packing import (
        pack_assignments)

    docs = _t(spark, sf_dir, "documents")
    with_len = docs.select("doc_id", tx.token_count().alias("n_tok"))
    return pack_assignments(with_len, budget=256)


def _q_packing_stats(spark, sf_dir):
    """Packing-efficiency report at budget 256 over whitespace token
    counts — exact ints, two divisions."""
    from msi_preprocessing_pipeline_spark.operators import text as tx
    from msi_preprocessing_pipeline_spark.operators.packing import (
        packing_stats)

    docs = _t(spark, sf_dir, "documents")
    with_len = docs.select("doc_id", tx.token_count().alias("n_tok"))
    return packing_stats(with_len, budget=256)


def _q_zipf_fit(spark, sf_dir):
    """Zipf-slope corpus statistic over the hash-tokenized unigram
    spectrum. scale=5 keeps every OLS moment sum under 2^53, so the
    decimal→double casts agree across engines and the nano-quantized
    outputs compare exactly."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        hash_tokenize, zipf_fit)

    docs = _t(spark, sf_dir, "documents")
    out = zipf_fit(hash_tokenize(docs), top_n=500, scale=5)
    u9 = lambda c: _uq(c, 9)  # noqa: E731
    return out.select("n_ranks", u9("slope").alias("slope_u"),
                      u9("intercept").alias("intercept_u"),
                      u9("r2").alias("r2_u"))


def _q_pii_scan(spark, sf_dir):
    """PII scan + redaction over documents with deterministically injected
    PII (the synthetic corpus contains none) — the pre-training scrub pass:
    per-kind counts and the redacted length, all JVM regexp codegen."""
    from msi_preprocessing_pipeline_spark.operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("@example.com"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" from 10.0.0.1"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" ssn 123-45-6789"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" call 555-867-5309"))
            .otherwise(F.lit("")),
        ).alias("text"))
    return (tx.pii_metrics(injected)
            .withColumn("redacted_len",
                        F.length(tx.redact_pii()).cast("long"))
            .select("doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4",
                    "pii_total", "redacted_len"))


def _q_cube_doc_stats(spark, sf_dir):
    """CUBE aggregation (all grouping-set combinations of source x lang) —
    the corpus-report shape: totals, per-source, per-lang, per-cell."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.cube("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars")))


def _q_value_quartiles(spark, sf_dir):
    """ntile + percent_rank window ranks (total order via event_id
    tiebreak, so both are engine-reproducible)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"))


def _q_quality_topk(spark, sf_dir):
    """Per-source quota curation: keep the top-5 docs of every source by a
    quality score (length x cleanliness) — the 'best N per domain' pass."""
    from msi_preprocessing_pipeline_spark.operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    q = tx.quality_metrics(docs).select(
        "doc_id", F.col("n_words").cast("long").alias("n_words"),
        "punct_ratio")
    joined = docs.select("doc_id", "source").join(q, "doc_id")
    score = F.round(F.col("n_words").cast("double")
                    * (F.lit(1.0) - F.col("punct_ratio")), 6)
    w = Window.partitionBy("source").orderBy(F.col("score").desc(),
                                             F.col("doc_id").asc())
    return (joined.withColumn("score", score)
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 5)
            .select("source", "doc_id", "score", "rank"))


def _q_stratified_sample(spark, sf_dir):
    """Per-language sampling rates (downsample dominant en, keep rare fr) —
    the corpus-mixing primitive; partition-invariant hash bands."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        stratified_sample)

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang",
        rates={"en": 0.3, "de": 0.6, "fr": 1.0}, seed=5,
        default_rate=0.15).select("doc_id", "lang")


def _q_quality_filter(spark, sf_dir):
    """Composite Gopher-style corpus curation decision: length bounds,
    word-shape bounds, punctuation ratio, and n-gram repetition caps
    combined into one keep/drop relation — the filter pass a training-data
    pipeline runs before tokenization."""
    from msi_preprocessing_pipeline_spark.operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    q = (tx.quality_metrics(docs)
         .select("doc_id", F.col("n_words").cast("long").alias("n_words"),
                 "mean_word_len", "punct_ratio"))
    r = tx.repetition_metrics(docs, n=2)
    keep = ((F.col("n_words") >= 10) & (F.col("n_words") <= 5000)
            & (F.col("mean_word_len") >= 2.0)
            & (F.col("mean_word_len") <= 12.0)
            & (F.col("punct_ratio") <= 0.2)
            & (F.col("top_ngram_frac") <= 0.3)
            & (F.col("dup_ngram_frac") <= 0.6))
    return (q.join(r, "doc_id")
            .withColumn("keep", keep)
            .select("doc_id", "n_words", "mean_word_len", "punct_ratio",
                    "top_ngram_frac", "dup_ngram_frac", "keep"))


def _q_tfidf_top_terms(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    return tx.tfidf_top_terms(docs, k_terms=5)


def _q_decontaminate(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 41 == 0)
    train = docs.where(~(F.col("doc_id") % 41 == 0))
    return decontaminate(train, bench, k=5, min_common=3)


# ---- rows-only (non-SQL-expressible: sketches, seeded MC, PIT pipeline) ----


def _q_smooth_and_peaks(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.oracle import PipelineConfig
    from msi_preprocessing_pipeline_spark.operators import spectrum as sp
    from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline

    cfg = PipelineConfig()
    df, axes = _synth_table(spark, n_sources=2, rows=8, channels=512)
    pipe = FeaturePipeline(spark, axes, cfg)
    mz = pipe.common_axis()
    stage_a = sp.resample_baseline_stage(df, axes, mz, cfg)
    smoothed = sp.smooth_stage(stage_a, "spectrum", window=7, order=2)
    peaks = sp.detect_peaks_stage(smoothed, mz, vec_col="smoothed")
    return peaks.select("doc_id", "source", "ts",
                        F.size("peak_indices").alias("n_peaks"))

def _feature_scalars(df: DataFrame) -> DataFrame:
    """Project the feature vector to sortable scalars so the driver's
    canonicalizer (pandas sort over all columns) can hash it: keys +
    ``size(features)`` + an md5 digest of the values at 4 significant
    digits (robust to partitioning-order float noise in the fit)."""
    digest = F.md5(F.concat_ws(",", F.transform(
        "features", lambda x: F.format_string("%.3e", x.cast("double")))))
    return df.select(
        "doc_id", "source", "ts", "artifact_version",
        F.size("features").alias("n_features"),
        digest.alias("feat_digest"))


def _q_pit_features(spark, sf_dir):
    return _feature_scalars(entry(spark))


def _q_batch_features(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline
    from msi_preprocessing_pipeline_spark.oracle import PipelineConfig

    df, axes = _synth_table(spark, n_sources=2, rows=10, channels=512)
    out = FeaturePipeline(spark, axes, PipelineConfig()).fit_transform(df)
    return _feature_scalars(out)


def _q_tic_outliers(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.oracle import PipelineConfig
    from msi_preprocessing_pipeline_spark.operators import spectrum as sp
    from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline

    cfg = PipelineConfig()
    df, axes = _synth_table(spark, n_sources=2, rows=12, channels=512)
    pipe = FeaturePipeline(spark, axes, cfg)
    stage_a = sp.resample_baseline_stage(df, axes, pipe.common_axis(), cfg)
    thr = sp.tic_outlier_thresholds(stage_a, seed=cfg.outlier_seed)
    return (sp.with_inlier_mask(stage_a, thr)
            .select("doc_id", "source", "ts", F.round("tic", 4).alias("tic"),
                    "is_inlier"))


def _q_minhash_pairs(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, n_hashes=64, shingle_words=3)
    return dedup.minhash_lsh_pairs(sigs, bands=16, threshold=0.3)


def _q_incremental_minhash(spark, sf_dir):
    """Daily-increment dedup: sign only the 'new' slice (a deterministic
    1-in-5 hash split of documents), band-join it against the full
    signature store, emit every verified pair touching a new doc. The
    union of these pairs across increments equals the one-shot
    minhash_pairs run — pinned by test_incremental_minhash_equivalence;
    the golden pins this increment's exact pairs."""
    from msi_preprocessing_pipeline_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    is_new = F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0
    prior_sigs = dedup.minhash_signatures(
        docs.where(~is_new), n_hashes=64, shingle_words=3)
    _, pairs = dedup.incremental_minhash_pairs(
        docs.where(is_new), prior_sigs, n_hashes=64, shingle_words=3,
        bands=16, threshold=0.3)
    return pairs


def _q_phash_near_dup(spark, sf_dir):
    """Multimodal near-dup: deterministic synthetic PNM images (grouped
    near-duplicates) decoded by the REAL pure-numpy decoder → pHash64 →
    pigeonhole banded Hamming join (the SimHash machinery reused over the
    phash column)."""
    from msi_preprocessing_pipeline_spark.operators import multimodal as mm
    from msi_preprocessing_pipeline_spark.operators.text import (
        rebalance_for_cpu)

    docs = _t(spark, sf_dir, "documents")
    # synth+DCT are the CPU-heavy Python path: a single-file input would
    # serialize them onto one task (the rebalance_for_cpu discipline);
    # the hash is per-row deterministic, so partitioning can't change it
    ids = rebalance_for_cpu(docs.select("doc_id"))
    media = mm.synth_media_from_ids(ids, n_groups=200)
    hashes = mm.phash64(media, decoder="real", id_col="doc_id")
    return mm.phash_near_pairs(hashes, id_col="doc_id", max_hamming=6)


def _q_passage_windows(spark, sf_dir):
    """Sliding char-window passages (retrieval corpus prep) — map-only
    sequence+posexplode+substring, no shuffle."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        passage_windows)

    docs = _t(spark, sf_dir, "documents")
    return passage_windows(docs, window_chars=120, overlap=20)


def _q_attribution(spark, sf_dir):
    """First/last-touch attribution of purchases to clicks within 1h —
    union + ONE window (min/max struct over a trailing range frame)."""
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        attribution)

    ev = _t(spark, sf_dir, "events")
    conv = (ev.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", _ms("ts").alias("ms")))
    tch = (ev.where(F.col("event_type") == "click")
           .select("event_id", "user_id", _ms("ts").alias("ms")))
    return attribution(conv, tch, conv_ts="ms", touch_ts="ms",
                       horizon_ms=3_600_000)


def _q_attribution_decay(spark, sf_dir):
    """Time-decay multi-touch attribution of purchases to clicks within
    1h (halflife 10 min): power-of-two exact weights, Hamilton-split
    micro credits that sum to exactly 1e6 per conversion."""
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        attribution_shares)

    ev = _t(spark, sf_dir, "events")
    conv = (ev.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", _ms("ts").alias("ms")))
    tch = (ev.where(F.col("event_type") == "click")
           .select("event_id", "user_id", _ms("ts").alias("ms")))
    return attribution_shares(conv, tch, model="time_decay",
                              horizon_ms=3_600_000,
                              halflife_ms=600_000)


def _q_rfm(spark, sf_dir):
    """Classic RFM (recency / frequency / monetary) user features:
    exact per-user aggregates (monetary micro-quantized before the
    sum), then 5-bin exact-quantile-edge discretization of each axis
    via encoding.quantile_bin — fully composed from existing
    operators."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        quantile_bin)

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(_ms("ts")).alias("r_ms"),
        F.count("*").alias("f"),
        F.coalesce(F.sum(F.floor(F.col("value") * 1e6 + 0.5)
                         .cast("long")), F.lit(0)).alias("m_micro"))
    out = quantile_bin(u, "r_ms", 5, out_col="r_bin")
    out = quantile_bin(out, "f", 5, out_col="f_bin")
    out = quantile_bin(out, "m_micro", 5, out_col="m_bin")
    return out.select("user_id", "r_ms", "f", "m_micro",
                      "r_bin", "f_bin", "m_bin")


def _q_weighted_jaccard(spark, sf_dir):
    """Exact weighted (multiset) Jaccard near-dup pairs over word
    3-gram tf vectors, hot-shingle capped at df 100 — all-integer
    Σmin/Σmax contract, no float division anywhere."""
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        weighted_jaccard_pairs)

    docs = _t(spark, sf_dir, "documents")
    return weighted_jaccard_pairs(docs, k=3, threshold=0.3, max_df=100)


def _q_dup_census(spark, sf_dir):
    """Per-source exact-duplicate census: how much of each source is
    verbatim-repeated text (the pre-dedup corpus-health readout).
    Rates are exact micro integers via trunc_div."""
    from msi_preprocessing_pipeline_spark.functions.util import (
        DEC38, trunc_div)

    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("text").alias("n_texts"),
        F.count_distinct("text").alias("n_unique"))
    dup = (F.col("n_texts") - F.col("n_unique")).cast(DEC38)
    return g.select(
        "source", "n_docs", "n_texts", "n_unique",
        F.when(F.col("n_texts") > 0,
               trunc_div(F.lit(1_000_000).cast(DEC38) * dup,
                         F.col("n_texts").cast(DEC38)).cast("long"))
        .alias("dup_rate_micro"))


def _q_cond_entropy(spark, sf_dir):
    """Per-source bigram conditional entropy H(next|current) of the
    hash-tokenized stream — nano-quantized c*ln(c) terms summed as
    exact decimals, trunc_div final ratio."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        conditional_entropy, hash_tokenize)

    docs = _t(spark, sf_dir, "documents")
    tok = hash_tokenize(docs, vocab_size=4096, seed=7,
                        keep_cols=("source",))
    return conditional_entropy(tok, "source")


def _q_worst_span(spark, sf_dir):
    """Span-level quality localization: each doc's worst 16-bigram
    window under the corpus add-k bigram LM — nano-quantized ln p
    window sums, min-struct argmin, earliest-span tie break."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        hash_tokenize, worst_span)

    docs = _t(spark, sf_dir, "documents")
    tok = hash_tokenize(docs, vocab_size=4096, seed=7)
    return worst_span(tok, w=16, k=0.5, vocab_size=4096)


def _q_cusum_changepoint(spark, sf_dir):
    """Per-user CUSUM changepoint over the event-value stream: the row
    where |n*prefix - i*S| peaks — all exact decimal integers, so the
    located break is engine/partition bit-identical."""
    from msi_preprocessing_pipeline_spark.operators.drift import (
        cusum_changepoint)

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value")
    return cusum_changepoint(ev, "user_id", "ts", "value", scale=6,
                             tiebreak=["event_id"])


def _q_best_splits(spark, sf_dir):
    """CART-style best variance-reduction split per lineitem feature
    against the extendedprice label — candidate gains as exact integers
    (BSS·n in 10^6 price² units), rank-1 per feature, ties to the
    smallest threshold."""
    from msi_preprocessing_pipeline_spark.operators.featsel import (
        best_splits, split_candidates)

    li = _t(spark, sf_dir, "lineitem")
    cand = split_candidates(
        li, ["l_quantity", "l_discount", "l_tax"], "l_extendedprice",
        x_scales=2, y_scale=0, out_scale=-6)
    return best_splits(cand)


def _q_time_weighted_mean(spark, sf_dir):
    """Per-user duration-weighted (sample-and-hold) mean of event
    values — holding-interval integer weights x micro-quantized values,
    one truncating division at the end."""
    from msi_preprocessing_pipeline_spark.operators.windows import (
        time_weighted_mean)

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value")
    return time_weighted_mean(ev, "value", "user_id", "ts",
                              tiebreak=["event_id"])


def _q_oof_target_encode(spark, sf_dir):
    """Cross-fitted (out-of-fold) target-encoding table for event_type
    against value, folds group-stable on user_id — each cell's mean
    comes only from the OTHER folds (the self-label leak blocked)."""
    from msi_preprocessing_pipeline_spark.operators.cv import group_kfold
    from msi_preprocessing_pipeline_spark.operators.training import (
        oof_target_stats)

    ev = group_kfold(_t(spark, sf_dir, "events"), "user_id",
                     n_folds=5, seed=7)
    return oof_target_stats(ev, "event_type", "value", "fold")


def _q_sax(spark, sf_dir):
    """SAX shape tokens per user value-series: 8-segment PAA,
    4-letter Gaussian alphabet — exact decimal moments, one fixed
    IEEE z tree, frozen breakpoint literals."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        sax_symbols)

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value")
    return sax_symbols(ev, "value", "user_id", "ts", n_segments=8,
                       alphabet_size=4, scale=3, tiebreak=["event_id"])


def _sax_sql() -> str:
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        sax_breakpoints)

    b1, b2, b3 = (repr(b) for b in sax_breakpoints(4))
    return f"""
        with obs as (
            select user_id, event_id, epoch_ms(ts) as ms,
                   cast(floor(value * 1000 + 0.5) as hugeint) as q
            from events where ts is not null and value is not null
        ), pos as (
            select user_id, q,
                   row_number() over (partition by user_id
                                      order by ms, event_id) - 1 as i,
                   count(*) over (partition by user_id) as L
            from obs
        ), seg as (
            select user_id, q,
                   cast((i * 8) // L as int) as segment
            from pos
        ), per_seg as (
            select user_id, segment,
                   cast(count(*) as bigint) as n_in_seg,
                   sum(q) as s, sum(q * q) as ss
            from seg group by 1, 2
        ), tot as (
            select user_id, segment, n_in_seg, s,
                   sum(cast(n_in_seg as hugeint))
                       over (partition by user_id) as ld,
                   sum(s) over (partition by user_id) as sg,
                   sum(ss) over (partition by user_id) as ssg
            from per_seg
        ), zc as (
            select user_id, segment, n_in_seg,
                   case when ld * ssg - sg * sg > 0 then
                       cast(s * ld - sg * cast(n_in_seg as hugeint)
                            as double)
                       / (cast(n_in_seg as double)
                          * sqrt(cast(ld * ssg - sg * sg as double)))
                   end as z
            from tot
        )
        select user_id, segment, n_in_seg,
               case when z is not null then
                   cast(floor(z * 1000000 + 0.5) as bigint) end as z_u,
               case when z is not null then
                   cast((case when z > {b1} then 1 else 0 end)
                        + (case when z > {b2} then 1 else 0 end)
                        + (case when z > {b3} then 1 else 0 end)
                        as int) end as symbol
        from zc
    """


def _q_ps_match(spark, sf_dir):
    """Propensity-style 1-NN matching with replacement: every purchase
    event matched to the view event of nearest value (caliper 0.25) —
    nearest resolved on the distinct-score axis, all-integer ties."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        ps_match)

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("event_type").isin("purchase", "view"))
          .select("event_id",
                  (F.col("event_type") == "purchase").alias("treat"),
                  "value"))
    return ps_match(ev, "treat", "value", "event_id", caliper=0.25)


def _q_quantile_normalize(spark, sf_dir):
    """Cross-source quantile normalization of document lengths: each
    doc's n_chars rank-mapped onto the pooled length distribution —
    integer target ranks against the distinct-value census axis."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        quantile_normalize)

    docs = _t(spark, sf_dir, "documents")
    return quantile_normalize(docs, "source", "n_chars", "doc_id",
                              scale=0)


def _q_benford(spark, sf_dir):
    """Benford first-significant-digit audit of lineitem prices —
    digit from the micro-quantized integer's decimal rendering (no
    log10 anywhere), expected shares as frozen micro literals."""
    from msi_preprocessing_pipeline_spark.operators.profile import (
        benford_profile)

    li = _t(spark, sf_dir, "lineitem")
    return benford_profile(li, "l_extendedprice", scale=6)


def _q_concentration(spark, sf_dir):
    """Training-mix concentration of character mass across sources:
    HHI + Gini + top-share as exact micro integers (decimal sums,
    truncating divisions)."""
    from msi_preprocessing_pipeline_spark.operators.profile import (
        concentration)

    docs = _t(spark, sf_dir, "documents")
    return concentration(docs, "source", "n_chars")


def _q_fs_weights(spark, sf_dir):
    """Fellegi-Sunter record-linkage weights over labeled same-user event
    pairs (label: within the same hour). Counts exact; the ln weights are
    micro-quantized (libm ulp differs across engines)."""
    from msi_preprocessing_pipeline_spark.operators.er import fs_weights

    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id", "event_type", "value",
                  _ms("ts").alias("ms")))
    a, b = ev.alias("a"), ev.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.event_id") < F.col("b.event_id")))
             .select((F.col("a.event_type") == F.col("b.event_type"))
                     .alias("type_agree"),
                     (F.abs(F.col("a.value") - F.col("b.value"))
                      < F.lit(1.0)).alias("val_agree"),
                     (F.abs(F.col("a.ms") - F.col("b.ms"))
                      < F.lit(3_600_000)).alias("is_match")))
    out = fs_weights(pairs, ["type_agree", "val_agree"],
                     label_col="is_match")
    u9 = lambda c: _uq(c, 9)  # noqa: E731
    return out.select("field", "n_match", "n_unmatch", "agree_match",
                      "agree_unmatch",
                      u9("w_agree").alias("w_agree_u"),
                      u9("w_disagree").alias("w_disagree_u"))


def _q_contamination(spark, sf_dir):
    """Graded benchmark contamination: per-doc share of distinct 5-gram
    shingles found in the benchmark slice (exact-int ratio)."""
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        contamination_report)

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 41 == 0)
    train = docs.where(~(F.col("doc_id") % 41 == 0))
    return contamination_report(train, bench, k=5)


def _q_ab_cuped(spark, sf_dir):
    """A/B readout with CUPED: per-user purchase value split at a fixed
    mid-period instant (covariate = first half), hash-assigned groups.
    Event values quantized to micro-units BEFORE any sum, so every moment
    is exact; outputs nano-quantized."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        ab_stats)

    mid = 1_705_363_200_000  # 2024-01-16T00:00Z (events span Jan 2024)
    ev = _t(spark, sf_dir, "events")
    # MILLI-units (not micro): keeps every moment sum — syy is the worst,
    # ~2e14 at sf0.1 — under 2^53, so the decimal→double cast is exact in
    # BOTH engines (DuckDB's hugeint→double is 1-ulp off Spark's
    # decimal→double above 2^53) and all downstream stats are identical
    q = _uq("value", 3)
    per_user = (ev.where(F.col("event_type") == "purchase")
                .groupBy("user_id")
                .agg(F.sum(F.when(_ms("ts") >= mid, q)
                           .otherwise(F.lit(0))).alias("metric"),
                     F.sum(F.when(_ms("ts") < mid, q)
                           .otherwise(F.lit(0))).alias("cov")))
    # md5-based assignment (the repo's cross-engine hash idiom — DuckDB
    # has no xxhash64): even first hex digit of md5("<id>:42") → control
    even = F.substring(
        F.md5(F.concat_ws(":", F.col("user_id").cast("string"),
                          F.lit("42"))), 1, 1) \
        .isin("0", "2", "4", "6", "8", "a", "c", "e")
    grouped = per_user.withColumn(
        "grp", F.when(even, F.lit("control")).otherwise(F.lit("treatment")))
    out = ab_stats(grouped, "grp", "metric", control="control",
                   treatment="treatment", covariate_col="cov", scale=0)
    u9 = lambda c: _uq(c, 9)  # noqa: E731
    return out.select(
        "n_c", "n_t",
        u9("mean_c").alias("mean_c_u"), u9("mean_t").alias("mean_t_u"),
        u9("diff").alias("diff_u"), u9("welch_t").alias("welch_t_u"),
        u9("theta").alias("theta_u"),
        u9("cuped_diff").alias("cuped_diff_u"),
        u9("cuped_t").alias("cuped_t_u"),
        u9("var_reduction").alias("var_reduction_u"))


def _q_token_budget(spark, sf_dir):
    """Data-mixing recipe: per-source sampling fractions hitting a token
    budget under ppm weights — pure int64 arithmetic."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        token_budget_plan)

    docs = _t(spark, sf_dir, "documents")
    weights = {"src0": 200_000, "src1": 150_000, "src2": 100_000,
               "src3": 50_000}
    return token_budget_plan(docs, weights, budget_tokens=50_000,
                             tokens_col="n_chars")


def _q_kmeans(spark, sf_dir):
    """Distributed Lloyd's over the full embedding table (quantized
    exact-integer centroid sums — partitioning-invariant, golden-pinned)
    + map-only assignment."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        kmeans_assign, kmeans_fit)

    emb = _t(spark, sf_dir, "embeddings")
    cent = kmeans_fit(emb, k=8, iters=4, scale=6)
    out = kmeans_assign(emb, cent, scale=6)
    return out.select(
        "vec_id", "cluster",
        _uq("dist").alias("dist_u"))


def _q_semdedup(spark, sf_dir):
    """SemDeDup (cluster-scoped semantic dedup): k-means the embedding
    table, mark rows with a same-cluster mate at cosine ≥ 0.9 (keep the
    farther-from-centroid of a pair).  Synthetic embeddings are near-
    orthogonal, so near-duplicates are INJECTED in-query (the pii_scan /
    boilerplate pattern): 8 scaled copies (x·1.001 — cosine ≈ 1, still
    ~0.1% apart in euclidean so they co-cluster).  Golden-pinned: the
    k-means fit is iterative (not SQL-expressible) but partitioning-
    invariant; the dedup verdict itself is exact-integer (pytest
    brute-force + partition-invariance pins)."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        semdedup)

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = (emb.where(F.col("vec_id") < 8)
           .select((F.col("vec_id") + 1000000).alias("vec_id"),
                   F.transform(
                       "embedding",
                       lambda x: (x.cast("double")
                                  * F.lit(1.001)).cast("float"))
                   .alias("embedding")))
    corpus = emb.unionByName(dup)
    # k=None → the operator's k ∝ N default (~64 rows/cluster), which
    # bounds the Σ|c|² pair stage at any sf.  At the golden sf0.01
    # (508 rows) that resolves to the pinned k=8
    return semdedup(corpus, threshold=0.9, iters=4, seed=19, scale=6)


def _q_random_projection(spark, sf_dir):
    """Deterministic Rademacher JL sketch 64→16: exact int64 components
    (quantized inputs × ±1 signs), signs derived from the shared md5
    idiom so the DuckDB oracle REBUILDS the identical matrix from SQL
    alone — a fully relational cross-engine contract for a linear-
    algebra operator."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        random_projection)

    emb = _t(spark, sf_dir, "embeddings")
    rp = random_projection(emb.where(F.col("embedding").isNotNull()),
                           in_dim=64, out_dim=16, seed=7, scale=6)
    return rp.select("vec_id", F.posexplode("rp").alias("dim", "comp_q"))


def _q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (hashed unigram+bigram models, target =
    English docs): per-doc Σ λq[bucket] exact int64.  Bucket counts are
    exact distributed integers; the only floating point is the driver's
    bounded λ=ln-ratio table (numpy, deterministic) — partitioning-
    invariant end to end, golden-pinned because λ's transcendental ln
    has no ulp-stable SQL mirror (DuckDB ln ≠ numpy ln at 1 ulp)."""
    from msi_preprocessing_pipeline_spark.operators.importance import (
        dsir_bucket_logratios, dsir_weights)

    docs = _t(spark, sf_dir, "documents")
    # fused form: target = a slice of the corpus named by a predicate,
    # so BOTH model estimates come from ONE gram pass (λ identical to
    # the two-pass form — pytest-pinned)
    lamq = dsir_bucket_logratios(docs, buckets=4096, seed=7,
                                 target_predicate=F.col("lang") == "en")
    return dsir_weights(docs, lamq, buckets=4096, seed=7)


def _q_scalar_quantize(spark, sf_dir):
    """Per-vector int8 symmetric quantization: exact SQL contract (the
    code chain ÷,×,+0.5,floor is the same IEEE ops in both engines)."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        scalar_quantize)

    emb = _t(spark, sf_dir, "embeddings")
    out = scalar_quantize(emb.where(F.col("embedding").isNotNull()),
                          bits=8)
    return out.select("vec_id", _uq("qscale", 6).alias("qscale_u"),
                      F.posexplode("codes").alias("pos", "code"))


def _q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (exponential race keys,
    md5 draws): 50 docs favoring high n_chars. Golden-pinned (JVM ln has
    no ulp-stable DuckDB mirror); race-key determinism pytest-pinned."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        weighted_sample_k)

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_k(docs, "doc_id", "n_chars", n=50, seed=11)
    return out.select("doc_id", "n_chars", _uq("race_key", 9)
                      .alias("race_key_n"))


def _q_classification_report(spark, sf_dir):
    """Confusion cells + P/R/F1/accuracy in ONE aggregation; metrics are
    single divisions of exact int64 cells (engine-bit-identical)."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        classification_report)

    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        (F.col("event_type") == "purchase").alias("label"),
        F.when(F.col("value").isNotNull(),
               F.col("value") > 2.0).alias("pred"))
    return classification_report(scored, "label", "pred")


def _q_group_kfold(spark, sf_dir):
    """Group-stable k-fold: every event of a user lands in the same fold
    via the engine-portable md5 bucket — exact SQL oracle (the
    GroupKFold entity-leakage complement of time_folds/purged_split)."""
    from msi_preprocessing_pipeline_spark.operators.cv import group_kfold

    ev = _t(spark, sf_dir, "events")
    return group_kfold(ev, "user_id", n_folds=5, seed=7) \
        .select("event_id", "user_id", "fold")


def _q_pq_topk(spark, sf_dir):
    """Product-quantization ANN: fused multi-subspace codebook fit (one
    Arrow pass per iteration for ALL m subspaces), map-only encode to
    m-byte codes, asymmetric-distance top-10 for 3 query vectors with an
    EXACT integer ADC table — ranking partition-order-immune.
    Golden-pinned (iterative fit), recall pytest-checked vs exact L2."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        pq_adc_topk, pq_encode, pq_fit)

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=8, k=16, iters=3, seed=19, scale=6)
    codes = pq_encode(emb, books, scale=6)
    return pq_adc_topk(codes, books, emb.where(F.col("vec_id") < 3),
                       topk=10, scale=6)


def _q_near_dup_clusters(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, n_hashes=64, shingle_words=3)
    pairs = dedup.minhash_lsh_pairs(sigs, bands=16, threshold=0.3,
                                    star_over=64)
    return dedup.connected_components(pairs)


def _q_simhash_pairs(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(dedup.simhash64(docs), max_hamming=6)


def _q_embedding_near_dup(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import dedup

    # scale-shaped parameters: the operator default 12 LSH bits (4096
    # buckets — bits grow with N to keep in-bucket candidate sets small)
    # plus the star_over giant-bucket guard
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup(emb, threshold=0.3, lsh_bits=12,
                                    star_over=64)


def _q_ivf_topk(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        ivf_fit_centroids, ivf_topk)

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_fit_centroids(emb, n_centroids=16, iters=8)
    return ivf_topk(emb, emb.where(F.col("vec_id") < 5), cents, k=10,
                    n_probe=4)


def _q_winnowing_pairs(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    fps = dedup.winnowing_fingerprints(docs, k=12, window=8)
    return dedup.fingerprint_overlap_pairs(fps, min_common=12, max_df=100)


def _q_lsh_topk(spark, sf_dir):
    from msi_preprocessing_pipeline_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.where(F.col("vec_id") < 5), k=10, lsh_bits=6)


def _q_target_encode(spark, sf_dir):
    """Leakage-free target encoding: each event's feature is the smoothed
    mean of `value` over STRICTLY EARLIER events of its type (expanding
    frame ending at the previous row; explicit prior so the oracle is a
    pure window expression). Emitted in integer MICRO-units via pure
    integer round-half-up — double rounding of a true decimal midpoint is
    engine-dependent, integer div is not."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        target_encode_pit)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts",
        F.col("value").cast("decimal(18,6)").alias("value"))
    out = target_encode_pit(ev, "event_type", "value", ts_col="ts",
                            tiebreak=["event_id"], prior_weight=10.0,
                            prior_value=100.0, keep_stats=True)
    # te = (S + pw*prior) / (C + pw) with S exact decimal; round-half-up at
    # 6 dp == (2*N + D) div (2*D) with N = (S + 1000) * 1e6, D = C + 10
    num = ((F.coalesce(F.col("te_value_sum"),
                       F.lit(0).cast("decimal(18,6)"))
            + F.lit(1000).cast("decimal(18,6)")) * F.lit(1000000)) \
        .cast("long")
    den = (F.col("te_value_cnt") + F.lit(10)).cast("long")
    return (out.withColumn("__n", num).withColumn("__d", den)
            .selectExpr("event_id", "event_type",
                        "(2 * __n + __d) div (2 * __d) as te_micro"))


def _q_interpolate(spark, sf_dir):
    """Time-weighted linear interpolation of the click value at every
    purchase instant (backward + forward as-of composition)."""
    from msi_preprocessing_pipeline_spark.operators.asof import (
        interpolate_linear)

    ev = _t(spark, sf_dir, "events")
    labels = (ev.where(F.col("event_type") == "purchase")
              .select("event_id", "user_id", _ms("ts").alias("ms")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", _ms("ts").alias("ms"), "value"))
    out = interpolate_linear(labels, clicks, on="user_id",
                             label_ts="ms", value_col="value")
    return out.select("event_id", "user_id", "ms",
                      F.round("value_interp", 6).alias("interp_value"))


def _q_rolling_zscore(spark, sf_dir):
    """Per-user rolling z-score of value vs the trailing 20 events
    EXCLUDING the current one (PIT convention), plus the anomaly flag."""
    from msi_preprocessing_pipeline_spark.operators.windows import (
        rolling_zscore)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value")
    out = rolling_zscore(ev, "value", "user_id", order_by="ts",
                         window_rows=20, min_periods=5, threshold=2.0,
                         tiebreak=["event_id"])
    return out.select("event_id", "user_id",
                      F.round("value_zscore", 4).alias("z"),
                      F.col("value_is_anom").cast("int").alias("is_anom"))


def _q_decayed_sum(spark, sf_dir):
    """Recency-weighted running value per user (1-day tau, JVM
    anchor-factorized expanding window; see windows.decayed_sum)."""
    from msi_preprocessing_pipeline_spark.operators.windows import decayed_sum

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", _ms("ts").alias("ms"), "value")
    out = decayed_sum(ev, "value", "user_id", ts_col="ms",
                      tau=86_400_000.0, strategy="window",
                      include_current=True, tiebreak=["event_id"])
    return out.select("event_id", "user_id",
                      F.round("value_decayed", 6).alias("decayed"))


def _q_woe_encode(spark, sf_dir):
    """PIT weight-of-evidence of label (value > 100) per user: each event
    sees only its user's strictly-earlier label counts + global totals."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        woe_encode_pit)

    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id", "ts",
                  (F.col("value") > 100.0).alias("big")))
    out = woe_encode_pit(ev, "user_id", "big", ts_col="ts",
                         tiebreak=["event_id"], smoothing=0.5)
    return out.select("event_id", "user_id",
                      F.round("woe_big", 6).alias("woe"))


def _q_resample_grid(spark, sf_dir):
    """Per-user daily grid over click values, LOCF-filled (the gap-filled
    SAMPLE BY shape; grid = multiples of step inside each user's span)."""
    from msi_preprocessing_pipeline_spark.operators.asof import (
        resample_to_grid)

    ev = _t(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", _ms("ts").alias("ms"), "value"))
    out = resample_to_grid(clicks, on="user_id", ts_col="ms",
                           value_col="value", step=86_400_000, fill="locf")
    return out.select("user_id", "ms",
                      F.round("value_grid", 6).alias("value_grid"))


def _q_snapshot_diff(spark, sf_dir):
    """Row-level diff of two customer snapshots (simulated rebuild: some
    rows dropped, some balances shifted) with per-column change mask."""
    from msi_preprocessing_pipeline_spark.operators.changelog import (
        diff_snapshots)

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal")
    new = (cust.where(F.col("c_custkey") % 13 != 0)
           .withColumn("c_acctbal",
                       F.when(F.col("c_custkey") % 11 == 0,
                              F.col("c_acctbal") + 100.0)
                       .otherwise(F.col("c_acctbal"))))
    out = diff_snapshots(cust, new, "c_custkey",
                         compare_cols=["c_name", "c_acctbal"])
    return out.select("c_custkey", "change_type",
                      F.concat_ws(",", "changed_cols").alias("cols"))


def _q_grouped_quantiles(spark, sf_dir):
    """Per-event-type exact quantiles via the giant-group-safe
    range-partition + rank-fetch relation (zero driver collects)."""
    from msi_preprocessing_pipeline_spark.operators.quantiles import (
        grouped_exact_quantiles)

    ev = _t(spark, sf_dir, "events")
    out = grouped_exact_quantiles(ev, "value", ["event_type"],
                                  [0.25, 0.5, 0.75, 0.9])
    return out.select("event_type", F.round("q", 2).alias("q"),
                      F.round("value", 6).alias("value"))


def _q_calibration(spark, sf_dir):
    """Reliability-diagram bins: score = value/400 (decimal, exact sums),
    label = is-purchase; empty bins kept with zero counts."""
    from msi_preprocessing_pipeline_spark.operators.drift import (
        calibration_bins)

    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") / F.lit(400.0)).cast("decimal(18,9)")
        .alias("score"),
        (F.col("event_type") == "purchase").alias("label"))
    out = calibration_bins(ev, "score", "label", n_bins=8,
                           lo=0.0, hi=1.0)
    return out.select("bin", "n", "n_pos",
                      F.round("mean_score", 6).alias("mean_score"),
                      F.round("pos_rate", 6).alias("pos_rate"))


def _q_word_entropy(spark, sf_dir):
    """Word-distribution entropy + type-token ratio per doc (boilerplate
    severity signal the n-gram repetition fractions can miss)."""
    from msi_preprocessing_pipeline_spark.operators.text import word_entropy

    docs = _t(spark, sf_dir, "documents")
    # scale=9: c*ln(c) terms quantized + summed exactly — no float
    # combine-order dependence (r4 covariance lesson); outputs compared
    # as floor-quantized integers of the fixed-order statistic
    out = word_entropy(docs, scale=9)
    u6 = lambda c: _uq(c)  # noqa: E731
    return out.select(
        "doc_id", "n_words_total", "n_distinct_words",
        u6("word_entropy").alias("entropy_u"),
        u6("type_token_ratio").alias("ttr_u"))


def _q_quantile_bin(spark, sf_dir):
    """Equal-frequency decile of lineitem price per brand-agnostic global
    edges (exact linear-interp quantiles; deterministic, tie-stable)."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        quantile_bin)

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice")
    out = quantile_bin(li, "l_extendedprice", n_bins=10)
    return out.select("l_orderkey", "l_linenumber",
                      F.col("l_extendedprice_bin").alias("price_decile"))


def _q_feature_hash(spark, sf_dir):
    """Hashing-trick bucket over (user_id, event_type) — md5-band idiom,
    engine-portable."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        feature_hash)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    return feature_hash(ev, ["user_id", "event_type"], n_buckets=64, seed=7)


def _q_robust_scaled(spark, sf_dir):
    """Median/IQR standardization of value per event type (exact
    quantiles; zero-IQR -> null)."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        standardize_robust)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    out = standardize_robust(ev, "value", group_cols=["event_type"])
    return out.select("event_id", "event_type",
                      F.round("value_robust", 6).alias("z_robust"))


def _q_psi_drift(spark, sf_dir):
    """PSI drift of the value distribution: click (reference) vs purchase
    (current), 10 fixed-width bins on [0, 400)."""
    from msi_preprocessing_pipeline_spark.operators.drift import psi_drift

    ev = _t(spark, sf_dir, "events")
    out = psi_drift(ev.where(F.col("event_type") == "click"),
                    ev.where(F.col("event_type") == "purchase"),
                    "value", lo=0.0, hi=400.0, n_bins=10, smoothing=0.5)
    return out.select("bin", "n_ref", "n_cur",
                      F.round("p_ref", 8).alias("p_ref"),
                      F.round("p_cur", 8).alias("p_cur"),
                      F.round("psi_contrib", 8).alias("psi_contrib"))


def _tokenized_docs(spark, sf_dir):
    """Canonical hash-tokenized documents table (vocab 4096, seed 7) —
    the (doc_id, tokens, n_tok, source) shape of BASELINE's input_hint,
    derived deterministically so DuckDB reproduces it bit-for-bit."""
    from msi_preprocessing_pipeline_spark.operators.lm import hash_tokenize

    docs = _t(spark, sf_dir, "documents")
    return hash_tokenize(docs, vocab_size=4096, seed=7,
                         keep_cols=("source",))


def _q_hash_tokenize(spark, sf_dir):
    """Deterministic hashing word tokenizer -> canonical pre-tokenized
    sequence table. Map-only, zero Python."""
    out = _tokenized_docs(spark, sf_dir)
    # arrays stringify for the driver compare (repo convention, cf. bpe)
    return out.select("doc_id",
                      F.concat_ws(" ", "tokens").alias("tokens_str"),
                      F.col("n_tok").cast("long").alias("n_tok"), "source")


def _q_lm_score(spark, sf_dir):
    """Add-k bigram LM negative log-likelihood per doc (CCNet-style
    perplexity quality filter), corpus self-scored."""
    from msi_preprocessing_pipeline_spark.operators.lm import lm_score

    tok = _tokenized_docs(spark, sf_dir)
    # scale=9: per-bigram ln p quantized + summed exactly (no float
    # combine-order dependence); outputs floor-quantized
    out = lm_score(tok, k=0.5, vocab_size=4096, scale=9)
    u6 = lambda c: _uq(c)  # noqa: E731
    return out.select("doc_id", "n_bigrams",
                      u6("sum_lnp").alias("sum_lnp_u"),
                      u6("nll").alias("nll_u"))


def _q_kn_score(spark, sf_dir):
    """Interpolated Kneser-Ney bigram NLL per doc (KenLM-style count
    smoothing with continuation probabilities), corpus self-scored."""
    from msi_preprocessing_pipeline_spark.operators.lm import kn_score

    tok = _tokenized_docs(spark, sf_dir)
    out = kn_score(tok, discount=0.75, scale=9)
    return out.select("doc_id", "n_bigrams",
                      _uq("sum_lnp").alias("sum_lnp_u"),
                      _uq("nll").alias("nll_u"))


def _q_k_center(spark, sf_dir):
    """Greedy k-center (farthest-first) selection of 6 diverse
    embedding exemplars — exact-int distances, id-asc tie-breaks; the
    oracle unrolls the greedy rounds as materialized SQL CTEs."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        k_center_select)

    emb = _t(spark, sf_dir, "embeddings")
    return k_center_select(emb, k=6, scale=6)


def _kcenter_oracle_sql(k: int = 6, scale: int = 6) -> str:
    """Unrolled greedy k-center as materialized CTEs (the
    _bt_oracle_sql discipline: DuckDB inlines CTEs, and each round
    references the last twice)."""
    sc = float(10 ** scale)
    dist = ("cast(list_sum(list_transform(list_zip({a}, {b}), "
            "p -> (p[1] - p[2]) * (p[1] - p[2]))) as bigint)")
    parts = [f"""
        with q as materialized (
            select vec_id,
                   list_transform(embedding, x ->
                       cast(floor(cast(x as double) * {sc} + 0.5)
                            as bigint)) as qv
            from embeddings where embedding is not null
        ), c0 as materialized (
            select vec_id, qv from q order by vec_id asc limit 1
        ), d1 as materialized (
            select q.vec_id, q.qv,
                   {dist.format(a='q.qv', b='c.qv')} as dmin
            from q cross join c0 c where q.vec_id <> c.vec_id
        )"""]
    for r in range(1, k):
        parts.append(f""", c{r} as materialized (
            select vec_id, qv, dmin from d{r}
            order by dmin desc, vec_id asc limit 1
        )""")
        if r + 1 < k:
            parts.append(f""", d{r + 1} as materialized (
                select d.vec_id, d.qv,
                       least(d.dmin,
                             {dist.format(a='d.qv', b='c.qv')}) as dmin
                from d{r} d cross join c{r} c
                where d.vec_id <> c.vec_id
            )""")
    sel = ["""
        select cast(0 as int) as sel_round, vec_id,
               cast(null as bigint) as dmin_q from c0"""]
    for r in range(1, k):
        sel.append(f"""
        union all select cast({r} as int), vec_id,
               cast(dmin as bigint) from c{r}""")
    return "".join(parts) + "".join(sel)


def _q_kappa_langid(spark, sf_dir):
    """Cohen's kappa between the corpus lang labels and the stopword
    lang-ID heuristic — chance-corrected agreement as ONE division of
    exact integer counts."""
    from msi_preprocessing_pipeline_spark.operators import text as tx
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        cohens_kappa)

    # null text diverges across engines (Spark size(null) = -1 ties all
    # scores -> 'en'; the SQL CASE falls through to 'es') — exclude it,
    # the gap_stats/top_paths guard pattern
    docs = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull())
    labeled = docs.select("doc_id", "lang",
                          tx.lang_id().alias("lang_pred"))
    out = cohens_kappa(labeled, "lang", "lang_pred")
    return out.select(
        "n", "n_null", "n_agree", "sum_rc",
        F.floor(F.col("kappa") * F.lit(1e9) + F.lit(0.5))
        .cast("long").alias("kappa_n"))


def _q_gram_novelty(spark, sf_dir):
    """Per-source 3-gram novelty census (diminishing-returns curve):
    grams whose first (min) shard is this shard."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        gram_novelty)

    docs = _t(spark, sf_dir, "documents")
    return gram_novelty(docs, n=3, text_col="text", shard_col="source")


def _q_bt_ratings(spark, sf_dir):
    """Bradley-Terry strengths over event-type 'contests': each user's
    first two events (deterministic total order) pit their event types
    against each other, higher value wins; 8 quantized MM rounds —
    the oracle unrolls the identical iteration as chained SQL CTEs."""
    from msi_preprocessing_pipeline_spark.operators.ranking import (
        bradley_terry)

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull() & F.col("value").isNotNull()
                 & F.col("event_type").isNotNull()
                 & F.col("user_id").isNotNull()))
    w = Window.partitionBy("user_id").orderBy("ts", "event_type",
                                              "value")
    r = (ev.select("user_id", "event_type", "value",
                   F.row_number().over(w).alias("rn"))
         .where(F.col("rn") <= 2))
    a = r.where(F.col("rn") == 1).select(
        "user_id", F.col("event_type").alias("t1"),
        F.col("value").alias("v1"))
    b = r.where(F.col("rn") == 2).select(
        "user_id", F.col("event_type").alias("t2"),
        F.col("value").alias("v2"))
    contests = (a.join(b, ["user_id"])
                .where((F.col("t1") != F.col("t2"))
                       & (F.col("v1") != F.col("v2")))
                .select(F.when(F.col("v1") > F.col("v2"), F.col("t1"))
                        .otherwise(F.col("t2")).alias("winner"),
                        F.when(F.col("v1") > F.col("v2"), F.col("t2"))
                        .otherwise(F.col("t1")).alias("loser")))
    return bradley_terry(contests, iters=8, scale=9)


def _bt_oracle_sql(iters: int = 8, scale: int = 9) -> str:
    """Unrolled MM iteration as chained CTEs — the SQL mirror of
    operators.ranking.bradley_terry's quantized update.  Every CTE is
    MATERIALIZED: DuckDB inlines CTEs by default, and it{k} references
    it{k-1} TWICE, so the inlined plan doubles per iteration (>120 s at
    8 rounds); materialization makes the chain linear (~ms)."""
    sc = float(10 ** scale)
    parts = [f"""
        with ev as materialized (
            select user_id, event_type, value, ts from events
            where ts is not null and value is not null
              and event_type is not null and user_id is not null
        ), r as materialized (
            select user_id, event_type, value,
                   row_number() over (partition by user_id
                                      order by ts, event_type, value)
                       as rn
            from ev
        ), c as materialized (
            select case when a.value > b.value then a.event_type
                        else b.event_type end as winner,
                   case when a.value > b.value then b.event_type
                        else a.event_type end as loser
            from (select * from r where rn = 1) a
                 join (select * from r where rn = 2) b using (user_id)
            where a.event_type <> b.event_type and a.value <> b.value
        ), wd as materialized (
            select winner as i, loser as j,
                   cast(count(*) as bigint) as w
            from c group by 1, 2
        ), sym as materialized (
            select i, j, cast(sum(w) as bigint) as n
            from (select i, j, w from wd
                  union all select j as i, i as j, w from wd)
            group by 1, 2
        ), items as materialized (select distinct i as item from sym),
        wt as materialized (
            select items.item, cast(coalesce(ww.w, 0) as bigint) as w
            from items left join (
                select winner as item, cast(count(*) as bigint) as w
                from c group by 1) ww using (item)
        ), it0 as materialized (
            select item, cast({int(sc)} as bigint) as s_n from items
        )"""]
    for k in range(1, iters + 1):
        parts.append(f""", d{k} as materialized (
            select sym.i as item,
                   cast(sum(cast(floor(cast(sym.n as double)
                       / (cast(greatest(a.s_n + b.s_n, 1) as double)
                          / {sc}) * {sc} + 0.5) as bigint)) as bigint)
                       as ds
            from sym join it{k - 1} a on sym.i = a.item
                     join it{k - 1} b on sym.j = b.item
            group by 1
        ), it{k} as materialized (
            select wt.item,
                   case when wt.w = 0 then cast(0 as bigint)
                        else cast(floor(cast(wt.w as double)
                             / (cast(d{k}.ds as double) / {sc})
                             * {sc} + 0.5) as bigint) end as s_n
            from wt join d{k} using (item)
        )""")
    parts.append(f" select item, s_n from it{iters}")
    return "".join(parts)


def _q_similar_docs(spark, sf_dir):
    """All-pairs TF-IDF cosine similarity (Bayardo-style inverted-index
    self-join) over a 1-in-7 document slice — exact integer weights,
    decimal dots, pairs at cosine >= 0.8."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        similar_doc_pairs)

    tok = _tokenized_docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return similar_doc_pairs(tok, threshold=0.8, max_df=1 << 20)


def _q_context_pairs(spark, sf_dir):
    """(context, next-token) LM training pairs, context_len=4 — pure JVM
    array ops, map-only explode."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        context_target_pairs)

    tok = _tokenized_docs(spark, sf_dir)
    return context_target_pairs(tok, context_len=4).select(
        "doc_id", "pos",
        F.concat_ws(" ", "context").alias("context_str"), "target")


def _q_pmi_bigrams(spark, sf_dir):
    """PMI of adjacent token pairs (min_count=3) — the association score
    embedding pipelines factorize."""
    from msi_preprocessing_pipeline_spark.operators.lm import pmi_bigrams

    tok = _tokenized_docs(spark, sf_dir)
    return pmi_bigrams(tok, min_count=3).select(
        "a", "b", "c", "c_a", "c_b", F.round("pmi", 6).alias("pmi"))


def _q_oov_rate(spark, sf_dir):
    """Per-doc OOV occurrence rate against the corpus >=5-count
    vocabulary."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        oov_rate, unigram_counts)

    tok = _tokenized_docs(spark, sf_dir)
    vocab = unigram_counts(tok).where(F.col("c") >= 5)
    out = oov_rate(tok, vocab)
    return out.select("doc_id", "n_tok", "n_oov",
                      F.round("oov_rate", 6).alias("oov_rate"))


def _q_transition_probs(spark, sf_dir):
    """Empirical Markov transition matrix of event types within user
    sequences (one lag window + bounded aggregation)."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        transition_counts)

    ev = _t(spark, sf_dir, "events")
    out = transition_counts(ev, "user_id", "event_type", "ts",
                            tiebreak=["event_id"])
    return out.select("from_type", "to_type", "n",
                      F.round("p", 6).alias("p"))


def _q_recency_features(spark, sf_dir):
    """Per-(user, type) recency: seconds since previous same-type event
    + strictly-prior count (point-in-time)."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        recency_features)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts")
    out = recency_features(ev, ["user_id", "event_type"], "ts",
                           tiebreak=["event_id"])
    return out.select("event_id", "user_id", "event_type",
                      F.col("secs_since_prev").cast("double")
                      .alias("secs_since_prev"),
                      "n_prior")


def _q_trailing_values(spark, sf_dir):
    """Last-3 strictly-previous values per user as an ordered array —
    the recent-history feature for sequence models."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        trailing_values)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value")
    out = trailing_values(ev, "value", "user_id", "ts", k=3,
                          tiebreak=["event_id"])
    # unpack the array (most-recent first) so the compare stays on exact
    # doubles — stringifying floats is engine-dependent
    arr = F.col("value_last3")
    prevs = [F.when(F.size(arr) >= i, F.element_at(arr, -i))
             .alias(f"prev{i}") for i in (1, 2, 3)]
    return out.select("event_id", "user_id", "value", *prevs)


def _q_mutual_info(spark, sf_dir):
    """Mutual information + chi2 between doc language and source — the
    categorical feature-relevance screen."""
    from msi_preprocessing_pipeline_spark.operators.drift import mutual_info

    docs = _t(spark, sf_dir, "documents")
    # scale=9: per-cell mi/chi2 terms quantized + summed exactly (no
    # float combine-order dependence); outputs floor-quantized
    out = mutual_info(docs, "lang", "source", scale=9)
    u6 = lambda c: _uq(c)  # noqa: E731
    return out.select("n", "n_x", "n_y", "dof",
                      u6("mi").alias("mi_u"),
                      u6("chi2").alias("chi2_u"))


# The embedding-family contracts all use scale=6 quantized inputs and
# compare floor-quantized integers: a distributed float64 sum combines
# in task-completion order, so the old round(float_sum, 6) contracts
# could flip at rounding midpoints between engines/partitionings (the
# round-4 covariance_embeddings driver red row).  With scale set, every
# moment sum is exact (decimal over floor(x*1e6+0.5) integers) and the
# final statistic is a FIXED-order double expression mirrored verbatim
# in the DuckDB oracle — bit-identical by construction, so the
# floor(stat*K + 0.5) outputs cannot wobble.

def _q_embedding_norms(spark, sf_dir):
    """L2 norms — JVM aggregate fold, map-only; quantized contract."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        embedding_norms)

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_norms(emb, scale=6)
    return out.select(
        "vec_id",
        _uq("l2_norm").alias("l2_norm_u"))


def _q_embedding_moments(spark, sf_dir):
    """Per-position mean/variance of the embedding cloud (d-bounded
    relation from one map-side-combined aggregation); quantized."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        embedding_moments)

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_moments(emb, scale=6)
    return out.select(
        "pos", "n",
        _uq("mean").alias("mean_u"),
        _uq("var", 9).alias("var_u"))


def _q_label_centroids(spark, sf_dir):
    """Per-label mean embedding (class prototypes), |labels|*d-bounded;
    quantized contract."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        label_centroids)

    emb = _t(spark, sf_dir, "embeddings")
    out = label_centroids(emb, scale=6)
    return out.select(
        "label", "pos", "n",
        _uq("mean").alias("mean_u"))


def _q_covariance_embeddings(spark, sf_dir):
    """Sample covariance of embedding positions — distributed partial
    outer products (mapInPandas), d^2-bounded output; exact-decimal
    reduction + fixed-order cov expression (partition- and
    engine-deterministic, unlike the r4 round(float,6) contract)."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        covariance_matrix)

    emb = _t(spark, sf_dir, "embeddings")
    out = covariance_matrix(emb, scale=6)
    return out.select(
        "i", "j", "n",
        _uq("cov", 9).alias("cov_u"))


def _q_centroid_distance(spark, sf_dir):
    """Distance to own-label centroid + nearest centroid label/distance
    — broadcast-centroid Arrow pass, map-only (no explode-join);
    integer-centroid quantized contract."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        centroid_distance_features, label_centroids)

    emb = _t(spark, sf_dir, "embeddings")
    cents = label_centroids(emb, scale=6)
    out = centroid_distance_features(emb, cents, scale=6)
    u = lambda c: _uq(c)  # noqa: E731
    return out.select("vec_id", "label",
                      u("dist_own").alias("dist_own_u"),
                      "nearest_label",
                      u("dist_nearest").alias("dist_nearest_u"))


def _q_pca_project(spark, sf_dir):
    """PCA fit from the distributed covariance (driver sees only the
    d^2 matrix) + Arrow-vectorized projection to 4 components.
    Golden-pinned: eigendecomposition is not SQL-expressible; the fit
    is partition-order-invariant (12-dp covariance rounding)."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        pca_fit, pca_project)

    emb = _t(spark, sf_dir, "embeddings")
    model = pca_fit(emb, k=4)
    out = pca_project(emb, model)
    return out.select(
        "vec_id",
        *[F.round(F.element_at("pca", i), 6).alias(f"p{i}")
          for i in (1, 2, 3, 4)])


def _q_time_folds(spark, sf_dir):
    """Equal-frequency temporal CV folds (exact quantile edges of event
    time — edge-based, tie- and partition-stable)."""
    from msi_preprocessing_pipeline_spark.operators.cv import time_folds

    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    return time_folds(ev, "ts", n_folds=5).select("event_id", "fold")


def _q_purged_split(spark, sf_dir):
    """Purged temporal train/test split: test fold 2 with a 1-day
    embargo on either side (serial-correlation leakage guard)."""
    from msi_preprocessing_pipeline_spark.operators.cv import (
        purged_train_test, time_folds)

    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    folded = time_folds(ev, "ts", n_folds=5)
    out = purged_train_test(folded, test_fold=2, ts_col="ts",
                            embargo_s=86400)
    # booleans cast to int for the cross-engine compare (pandas
    # nullable-bool None/NaN canon mismatch, cf. rolling_zscore)
    return out.select("event_id", "fold",
                      F.col("is_test").cast("int").alias("is_test"),
                      F.col("in_embargo").cast("int").alias("in_embargo"),
                      F.col("is_train").cast("int").alias("is_train"))


def _q_negative_samples(spark, sf_dir):
    """Deterministic hash-based negative sampling: 2 catalog draws per
    (customer, purchased-part) positive, true positives anti-joined
    out. md5 idiom — reproducible and engine-portable."""
    from msi_preprocessing_pipeline_spark.operators.cv import (
        negative_samples)

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    pos = (li.where(F.col("l_orderkey") % 20 == 0)
           .join(orders, li["l_orderkey"] == orders["o_orderkey"])
           .select(F.col("o_custkey").alias("user_id"),
                   F.col("l_partkey").alias("item_id")))
    return negative_samples(pos, part.select(
        F.col("p_partkey").alias("item_id")), "user_id", "item_id",
        k=2, seed=11)


def _q_count_encode(spark, sf_dir):
    """PIT count encoding of event_type WITH the hot-category
    bucket+carry two-pass (bucket_width exercises the 10^12-row path;
    the oracle is the plain expanding window — bit-identical for
    integer counts, so this query verifies the two-pass itself)."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        count_encode_pit)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", _ms("ts").alias("ms"))
    out = count_encode_pit(ev, "event_type", "ms",
                           tiebreak=["event_id"],
                           bucket_width=86_400_000)
    return out.select("event_id", "event_type",
                      F.col("ce_event_type").alias("n_prior_cat"))


def _q_chunk_tokens(spark, sf_dir):
    """Sliding-window token chunking of the canonical hash-tokenized
    table (chunk 32, stride 24 — overlapping long-document training
    layout); map-only, no shuffle."""
    from msi_preprocessing_pipeline_spark.operators.lm import hash_tokenize
    from msi_preprocessing_pipeline_spark.operators.packing import (
        chunk_tokens)

    docs = _t(spark, sf_dir, "documents")
    tok = hash_tokenize(docs, vocab_size=4096, seed=7)
    out = chunk_tokens(tok, chunk_len=32, stride=24, min_len=8)
    return out.select(
        "doc_id", "chunk_id", "chunk_n",
        F.concat_ws(" ", F.col("chunk_tokens").cast("array<string>"))
        .alias("chunk_str"))


def _q_index_stats(spark, sf_dir):
    """Inverted-index statistics over the hash-tokenized corpus:
    df/cf per token plus the capped top-3 posting heads (tf desc,
    doc_id asc), stringified for the cross-engine hash."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        hash_tokenize, index_stats)

    docs = _t(spark, sf_dir, "documents")
    tok = hash_tokenize(docs, vocab_size=4096, seed=7)
    out = index_stats(tok, top_k=3)
    top_str = F.concat_ws(",", F.transform(
        "top_docs",
        lambda s: F.concat(s["id"].cast("string"), F.lit(":"),
                           s["tf"].cast("string"))))
    return out.select("t", "df", "cf", top_str.alias("top_str"))


def _q_zorder_events(spark, sf_dir):
    """Morton keys over (user, minute) — the 2-d layout key the
    clustered writer range-partitions on so both user- and
    time-predicate scans prune.  Pure JVM bit arithmetic."""
    from msi_preprocessing_pipeline_spark.functions.util import zorder_key

    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(65536)).alias("x"),
        F.pmod(F.expr(
            f"(unix_millis(cast(ts as timestamp)) div 60000)"),
            F.lit(65536)).alias("y"))
    return b.select("event_id", "x", "y",
                    zorder_key(F.col("x"), F.col("y"), 16).alias("z"))


def _q_autocorr(spark, sf_dir):
    """Per-user lag-1/lag-2 autocorrelation of event values —
    decimal-exact moment sums over the 1e-6-quantized series, so the
    double result is bit-identical across engines."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        autocorr)

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", _ms("ts").alias("ms"), "value")
    return autocorr(ev, "value", "user_id", "ms", lags=[1, 2],
                    scale=6, tiebreak=["event_id"])


def _q_er_candidates(spark, sf_dir):
    """Rarest-word-blocked fuzzy candidate pairs (levenshtein <= 2)
    within one brand's part names — blocking + verify, never O(n^2)."""
    from msi_preprocessing_pipeline_spark.operators.er import (
        candidate_pairs)

    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#11")
    return candidate_pairs(part, "p_name", "p_partkey",
                           max_dist=2, max_block=1_000_000)


def _q_sliding_distinct(spark, sf_dir):
    """EXACT distinct-users-in-trailing-hour at every purchase instant
    — count(distinct) over a range frame, which Spark windows cannot
    express: presence intervals + bucketized range join instead."""
    from msi_preprocessing_pipeline_spark.operators.windows import (
        sliding_distinct)

    ev = _t(spark, sf_dir, "events")
    labels = (ev.where(F.col("event_type") == "purchase")
              .select("event_id", _ms("ts").alias("ms")))
    src = ev.select(F.col("user_id").alias("uid"),
                    _ms("ts").alias("ems"))
    out = sliding_distinct(labels, src, "uid", 3_600_000,
                           label_ts="ms", event_ts="ems")
    return out.select("event_id", "n_distinct")


def _q_basket_rules(spark, sf_dir):
    """Market-basket association rules over order line items: exact
    integer counts, engine-bit-identical double scores."""
    from msi_preprocessing_pipeline_spark.operators.market import (
        association_rules)

    li = _t(spark, sf_dir, "lineitem")
    return association_rules(li, "l_orderkey", "l_partkey", min_count=2)


def _q_search_topk(spark, sf_dir):
    """Inverted-index TF-IDF retrieval: top-20 documents for a fixed
    hashed query (tokens of "data training model the data" under the
    md5/4096/seed-7 idiom — 1571 1650 199 2776, 'data' twice so qtf
    is exercised).  Scores are nano-quantized exact int64 sums —
    partition-order immune, engine bit-identical."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        hash_tokenize, search_topk)

    docs = _t(spark, sf_dir, "documents")
    tok = hash_tokenize(docs, vocab_size=4096, seed=7)
    return search_topk(tok, [1571, 1650, 199, 2776, 1571], k=20)


def _q_bm25_topk(spark, sf_dir):
    """Okapi BM25 retrieval for the same fixed hashed query as
    search_topk_docs (k1 = 6/5, b = 3/4).  The tf-saturation fraction
    is an exact integer ratio (denominators cleared by the corpus token
    total T and doc count N), micro-quantized by truncating division,
    so per-(term, doc) contributions are exact int64 — partition-order
    immune, engine bit-identical."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        bm25_topk, hash_tokenize)

    docs = _t(spark, sf_dir, "documents")
    tok = hash_tokenize(docs, vocab_size=4096, seed=7)
    return bm25_topk(tok, [1571, 1650, 199, 2776, 1571], k=20)


_DICT_LEX = ["data", "spark", "fast sort", "merge batch", "slow"]


def _q_dict_tag(spark, sf_dir):
    """Dictionary tagging over a fixed 5-term lexicon (two multi-word
    phrases exercise substring, not word, matching), aggregated to a
    per-keyword census.  Counts come from the exact replace-length
    idiom — engine bit-identical integers."""
    from msi_preprocessing_pipeline_spark.operators.text import dict_tag

    docs = _t(spark, sf_dir, "documents")
    return (dict_tag(docs, _DICT_LEX)
            .groupBy("keyword")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_hits").alias("n_hits"),
                 F.max("n_hits").alias("max_hits")))


def _q_blocklist_filter(spark, sf_dir):
    """C4-style blocklist filter (total hits <= 1 keeps the doc),
    reported as per-source keep census with the surviving hit mass."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        blocklist_filter)

    docs = _t(spark, sf_dir, "documents")
    kept = blocklist_filter(docs, ["slow query", "big vector"], max_hits=1)
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("blocklist_hits").alias("sum_hits")))


def _q_chi2_features(spark, sf_dir):
    """Chi-square screen of two categorical features (source, and a
    derived n_chars//100 length bucket) against the lang label —
    staged-truncating-division micro units, exact int64."""
    from msi_preprocessing_pipeline_spark.operators.featsel import (
        chi2_scores)

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("len_bucket",
                        F.floor(F.col("n_chars") / 100).cast("string")))
    return chi2_scores(docs, ["source", "len_bucket"], "lang")


def _q_pit_audit(spark, sf_dir):
    """Runtime temporal-leakage audit of the engine's own as-of output
    (purchase labels ⟵ latest click): one fused scan-aggregate;
    n_violations must be 0 by construction."""
    from msi_preprocessing_pipeline_spark.operators.asof import asof_join
    from msi_preprocessing_pipeline_spark.operators.validate import (
        check_pit)

    ev = _t(spark, sf_dir, "events")
    labels = (ev.where(F.col("event_type") == "purchase")
              .select("event_id", _ms("ts").alias("ms"), "user_id"))
    feats = (ev.where(F.col("event_type") == "click")
             .select("user_id", _ms("ts").alias("fms"), "value"))
    j = asof_join(labels, feats, on="user_id", left_ts="ms",
                  right_ts="fms", value_cols=["value"],
                  matched_ts_col="fms")
    return check_pit(j, "ms", "fms")


def _q_ks_drift(spark, sf_dir):
    """Exact two-sample KS distance between click and purchase value
    distributions — integer-maximized D, one double division."""
    from msi_preprocessing_pipeline_spark.operators.drift import ks_stat

    ev = _t(spark, sf_dir, "events")
    ref = ev.where(F.col("event_type") == "click").select("value")
    cur = ev.where(F.col("event_type") == "purchase").select("value")
    return ks_stat(ref, cur, "value")


def _q_cvm_drift(spark, sf_dir):
    """Exact two-sample Cramér–von Mises distance between click and
    purchase value distributions — every CDF gap accumulated (the
    diffuse-drift complement of the KS supremum), one truncating
    division."""
    from msi_preprocessing_pipeline_spark.operators.drift import cvm_stat

    ev = _t(spark, sf_dir, "events")
    ref = ev.where(F.col("event_type") == "click").select("value")
    cur = ev.where(F.col("event_type") == "purchase").select("value")
    return cvm_stat(ref, cur, "value")


def _q_mwu_drift(spark, sf_dir):
    """Exact Mann–Whitney U between click and purchase values — doubled
    midranks keep ties on integers; tie-corrected z via one truncated
    variance and one fixed IEEE tree."""
    from msi_preprocessing_pipeline_spark.operators.drift import mwu_stat

    ev = _t(spark, sf_dir, "events")
    ref = ev.where(F.col("event_type") == "click").select("value")
    cur = ev.where(F.col("event_type") == "purchase").select("value")
    return mwu_stat(ref, cur, "value")


def _q_markov_score(spark, sf_dir):
    """Per-user Markov sequence anomaly score: the add-k log-likelihood
    of each user's event-type stream under the corpus transition model
    — nano-quantized ln terms, exact decimal sums, one trunc_div."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        markov_score)

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type")
    return markov_score(ev, "event_type", "user_id", "ts",
                        k=0.5, tiebreak=["event_id"])


def _q_spearman(spark, sf_dir):
    """Spearman rank correlation of lineitem quantity vs extendedprice
    — doubled midranks normalized to [0, 1e6], exact decimal moments,
    10^8 staged shrink under the 2^53 guard, one IEEE tree."""
    from msi_preprocessing_pipeline_spark.operators.featsel import (
        spearman_corr)

    li = _t(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_quantity", "l_extendedprice",
                         scales=6, shrink_pow=8)


def _q_ess(spark, sf_dir):
    """Kish effective sample size of value-as-weight per event type —
    the importance-weighting diagnostic; (Σq)²/Σq² with one truncating
    division."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        effective_sample_size)

    ev = _t(spark, sf_dir, "events")
    return effective_sample_size(ev, "value", "event_type")


def _q_k_anonymity(spark, sf_dir):
    """Table-level re-identification risk: k-anonymity report over
    customer quasi-identifiers (nation × market segment), k=5."""
    from msi_preprocessing_pipeline_spark.operators.privacy import (
        k_anonymity_report)

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity_report(cust, ["c_nationkey", "c_mktsegment"], k=5)


def _q_funnel_report(spark, sf_dir):
    """view -> click -> purchase funnel completed within 3 days of the
    first view: per-step entity counts + conversion ratios (single
    divisions of exact int64 counts)."""
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        funnel_report)

    ev = _t(spark, sf_dir, "events")
    return funnel_report(ev, "user_id", "ts", "event_type",
                         ["view", "click", "purchase"],
                         within_ms=3 * 86_400_000)


def _q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix over the event stream — cohort
    and activity periods fold into ONE per-user aggregation."""
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        cohort_activity)

    ev = _t(spark, sf_dir, "events")
    out = cohort_activity(ev, "user_id", "ts", "week")
    # driver-compare convention: timestamps go out as epoch millis
    return out.select(_ms("cohort_period").alias("cohort_ms"),
                      "period_offset", "n_active", "cohort_size",
                      "retention")


def _q_interval_coverage(spark, sf_dir):
    """Union-of-intervals watch-time per user: each view event covers
    [ms, ms + value seconds); one window sweep, one shuffle."""
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        interval_coverage)

    ev = _t(spark, sf_dir, "events")
    iv = (ev.where((F.col("event_type") == "view")
                   & F.col("value").isNotNull())
          .select("user_id", _ms("ts").alias("s"),
                  (_ms("ts")
                   + F.greatest(F.floor(F.col("value") * 1000 + 0.5),
                                F.lit(0))).alias("e")))
    return interval_coverage(iv, "user_id", "s", "e")


def _q_key_profile(spark, sf_dir):
    """One-row key-skew summary of events.user_id — the salting /
    shuffle-partition planning input, computed exactly with no driver
    materialization (quantiles via the range-partitioned rank fetch)."""
    from msi_preprocessing_pipeline_spark.operators.profile import (
        key_profile)

    ev = _t(spark, sf_dir, "events")
    out = key_profile(ev, ["user_id"], qs=[0.5, 0.9, 0.99])
    return out.select("n_rows", "n_keys", "max_n", "min_n", "avg_n",
                      "top_share",
                      *[F.round(c, 6).alias(c)
                        for c in ("p50_n", "p90_n", "p99_n")])


def _q_heavy_keys(spark, sf_dir):
    """Exact top-20 hottest event users (count desc, id asc tie-break)
    — a TakeOrderedAndProject, never a global sort."""
    from msi_preprocessing_pipeline_spark.operators.profile import (
        heavy_keys)

    ev = _t(spark, sf_dir, "events")
    return heavy_keys(ev, ["user_id"], k=20)


def _q_disorder(spark, sf_dir):
    """Watermark-planning lateness profile: deterministic md5 jitter
    (the shared cross-engine hash idiom) recreates late arrivals, then
    the bucket+carry sweep measures them with no global window."""
    from msi_preprocessing_pipeline_spark.functions.util import md5_bucket
    from msi_preprocessing_pipeline_spark.operators.profile import (
        disorder_stats)

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_id").isNotNull() & F.col("ts").isNotNull())
    jit = md5_bucket(
        F.concat_ws(":", F.col("event_id").cast("string"), F.lit("13")),
        600_000)
    obs = ev.select("event_id", (_ms("ts") - jit).alias("ms"))
    out = disorder_stats(obs, "event_id", "ms", bucket_width=1000)
    return out.select("n_events", "n_late", "frac_late", "max_lateness",
                      F.round("p50_lateness", 6).alias("p50_lateness"),
                      F.round("p99_lateness", 6).alias("p99_lateness"))


def _q_pagerank(spark, sf_dir):
    """Supplier/part centrality: 4 rounds of integer-arithmetic
    PageRank over the undirected part<->supplier bipartite graph —
    bit-identical across engines because every step is exact int64.

    r6 shape: the rank recurrence depends only on graph STRUCTURE, so
    the iterations run over narrow long node keys (partkey·2 /
    suppkey·2+1 — guide §2.3 narrower shuffle types) built from a
    pre-distinct int key-pair projection (dedup happens on 2 ints per
    lineitem row, not on built-up strings, and the operator's own edge
    distinct is skipped via ``assume_distinct``); the string node
    labels are reconstructed exactly at the end. Output identical to
    the string-keyed formulation (oracle unchanged)."""
    from msi_preprocessing_pipeline_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    fwd = pairs.select(
        (F.col("l_partkey").cast("long") * 2).alias("s"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("d"))
    # fwd rows are distinct (distinct pairs, injective key maps) and
    # even->odd while rev is odd->even, so the union is duplicate-free
    edges = fwd.union(fwd.select(F.col("d").alias("s"),
                                 F.col("s").alias("d")))
    ranks = pagerank(edges, "s", "d", iters=4, scale=10**9,
                     assume_distinct=True)
    return ranks.select(
        F.when(F.col("node") % 2 == 0,
               F.concat(F.lit("p"), (F.col("node") / F.lit(2))
                        .cast("long").cast("string")))
        .otherwise(
            F.concat(F.lit("s"), ((F.col("node") - 1) / F.lit(2))
                     .cast("long").cast("string"))).alias("node"),
        "rank")


def _pagerank_oracle(iters: int = 4, scale: int = 10**9,
                     num: int = 85, den: int = 100) -> str:
    """Unrolled-CTE DuckDB mirror of the integer PageRank recurrence
    (recursive CTEs cannot aggregate in the recursive term, so fixed
    iterations unroll into chained CTEs — exact int ops throughout)."""
    base = (scale * (den - num)) // den
    sql = f"""
            with edges as (
                select distinct 'p' || cast(l_partkey as varchar) as s,
                       's' || cast(l_suppkey as varchar) as d
                from lineitem
                union
                select distinct 's' || cast(l_suppkey as varchar),
                       'p' || cast(l_partkey as varchar)
                from lineitem
            ), nodes as (
                select distinct s as node from edges
                union
                select distinct d from edges
            ), deg as (
                select s, cast(count(*) as bigint) as dg
                from edges group by s
            ), e as (
                select edges.s, edges.d, deg.dg
                from edges join deg on edges.s = deg.s
            ), r0 as (
                select node, cast({scale} as bigint) as r from nodes
            )"""
    prev = "r0"
    for i in range(1, iters + 1):
        sql += f""", r{i} as (
                select n.node,
                       cast({base} + ({num} * coalesce(x.m, 0)) // {den}
                            as bigint) as r
                from nodes n
                left join (select e.d, sum(pr.r // e.dg) as m
                           from e join {prev} pr on e.s = pr.node
                           group by e.d) x
                on n.node = x.d
            )"""
        prev = f"r{i}"
    return sql + f"\n            select node, r as rank from {prev}"


def _q_pattern_count(spark, sf_dir):
    """MATCH_RECOGNIZE-lite: per-user count of view->click*->purchase
    shapes in the ordered event-type sequence (portable regex subset,
    skew-guarded collect)."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        event_pattern_count)

    ev = _t(spark, sf_dir, "events")
    pre = ev.select("user_id", _ms("ts").alias("ms"), "event_id",
                    "event_type")
    # max_events pinned explicitly (er_candidates_part precedent): the
    # oracle has no cap, so the cap must be unreachable at any SF.
    return event_pattern_count(
        pre, "user_id", ["ms", "event_id"], "event_type",
        {"view": "V", "click": "C", "purchase": "P"}, "VC*P",
        max_events=1_000_000_000)


def _q_scd2(spark, sf_dir):
    """Type-2 SCD validity intervals over purchase events as dimension
    versions — one lead window, per-group state is one row."""
    from msi_preprocessing_pipeline_spark.operators.changelog import (
        scd2_intervals)

    ev = _t(spark, sf_dir, "events")
    p = (ev.where(F.col("event_type") == "purchase")
         .select("user_id", "event_id", "value", "ts"))
    out = scd2_intervals(p, ["user_id"], "ts",
                         tiebreak_cols=["event_id"])
    return out.select("user_id", "event_id", "value",
                      _ms("eff_from").alias("eff_from_ms"),
                      _ms("eff_to").alias("eff_to_ms"), "is_current")


def _q_join_size(spark, sf_dir):
    """Exact orders ⋈ lineitem output-size prediction (the salting /
    broadcast decision input) — strictly cheaper than the join."""
    from msi_preprocessing_pipeline_spark.operators.profile import (
        join_size_estimate)

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    out = join_size_estimate(o, li, "o_orderkey", "l_orderkey")
    return out.select("n_left", "n_right", "n_left_keys",
                      "n_right_keys", "n_matched_keys",
                      F.col("est_rows").cast("long").alias("est_rows"),
                      F.col("max_key_rows").cast("long")
                      .alias("max_key_rows"), "top_key_share")


def _q_json_profile(spark, sf_dir):
    """Schema-on-read profile of the events.props JSON column — per-key
    presence + portable type classes, one JVM parse + one agg."""
    from msi_preprocessing_pipeline_spark.operators.validate import (
        json_key_profile)

    ev = _t(spark, sf_dir, "events")
    return json_key_profile(ev, "props")



_SPLIT_MS = 1706140800000  # 2024-01-25T00:00:00Z — incremental-refresh split


def _q_salted_join(spark, sf_dir):
    """Skew-salted events ⋈ customer (salt from the unique event_id via
    the shared md5 idiom, dim replicated 16×) — result-identical to the
    plain join, proven by aggregating the joined rows to per-segment
    exact sums the oracle computes with an unsalted join."""
    from msi_preprocessing_pipeline_spark.operators.joins import (
        salted_join)

    ev = _t(spark, sf_dir, "events")
    dim = (_t(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    j = salted_join(ev, dim, "user_id", spread_col="event_id",
                    n_salt=16, how="inner")
    micro = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")
    return (j.groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"),
                 F.sum(micro).alias("sum_value_micro"),
                 F.countDistinct("user_id").alias("n_users")))


def _q_fingerprint(spark, sf_dir):
    """Order-invariant content fingerprint of lineitem's integer key
    columns — the "same table after rebuild?" certificate, one scan."""
    from msi_preprocessing_pipeline_spark.operators.validate import (
        table_fingerprint)

    li = _t(spark, sf_dir, "lineitem")
    return table_fingerprint(
        li, ["l_orderkey", "l_partkey", "l_suppkey"])


def _q_diff_buckets(spark, sf_dir):
    """Merkle-style bucket diff: events vs events-minus-a-sliver — only
    the buckets containing the removed rows surface (locating a small
    corruption in a huge table with two scans + a |buckets| join)."""
    from msi_preprocessing_pipeline_spark.operators.validate import (
        table_diff_buckets)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    broken = ev.where(
        ~((F.col("event_type") == "purchase")
          & (F.col("event_id") % 97 == 0)))
    return table_diff_buckets(ev, broken, n_buckets=64)


def _q_l_diversity(spark, sf_dir):
    """Attribute-disclosure audit: l-diversity of the account-balance
    band within (nation, segment) quasi-identifier groups."""
    from msi_preprocessing_pipeline_spark.operators.privacy import (
        l_diversity_report)

    c = _t(spark, sf_dir, "customer")
    band = (F.when(F.col("c_acctbal") < 0, "neg")
            .when(F.col("c_acctbal") < 5000, "mid")
            .otherwise("high"))
    return l_diversity_report(c.withColumn("bal_band", band),
                              ["c_nationkey", "c_mktsegment"],
                              "bal_band", l=3)


def _q_group_sample(spark, sf_dir):
    """Deterministic cap-at-k per group: at most 5 events per
    event_type, ranked by the shared md5 idiom — the "bound every
    domain's contribution" sampling step."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        group_sample_k)

    ev = _t(spark, sf_dir, "events")
    out = group_sample_k(ev, "event_id", "event_type", k=5, seed=0)
    return out.select("event_type", "event_id", "user_id")


def _refresh_agg(rel):
    # sum coalesced to 0 so an all-null-value entity reads identically
    # through the recompute path, the additive-merge path, and the oracle
    micro = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")
    return (rel.groupBy("user_id")
            .agg(F.count("*").alias("n"),
                 F.coalesce(F.sum(micro), F.lit(0))
                 .alias("sum_value_micro"),
                 F.max(F.unix_millis(F.col("ts").cast("timestamp")))
                 .alias("max_ms")))


def _q_incremental_refresh(spark, sf_dir):
    """Delta-driven refresh of a per-user aggregate table: recompute
    ONLY users present in the post-split delta, splice everyone else
    from the previous materialization — the oracle is the from-scratch
    aggregation over the FULL history (the identity contract)."""
    from msi_preprocessing_pipeline_spark.operators.incremental import (
        refresh_group_agg)

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    hist = ev.where(ms < _SPLIT_MS)
    delta = ev.where(ms >= _SPLIT_MS)
    return refresh_group_agg(hist, _refresh_agg(hist), delta,
                             ["user_id"], _refresh_agg)


def _q_merge_additive(spark, sf_dir):
    """Algebraic fast path of the same refresh: merge the delta's OWN
    partial aggregates into the previous table without reading history
    — count/sum add, max takes greatest; same full-recompute oracle."""
    from msi_preprocessing_pipeline_spark.operators.incremental import (
        merge_additive)

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    hist = ev.where(ms < _SPLIT_MS)
    delta = ev.where(ms >= _SPLIT_MS)
    return merge_additive(_refresh_agg(hist), _refresh_agg(delta),
                          ["user_id"],
                          sum_cols=["n", "sum_value_micro"],
                          max_cols=["max_ms"])



def _inject_boilerplate(docs):
    """Per-source header + global footer lines spliced around each doc
    (the synthetic corpus is single-line, so the census input is built
    in-query — the pii_scan precedent); null text stays null."""
    inj = F.concat_ws(
        "\n",
        F.concat(F.lit("copyright "), F.col("source")),
        F.col("text"),
        F.lit("subscribe to our newsletter"))
    return docs.withColumn(
        "text", F.when(F.col("text").isNotNull(), inj))


def _q_boilerplate_census(spark, sf_dir):
    """CCNet/Dolma-style per-source boilerplate-line census: lines in
    >= 90% of a source's docs (and >= 2 docs), presence-counted."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        boilerplate_lines)

    docs = _inject_boilerplate(_t(spark, sf_dir, "documents"))
    return boilerplate_lines(docs, "doc_id", "text", "source",
                             min_docs=2, min_frac=0.9, min_chars=5)


def _q_remove_boilerplate(spark, sf_dir):
    """Corpus rewrite with the census lines deleted — verified through
    an md5 of every cleaned document (order-preserving reassembly)."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        remove_boilerplate)

    docs = _inject_boilerplate(_t(spark, sf_dir, "documents"))
    out = remove_boilerplate(docs, "doc_id", "text", "source",
                             min_docs=2, min_frac=0.9, min_chars=5)
    return out.select(
        "doc_id", "source",
        F.when(F.col("text").isNotNull(), F.md5("text"))
        .alias("clean_md5"),
        "n_lines_removed")


def _q_dedup_paragraphs(spark, sf_dir):
    """Corpus-global paragraph dedup (Dolma-style keep-first): a global
    quote line, a per-source signature line, and (for every 5th doc) a
    repeat of the doc's own text are spliced in-query — the dedup must
    keep each eligible line only at its smallest (doc_id, pos) while the
    short '--' separator always survives."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        dedup_paragraphs)

    docs = _t(spark, sf_dir, "documents")
    # coalesce: Spark concat_ws SKIPS a null element while DuckDB '||'
    # nulls the whole expression — a null source must not diverge
    inj = F.concat_ws(
        "\n",
        F.lit("the quick brown fox jumps over the lazy dog."),
        F.col("text"),
        F.concat(F.lit("sig "),
                 F.coalesce(F.col("source"), F.lit("?"))),
        F.lit("--"),
        F.when(F.col("doc_id") % 5 == 0, F.col("text")))
    docs = docs.withColumn(
        "text", F.when(F.col("text").isNotNull(), inj))
    out = dedup_paragraphs(docs, "doc_id", "text", min_chars=5)
    return out.select(
        "doc_id", "source",
        F.when(F.col("text").isNotNull(), F.md5("text"))
        .alias("clean_md5"),
        "n_paragraphs_removed")


def _q_c4_filter(spark, sf_dir):
    """C4 cleaning heuristics over docs with rule-triggering lines
    spliced in-query: a no-terminal-punctuation line, a javascript
    line, a 2-word line (all dropped), three well-formed keeper lines,
    plus 'lorem ipsum' / '{' doc-level poison for every 7th / 11th doc
    (keep_doc = false)."""
    from msi_preprocessing_pipeline_spark.operators.text import c4_filter

    docs = _t(spark, sf_dir, "documents")
    inj = F.concat_ws(
        "\n",
        F.col("text"),
        F.lit("click here to subscribe"),
        F.lit("please enable javascript to view."),
        F.lit("ok."),
        F.lit("the first injected line is long enough."),
        F.lit("a second good line keeps the document alive."),
        F.lit("the third line also ends with punctuation."),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("this page uses lorem ipsum placeholder text.")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("function f() { return 1; }")))
    docs = docs.withColumn(
        "text", F.when(F.col("text").isNotNull(), inj))
    out = c4_filter(docs, "text", min_words=5, min_lines=3)
    return out.select(
        "doc_id", "source",
        F.when(F.col("text").isNotNull(), F.md5("text"))
        .alias("clean_md5"),
        "n_lines_kept", "keep_doc")



def _q_winsorize(spark, sf_dir):
    """Percentile clipping of value per event type at (p05, p95) — exact
    linear-interpolation edges, tails pulled to the quantile."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        winsorize)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    out = winsorize(ev, "value", lo_q=0.05, hi_q=0.95,
                    group_cols=["event_type"])
    return out.select("event_id", "event_type",
                      F.round("value_winsor", 6).alias("v_winsor"))




def _supplier_coorder_edges(spark, sf_dir):
    """Undirected supplier co-order edges over ONE sparse ship-date
    slice (1995-02..1995-08) — single-sourced for the three graph
    queries.  The full-corpus co-order graph is near-complete (every
    supplier pair eventually shares an order), where any exact census
    is Θ(n³) regardless of algorithm; the slice keeps it sparse AND
    non-trivial at every sf (sf0.01: 100 nodes / 620 edges / 377
    triangles — an empty slice once made these queries verify
    vacuously, so the bounds are load-bearing).  The six date literals
    (three here via one site, three in the oracle SQL strings) must
    stay in sync.
    """
    li = _t(spark, sf_dir, "lineitem")
    su = (li.where(F.col("l_orderkey").isNotNull()
                   & F.col("l_suppkey").isNotNull()
                   & (F.col("l_shipdate") >= F.lit("1995-02-01"))
                   & (F.col("l_shipdate") < F.lit("1995-08-01")))
          .select("l_orderkey", F.col("l_suppkey").alias("s1"))
          .distinct())
    return (su.join(su.select("l_orderkey", F.col("s1").alias("s2")),
                    ["l_orderkey"])
            .where(F.col("s1") < F.col("s2"))
            .select("s1", "s2"))


def _q_triangles(spark, sf_dir):
    """Triangle census of the supplier co-order graph (suppliers linked
    when they serve the same order) — degree-oriented exact count, the
    O(m^1.5) formulation that survives celebrity nodes."""
    from msi_preprocessing_pipeline_spark.operators.graph import (
        triangles)

    edges = _supplier_coorder_edges(spark, sf_dir)
    return triangles(edges, "s1", "s2")


def _q_gap_stats(spark, sf_dir):
    """Per-user inactivity-gap summary (1-hour threshold) — exact
    integer gaps; median via percentile = quantile_cont."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        gap_stats)

    ev = _t(spark, sf_dir, "events")
    return gap_stats(ev, "user_id", "ts", threshold_ms=3_600_000,
                     tiebreak=["event_id"])


def _q_survivorship(spark, sf_dir):
    """Field-level golden record per user: latest NON-NULL value and
    event_type can come from different events (synthetic data has no
    nulls, so the query injects them deterministically)."""
    from msi_preprocessing_pipeline_spark.operators.er import (
        survivorship_merge)

    # null-ts guard (vacuous on this data, but Spark sorts null struct
    # fields FIRST in max(struct) while DuckDB sorts them LAST — same
    # latent class as the top_paths/gap_stats fixes)
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull())
          .select("user_id", _ms("ts").alias("ms"),
                  F.when(F.col("event_id") % 5 == 0, F.lit(None))
                  .otherwise(F.col("value")).alias("value_n"),
                  F.when(F.col("event_id") % 3 == 0, F.lit(None))
                  .otherwise(F.col("event_type")).alias("type_n")))
    return survivorship_merge(ev, "user_id", "ms",
                              ["value_n", "type_n"])


def _q_audience_overlap(spark, sf_dir):
    """Pairwise event-type audience overlap (exact counts + Jaccard)
    — the exact companion of the theta-sketch overlap query."""
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        audience_overlap)

    ev = _t(spark, sf_dir, "events")
    return audience_overlap(ev, "user_id", "event_type")


def _q_ecdf(spark, sf_dir):
    """Per-event-type ECDF normalization of event values — exact
    count ratio, no interpolation, monotone-invariant."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        ecdf_transform)

    ev = _t(spark, sf_dir, "events")
    return (ecdf_transform(ev, "value", ["event_type"])
            .select("event_id", "value", "value_ecdf"))


def _q_top_paths(spark, sf_dir):
    """Top-15 first-4-step event-type journeys across users, with the
    truncated share reported — the product-analytics path census."""
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        top_paths)

    # ts ordering of nulls diverges between engines (Spark windows
    # sort nulls first, DuckDB row_number sorts them last) — paths are
    # defined over TIMESTAMPED events on both sides
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    out = top_paths(ev, "user_id", "ts", "event_type",
                    max_steps=4, k=15, tiebreak=["event_id"])
    return out.select("path", "n_entities", "n_truncated")


def _q_column_profile(spark, sf_dir):
    """One-scan column-level data-quality profile of events (exact
    null/distinct counts, stringified min/max) — the Expand-strategy
    multi-distinct, not |cols| scans."""
    from msi_preprocessing_pipeline_spark.operators.profile import (
        column_profile)

    ev = _t(spark, sf_dir, "events")
    return column_profile(ev, ["event_id", "user_id", "event_type",
                               "value"])


def _q_impute_median(spark, sf_dir):
    """Group-median imputation: synthetic data has no nulls, so the
    query nulls every 7th event's value deterministically (the
    pii_scan injection pattern), then imputes per event type."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        impute_median)

    ev = (_t(spark, sf_dir, "events")
          .withColumn("value_n",
                      F.when(F.col("event_id") % 7 == 0, F.lit(None))
                      .otherwise(F.col("value"))))
    out = impute_median(ev, "value_n", ["event_type"])
    return out.select("event_id", "value_n", "value_n_imputed")


def _q_calendar(spark, sf_dir):
    """Calendar feature expansion of event timestamps — dow/hour/
    minute by pure epoch-ms integer arithmetic (no engine week or
    locale conventions), field extractions for year/month/day."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        calendar_features)

    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    return calendar_features(ev, "ts").drop("ts")


def _q_lump_rare(spark, sf_dir):
    """Rare-category lumping of part types (count < 15 -> __other__)
    — cardinality taming before one-hot/target encoding."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        lump_rare)

    part = _t(spark, sf_dir, "part")
    return (lump_rare(part, "p_type", min_count=15)
            .select("p_partkey", "p_type", "p_type_lumped"))


def _q_value_histogram(spark, sf_dir):
    """Per-user fixed-range histogram of event values as a feature
    vector — 10 bins over [0, 250), tails clamped into edge bins."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        value_histogram)

    ev = _t(spark, sf_dir, "events")
    out = value_histogram(ev, "value", ["user_id"],
                          lo=0.0, hi=250.0, n_bins=10)
    # stringify the array column (harness sort can't hash ndarray cells)
    return out.select("user_id", "n_values",
                      F.concat_ws(",", F.col("hist").cast("array<string>"))
                      .alias("hist_str"))


def _q_kcore(spark, sf_dir):
    """8-core of the supplier co-order graph (same sparse slice):
    iterative peeling, unique fixpoint — golden-pinned (peeling is
    not expressible in non-recursive SQL; the pytest brute-force
    peeler independently checks the algorithm)."""
    from msi_preprocessing_pipeline_spark.operators.graph import kcore

    edges = _supplier_coorder_edges(spark, sf_dir)
    return kcore(edges, "s1", "s2", k=8)


def _q_bfs_hops(spark, sf_dir):
    """Multi-source BFS over the sparse co-order slice: exact hop
    distance from the 5 lowest-keyed suppliers, 4-hop horizon —
    integer-only contract, recursive-CTE oracle."""
    from msi_preprocessing_pipeline_spark.operators.graph import bfs_hops

    edges = _supplier_coorder_edges(spark, sf_dir)
    nodes = (edges.select(F.col("s1").alias("node"))
             .union(edges.select("s2")).distinct())
    seeds = nodes.orderBy("node").limit(5)
    return bfs_hops(edges, "s1", "s2", seeds, max_hops=4)


def _q_clustering_coeff(spark, sf_dir):
    """Per-supplier local clustering coefficient of the co-order
    graph — same sparse slice as the triangle census."""
    from msi_preprocessing_pipeline_spark.operators.graph import (
        clustering_coeff)

    edges = _supplier_coorder_edges(spark, sf_dir)
    return clustering_coeff(edges, "s1", "s2")


def _q_label_prop(spark, sf_dir):
    """3-round deterministic label propagation communities over the
    supplier co-order slice — most-frequent neighbor label, min-label
    tie break; exact integer labels, oracle = 3 unrolled SQL rounds."""
    from msi_preprocessing_pipeline_spark.operators.graph import (
        label_prop)

    edges = _supplier_coorder_edges(spark, sf_dir)
    return label_prop(edges, "s1", "s2", iters=3)


def _q_er_resolve(spark, sf_dir):
    """Full entity resolution over one brand's part names: blocked
    levenshtein match graph → connected components → canonical
    survivor (longest name, min id) — every record labeled."""
    from msi_preprocessing_pipeline_spark.operators.er import (
        resolve_entities)

    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#11")
    return resolve_entities(part, "p_name", "p_partkey",
                            max_dist=2, max_block=1_000_000)


def _q_trend(spark, sf_dir):
    """Per-user OLS trend of event value over time (slope per second,
    intercept at the user's first event, r^2) — decimal-exact moment
    sums over the 1e-6-quantized series, so the double tail is
    bit-identical across engines."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        trend_features)

    ev = _t(spark, sf_dir, "events")
    out = trend_features(ev, "value", "user_id", "ts",
                         scale=6, slope_unit_ms=1000)
    # quantize the double tail: the decimal->double cast of the exact
    # moment sums is 1-ulp engine-dependent (DuckDB's hugeint->double
    # double-rounds), so compare on a grid ~1e12 coarser than the wobble
    q9 = lambda c: F.floor(F.col(c) * F.lit(1e9) + F.lit(0.5))  # noqa: E731
    return out.select("user_id", "n_obs",
                      F.unix_millis(F.col("t0").cast("timestamp"))
                      .alias("t0_ms"),
                      q9("slope").alias("slope_n"),
                      F.floor(F.col("intercept") * F.lit(1e6) + F.lit(0.5))
                      .alias("intercept_u"),
                      q9("r2").alias("r2_n"))


# Dict ORDER is load-bearing: the correctness driver records only the FIRST
def _inject_gopher(docs):
    """Gopher-signal fixture: the synthetic corpus is single-line ASCII
    with no duplicates/bullets/symbols, so the quality census input is
    built in-query (the pii_scan / boilerplate precedent).  ``' the '``
    → newline turns every doc multi-line (literal replace — identical
    left-to-right non-overlap in both engines); residue classes splice
    duplicate stop-word lines ending in ``...`` (doc_id%5), bullet
    lines (%7), and hash/ellipsis symbols (%11).  Null text stays
    null."""
    dup_line = "\nand that have with to be of..."
    inj = F.concat(
        F.replace(F.col("text"), F.lit(" the "), F.lit("\n")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(dup_line + dup_line))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("\n- bullet point one\n* bullet two"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("\n# # # fin…"))
        .otherwise(F.lit("")))
    return docs.withColumn("text",
                           F.when(F.col("text").isNotNull(), inj))


def _q_gopher_quality(spark, sf_dir):
    """Gopher quality rules (Rae et al. §A1.1) as ONE map-only
    projection — within-doc duplicate-line census via sorted-array
    neighbour flags, zero exchanges.  All ratios are single int/int
    divisions micro-quantized with _uq; the pass flag is pure integer
    threshold algebra (min_words=20 / min_stop_hits=1 so the 25-word
    synthetic docs exercise BOTH outcomes)."""
    from msi_preprocessing_pipeline_spark.operators import text as tx

    docs = _inject_gopher(_t(spark, sf_dir, "documents"))
    out = tx.gopher_quality(docs, min_words=20, min_stop_hits=1)
    w = F.col("n_words")
    li = F.col("n_lines")
    lc = F.col("n_line_chars")
    return out.select(
        "doc_id", "n_words", "n_lines", "n_dup_lines", "n_bullet_lines",
        "n_stop_hits",
        F.when(w > 0, _uq(F.col("n_word_chars") / w))
        .alias("mean_word_len_u"),
        F.when(w > 0, _uq(F.col("n_alpha_words") / w))
        .alias("alpha_frac_u"),
        F.when(w > 0, _uq((F.col("n_hash_chars")
                           + F.col("n_ellipsis_seqs")) / w))
        .alias("symbol_ratio_u"),
        F.when(li > 0, _uq(F.col("n_bullet_lines") / li))
        .alias("bullet_frac_u"),
        F.when(li > 0, _uq(F.col("n_ellipsis_lines") / li))
        .alias("ellipsis_frac_u"),
        F.when(li > 0, _uq(F.col("n_dup_lines") / li))
        .alias("dup_line_frac_u"),
        F.when(lc > 0, _uq(F.col("n_dup_line_chars") / lc))
        .alias("dup_char_frac_u"),
        F.col("gopher_pass").cast("int").alias("gopher_pass"))


def _q_nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization as a cross-engine contract: CPython's
    ``unicodedata`` (one Arrow-batched map pass) must produce the exact
    bytes of DuckDB's utf8proc ``nfc_normalize()`` — verified through
    md5 + code-point lengths.  The ASCII corpus gets decomposed
    combining sequences injected for doc_id%3 (must change under NFC)
    and precomposed ``é å`` for doc_id%4 (already NFC — must NOT
    change)."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        nfc_normalize)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" Cafe\u0301 A\u030a"))  # decomposed
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit(" \u00e9\u00e5"))  # precomposed
        .otherwise(F.lit("")))
    inj = docs.withColumn(
        "text", F.when(F.col("text").isNotNull(), injected)).withColumn(
        "n_chars_orig", F.length("text").cast("long"))
    out = nfc_normalize(inj)
    return out.select(
        "doc_id",
        F.col("nfc_changed").cast("int").alias("changed"),
        F.md5(F.col("text").cast("binary")).alias("norm_md5"),
        "n_chars_orig",
        F.length("text").cast("long").alias("n_chars_norm"))


def _q_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity cut per source: add-k bigram
    NLL (micro-quantized — integer ranking keys) ranked within source,
    exact thirds by (nll_u, doc_id) row_number.  Docs with <2 tokens
    are excluded (no score), mirrored by the oracle's n_bigrams>0."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        lm_score, perplexity_buckets)

    tok = _tokenized_docs(spark, sf_dir)
    scored = (lm_score(tok, k=0.5, vocab_size=4096, scale=9)
              .where(F.col("n_bigrams") > 0)
              .withColumn("nll_u", _uq("nll")))
    j = scored.join(tok.select("doc_id", "source"), ["doc_id"])
    out = perplexity_buckets(j, by="source", score_col="nll_u")
    return out.select("doc_id", "source", "nll_u", "bucket_idx",
                      "ppl_bucket")


def _q_fertility(spark, sf_dir):
    """Per-source tokenizer fertility: pieces/word and chars/piece from
    one exact-integer census scan — the corpus budget-planning table."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        tokenizer_fertility)

    docs = _t(spark, sf_dir, "documents")
    out = tokenizer_fertility(docs, by="source")
    return out.select(
        "source", "n_docs", "n_null_text", "n_words", "n_pieces",
        "n_chars",
        F.when(F.col("n_words") > 0,
               _uq(F.col("n_pieces") / F.col("n_words")))
        .alias("fertility_u"),
        F.when(F.col("n_pieces") > 0,
               _uq(F.col("n_chars") / F.col("n_pieces")))
        .alias("chars_per_piece_u"),
        F.when(F.col("n_words") > 0,
               _uq(F.col("n_chars") / F.col("n_words")))
        .alias("chars_per_word_u"))


def _q_unimax(spark, sf_dir):
    """UniMax budget allocation over the tokenized corpus: exact
    integer water-filling with a 2-epoch cap — budget 48000 sits
    mid-pack at sf0.01 so BOTH exhausted and budget-bound sources
    occur (vacuity-checked)."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        unimax_plan)

    tok = _tokenized_docs(spark, sf_dir)
    return unimax_plan(tok, budget_tokens=48000, max_epochs=2,
                       group_col="source", tokens_col="n_tok")


def _q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining: top-2 nearest DIFFERENT-label
    neighbors per vector — exact-int dots over micro-quantized
    components, fixed-order IEEE cosine key, id tie-breaks."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        hard_negatives)

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, k=2)


def _q_logreg_quality(spark, sf_dir):
    """Fasttext-style linear quality classifier fit ON the corpus
    (label: lang == 'en') then scored map-only — gradient sums are
    exact DECIMAL(38,0) over micro-quantized residuals, so fit weights
    and every per-doc score are partition-invariant (golden-pinned:
    σ uses exp, which is not cross-libm exact)."""
    from msi_preprocessing_pipeline_spark.operators import text as tx
    from msi_preprocessing_pipeline_spark.operators.classifier import (
        logreg_fit, logreg_score)

    docs = _t(spark, sf_dir, "documents")
    nw = tx.token_count().cast("double")
    nsp = F.length(F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"\s+", "")).cast("double")
    stop = tx.stopword_hits("en").cast("double")
    feats = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("y"),
        F.coalesce(nw / F.lit(100.0), F.lit(0.0)).alias("f_words"),
        F.when(nw > 0, (nsp / nw) / F.lit(10.0)).otherwise(F.lit(0.0))
        .alias("f_mwl"),
        F.when(nw > 0, stop / nw).otherwise(F.lit(0.0))
        .alias("f_stop"))
    cols = ["f_words", "f_mwl", "f_stop"]
    w = logreg_fit(feats, cols, "y", iters=6, lr=2.0)
    out = logreg_score(feats, w, cols)
    return out.select("doc_id", "y", _uq("z").alias("z_u"), "pred")


def _q_retrieval_metrics(spark, sf_dir):
    """IR-quality readout of the engine's own exact cosine run against
    label-derived graded qrels: every metric is exact-int arithmetic or
    one IEEE division (discount/reciprocal literal tables shared with
    the DuckDB oracle), and the Spark side derives IDCG from the
    (query, grade) histogram while the oracle sorts — cross-checking
    the scale path against the naive definition."""
    from msi_preprocessing_pipeline_spark.operators.retrieval import (
        retrieval_metrics)
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        cosine_topk)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    run = (cosine_topk(emb, queries, k=10)
           .withColumnRenamed("neighbor_id", "doc_id"))
    qv = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("label").alias("__ql"))
    qrels = (emb.crossJoin(F.broadcast(qv))
             .where(F.col("vec_id") != F.col("query_id"))
             .select("query_id", F.col("vec_id").alias("doc_id"),
                     F.when(F.col("label") == F.col("__ql"), F.lit(2))
                     .when(F.col("label") % 4 == F.col("__ql") % 4, F.lit(1))
                     .otherwise(F.lit(0)).alias("rel")))
    return retrieval_metrics(run, qrels, k=10)


def _q_mmr_rerank(spark, sf_dir):
    """MMR diversified top-k over the embedding corpus: exact-int cosine
    keys (hard_negatives contract) and an integer-percent λ make the
    greedy selection bit-reproducible at any partitioning — iterative,
    so golden-pinned (the kmeans/pq precedent)."""
    from msi_preprocessing_pipeline_spark.operators.retrieval import (
        mmr_rerank)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return mmr_rerank(emb, queries, k=8, pool=40, lam_pct=70)


def _q_fim_transform(spark, sf_dir):
    """Fill-in-the-middle reordering of the canonical tokenized corpus:
    md5-drawn cut points + JVM slices — map-only, zero Python, exact
    relational mirror in DuckDB."""
    from msi_preprocessing_pipeline_spark.operators.augment import (
        fim_transform)

    out = fim_transform(_tokenized_docs(spark, sf_dir), vocab_size=4096,
                        rate_pct=50, mode="psm")
    return out.select("doc_id", "fim_applied",
                      F.size("fim_tokens").cast("long").alias("n_out"),
                      F.concat_ws(" ", "fim_tokens").alias("fim_str"))


def _q_span_corrupt(spark, sf_dir):
    """T5 span corruption of the canonical tokenized corpus: ONE JVM
    fold per row (map-only) on the Spark side vs an exploded
    slot-window reassembly in DuckDB — two independent derivations of
    the identical md5-deterministic mask."""
    from msi_preprocessing_pipeline_spark.operators.augment import (
        span_corrupt)

    out = span_corrupt(_tokenized_docs(spark, sf_dir), vocab_size=4096,
                       slot_len=8, rate_pct=40, max_span=3)
    return out.select("doc_id", "n_spans", "n_masked",
                      F.concat_ws(" ", "inputs").alias("inputs_str"),
                      F.concat_ws(" ", "targets").alias("targets_str"))


def _q_vocab_remap(spark, sf_dir):
    """Frequency-pruned vocabulary remap of the canonical tokenized
    corpus: the Spark side collects the |V|-bounded pruned vocab into
    ONE zero-shuffle Arrow lookup pass, the DuckDB oracle takes the
    fully relational explode/join/reassemble route — two independent
    derivations of the same dense re-id."""
    from msi_preprocessing_pipeline_spark.operators.vocab import (
        prune_vocab, remap_tokens)

    tok = _tokenized_docs(spark, sf_dir)
    # max_vocab=24 < the corpus's ~32 distinct hashed types at every sf,
    # so the unk path is NON-vacuous in this contract (min_count alone
    # would prune nothing: the synthetic text has no rare words).
    vocab = prune_vocab(tok, min_count=2, max_vocab=24)
    out = remap_tokens(tok, vocab, strategy="arrow")
    return out.select(
        "doc_id", F.col("n_tok").cast("long").alias("n_tok"), "n_unk",
        F.concat_ws(" ", F.col("remapped").cast("array<string>"))
        .alias("remap_str"))


def _q_token_spans(spark, sf_dir):
    """Cross-document duplicated TOKEN spans (Lee et al. 2022 substring
    dedup over the pre-tokenized input shape): maximal token-coordinate
    spans covered by 8-grams occurring in >= 2 distinct docs."""
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        duplicate_token_spans)

    return duplicate_token_spans(_tokenized_docs(spark, sf_dir), n=8)


def _q_pack_segments(spark, sf_dir):
    """Concat-and-chunk packing WITH the trainer-facing block-diagonal
    attention arrays: per packed 64-token window, the per-token source
    ordinal (segment_ids) and in-document position (position_ids,
    resuming across straddled windows)."""
    from msi_preprocessing_pipeline_spark.operators.packing import (
        pack_with_segments)

    out = pack_with_segments(_tokenized_docs(spark, sf_dir), budget=64)
    return out.select(
        "bucket", "seq_no", "n_tok", "n_segments",
        F.concat_ws(" ", F.col("tokens").cast("array<string>"))
        .alias("tokens_str"),
        F.concat_ws(" ", F.col("segment_ids").cast("array<string>"))
        .alias("seg_str"),
        F.concat_ws(" ", F.col("position_ids").cast("array<string>"))
        .alias("pos_str"))


def _q_preference_pairs(spark, sf_dir):
    """DPO/reward-model preference-pair construction: per source, the 4
    longest docs (by exact token count) paired against the 4 shortest
    with margin >= 8 — bounded k² fan-out, all-integer contract."""
    from msi_preprocessing_pipeline_spark.operators.ranking import (
        preference_pairs)

    tok = _tokenized_docs(spark, sf_dir)
    out = preference_pairs(tok, "source", "doc_id", "n_tok", k=4,
                           min_margin=8)
    return out.select(
        "source", "chosen_id", "rejected_id",
        F.col("chosen_score").cast("long").alias("chosen_score"),
        F.col("rejected_score").cast("long").alias("rejected_score"),
        F.col("margin").cast("long").alias("margin"))


def _q_curriculum_keys(spark, sf_dir):
    """Curriculum sort keys over the tokenized corpus: exact-quantile
    length buckets + md5 intra-bucket shuffle key (keys, not a global
    ordinal — the zorder_key precedent; materialization is a
    distributed range sort)."""
    from msi_preprocessing_pipeline_spark.operators.curriculum import (
        curriculum_keys)

    tok = _tokenized_docs(spark, sf_dir)
    out = curriculum_keys(tok, "n_tok", n_buckets=4)
    return out.select("doc_id", "cur_bucket", "cur_key")


def _q_loss_mask(spark, sf_dir):
    """Instruction-tuning loss mask split at the first occurrence of
    token 7 — map-only indexed transform, all-integer contract."""
    from msi_preprocessing_pipeline_spark.operators.augment import (
        loss_mask)

    out = loss_mask(_tokenized_docs(spark, sf_dir), sep_id=7)
    return out.select(
        "doc_id", "n_prompt", "n_target",
        F.concat_ws(" ", F.col("mask").cast("array<string>"))
        .alias("mask_str"))


def _q_vocab_coverage(spark, sf_dir):
    """One-row corpus coverage summary for the pruned vocabulary —
    exact integer cells plus ONE IEEE division (the
    classification_report determinism pattern)."""
    from msi_preprocessing_pipeline_spark.operators.vocab import (
        prune_vocab, vocab_coverage)

    tok = _tokenized_docs(spark, sf_dir)
    return vocab_coverage(tok, prune_vocab(tok, min_count=2,
                                           max_vocab=24))


def _q_temperature_mixture(spark, sf_dir):
    """Temperature (T=2) mixture weights + exact Hamilton document
    allocation over the tokenized corpus — sqrt is correctly rounded
    in every IEEE engine, so the quantized sampling mass is the same
    exact int64 everywhere; budget 137 is not divisible by the source
    masses so largest-remainder +1s occur (vacuity-checked)."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        temperature_mixture_plan)

    tok = _tokenized_docs(spark, sf_dir)
    out = temperature_mixture_plan(tok, budget_docs=137,
                                   group_col="source",
                                   tokens_col="n_tok")
    return out.select("group", "n_docs", "n_tokens", "q_temp",
                      _uq("weight").alias("weight_u"), "alloc_docs")


def _q_mixture_draw(spark, sf_dir):
    """Materialize the T=2 temperature mix: the Hamilton allocation
    feeds take_per_group, which draws exactly alloc_docs[g] documents
    per source by md5 rank — the full plan→draw composition is
    engine- and partitioning-invariant, so it is exactly SQL-oracled
    end to end."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        take_per_group, temperature_mixture_plan)

    tok = _tokenized_docs(spark, sf_dir)
    alloc = temperature_mixture_plan(tok, budget_docs=137,
                                     group_col="source",
                                     tokens_col="n_tok")
    out = take_per_group(tok, alloc, key="doc_id", group_col="source",
                         seed=0)
    return out.select("doc_id", "source",
                      F.col("n_tok").cast("long").alias("n_tok"))


def _fit_unigram_docs(spark, sf_dir):
    """Shared unigram fit for the two unigram queries: hard-EM over the
    documents word histogram (vocab 96 multi-char pieces + charset,
    3 iterations, pieces ≤ 4 chars)."""
    from msi_preprocessing_pipeline_spark.operators.bpe import (
        word_frequencies)
    from msi_preprocessing_pipeline_spark.operators.unigram import (
        fit_unigram)

    docs = _t(spark, sf_dir, "documents")
    return fit_unigram(word_frequencies(docs), vocab_size=96,
                       n_iters=3, max_piece_len=4, max_seed=1024)


def _q_unigram_fit(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) vocabulary fit by distributed
    hard EM — exact integer piece counts (partition-invariant,
    pytest-pinned), numpy-quantized micro-log scores; iterative +
    Viterbi → golden-pinned (the kmeans/dsir precedent)."""
    pieces = _fit_unigram_docs(spark, sf_dir)
    return spark.createDataFrame(
        pieces, "piece string, piece_id int, count long, score_u long")


def _q_unigram_tokenize(spark, sf_dir):
    """Corpus tokenized with the fitted unigram vocabulary: ONE map-only
    Arrow pass (zero exchanges on corpus rows), Viterbi per word,
    unk id 0 for unseen characters."""
    from msi_preprocessing_pipeline_spark.operators.unigram import (
        unigram_tokenize)

    docs = _t(spark, sf_dir, "documents")
    out = unigram_tokenize(docs, _fit_unigram_docs(spark, sf_dir))
    return out.select(
        "doc_id", "source", F.col("n_tok").cast("long").alias("n_tok"),
        F.concat_ws(" ", F.col("tokens").cast("array<string>"))
        .alias("tokens_str"))


def _q_shard_plan(spark, sf_dir):
    """Snake/boustrophedon size-balanced shard assignment over the
    tokenized corpus — distributed global rank (range sort + offset
    join, never a single-partition window), exact SQL oracle."""
    from msi_preprocessing_pipeline_spark.operators.layout import (
        plan_shards)

    tok = _tokenized_docs(spark, sf_dir)
    out = plan_shards(tok, n_shards=7, size_col="n_tok",
                      id_col="doc_id")
    return out.select("doc_id", "source",
                      F.col("n_tok").cast("long").alias("n_tok"),
                      "rank", "shard")


def _q_shard_stats(spark, sf_dir):
    """Per-shard balance readout of the 7-shard snake plan: exact
    integer token totals + ONE micro-quantized IEEE imbalance ratio."""
    from msi_preprocessing_pipeline_spark.operators.layout import (
        shard_stats)

    tok = _tokenized_docs(spark, sf_dir)
    return shard_stats(tok, n_shards=7, size_col="n_tok",
                       id_col="doc_id")


def _q_dedup_lines(spark, sf_dir):
    """WITHIN-doc duplicate-line removal (map-only, zero shuffle): the
    synthetic corpus is single-line, so each doc is expanded in-query
    with a repeated body line and a repeated marker (the boilerplate
    injection precedent) — every non-null doc drops exactly its two
    later repeats, pinned through a cleaned-text md5."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        dedup_lines_in_doc)

    docs = _t(spark, sf_dir, "documents")
    inj = F.concat_ws(
        "\n",
        F.col("text"),
        F.lit("-- page break --"),
        F.concat(F.lit("footer for "), F.col("source")),
        F.col("text"),
        F.lit("-- page break --"),
        F.lit("ad"))
    docs = docs.withColumn(
        "text", F.when(F.col("text").isNotNull(), inj))
    out = dedup_lines_in_doc(docs, min_chars=5)
    return out.select(
        "doc_id", "source",
        F.when(F.col("text").isNotNull(), F.md5("text"))
        .alias("clean_md5"),
        "n_lines_removed")


def _q_length_buckets(spark, sf_dir):
    """Dynamic-batching plan over the tokenized corpus: exact pow2
    buckets (binary-string-length trick — no float log2), md5-shuffled
    deterministic batch formation — fully integer, exact SQL oracle."""
    from msi_preprocessing_pipeline_spark.operators.packing import (
        length_bucket_batches)

    tok = _tokenized_docs(spark, sf_dir)
    return length_bucket_batches(tok, batch_tokens=2048, min_bucket=16,
                                 max_bucket=1024, seed=0)


def _q_merge_into(spark, sf_dir):
    """Delta-style MERGE INTO as one full-outer join + case projection:
    source = in-query deterministic updates (custkey % 7 == 0, acctbal
    +1000) ∪ inserts (shifted keys) — update+insert snapshot, exact
    SQL oracle (source ∪ untouched-target identity)."""
    from msi_preprocessing_pipeline_spark.operators.changelog import (
        merge_into)

    cust = _t(spark, sf_dir, "customer")
    upd = (cust.where(F.col("c_custkey") % 7 == 0)
           .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
           .withColumn("c_mktsegment", F.lit("UPDATED")))
    ins = (cust.where(F.col("c_custkey") % 11 == 0)
           .withColumn("c_custkey", F.col("c_custkey") + 1000000)
           .withColumn("c_name", F.concat(F.lit("new_"),
                                          F.col("c_name"))))
    out = merge_into(cust, upd.unionByName(ins), "c_custkey")
    return out.select("c_custkey", "c_name", "c_nationkey",
                      _uq("c_acctbal").alias("acctbal_u"),
                      "c_mktsegment")


def _q_script_census(spark, sf_dir):
    """Unicode writing-system census with deterministically injected
    multilingual suffixes (the synthetic corpus is ASCII — pii_scan
    precedent): per-script letter counts, dominant script, share.
    Java \\p{IsX} ↔ RE2 \\p{X} parity is the contract (pytest-pinned
    across 9 scripts)."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        script_census)

    docs = _t(spark, sf_dir, "documents")
    suffix = (F.when(F.col("doc_id") % 5 == 0, F.lit(" Привет мир"))
              .when(F.col("doc_id") % 5 == 1, F.lit(" 你好世界"))
              .when(F.col("doc_id") % 5 == 2, F.lit(" مرحبا بالعالم"))
              .when(F.col("doc_id") % 5 == 3, F.lit(" γειά σου"))
              .otherwise(F.lit("")))
    docs = docs.withColumn(
        "text", F.when(F.col("text").isNotNull(),
                       F.concat(F.col("text"), suffix)))
    return script_census(docs)


def _q_to_changelog(spark, sf_dir):
    """CDC round-trip source: the minimal changelog that turns the
    customer snapshot into its merged+pruned successor (updates %7,
    inserts %11, deletes %13) — upserts carry new rows, deletes carry
    old rows, ts stamped. Exact SQL oracle (full-outer diff mirror);
    the replay identity is pytest-pinned."""
    from msi_preprocessing_pipeline_spark.operators.changelog import (
        merge_into, to_changelog)

    cust = _t(spark, sf_dir, "customer")
    upd = (cust.where(F.col("c_custkey") % 7 == 0)
           .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
           .withColumn("c_mktsegment", F.lit("UPDATED")))
    ins = (cust.where(F.col("c_custkey") % 11 == 0)
           .withColumn("c_custkey", F.col("c_custkey") + 1000000)
           .withColumn("c_name", F.concat(F.lit("new_"),
                                          F.col("c_name"))))
    new = merge_into(cust, upd.unionByName(ins), "c_custkey") \
        .where(F.col("c_custkey") % 13 != 0)
    out = to_changelog(cust, new, "c_custkey", "change_ts", 12345)
    return out.select("c_custkey", "c_name", "c_nationkey",
                      _uq("c_acctbal").alias("acctbal_u"),
                      "c_mktsegment", "op",
                      F.col("change_ts").cast("long"))


def _q_isotonic(spark, sf_dir):
    """Isotonic (PAV) calibration of event value → P(purchase): exact
    rational pooling over the |distinct centi-quantized scores| relation
    — no floating point until the output division. Iterative fixpoint →
    golden-pinned (kmeans precedent); naive-PAV-equality, monotonicity
    and mass-preservation pinned in pytest."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        isotonic_calibration)

    ev = _t(spark, sf_dir, "events").withColumn(
        "is_purchase",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    out = isotonic_calibration(ev, "value", "is_purchase", scale=2)
    # the exact rational (cal_num, cal_den) IS the contract; the raw
    # double is micro-quantized because a pinned double literal can
    # re-parse 1 ulp off in DuckDB (observed on 104/537)
    return out.select("score_lo_q", "score_hi_q", "n", "n_pos",
                      "cal_num", "cal_den",
                      _uq("cal_prob").alias("cal_prob_u"))


def _q_roc_auc(spark, sf_dir):
    """Exact ROC AUC (Mann–Whitney with tie correction) of event value
    as a purchase score — doubled-integer rank sums, one corpus agg +
    one bounded window, ONE IEEE division. Exact SQL oracle."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        roc_auc)

    ev = _t(spark, sf_dir, "events").withColumn(
        "is_purchase",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    return roc_auc(ev, "value", "is_purchase", scale=6)


def _q_average_precision(spark, sf_dir):
    """Average precision (PR-AUC, sklearn step formulation) of event
    value → purchase: per-threshold fixed-order IEEE terms quantized to
    1e-12 units then exact-int summed. Exact SQL oracle."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        average_precision)

    ev = _t(spark, sf_dir, "events").withColumn(
        "is_purchase",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    return average_precision(ev, "value", "is_purchase", scale=6)


def _q_containment(spark, sf_dir):
    """Asymmetric shingle containment pairs (near-superset detection —
    the duplication Jaccard misses); exact-int counts, micro-quantized
    one-division ratios. Exact SQL oracle."""
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        containment_pairs)

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, k=5, threshold=0.3, max_df=100)


def _q_rank_gauss(spark, sf_dir):
    """Rank-Gauss normalization of event value: distributed global rank
    → Φ⁻¹((rank+0.5)/n) in one Arrow pass; total order (value, id) →
    partition-invariant; Φ⁻¹ is the scipy-free kernel → golden-pinned,
    output micro-quantized (pinned double literals can re-parse 1 ulp
    off — the isotonic lesson)."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        rank_gauss)

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    out = rank_gauss(ev, "value", "event_id")
    return out.select("event_id", _uq("value_rg").alias("rg_u"))


def _q_histogram_match(spark, sf_dir):
    """Distribution-matching subsample: thin ALL events so value's
    histogram matches the purchase-only slice's shape — per-bin exact
    integer rationals, 60-bit md5 keep test. Exact SQL oracle (best
    bin via dominance anti-join)."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        histogram_match_sample)

    ev = _t(spark, sf_dir, "events")
    ref = ev.where(F.col("event_type") == "purchase")
    out = histogram_match_sample(ev, ref, "value", "event_id",
                                 lo=0.0, hi=500.0, n_bins=20, seed=0)
    return out.select("event_id", "event_type",
                      _uq("value").alias("value_u"))


def _q_fertility_by_script(spark, sf_dir):
    """Tokenizer-fairness readout: the fertility census grouped by each
    document's DOMINANT SCRIPT (script_census ∘ tokenizer_fertility
    composition over the multilingual-injected corpus) — the
    bytes-per-token-parity-across-writing-systems table. Exact SQL
    oracle end to end."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        dominant_script_col, tokenizer_fertility)

    docs = _t(spark, sf_dir, "documents")
    suffix = (F.when(F.col("doc_id") % 5 == 0, F.lit(" Привет мир"))
              .when(F.col("doc_id") % 5 == 1, F.lit(" 你好世界"))
              .when(F.col("doc_id") % 5 == 2, F.lit(" مرحبا بالعالم"))
              .when(F.col("doc_id") % 5 == 3, F.lit(" γειά σου"))
              .otherwise(F.lit("")))
    docs = docs.withColumn(
        "text", F.when(F.col("text").isNotNull(),
                       F.concat(F.col("text"), suffix)))
    # r6: the script decision folds into the fertility scan as a column
    # (shared dominant_script_col) — the census+join formulation scanned
    # the corpus twice and shuffled both sides on doc_id for identical
    # output (guide §2.4: remove shuffles outright)
    out = tokenizer_fertility(
        docs.withColumn("dominant_script", dominant_script_col("text")),
        by="dominant_script")
    return out.select(
        "dominant_script", "n_docs", "n_null_text", "n_words",
        "n_pieces", "n_chars",
        F.when(F.col("n_words") > 0,
               _uq(F.col("n_pieces") / F.col("n_words")))
        .alias("fertility_u"),
        F.when(F.col("n_pieces") > 0,
               _uq(F.col("n_chars") / F.col("n_pieces")))
        .alias("chars_per_piece_u"))


def _q_rrf_fuse(spark, sf_dir):
    """Reciprocal-rank fusion of two per-event-type user rankings
    (total exact-int value vs event count) — quantize-summed 1/(k+r)
    terms, doc-id tie-breaks, top-10 per type. Exact SQL oracle."""
    from msi_preprocessing_pipeline_spark.operators.retrieval import (
        rrf_fuse)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    val = (ev.groupBy("event_type", "user_id")
           .agg(F.sum(_uq("value")).alias("m")))
    cnt = (ev.groupBy("event_type", "user_id")
           .agg(F.count("*").alias("m")))
    w = Window.partitionBy("event_type").orderBy(
        F.col("m").desc(), F.col("user_id").asc())
    runs = (val.withColumn("rank", F.row_number().over(w))
            .unionByName(cnt.withColumn("rank",
                                        F.row_number().over(w)))
            .select(F.col("event_type").alias("query_id"),
                    F.col("user_id").alias("doc_id"),
                    F.col("rank").cast("long").alias("rank")))
    return rrf_fuse(runs, k=60, top_n=10)


def _q_compression(spark, sf_dir):
    """zlib compression-ratio quality proxy per document — map-only
    Arrow pass; deterministic for a fixed level/zlib build →
    golden-pinned (no SQL zlib)."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        compression_metrics)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = compression_metrics(docs)
    return out.select("doc_id", "n_bytes", "n_compressed",
                      "compression_ratio_u")


def _q_bloom_semi(spark, sf_dir):
    """Bloom runtime-filter semi-join: lineitem pruned by a bitmap of
    urgent-order keys BEFORE the exact left-semi (map-only Arrow bit
    test upstream of the join Exchange — the probe-side shuffle-
    reduction shape Spark's own runtime bloom filter injects). Result
    is row-identical to the plain semi-join at any fpp; aggregated with
    exact-integer quantized sums. Exact SQL oracle (IN-subquery)."""
    from msi_preprocessing_pipeline_spark.operators.runtime_filter import (
        bloom_semi_join)

    li = _t(spark, sf_dir, "lineitem")
    urgent = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") == "1-URGENT"))
    out = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey",
                          how="semi", fpp=0.002)
    return (out.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.sum(_uq("l_quantity", 2)).alias("qty_u"),
                 F.sum(_uq("l_extendedprice", 2)).alias("price_u")))


def _q_bloom_anti(spark, sf_dir):
    """Bloom-accelerated ANTI join (a shape vanilla Spark's runtime
    filter never prunes): bloom-NEGATIVE probe rows are definitely
    unmatched and bypass the join entirely; only the bloom-positive
    sliver takes the exact left-anti. Same exact-integer aggregate
    contract as the semi variant."""
    from msi_preprocessing_pipeline_spark.operators.runtime_filter import (
        bloom_semi_join)

    li = _t(spark, sf_dir, "lineitem")
    urgent = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") == "1-URGENT"))
    out = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey",
                          how="anti", fpp=0.002)
    return (out.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.sum(_uq("l_quantity", 2)).alias("qty_u"),
                 F.sum(_uq("l_extendedprice", 2)).alias("price_u")))


def _q_corr_matrix(spark, sf_dir):
    """All-pairs Pearson correlation matrix over lineitem's numeric
    features in ONE map-side-combined scan (exact decimal moments over
    micro-quantized inputs; corr is a fixed IEEE tree over those exact
    ints, in-plan 2^53 exactness guard). Scales chosen so every derived
    moment stays under 2^53 through sf0.1 (price in k$, rates in %).
    Exact SQL oracle."""
    from msi_preprocessing_pipeline_spark.operators.featsel import (
        corr_matrix)

    li = _t(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        scales={"l_quantity": 0, "l_extendedprice": -3,
                "l_discount": 2, "l_tax": 2},
        out_scale=6)


def _q_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap CI for the mean value per event type — the
    no-resampling bootstrap (Chamandy et al. 2012): seeded md5 draws
    against integer Poisson(1) thresholds give every row n_reps
    deterministic pseudo-counts; all replicates reduce in ONE scan.
    Exact SQL oracle (same md5 bits, same integer thresholds, same
    fixed-order IEEE finale)."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        poisson_bootstrap_ci)

    ev = _t(spark, sf_dir, "events")
    return poisson_bootstrap_ci(ev, "value", "event_id",
                                group_by="event_type", n_reps=30,
                                seed=42, scale=6, alpha=0.05)


def _bootstrap_sql_cols(n_reps: int, seed: int):
    """Shared generators for the bootstrap oracles' draw/weight/agg
    columns — ONE source of truth for the md5-draw contract. concat_ws
    (not ||) so a NULL event_id hashes exactly like Spark's concat_ws
    (both skip nulls -> the shared 'seed:r' draw), keeping the engines
    in lockstep even on null ids."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        poisson1_thresholds)

    ts = poisson1_thresholds()
    d_cols = ",\n".join(
        f"cast(('0x' || substr(md5(concat_ws(':', "
        f"cast(event_id as varchar), '{seed}', '{r}')), 1, 15)) "
        f"as bigint) as d_{r}"
        for r in range(n_reps))
    w_cols = ",\n".join(
        "(" + " + ".join(f"(case when d_{r} >= {t} then 1 else 0 end)"
                         for t in ts) + f") as w_{r}"
        for r in range(n_reps))
    a_cols = ",\n".join(
        f"sum(w_{r}) as ws_{r}, sum(cast(w_{r} as hugeint) * yq) as wy_{r}"
        for r in range(n_reps))
    return d_cols, w_cols, a_cols


def _bootstrap_sql(n_reps=30, seed=42, scale=6, alpha=0.05,
                   out_scale=6) -> str:
    """DuckDB mirror of _q_bootstrap_ci: identical md5 draws, identical
    integer thresholds, identical fixed-order IEEE final expressions."""
    mul = f"{float(10 ** scale)!r}"
    omul = f"{float(10 ** out_scale)!r}"
    lo_f = f"{alpha / 2.0!r}"
    hi_f = f"{1.0 - alpha / 2.0!r}"
    d_cols, w_cols, a_cols = _bootstrap_sql_cols(n_reps, seed)
    mean_list = ", ".join(
        f"case when ws_{r} > 0 then (cast(wy_{r} as double) "
        f"/ cast(ws_{r} as double)) / {mul} end"
        for r in range(n_reps))
    return f"""
        with raw as (
            select event_type,
                   cast(floor(value * {mul} + 0.5) as bigint) as yq,
                   {d_cols}
            from events where value is not null
        ), w as (
            select event_type, yq,
                   {w_cols}
            from raw
        ), a as (
            select event_type, count(*) as n, sum(yq) as sy,
                   {a_cols}
            from w group by 1
        ), m as (
            select event_type, n, sy,
                   list_sort(list_filter([{mean_list}],
                                         x -> x is not null)) as means
            from a
        )
        select event_type, n,
               cast(floor((cast(sy as double) / cast(n as double))
                    / {mul} * {omul} + 0.5) as bigint) as mean_u,
               cast(floor(means[cast(floor({lo_f}
                    * cast(len(means) - 1 as double)) as int) + 1]
                    * {omul} + 0.5) as bigint) as lo_u,
               cast(floor(means[cast(ceil({hi_f}
                    * cast(len(means) - 1 as double)) as int) + 1]
                    * {omul} + 0.5) as bigint) as hi_u,
               len(means) as n_reps_valid
        from m
    """


def _q_mahalanobis(spark, sf_dir):
    """Top-50 covariance-aware outliers by Mahalanobis distance — the
    multivariate upgrade of the reference's per-feature +-k-sigma screens
    (pipeline/outlier.py). Fit = one corpus scan to the d^2-bounded
    moment relation + 12-dp-rounded driver inverse (pca_fit
    determinism); scoring = one map-only Arrow pass. Iterative-free but
    the matrix inverse has no SQL mirror -> golden-pinned like pca."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        mahalanobis_fit, mahalanobis_scores)

    emb = _t(spark, sf_dir, "embeddings")
    model = mahalanobis_fit(emb, "embedding")
    scored = mahalanobis_scores(emb, model, "embedding")
    return (scored.select("vec_id", _uq("maha", 6).alias("maha_u"))
            .orderBy(F.col("maha_u").desc(), F.col("vec_id").asc())
            .limit(50))


def _q_conformal(spark, sf_dir):
    """Split-conformal calibration + coverage audit: even event_ids
    calibrate |value-250| nonconformity, odd event_ids audit the
    distribution-free >=90% coverage of the ceil((n+1)(1-alpha))-rank
    qhat. Exact SQL oracle (running-count window over the bounded
    distinct-score relation; integer rank arithmetic)."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        conformal_coverage, conformal_qhat)

    ev = _t(spark, sf_dir, "events")
    score = F.abs(F.col("value") - F.lit(250.0))
    cal = (ev.where(F.col("event_id") % 2 == 0)
           .select(score.alias("score")))
    test = (ev.where(F.col("event_id") % 2 == 1)
            .select(score.alias("score")))
    qh = conformal_qhat(cal, "score", alpha=0.1)
    return conformal_coverage(test, "score", qh)


def _q_bootstrap_diff(spark, sf_dir):
    """Poisson-bootstrap CI on the mean-value DIFFERENCE between click
    and view events — the distribution-free complement to the Welch/
    CUPED readout (ab_cuped_purchases). Same one-scan replicate
    machinery as bootstrap_ci_value, pivoted per arm. Generated exact
    SQL oracle."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        poisson_bootstrap_diff_ci)

    ev = _t(spark, sf_dir, "events")
    return poisson_bootstrap_diff_ci(
        ev, "value", "event_id", "event_type", control="view",
        treatment="click", n_reps=30, seed=42, scale=6, alpha=0.05)


def _tte_sql(modulus: int, grp: str = "cohort") -> str:
    """Shared DuckDB fragment for every survival oracle: per-user
    time-to-first-purchase with last-seen censoring (the exact mirror
    of ``survival.time_to_event``), cohorted by ``user_id %% modulus``.
    One definition — a change to the origin/censoring rule cannot
    drift between the five oracles that embed it."""
    return f"""tte as (
                select user_id as entity,
                       min(epoch_ms(ts)) as origin_ms,
                       min(case when event_type = 'purchase'
                                then epoch_ms(ts) end) as event_ms,
                       max(epoch_ms(ts)) as last_ms
                from events
                group by user_id
            ), subj as (
                select cast(entity % {modulus} as integer) as {grp},
                       coalesce(event_ms, last_ms) - origin_ms as dur,
                       case when event_ms is not null
                            then 1 else 0 end as ev
                from tte
                where origin_ms is not null
                  and coalesce(event_ms, last_ms) - origin_ms >= 0
            )"""


def _raking_sql(row_targets: dict, col_targets: dict,
                iters: int = 3, scale: int = 9) -> str:
    """DuckDB mirror of ``_q_raking``: identical cell relation, the
    identical two-stage exact divisions, unrolled one CTE pair per
    iteration (every op hugeint truncating division)."""
    u_r, u_c = sum(row_targets.values()), sum(col_targets.values())
    rt_vals = ", ".join(f"('{k}', {v})" for k, v in row_targets.items())
    ct_vals = ", ".join(f"('{k}', {v})" for k, v in col_targets.items())
    base = 10 ** scale
    body = [f"""
        with rt(r, tr) as (values {rt_vals}),
        ct(c, tc) as (values {ct_vals}),
        cells as (
            select event_type as r,
                   cast(user_id % 4 as varchar) as c,
                   count(*) as n
            from events
            where event_type is not null and user_id is not null
            group by 1, 2
        ), w0 as (
            select cells.r, cells.c, n, tr, tc,
                   cast(n as hugeint) * {base} as w
            from cells join rt on cells.r = rt.r
                       join ct on cells.c = ct.c
        )"""]
    prev = "w0"
    for i in range(iters):
        body.append(f""", r{i} as (
            select r, c, n, tr, tc,
                   (w * ((cast(tr as hugeint) * (sum(w) over ()))
                         // {u_r}))
                       // (sum(w) over (partition by r)) as w
            from {prev}
        ), c{i} as (
            select r, c, n, tr, tc,
                   (w * ((cast(tc as hugeint) * (sum(w) over ()))
                         // {u_c}))
                       // (sum(w) over (partition by c)) as w
            from r{i}
        )""")
        prev = f"c{i}"
    body.append(f"""
        select r as event_type, c as segment,
               cast(n as bigint) as n,
               cast(w as bigint) as w_q{scale},
               cast(w // cast(n as hugeint) as bigint)
                   as unit_w_q{scale}
        from {prev} order by event_type, segment
    """)
    return "".join(body)


def _mde_ab_sql(alpha: float = 0.05, power: float = 0.8) -> str:
    """DuckDB mirror of ``_q_mde``: identical exact moments and the
    identical fixed-order double tree with the SAME z constants."""
    from msi_preprocessing_pipeline_spark.kernels.special import norm_ppf

    zf = float(norm_ppf(1.0 - alpha / 2.0)) + float(norm_ppf(power))
    z, zz = repr(zf), repr(zf * zf)  # zz precomputed like Spark's lit(z*z)
    return f"""
        with base as (
            select cast(cast(('0x' || substr(md5(
                       cast(event_id as varchar)), 1, 8)) as bigint)
                       % 2 as integer) as treat,
                   cast(floor(value * 1000000.0 + 0.5) as bigint) as yq
            from events where value is not null
        ), m as (
            select sum(case when treat = 1 then 1 else 0 end) as n_t,
                   sum(case when treat = 0 then 1 else 0 end) as n_c,
                   -- varchar round-trip: DuckDB's hugeint->double cast
                   -- is NOT correctly rounded past 2^53 (Spark's
                   -- decimal->double is); the string parse is exact
                   cast(cast(sum(case when treat = 1
                            then cast(yq as hugeint) else 0 end)
                        as varchar) as double) as sy_t,
                   cast(cast(sum(case when treat = 0
                            then cast(yq as hugeint) else 0 end)
                        as varchar) as double) as sy_c,
                   cast(cast(sum(case when treat = 1
                            then cast(yq as hugeint) * yq else 0 end)
                        as varchar) as double) as syy_t,
                   cast(cast(sum(case when treat = 0
                            then cast(yq as hugeint) * yq else 0 end)
                        as varchar) as double) as syy_c
            from base
        ), v as (
            select *, cast(n_t as double) as nt, cast(n_c as double) as nc
            from m
        ), st as (
            select *,
                   (syy_t - sy_t * sy_t / nt) / (nt - 1.0) as var_t,
                   (syy_c - sy_c * sy_c / nc) / (nc - 1.0) as var_c
            from v
        ), fin as (
            select *,
                   var_t / nt + var_c / nc as se2,
                   (var_t + var_c) / 2.0 as var_p,
                   sy_c / nc / 1000000.0 as mean_c,
                   (n_t > 1 and n_c > 1
                    and var_t / nt + var_c / nc > 0) as ok
            from st
        )
        select cast(n_t as bigint) as n_t,
               cast(n_c as bigint) as n_c,
               mean_c,
               case when ok then sqrt(var_p) / 1000000.0 end
                   as sd_pooled,
               case when ok then {z} * sqrt(se2) / 1000000.0 end
                   as mde_abs,
               case when ok and mean_c > 0 then
                    ({z} * sqrt(se2) / 1000000.0) / mean_c end
                   as mde_rel,
               case when ok and 0.05 * mean_c * 1000000.0 > 0 then
                    cast(ceil(2.0 * {zz} * var_p
                              / ((0.05 * mean_c * 1000000.0)
                                 * (0.05 * mean_c * 1000000.0)))
                         as bigint) end as n_per_arm_for_5pct
        from fin
    """


def _sequential_ab_sql(alpha: float = 0.05) -> str:
    """DuckDB mirror of ``_q_sequential_ab``: identical exact-integer
    cumulative moments, identical fixed-order double expression tree
    for z and the OBF boundary, and the SAME z_{α/2} literal the Spark
    side evaluates via ``kernels.special.norm_ppf`` (generated here in
    lockstep, the bootstrap-oracle pattern)."""
    from msi_preprocessing_pipeline_spark.kernels.special import norm_ppf

    z_a = repr(float(norm_ppf(1.0 - alpha / 2.0)))
    return f"""
        with base as (
            select cast(cast(('0x' || substr(md5(
                       cast(event_id as varchar)), 1, 8)) as bigint)
                       % 2 as integer) as treat,
                   cast(floor(value * 1000000.0 + 0.5) as bigint) as yq,
                   (epoch_ms(ts) - epoch_ms(ts) % 86400000)
                       // 86400000 as look
            from events
            where value is not null and ts is not null
        ), per as (
            select look,
                   sum(case when treat = 1 then 1 else 0 end) as n_t,
                   sum(case when treat = 0 then 1 else 0 end) as n_c,
                   sum(case when treat = 1
                            then cast(yq as hugeint) else 0 end) as sy_t,
                   sum(case when treat = 0
                            then cast(yq as hugeint) else 0 end) as sy_c,
                   sum(case when treat = 1
                            then cast(yq as hugeint)
                                 * cast(yq as hugeint)
                            else 0 end) as syy_t,
                   sum(case when treat = 0
                            then cast(yq as hugeint)
                                 * cast(yq as hugeint)
                            else 0 end) as syy_c
            from base group by look
        ), cum as (
            select look,
                   cast(row_number() over (order by look) as bigint)
                       as k,
                   cast(count(*) over () as bigint) as n_looks,
                   cast(sum(n_t) over w as bigint) as cn_t,
                   cast(sum(n_c) over w as bigint) as cn_c,
                   cast(cast(sum(sy_t) over w as varchar)
                        as double) as cy_t,
                   cast(cast(sum(sy_c) over w as varchar)
                        as double) as cy_c,
                   cast(cast(sum(syy_t) over w as varchar)
                        as double) as cyy_t,
                   cast(cast(sum(syy_c) over w as varchar)
                        as double) as cyy_c
            from per
            window w as (order by look rows between unbounded preceding
                         and current row)
        ), stats as (
            select *,
                   cast(cn_t as double) as nt, cast(cn_c as double) as nc
            from cum
        ), sev as (
            -- se2 BEFORE sqrt, mirroring the Spark guard: DuckDB
            -- raises on sqrt(negative), Spark orders NaN > 0
            select *,
                   ((cyy_t - cy_t * cy_t / nt) / (nt - 1.0)) / nt
                     + ((cyy_c - cy_c * cy_c / nc) / (nc - 1.0)) / nc
                       as se2
            from stats
        ), z as (
            select look, k, n_looks, cn_t, cn_c,
                   case when se2 > 0 then
                        (cy_t / nt - cy_c / nc) / sqrt(se2) end as zval,
                   {z_a} * sqrt(cast(n_looks as double)
                                / cast(k as double)) as bnd,
                   (cn_t > 1 and cn_c > 1 and se2 > 0) as ok
            from sev
        )
        select look, k, n_looks,
               cn_t as cum_n_t, cn_c as cum_n_c,
               cast(case when ok then floor(zval * 1000000.0 + 0.5) end
                    as bigint) as z_q6,
               cast(floor(bnd * 1000000.0 + 0.5) as bigint) as bound_q6,
               case when ok then abs(zval) > bnd else false end
                   as crossed
        from z order by look
    """


def _bootstrap_diff_sql(n_reps=30, seed=42, scale=6, alpha=0.05,
                        out_scale=6, control="view",
                        treatment="click") -> str:
    """DuckDB mirror of _q_bootstrap_diff (lockstep with the operator)."""
    mul = f"{float(10 ** scale)!r}"
    omul = f"{float(10 ** out_scale)!r}"
    lo_f = f"{alpha / 2.0!r}"
    hi_f = f"{1.0 - alpha / 2.0!r}"
    d_cols, w_cols, a_cols = _bootstrap_sql_cols(n_reps, seed)
    piv = [f"max(case when event_type = '{arm}' then {c} end) as {c}_{s}"
           for arm, s in ((control, "c"), (treatment, "t"))
           for c in (["n", "sy"] + [f"{p}_{r}" for r in range(n_reps)
                                    for p in ("ws", "wy")])]
    piv_cols = ",\n".join(piv)
    diff_list = ", ".join(
        f"case when ws_{r}_c > 0 and ws_{r}_t > 0 then "
        f"(cast(wy_{r}_t as double) / cast(ws_{r}_t as double)) / {mul} "
        f"- (cast(wy_{r}_c as double) / cast(ws_{r}_c as double)) "
        f"/ {mul} end"
        for r in range(n_reps))
    return f"""
        with raw as (
            select event_type,
                   cast(floor(value * {mul} + 0.5) as bigint) as yq,
                   {d_cols}
            from events
            where value is not null
              and event_type in ('{control}', '{treatment}')
        ), w as (
            select event_type, yq,
                   {w_cols}
            from raw
        ), a as (
            select event_type, count(*) as n, sum(yq) as sy,
                   {a_cols}
            from w group by 1
        ), one as (
            select
                   {piv_cols}
            from a
        ), m as (
            select *, list_sort(list_filter([{diff_list}],
                                x -> x is not null)) as diffs
            from one
        )
        select n_c, n_t,
               cast(floor(((cast(sy_t as double) / cast(n_t as double))
                    / {mul} - (cast(sy_c as double) / cast(n_c as double))
                    / {mul}) * {omul} + 0.5) as bigint) as diff_u,
               cast(floor(diffs[cast(floor({lo_f}
                    * cast(len(diffs) - 1 as double)) as int) + 1]
                    * {omul} + 0.5) as bigint) as lo_u,
               cast(floor(diffs[cast(ceil({hi_f}
                    * cast(len(diffs) - 1 as double)) as int) + 1]
                    * {omul} + 0.5) as bigint) as hi_u,
               len(diffs) as n_reps_valid
        from m
    """


def _q_conformal_by(spark, sf_dir):
    """Mondrian (per-event-type) conformal calibration — one qhat per
    group so coverage holds WITHIN each slice, not just marginally.
    Exact SQL oracle (group-partitioned running-count windows)."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        conformal_qhat_by)

    ev = _t(spark, sf_dir, "events")
    cal = ev.select("event_type",
                    F.abs(F.col("value") - F.lit(250.0)).alias("score"))
    return conformal_qhat_by(cal, "score", "event_type", alpha=0.1)


def _q_selectivity(spark, sf_dir):
    """GMM-based range-selectivity estimates over events.value next to
    the exact counts (EDBT'22 GMM selectivity recast onto the engine's
    own BIC-selected EM kernel — the reference's model core). One
    histogram scan; driver-side fit; deterministic EM -> golden-pinned
    (the EM has no SQL mirror; actual_rows alone would be SQL)."""
    from msi_preprocessing_pipeline_spark.operators.profile import (
        selectivity_profile)

    ev = _t(spark, sf_dir, "events")
    return selectivity_profile(
        ev, "value",
        [(0.0, 50.0), (0.0, 100.0), (100.0, 250.0), (250.0, 500.0),
         (450.0, 500.0)], scale=3)


def _q_survival_km(spark, sf_dir):
    """Kaplan-Meier time-to-first-purchase per user cohort: per-user
    durations from first event to first purchase (last-seen censoring
    for never-purchasers), KM product-limit curve per ``user_id % 3``
    cohort.  Survival is the exact integer recurrence
    ``S_i = S_{i-1}(n_i-d_i) // n_i`` at 1e-9 resolution (no float
    product, no exp/ln libm drift — see ``operators/survival.py``);
    DuckDB mirrors it with a recursive CTE over the identical
    ``(d_i, n_i)`` relation."""
    from msi_preprocessing_pipeline_spark.operators.survival import (
        km_curve, time_to_event)

    ev = _t(spark, sf_dir, "events")
    tte = time_to_event(ev, "user_id", "ts",
                        F.col("event_type") == "purchase")
    tte = tte.withColumn("cohort", (F.col("entity") % 3).cast("int"))
    return km_curve(tte, "duration_ms", "event", ["cohort"], scale=9)


def _q_ate_stratified(spark, sf_dir):
    """Subclassification ATE of a deterministic md5-coin "treatment" on
    per-user total purchase value, stratified by activity magnitude
    (floor(log2(event count))).  Outcomes quantize to exact cents
    BEFORE any sum (the covariance_embeddings lesson: never round a
    distributed float sum), every downstream step is integer, and the
    signed ratios use truncation-toward-zero division — DuckDB ``//``
    semantics (``experiment.ate_stratified``)."""
    from msi_preprocessing_pipeline_spark.functions.util import md5_bucket
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        ate_stratified)

    ev = _t(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_ev"),
        F.coalesce(F.sum(F.when(is_p, _uq("value", 2))), F.lit(0))
        .cast("long").alias("yu"))
    unit = per_user.select(
        md5_bucket(F.col("user_id").cast("string"), 2).cast("int")
        .alias("treat"),
        F.floor(F.log2(F.col("n_ev").cast("double"))).cast("int")
        .alias("stratum"),
        "yu")
    return ate_stratified(unit, "treat", "yu", "stratum",
                          scale=0, diff_scale=6)


def _q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard of time-to-first-purchase per
    user cohort — the additive sibling of ``survival_km_purchase``:
    increments are exact integer floor divisions ``(1e9·d_i)//n_i``
    summed by a window, so (unlike KM's product recurrence) the whole
    estimator AND its oracle are plain non-recursive relational ops
    (``operators/survival.py::na_curve``)."""
    from msi_preprocessing_pipeline_spark.operators.survival import (
        na_curve, time_to_event)

    ev = _t(spark, sf_dir, "events")
    tte = time_to_event(ev, "user_id", "ts",
                        F.col("event_type") == "purchase")
    tte = tte.withColumn("cohort", (F.col("entity") % 3).cast("int"))
    return na_curve(tte, "duration_ms", "event", ["cohort"], scale=9)


def _q_logrank(spark, sf_dir):
    """Two-sample log-rank test: do even- and odd-id users convert at
    different hazards?  Pooled-time risk sets via suffix-sum windows,
    e/v terms quantized by exact modulo-division (1e-9 / 1e-12), and
    ``chi2_q6 = (O·1e9 − E_q9)² // V_q12`` — all integer, DuckDB
    mirrors each step (``operators/survival.py::logrank_test``)."""
    from msi_preprocessing_pipeline_spark.operators.survival import (
        logrank_test, time_to_event)

    ev = _t(spark, sf_dir, "events")
    tte = time_to_event(ev, "user_id", "ts",
                        F.col("event_type") == "purchase")
    tte = tte.withColumn("grp", (F.col("entity") % 2).cast("int"))
    return logrank_test(tte, "duration_ms", "event", "grp")


def _q_rmst(spark, sf_dir):
    """Restricted mean time-to-first-purchase (τ = 2 days) per user
    cohort: step-function integration of the KM curve — every term
    integer×integer on the curve relation, inheriting the product-limit
    recurrence's determinism (``operators/survival.py::rmst``); DuckDB
    mirrors the recursion then the same lag/arg_max integration."""
    from msi_preprocessing_pipeline_spark.operators.survival import (
        rmst, time_to_event)

    ev = _t(spark, sf_dir, "events")
    tte = time_to_event(ev, "user_id", "ts",
                        F.col("event_type") == "purchase")
    tte = tte.withColumn("cohort", (F.col("entity") % 3).cast("int"))
    return rmst(tte, "duration_ms", "event", tau=172_800_000,
                group_cols=["cohort"], scale=9)


def _q_cif(spark, sf_dir):
    """Aalen-Johansen cumulative incidence under competing risks:
    first purchase (cause 1) vs first error (cause 2), censored at
    last activity, per user cohort.  All-cause KM and both CIFs run
    through ONE exact big-int recurrence (lockstep recursive CTE in
    DuckDB); ties break to the lower cause index
    (``operators/survival.py::cif_curves``)."""
    from msi_preprocessing_pipeline_spark.operators.survival import (
        cif_curves, time_to_competing_event)

    ev = _t(spark, sf_dir, "events")
    tte = time_to_competing_event(
        ev, "user_id", "ts",
        [F.col("event_type") == "purchase",
         F.col("event_type") == "error"])
    tte = tte.withColumn("cohort", (F.col("entity") % 3).cast("int"))
    return cif_curves(tte, "duration_ms", "cause", 2, ["cohort"],
                      scale=9)


def _q_srm(spark, sf_dir):
    """Sample-ratio-mismatch guard on the md5-coin split: one
    count-only aggregation; chi2 is a fixed-order IEEE expression of
    two exact counts (``experiment.srm_check``)."""
    from msi_preprocessing_pipeline_spark.functions.util import md5_bucket
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        srm_check)

    ev = _t(spark, sf_dir, "events").select(
        md5_bucket(F.col("event_id").cast("string"), 2).cast("int")
        .alias("treat"))
    return srm_check(ev, "treat", ratio_t=1, ratio_c=1)


def _q_raking(spark, sf_dir):
    """IPF raking of the event stream to target (event_type x
    user-segment) marginals — the 2-D mixture-reweighting op.  Cell
    weights are q9 integers; every half-iteration is two exact
    truncating divisions (the logrank overflow staging), so the
    unrolled DuckDB oracle reproduces each weight bit-exactly
    (``operators/sampling.py::raking_weights``)."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        raking_weights)

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 4).cast("string").alias("segment"))
    return raking_weights(
        ev, "event_type", "segment",
        row_targets={"view": 3, "click": 3, "purchase": 2,
                     "signup": 1, "error": 1},
        col_targets={"0": 4, "1": 3, "2": 2, "3": 1},
        iters=3, scale=9)


def _q_mde(spark, sf_dir):
    """MDE / power readout of the md5-coin split on event value: one
    exact-moment aggregation; MDE and n-required are fixed-order IEEE
    expressions with z constants from the engine's own scipy-free
    norm_ppf, generated into the oracle in lockstep
    (``experiment.mde_ab``)."""
    from msi_preprocessing_pipeline_spark.functions.util import md5_bucket
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        mde_ab)

    ev = _t(spark, sf_dir, "events").select(
        md5_bucket(F.col("event_id").cast("string"), 2).cast("int")
        .alias("treat"), "value")
    return mde_ab(ev, "treat", "value", alpha=0.05, power=0.8, scale=6)


def _q_sequential_ab(spark, sf_dir):
    """Peeking-safe sequential A/B readout: md5-coin treatment on event
    value, one look per UTC day, O'Brien-Fleming boundary
    ``z_{.025}·sqrt(K/k)``.  Exact decimal moment sums cumulate over
    the |looks| relation; z/boundary are fixed-order IEEE expressions
    of those exact ints (div/mul/sqrt are correctly rounded, so both
    engines emit bit-identical doubles — the ab_stats discipline;
    ``experiment.sequential_ab``)."""
    from msi_preprocessing_pipeline_spark.functions.util import md5_bucket
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        sequential_ab)

    ev = _t(spark, sf_dir, "events").select(
        md5_bucket(F.col("event_id").cast("string"), 2).cast("int")
        .alias("treat"),
        "value",
        # exact epoch-day: integer floor division on the ms clock
        ((_ms("ts") - (_ms("ts") % F.lit(86_400_000)))
         / F.lit(86_400_000)).cast("long").alias("day"))
    return sequential_ab(ev, "treat", "value", "day",
                         alpha=0.05, scale=6)


def _q_uplift_qini(spark, sf_dir):
    """Qini / uplift decile table of the md5-coin "treatment" on
    per-user purchase value, ranked by activity (event count) as the
    targeting score.  Exact bucketing via the distributed global rank
    (layout.global_rank — never a single-partition window) under the
    total order (score desc, user_id); all sums exact decimal ints;
    signed ratios truncation-toward-zero ≡ DuckDB ``//``
    (``experiment.uplift_curve``)."""
    from msi_preprocessing_pipeline_spark.functions.util import md5_bucket
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        uplift_curve)

    ev = _t(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_ev"),
        F.coalesce(F.sum(F.when(is_p, _uq("value", 2))), F.lit(0))
        .cast("long").alias("yu"))
    unit = per_user.select(
        F.col("user_id").alias("uid"),
        md5_bucket(F.col("user_id").cast("string"), 2).cast("int")
        .alias("treat"),
        F.col("n_ev").alias("score"), "yu")
    return uplift_curve(unit, "treat", "yu", "score", "uid",
                        n_buckets=10, scale=0, q_scale=6)


# 50 queries() entries.  _R5_WINDOW lists this round's 50, in priority order:
# (a) every contract whose SEMANTICS changed this round — the quantized
# embedding/LM family (covariance_embeddings was r4's one red row) and the
# requantized rolling/PIT window sums, whose prior driver-green rows attest
# only to the old round(float,6) contracts — 14 queries; (b) all
# SEVENTEEN brand-new round-5 queries (nine from the first session +
# semdedup / random projection / DSIR / PQ / group-kfold /
# classification-report / weighted-sample / scalar-quantize from the
# second); (c) the riskiest never-driver-recorded r4 queries
# (graph / ER / boilerplate / incremental-refresh class); (e) the
# TWELVE session-12 brand-new queries (cusum / best-splits / bfs /
# benford / twa / oof-encode / sax / ps-match / cvm / quantile-
# normalize / mwu), which displaced the block-(c)/(d) members with
# the strongest independent pytest evidence (bloom membership pins,
# corr/mahalanobis numpy parity, lockstep bootstrap oracles, PAVA
# golden, exact ROC formula, unigram golden fit, hard-negative recall
# pins).  Everything evicted stays covered by CONTRACT_r05.json
# (256/256 at sf0.01) + pytest.
_R5_WINDOW = [
    # (a) changed contracts — previously recorded (stale green rows).
    # label_centroids/centroid_distance rotate out for the session-10
    # survival siblings: they were driver-green in r4 and their r5
    # requantization is the proven quantize-before-sum idiom
    # (CONTRACT_r05.json + pytest attest the changed contracts).
    "covariance_embeddings", "lm_score_docs",
    # session-10 brand-new families (never recorded anywhere): survival
    # analysis (KM + Nelson-Aalen + log-rank) + causal
    # subclassification — they take the slots of pivot_event_values /
    # rolling_avg_value / label_centroids_vecs / centroid_distance_vecs,
    # whose requantized contracts are the lowest-risk of block (a)
    # (attested by CONTRACT_r05.json + pytest)
    "survival_km_purchase", "ate_stratified_purchases",
    "nelson_aalen_purchase", "logrank_purchase_cohorts",
    # uplift/Qini takes k_center_vecs' slot (block d): k_center has the
    # strongest non-driver evidence there (numpy-greedy parity +
    # coverage-radius pytest pins on top of the contract artifact)
    "uplift_qini_purchases",
    # (a) changed contracts — never recorded
    "rolling_time_features", "pit_agg_features",
    "multi_source_agg_features", "label_window_conversions",
    # session-11 brand-new operators (never recorded anywhere) take the
    # slots of word_entropy/mutual_info/embedding_norms/
    # embedding_moments: those four carry the proven exact-decimal
    # requantization idiom + lockstep pytest oracles + r4 judge-rerun
    # green algorithms, the strongest non-driver evidence in block (a)
    "bm25_topk_docs", "chi2_features_docs",
    "attribution_decay_events", "label_prop_suppliers",
    # (b) new round-5 operators
    "incremental_minhash_pairs", "phash_near_dup", "passage_windows_docs",
    "attribution_last_touch", "fs_weights_events", "kmeans_vecs",
    "contamination_frac_docs", "ab_cuped_purchases", "token_budget_sources",
    "semdedup_vecs", "rp_embed_vecs", "dsir_weights_docs", "pq_topk_vecs",
    "group_kfold_events", "classification_report_events",
    "weighted_sample_docs", "scalar_quantize_vecs",
    # (c) round-5 sessions 8-9: the least-evidenced queries — only
    # CONTRACT_r05.json attests them (no prior driver row OR judge
    # rerun); the r4 (c) block they displace (pagerank/triangles/
    # clustering/kcore/er_resolve/boilerplate/incremental/survivorship/
    # funnel) was judge-rerun 58/58 in the r4 session AND is contract-
    # green this round
    # (hard_negatives_vecs also rotates out — its margin/recall
    # semantics carry dedicated pytest pins — for mwu_value_drift,
    # completing the drift trio (ks driver-green r4, cvm + mwu new))
    # (e) session-12 brand-new operators (never recorded anywhere) take
    # the slots of bloom_semi/bloom_anti/corr_matrix/bootstrap_ci/
    # bootstrap_diff/mahalanobis/conformal_value/isotonic/roc_auc: of
    # block (c), those nine carry the strongest independent evidence
    # (bloom membership pytest + plan pins, corr/mahalanobis numpy
    # parity, generated-lockstep bootstrap oracles, PAVA golden, exact
    # ROC formula pins) and none has a changed contract this round —
    # CONTRACT_r05.json re-attests all nine
    # (unigram_fit_docs also rotates out for quantile_normalize_docs:
    # its iterative fit is golden-pinned in pytest independently)
    "cusum_value_by_user", "best_splits_lineitem", "bfs_hops_suppliers",
    "benford_prices", "twa_value_by_user", "oof_target_encode_events",
    "sax_value_by_user", "ps_match_purchase_view", "cvm_value_drift",
    "quantile_normalize_docs", "mwu_value_drift",
    # (d) round-5 continuation: Kneser-Ney LM scoring, corpus-global
    # paragraph dedup, C4 filter, all-pairs TF-IDF similarity,
    # Bradley-Terry ratings, Cohen's kappa, gram novelty, k-center
    # (cohort/packing/zipf/fingerprint/diff_buckets/salted_join/
    # gap_stats/trend rotate out — all judge-verified in r4 or
    # contract-green, and CONTRACT_r05.json re-attests them this round)
    "kn_score_docs", "dedup_paragraphs_docs", "c4_filter_docs",
    "similar_docs_tfidf",
    # session-10 newest (never recorded anywhere): RMST, sequential
    # A/B, competing-risks CIF — they take the bt_ratings/kappa/
    # gram_novelty slots, the block-(d) members with the strongest
    # independent pytest parity pins (golden BT iterations, exact
    # kappa formula, lockstep novelty oracle) on top of
    # CONTRACT_r05.json
    "rmst_purchase_cohorts", "sequential_ab_value",
    "cif_purchase_error",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q = {
        # --- never / not driver-recorded in r3: must be inside the window ---
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "embedding_near_dup": _q_embedding_near_dup,
        "tic_outlier_mask": _q_tic_outliers,
        "minhash_pairs": _q_minhash_pairs,
        "incremental_minhash_pairs": _q_incremental_minhash,
        "phash_near_dup": _q_phash_near_dup,
        "passage_windows_docs": _q_passage_windows,
        "attribution_last_touch": _q_attribution,
        "fs_weights_events": _q_fs_weights,
        "kmeans_vecs": _q_kmeans,
        "contamination_frac_docs": _q_contamination,
        "ab_cuped_purchases": _q_ab_cuped,
        "token_budget_sources": _q_token_budget,
        "packing_stats_docs": _q_packing_stats,
        "zipf_fit_docs": _q_zipf_fit,
        "semdedup_vecs": _q_semdedup,
        "rp_embed_vecs": _q_random_projection,
        "dsir_weights_docs": _q_dsir_weights,
        "pq_topk_vecs": _q_pq_topk,
        "group_kfold_events": _q_group_kfold,
        "classification_report_events": _q_classification_report,
        "weighted_sample_docs": _q_weighted_sample,
        "scalar_quantize_vecs": _q_scalar_quantize,
        "near_dup_clusters": _q_near_dup_clusters,
        "simhash_pairs": _q_simhash_pairs,
        "winnowing_pairs": _q_winnowing_pairs,
        "approx_distinct_users": _q_approx_distinct,
        "cms_user_event_counts": _q_cms_counts,
        "theta_user_overlap": _q_theta_overlap,
        "bpe_tokenize_docs": _q_bpe_tokenize,
        "validate_docs": _q_validate_docs,
        "latest_snapshot_events": _q_latest_snapshot,
        "apply_changelog_users": _q_apply_changelog,
        "fk_orphan_report": _q_fk_checks,
        # --- new in round 4 ---
        "target_encode_events": _q_target_encode,
        "interpolated_click_value": _q_interpolate,
        "rolling_zscore_value": _q_rolling_zscore,
        "psi_value_drift": _q_psi_drift,
        "decayed_sum_value": _q_decayed_sum,
        "feature_hash_events": _q_feature_hash,
        "robust_scaled_value": _q_robust_scaled,
        "woe_encode_users": _q_woe_encode,
        "quantile_bin_price": _q_quantile_bin,
        "calibration_value_purchase": _q_calibration,
        "grouped_quantiles_value": _q_grouped_quantiles,
        "resample_grid_clicks": _q_resample_grid,
        "snapshot_diff_customers": _q_snapshot_diff,
        # --- new in round 4, session 3: token-LM + sequence features ---
        "hash_tokenize_docs": _q_hash_tokenize,
        "lm_score_docs": _q_lm_score,
        "kn_score_docs": _q_kn_score,
        "similar_docs_tfidf": _q_similar_docs,
        "bt_ratings_events": _q_bt_ratings,
        "kappa_langid_docs": _q_kappa_langid,
        "gram_novelty_docs": _q_gram_novelty,
        "k_center_vecs": _q_k_center,
        "gopher_quality_docs": _q_gopher_quality,
        "nfc_normalize_docs": _q_nfc_normalize,
        "perplexity_buckets_docs": _q_perplexity_buckets,
        "fertility_sources": _q_fertility,
        "unimax_plan_sources": _q_unimax,
        "hard_negatives_vecs": _q_hard_negatives,
        "logreg_quality_docs": _q_logreg_quality,
        "transition_probs_events": _q_transition_probs,
        # --- new in round 5, session 5 ---
        "retrieval_metrics_vecs": _q_retrieval_metrics,
        "mmr_rerank_vecs": _q_mmr_rerank,
        "fim_transform_docs": _q_fim_transform,
        "span_corrupt_docs": _q_span_corrupt,
        "vocab_remap_docs": _q_vocab_remap,
        "vocab_coverage_docs": _q_vocab_coverage,
        "token_spans_docs": _q_token_spans,
        "pack_segments_docs": _q_pack_segments,
        "preference_pairs_docs": _q_preference_pairs,
        "curriculum_keys_docs": _q_curriculum_keys,
        "loss_mask_docs": _q_loss_mask,
        "temperature_mixture_sources": _q_temperature_mixture,
        "mixture_draw_docs": _q_mixture_draw,
        "unigram_fit_docs": _q_unigram_fit,
        "unigram_tokenize_docs": _q_unigram_tokenize,
        "shard_plan_docs": _q_shard_plan,
        "shard_stats_docs": _q_shard_stats,
        "dedup_lines_docs": _q_dedup_lines,
        "length_buckets_docs": _q_length_buckets,
        "merge_into_customers": _q_merge_into,
        "script_census_docs": _q_script_census,
        "changelog_from_snapshots": _q_to_changelog,
        "isotonic_value_purchase": _q_isotonic,
        "roc_auc_value_purchase": _q_roc_auc,
        "average_precision_value_purchase": _q_average_precision,
        "containment_pairs_docs": _q_containment,
        "rank_gauss_events": _q_rank_gauss,
        "histogram_match_events": _q_histogram_match,
        "fertility_by_script": _q_fertility_by_script,
        "rrf_fuse_users": _q_rrf_fuse,
        "compression_ratio_docs": _q_compression,
        "bloom_semi_lineitem": _q_bloom_semi,
        "bloom_anti_lineitem": _q_bloom_anti,
        "corr_matrix_lineitem": _q_corr_matrix,
        "bootstrap_ci_value": _q_bootstrap_ci,
        "mahalanobis_vecs": _q_mahalanobis,
        "conformal_value_events": _q_conformal,
        "conformal_by_type_events": _q_conformal_by,
        "selectivity_events_value": _q_selectivity,
        "survival_km_purchase": _q_survival_km,
        "ate_stratified_purchases": _q_ate_stratified,
        "nelson_aalen_purchase": _q_nelson_aalen,
        "logrank_purchase_cohorts": _q_logrank,
        "uplift_qini_purchases": _q_uplift_qini,
        "rmst_purchase_cohorts": _q_rmst,
        "sequential_ab_value": _q_sequential_ab,
        "mde_ab_value": _q_mde,
        "raking_weights_events": _q_raking,
        "srm_check_events": _q_srm,
        "cif_purchase_error": _q_cif,
        "bootstrap_diff_click_view": _q_bootstrap_diff,
        # --- new in round 5, session 11 ---
        "bm25_topk_docs": _q_bm25_topk,
        "dict_tag_docs": _q_dict_tag,
        "blocklist_filter_docs": _q_blocklist_filter,
        "chi2_features_docs": _q_chi2_features,
        "attribution_decay_events": _q_attribution_decay,
        "concentration_sources": _q_concentration,
        "label_prop_suppliers": _q_label_prop,
        "rfm_features_users": _q_rfm,
        "weighted_jaccard_pairs": _q_weighted_jaccard,
        "dup_census_sources": _q_dup_census,
        "cond_entropy_sources": _q_cond_entropy,
        "worst_span_docs": _q_worst_span,
        "cusum_value_by_user": _q_cusum_changepoint,
        "best_splits_lineitem": _q_best_splits,
        "bfs_hops_suppliers": _q_bfs_hops,
        "benford_prices": _q_benford,
        "twa_value_by_user": _q_time_weighted_mean,
        "oof_target_encode_events": _q_oof_target_encode,
        "sax_value_by_user": _q_sax,
        "ps_match_purchase_view": _q_ps_match,
        "cvm_value_drift": _q_cvm_drift,
        "quantile_normalize_docs": _q_quantile_normalize,
        "mwu_value_drift": _q_mwu_drift,
        "ess_value_by_type": _q_ess,
        "spearman_qty_price": _q_spearman,
        "markov_score_users": _q_markov_score,
        # --- new in round 4, session 3: embedding linear algebra ---
        "label_centroids_vecs": _q_label_centroids,
        "covariance_embeddings": _q_covariance_embeddings,
        "centroid_distance_vecs": _q_centroid_distance,
        # --- new in round 4, session 3: temporal CV + negative sampling ---
        "time_folds_events": _q_time_folds,
        "purged_split_events": _q_purged_split,
        "negative_samples_orders": _q_negative_samples,
        "count_encode_events": _q_count_encode,
        # --- new in round 4, session 4 ---
        "chunk_tokens_docs": _q_chunk_tokens,
        "index_stats_docs": _q_index_stats,
        "zorder_events": _q_zorder_events,
        "autocorr_value_by_user": _q_autocorr,
        "er_candidates_part": _q_er_candidates,
        "active_users_trailing_hour": _q_sliding_distinct,
        "basket_rules_lineitem": _q_basket_rules,
        "search_topk_docs": _q_search_topk,
        "pit_audit_training_set": _q_pit_audit,
        "ks_value_drift": _q_ks_drift,
        "k_anonymity_customers": _q_k_anonymity,
        # --- new in round 4, session 5 (below the 50-slot window: covered
        # by CONTRACT_r04.json this round, first to rotate in next round) ---
        "funnel_view_click_purchase": _q_funnel_report,
        "cohort_retention_weekly": _q_cohort_retention,
        "watch_time_coverage": _q_interval_coverage,
        "key_profile_events": _q_key_profile,
        "heavy_users_events": _q_heavy_keys,
        "event_time_disorder": _q_disorder,
        "pagerank_part_supplier": _q_pagerank,
        "pattern_vcp_users": _q_pattern_count,
        "scd2_purchase_values": _q_scd2,
        "join_size_orders_lineitem": _q_join_size,
        "json_key_profile_events": _q_json_profile,
        "salted_join_segments": _q_salted_join,
        "fingerprint_lineitem": _q_fingerprint,
        "diff_buckets_events": _q_diff_buckets,
        "l_diversity_customers": _q_l_diversity,
        "group_sample_events": _q_group_sample,
        "incremental_refresh_users": _q_incremental_refresh,
        "merge_additive_users": _q_merge_additive,

        "boilerplate_census_docs": _q_boilerplate_census,
        "remove_boilerplate_docs": _q_remove_boilerplate,
        "dedup_paragraphs_docs": _q_dedup_paragraphs,
        "c4_filter_docs": _q_c4_filter,
        "winsorize_value": _q_winsorize,
        "triangles_supplier_coorder": _q_triangles,
        "trend_value_by_user": _q_trend,
        "er_resolve_part": _q_er_resolve,
        "clustering_coeff_suppliers": _q_clustering_coeff,
        "kcore_suppliers": _q_kcore,
        "lump_rare_part_types": _q_lump_rare,
        "value_histogram_users": _q_value_histogram,
        "impute_median_values": _q_impute_median,
        "calendar_features_events": _q_calendar,
        "column_profile_events": _q_column_profile,
        "top_paths_events": _q_top_paths,
        "ecdf_value_by_type": _q_ecdf,
        "audience_overlap_types": _q_audience_overlap,
        "survivorship_users": _q_survivorship,
        "gap_stats_users": _q_gap_stats,
        # --- rotated BELOW the 50-slot driver window this round: the
        # session-3/4 window ops with the heaviest pytest pinning plus
        # r3-green asof (all covered by the committed CONTRACT artifact) ---
        "mutual_info_docs": _q_mutual_info,
        "pmi_bigrams_docs": _q_pmi_bigrams,
        "oov_rate_docs": _q_oov_rate,
        "word_entropy_docs": _q_word_entropy,
        "context_pairs_docs": _q_context_pairs,
        "pca_project_vecs": _q_pca_project,
        "recency_features_events": _q_recency_features,
        "trailing_values_events": _q_trailing_values,
        "embedding_norms_vecs": _q_embedding_norms,
        "embedding_moments_vecs": _q_embedding_moments,
        "asof_click_purchase": _q_asof_click_purchase,
        # --- r3-green queries rotated out of the 50-slot driver window
        # (all covered by the committed CONTRACT_r04.json artifact) ---
        # rows-only checks (flagship reference-parity family, golden/
        # recall-pinned in pytest; driver-green in r3)
        "smooth_and_peaks": _q_smooth_and_peaks,
        "pit_features": _q_pit_features,
        "batch_features": _q_batch_features,
        "training_set_pit": _q_training_set,
        "sessionize_stats": _q_sessionize,
        "rolling_time_features": _q_rolling_time,
        "dup_spans_docs": _q_dup_spans,
        "cut_dup_spans_docs": _q_cut_dup_spans,
        "pit_agg_features": _q_pit_agg_features,
        "multi_source_agg_features": _q_multi_source_agg,
        "label_window_conversions": _q_label_window,
        "mixture_sample_docs": _q_mixture_sample,
        "exact_quantiles_price": _q_exact_quantiles,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "cosine_topk": _q_cosine_topk,
        "pii_scan": _q_pii_scan,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "range_join_price_bands": _q_range_join,
        "decontaminate_docs": _q_decontaminate,
        "hash_sample_docs": _q_hash_sample,
        "stable_split_events": _q_stable_split,
        "stratified_sample_docs": _q_stratified_sample,
        "near_dup_exact": _q_near_dup_exact,
        "json_props": _q_json_props,
        "repetition_stats": _q_repetition_stats,
        "dedup_prefix_docs": _q_dedup_prefix,
        "lang_id": _q_lang_id,
        "pack_assignments_docs": _q_pack_assignments,
        "asof_forward_next_purchase": _q_asof_forward,
        "quality_topk_docs": _q_quality_topk,
        "value_quartiles_by_type": _q_value_quartiles,
        "quality_filter_docs": _q_quality_filter,
        "cube_doc_stats": _q_cube_doc_stats,
        "agg_pricing_summary": _q_agg_pricing,
        "minmax_by_brand": _q_minmax_brand,
        "weighted_mean_nation": _q_weighted_mean_nation,
        "lag_lead_value": _q_lag_lead,
        "backfill_click_value": _q_backfill,
        "rolling_avg_value": _q_rolling,
        "text_stats": _q_text_stats,
        "topk_orders_per_customer": _q_topk_orders,
        "rollup_orders": _q_rollup_orders,
        "pivot_event_values": _q_pivot_event_values,
        "token_counts": _q_token_counts,
        "range_predicate_count": _q_range_count,
        "distinct_users_per_type": _q_distinct_users,
        "customers_without_orders": _q_customers_without_orders,
        "user_key_overlap": _q_user_key_overlap,
        "median_by_type": _q_median_by_type,
    }
    assert len(_R5_WINDOW) == 50 and not set(_R5_WINDOW) - set(all_q), \
        sorted(set(_R5_WINDOW) - set(all_q))
    return {**{n: all_q[n] for n in _R5_WINDOW},
            **{n: f for n, f in all_q.items() if n not in set(_R5_WINDOW)}}


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; same column names as the Spark queries)

def _sql_lang_scores() -> str:
    def hits(vocab):
        inlist = ", ".join(f"'{w}'" for w in vocab)
        return ("length(list_filter(string_split_regex(trim(lower(text)), "
                f"'\\s+'), x -> x in ({inlist})))")
    return (f"select doc_id, {hits(_EN)} as s_en, {hits(_DE)} as s_de, "
            f"{hits(_FR)} as s_fr, {hits(_ES)} as s_es from documents")


def oracle_sql() -> dict[str, str]:
    n_words = ("case when length(trim(text)) = 0 then 0 else "
               "length(string_split_regex(trim(text), '\\s+')) end")
    n_nospace = "length(regexp_replace(text, '\\s+', '', 'g'))"
    out = _relational_oracles(n_words, n_nospace)
    # non-SQL-expressible but seeded-deterministic operators (PIT pipeline,
    # sketch dedup) are hash-checked against pinned golden outputs
    # (regenerate with tools/gen_goldens.py after changing them)
    out["bootstrap_ci_value"] = _bootstrap_sql(
        n_reps=30, seed=42, scale=6, alpha=0.05)
    out["bootstrap_diff_click_view"] = _bootstrap_diff_sql(
        n_reps=30, seed=42, scale=6, alpha=0.05)
    out["sequential_ab_value"] = _sequential_ab_sql(alpha=0.05)
    out["mde_ab_value"] = _mde_ab_sql(alpha=0.05, power=0.8)
    out["raking_weights_events"] = _raking_sql(
        {"view": 3, "click": 3, "purchase": 2, "signup": 1, "error": 1},
        {"0": 4, "1": 3, "2": 2, "3": 1}, iters=3, scale=9)
    try:
        from _golden_oracles import GOLDEN_ORACLES
        out.update(GOLDEN_ORACLES)
    except ImportError:
        pass
    return out


# Benford oracle: the frozen micro literals come from the SAME constant
# the operator uses (operators.profile.BENFORD_MICRO) — one source.
def _benford_sql() -> str:
    from msi_preprocessing_pipeline_spark.operators.profile import (
        BENFORD_MICRO)

    exp_rows = ", ".join(f"({d}, {v})"
                         for d, v in enumerate(BENFORD_MICRO, start=1))
    return f"""
        with census as (
            select cast(substr(cast(cast(floor(abs(l_extendedprice)
                           * 1000000 + 0.5) as hugeint) as varchar),
                           1, 1) as int) as digit,
                   cast(count(*) as hugeint) as c
            from lineitem
            where l_extendedprice is not null
              and floor(abs(l_extendedprice) * 1000000 + 0.5) > 0
            group by 1
        ), total as (
            select coalesce(sum(c), 0) as n from census
        ), expect(digit, p_exp_u) as (values {exp_rows})
        select e.digit,
               cast(coalesce(c.c, 0) as bigint) as n_obs,
               case when t.n > 0 then
                   cast(coalesce(c.c, 0) * 1000000 // t.n as bigint)
               end as p_obs_u,
               e.p_exp_u,
               case when t.n > 0 then
                   cast(coalesce(c.c, 0) * 1000000 // t.n
                        - e.p_exp_u as bigint)
               end as dev_u
        from expect e cross join total t
        left join census c on c.digit = e.digit
    """


_BENFORD_SQL = _benford_sql()


# Canonical hash-tokenized documents (DuckDB mirror of _tokenized_docs:
# vocab 4096, seed 7 — same md5 idiom, bit-identical token ids).
_SQL_TOK = """tok as (
                select doc_id, source,
                       list_transform(
                         list_filter(
                           string_split_regex(
                             trim(lower(coalesce(text, ''))),
                             '[ \\t\\n\\x0B\\f\\r]+'),
                           w -> w != ''),
                         w -> cast(cast(('0x' || substr(md5(w || ':7'),
                                                        1, 8)) as bigint)
                                   % 4096 as int)) as tokens
                from documents
            )"""

# Position-exploded embeddings (1-based), float32 cast to double BEFORE
# any arithmetic (mirror of operators.embeddings — products then exact).
_SQL_POS = """pos as (
                select vec_id, label, i,
                       cast(embedding[i] as double) as x
                from embeddings,
                     unnest(generate_series(1, len(embedding))) as u(i)
            )"""

# Quantized positions (scale=6): q = floor(x*1e6 + 0.5) as an exact
# bigint — the embedding-family contracts sum these integers exactly,
# so results cannot depend on engine or partitioning (see the
# _q_embedding_* docstrings).
_SQL_POSQ = """posq as (
                select vec_id, label, i,
                       cast(floor(cast(embedding[i] as double)
                            * 1000000.0 + 0.5) as bigint) as q
                from embeddings,
                     unnest(generate_series(1, len(embedding))) as u(i)
            )"""

# Adjacent token pairs with 1-based position (mirror of lm.doc_bigrams).
_SQL_BG = """bg as (
                select doc_id, cast(p as int) as pos,
                       tokens[p] as a, tokens[p + 1] as b
                from tok, unnest(generate_series(1, len(tokens) - 1))
                     as u(p)
            )"""


def _sql_retrieval_metrics() -> str:
    """DuckDB mirror of ``retrieval_metrics_vecs``: the cosine run over
    the first 20 query vectors, label-derived graded qrels, then the
    shared-literal metric block from ``retrieval.retrieval_metrics_sql``
    (same discount/reciprocal integer tables as the Spark side)."""
    from msi_preprocessing_pipeline_spark.operators.retrieval import (
        retrieval_metrics_sql)

    return f"""
        with q as (
            select vec_id as query_id, embedding as qv, label as qlabel
            from embeddings where vec_id < 20
        ), scored as (
            select q.query_id, e.vec_id as doc_id,
                   round(
                     list_sum(list_transform(list_zip(e.embedding, q.qv),
                        p -> cast(p[1] as double) * cast(p[2] as double)))
                     / (sqrt(list_sum(list_transform(e.embedding,
                          x -> cast(x as double) * cast(x as double))))
                        * sqrt(list_sum(list_transform(q.qv,
                          x -> cast(x as double) * cast(x as double))))),
                     6) as cosine
            from embeddings e, q
            where e.vec_id <> q.query_id
        ), run0 as (
            select query_id, doc_id,
                   cast(row_number() over (partition by query_id
                        order by cosine desc, doc_id) as bigint) as rank
            from scored
        ), qr as (
            select q.query_id, e.vec_id as doc_id,
                   case when e.label = q.qlabel then 2
                        when e.label % 4 = q.qlabel % 4 then 1
                        else 0 end as rel
            from embeddings e, q where e.vec_id <> q.query_id
        ),
        {retrieval_metrics_sql('run0', 'qr', k=10)}
    """


def _sql_fim_transform() -> str:
    """DuckDB mirror of ``fim_transform_docs``: the canonical tokenized
    CTE + the shared md5-cut FIM block from ``augment.fim_sql``."""
    from msi_preprocessing_pipeline_spark.operators.augment import fim_sql

    return f"""
        with {_SQL_TOK},
        {fim_sql('tok', vocab_size=4096, rate_pct=50, mode='psm', seed=7)}
        select doc_id, fim_applied,
               cast(len(fim_tokens) as bigint) as n_out,
               -- duckdb: array_to_string([]) is NULL, spark concat_ws ''
               coalesce(array_to_string(fim_tokens, ' '), '') as fim_str
        from fim
    """


def _sql_span_corrupt() -> str:
    """DuckDB mirror of ``span_corrupt_docs``: canonical tokenized CTE +
    the exploded-window block from ``augment.span_corrupt_sql``."""
    from msi_preprocessing_pipeline_spark.operators.augment import (
        span_corrupt_sql)

    return f"""
        with {_SQL_TOK},
        {span_corrupt_sql('tok', vocab_size=4096, slot_len=8, rate_pct=40,
                          max_span=3, seed=7)}
        select doc_id, n_spans, n_masked,
               coalesce(array_to_string(inputs, ' '), '') as inputs_str,
               coalesce(array_to_string(targets, ' '), '') as targets_str
        from sc
    """


def _relational_oracles(n_words: str, n_nospace: str) -> dict[str, str]:
    return {
        "agg_pricing_summary": """
            select l_returnflag, l_linestatus,
                   cast(sum(cast(l_quantity as decimal(18,4))) as double) as sum_qty,
                   cast(sum(cast(l_extendedprice as decimal(18,4))) as double) as sum_base,
                   cast(sum(cast(l_extendedprice as decimal(18,4))
                            * cast((1 - l_discount) as decimal(18,4))) as double) as sum_disc,
                   count(*) as n_rows
            from lineitem
            where l_shipdate <= timestamp '1998-09-02'
            group by 1, 2
        """,
        "minmax_by_brand": """
            select p_brand,
                   cast(min(p_retailprice) as double) as min_price,
                   cast(max(p_retailprice) as double) as max_price,
                   count(*) as n
            from part group by 1
        """,
        "weighted_mean_nation": """
            select n_name,
                   cast(sum(cast(c_acctbal as decimal(18,4))) as double) as sum_bal,
                   count(*) as n_cust,
                   round(cast(sum(cast(c_acctbal as decimal(18,4))) as double)
                         / count(*), 6) as avg_bal
            from customer join nation on c_nationkey = n_nationkey
            group by 1
        """,
        "asof_click_purchase": """
            select l.event_id, l.user_id, epoch_ms(l.ts) as click_ms,
                   r.value as purchase_value, epoch_ms(r.ts) as purchase_ms
            from (select * from events where event_type = 'click') l
            asof left join
                 (select user_id, ts, value from events
                  where event_type = 'purchase') r
            on l.user_id = r.user_id and l.ts >= r.ts
        """,
        "lag_lead_value": """
            select event_id, user_id, value,
                   lag(value) over w as prev_value,
                   lead(value) over w as next_value
            from events
            window w as (partition by user_id order by ts, event_id)
        """,
        "sessionize_stats": """
            with base as (
                select user_id, event_id, epoch_ms(ts) as ms from events
            ), flags as (
                select user_id, event_id, ms,
                       case when lag(ms) over w is null
                                 or ms - (lag(ms) over w) > 1800000
                            then 1 else 0 end as is_new
                from base
                window w as (partition by user_id order by ms, event_id)
            ), sess as (
                select user_id, ms,
                       cast(sum(is_new) over (partition by user_id
                                              order by ms, event_id
                                              rows between unbounded preceding
                                              and current row) as bigint)
                           as session_id
                from flags
            )
            select user_id, session_id, count(*) as n_events,
                   min(ms) as start_ms, max(ms) as end_ms
            from sess group by 1, 2
        """,
        "backfill_click_value": """
            select event_id, user_id,
                   coalesce(
                     case when event_type = 'click' then value end,
                     last_value(case when event_type = 'click' then value end
                                ignore nulls)
                       over (partition by user_id order by ts, event_id
                             rows between unbounded preceding and current row)
                   ) as filled_click_value
            from events
        """,
        "rolling_avg_value": """
            with base as (
                select event_id, user_id, ts,
                       cast(floor(value * 1000000 + 0.5) as bigint) as q
                from events
            )
            select event_id, user_id,
                   cast(sum(q) over w as double)
                       / cast(count(*) over w as double) as value_avg_5_u
            from base
            window w as (partition by user_id order by ts, event_id
                         rows between 4 preceding and current row)
        """,
        "rolling_time_features": """
            with base as (
                select event_id, user_id, epoch_ms(ts) as ms,
                       cast(floor(value * 1000000 + 0.5) as bigint) as q
                from events
            )
            select event_id, user_id,
                   count(*) over w as n_1h,
                   cast(sum(q) over w as bigint) as sum_1h_u,
                   cast(sum(q) over w as double)
                       / cast(count(*) over w as double) as avg_1h_u
            from base
            window w as (partition by user_id order by ms
                         range between 3600000 preceding and current row)
        """,
        "training_set_pit": """
            with spine as (
                select event_id, user_id, ts, epoch_ms(ts) as purchase_ms,
                       value as label_value
                from events where event_type = 'purchase'
            ), clicks as (
                select user_id, ts, value from events
                where event_type = 'click'
            ), views as (
                select user_id, ts, value from events
                where event_type = 'view'
            )
            select s.event_id, s.user_id, s.purchase_ms, s.label_value,
                   c.value as click_value, epoch_ms(c.ts) as click_ts,
                   v.value as view_value, epoch_ms(v.ts) as view_ts
            from spine s
            asof left join clicks c
              on s.user_id = c.user_id and s.ts >= c.ts
            asof left join views v
              on s.user_id = v.user_id and s.ts >= v.ts
        """,
        "pit_agg_features": """
            with u as (
                select event_id, user_id, epoch_ms(ts) as ts_n,
                       cast(null as bigint) as val, 1 as side
                from events where event_type = 'purchase'
                union all
                select cast(null as bigint), user_id, epoch_ms(ts),
                       cast(floor(value * 1000000 + 0.5) as bigint), 0
                from events where event_type = 'click'
            )
            select event_id, user_id, ts_n as purchase_ms,
                   count(val) over w as n_clicks_1h,
                   cast(coalesce(sum(val) over w, 0) as bigint)
                       as sum_clicks_1h_u
            from u
            window w as (partition by user_id order by ts_n
                         range between 3600000 preceding and 1 preceding)
            qualify side = 1
        """,
        "label_window_conversions": """
            with u as (
                select event_id, user_id, epoch_ms(ts) as ts_n,
                       cast(null as bigint) as val, 1 as side
                from events where event_type = 'click'
                union all
                select cast(null as bigint), user_id, epoch_ms(ts),
                       cast(floor(value * 1000000 + 0.5) as bigint), 0
                from events where event_type = 'purchase'
            )
            select event_id, user_id, ts_n as click_ms,
                   count(val) over w as n_purchases_24h,
                   cast(coalesce(sum(val) over w, 0) as bigint)
                       as sum_purchases_24h_u,
                   (count(val) over w) > 0 as converted_24h
            from u
            window w as (partition by user_id order by ts_n
                         range between 1 following
                         and 86400000 following)
            qualify side = 1
        """,
        "multi_source_agg_features": """
            with u as (
                select event_id, user_id, epoch_ms(ts) as ts_n,
                       cast(null as bigint) as val, 0 as src
                from events where event_type = 'purchase'
                union all
                select cast(null as bigint), user_id, epoch_ms(ts),
                       cast(floor(value * 1000000 + 0.5) as bigint), 1
                from events where event_type = 'click'
                union all
                select cast(null as bigint), user_id, epoch_ms(ts),
                       cast(floor(value * 1000000 + 0.5) as bigint), 2
                from events where event_type = 'view'
            )
            select event_id, user_id, ts_n as purchase_ms,
                   count(case when src = 1 then val end) over w
                       as n_clicks_1h,
                   cast(coalesce(sum(case when src = 1 then val end)
                                 over w, 0) as bigint) as sum_clicks_1h_u,
                   count(case when src = 2 then val end) over w
                       as n_views_1h,
                   cast(coalesce(sum(case when src = 2 then val end)
                                 over w, 0) as bigint) as sum_views_1h_u
            from u
            window w as (partition by user_id order by ts_n
                         range between 3600000 preceding and 1 preceding)
            qualify src = 0
        """,
        "cut_dup_spans_docs": """
            with w as (
                select doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') as words
                from documents where text is not null
            ), g as (
                select doc_id, cast(i - 1 as bigint) as pos,
                       cast(least(i + 6, length(words) - 1) as bigint)
                           as end_pos,
                       array_to_string(words[i : i + 7], ' ') as gram
                from w, unnest(generate_series(
                    1, greatest(length(words) - 7, 1))) as t(i)
            ), dup as (
                select gram from g
                group by gram having count(distinct doc_id) >= 2
            ), hits as (
                select doc_id, pos, end_pos from g
                where gram in (select gram from dup)
            ), m as (
                select doc_id, pos, end_pos,
                       max(end_pos) over (partition by doc_id order by pos
                                          rows between unbounded preceding
                                          and 1 preceding) as pmax
                from hits
            ), grp2 as (
                select doc_id, pos, end_pos,
                       sum(case when pmax is null or pos > pmax + 1
                                then 1 else 0 end)
                         over (partition by doc_id order by pos
                               rows between unbounded preceding
                               and current row) as grp_id
                from m
            ), spans as (
                select doc_id, min(pos) as s, max(end_pos) as e
                from grp2 group by doc_id, grp_id
            ), tok as (
                select doc_id, words[i] as word,
                       cast(i - 1 as bigint) as idx
                from w, unnest(generate_series(1, length(words))) as t(i)
            ), kept as (
                select t.doc_id, t.word, t.idx from tok t
                where not exists (
                    select 1 from spans s
                    where s.doc_id = t.doc_id
                      and t.idx between s.s and s.e)
            ), totals as (
                select doc_id, cast(length(words) as bigint) as n from w
            )
            select k.doc_id,
                   string_agg(k.word, ' ' order by k.idx) as text_cut,
                   any_value(tot.n) - count(*) as n_words_cut,
                   count(*) as n_words_kept
            from kept k join totals tot using (doc_id)
            group by k.doc_id
        """,
        "mixture_sample_docs": """
            with counts as (
                select source, cast(count(*) as double) as c
                from documents
                where source in ('src0', 'src1', 'src2')
                group by 1
            ), w(source, wt) as (
                values ('src0', cast(0.5 as double)),
                       ('src1', cast(0.3 as double)),
                       ('src2', cast(0.2 as double))
            ), r as (
                select w.source, c, wt, c / wt as ratio
                from counts join w using (source)
            ), tmin as (
                select min(ratio) as t from r
            ), thr as (
                select source,
                       case when (t * wt) / c >= 1.0 then 'g'
                            else printf('%08x',
                                        least(cast(floor(((t * wt) / c)
                                                         * 4294967296.0)
                                                   as bigint),
                                              4294967295)) end as h
                from r, tmin
            )
            select d.doc_id, d.source
            from documents d join thr on d.source = thr.source
            where substr(md5(concat(cast(d.doc_id as varchar), ':', '7')),
                         1, 8) < thr.h
        """,
        "dup_spans_docs": """
            with w as (
                select doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') as words
                from documents where text is not null
            ), g as (
                select doc_id, cast(i - 1 as bigint) as pos,
                       cast(least(i + 6, length(words) - 1) as bigint)
                           as end_pos,
                       array_to_string(words[i : i + 7], ' ') as gram
                from w, unnest(generate_series(
                    1, greatest(length(words) - 7, 1))) as t(i)
            ), dup as (
                select gram from g
                group by gram having count(distinct doc_id) >= 2
            ), hits as (
                select doc_id, pos, end_pos from g
                where gram in (select gram from dup)
            ), m as (
                select doc_id, pos, end_pos,
                       max(end_pos) over (partition by doc_id order by pos
                                          rows between unbounded preceding
                                          and 1 preceding) as pmax
                from hits
            ), grp as (
                select doc_id, pos, end_pos,
                       sum(case when pmax is null or pos > pmax + 1
                                then 1 else 0 end)
                         over (partition by doc_id order by pos
                               rows between unbounded preceding
                               and current row) as grp_id
                from m
            )
            select doc_id, min(pos) as span_start, max(end_pos) as span_end,
                   max(end_pos) - min(pos) + 1 as span_words
            from grp group by doc_id, grp_id
        """,
        "exact_quantiles_price": """
            select q, round(val, 6) as value from (
                select 0.25 as q, quantile_cont(l_extendedprice, 0.25) as val from lineitem
                union all
                select 0.5, quantile_cont(l_extendedprice, 0.5) from lineitem
                union all
                select 0.75, quantile_cont(l_extendedprice, 0.75) from lineitem
                union all
                select 0.9, quantile_cont(l_extendedprice, 0.9) from lineitem
            )
        """,
        "dedup_prefix_docs": """
            select substr(lower(text), 1, 16) as prefix_key,
                   min(doc_id) as keep_doc_id, count(*) as group_size
            from documents group by 1
        """,
        "text_stats": f"""
            select doc_id,
                   {n_words} as n_words,
                   {n_nospace} as n_nospace,
                   round((length(text) - length(regexp_replace(text,
                          '[.,!?;:]', '', 'g'))) * 1.0
                         / greatest(length(text), 1), 6) as punct_ratio,
                   round({n_nospace} * 1.0
                         / greatest({n_words}, 1), 6) as mean_word_len,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                       as fingerprint
            from documents
        """,
        "lang_id": f"""
            with scores as ({_sql_lang_scores()})
            select doc_id,
                   case when s_en >= s_de and s_en >= s_fr and s_en >= s_es
                            then 'en'
                        when s_de >= s_fr and s_de >= s_es then 'de'
                        when s_fr >= s_es then 'fr'
                        else 'es' end as lang_pred
            from scores
        """,
        "ngram_jaccard_pairs": """
            with w as (
                select doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') as words
                from documents
            ), sh0 as (
                select distinct doc_id,
                       array_to_string(words[i : i + 4], ' ') as shingle
                from w, unnest(generate_series(
                    1, greatest(length(words) - 4, 1))) as t(i)
            ), sh as (
                select * from sh0 where shingle in (
                    select shingle from sh0
                    group by shingle having count(distinct doc_id) <= 100)
            ), sizes as (
                select doc_id, count(*) as n_sh from sh group by 1
            ), common as (
                select a.doc_id as doc_a, b.doc_id as doc_b,
                       count(*) as n_common
                from sh a join sh b
                  on a.shingle = b.shingle and a.doc_id < b.doc_id
                group by 1, 2
            )
            select doc_a, doc_b,
                   round(n_common * 1.0
                         / (sa.n_sh + sb.n_sh - n_common), 6) as jaccard
            from common
            join sizes sa on sa.doc_id = doc_a
            join sizes sb on sb.doc_id = doc_b
            where n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.2
        """,
        "rrf_fuse_users": """
            with e as (
                select event_type, user_id,
                       cast(floor(value * 1000000.0 + 0.5) as bigint)
                           as v_u
                from events where value is not null
            ), val as (
                select event_type, user_id,
                       cast(sum(v_u) as bigint) as m
                from e group by 1, 2
            ), cnt as (
                select event_type, user_id,
                       cast(count(*) as bigint) as m
                from e group by 1, 2
            ), runs as (
                select event_type as query_id, user_id as doc_id,
                       cast(row_number() over (
                            partition by event_type
                            order by m desc, user_id asc)
                            as bigint) as rank
                from val
                union all
                select event_type, user_id,
                       cast(row_number() over (
                            partition by event_type
                            order by m desc, user_id asc)
                            as bigint)
                from cnt
            ), fused as (
                select query_id, doc_id,
                       cast(sum(cast(floor(
                            1.0 / (60.0 + cast(rank as double))
                            * 1000000000000.0 + 0.5) as hugeint))
                            as bigint) as rrf_score_u,
                       cast(count(*) as bigint) as n_systems
                from runs group by 1, 2
            )
            select * from (
                select query_id, doc_id, rrf_score_u, n_systems,
                       cast(row_number() over (
                            partition by query_id
                            order by rrf_score_u desc, doc_id asc)
                            as bigint) as fused_rank
                from fused
            ) where fused_rank <= 10
        """,
        "fertility_by_script": """
            with d as (
                select doc_id,
                       case when text is not null then text ||
                            case cast(doc_id % 5 as int)
                                 when 0 then ' Привет мир'
                                 when 1 then ' 你好世界'
                                 when 2 then ' مرحبا بالعالم'
                                 when 3 then ' γειά σου'
                                 else '' end
                       end as text
                from documents
            ), dm as (
                select doc_id, text,
                       list_min(list_value(
                           {'n': -length(regexp_replace(text,
                                '[^\\p{Latin}]', '', 'g')),
                            's': 'Latin'},
                           {'n': -length(regexp_replace(text,
                                '[^\\p{Cyrillic}]', '', 'g')),
                            's': 'Cyrillic'},
                           {'n': -length(regexp_replace(text,
                                '[^\\p{Han}]', '', 'g')),
                            's': 'Han'},
                           {'n': -length(regexp_replace(text,
                                '[^\\p{Arabic}]', '', 'g')),
                            's': 'Arabic'},
                           {'n': -length(regexp_replace(text,
                                '[^\\p{Greek}]', '', 'g')),
                            's': 'Greek'},
                           {'n': -length(regexp_replace(text,
                                '[^\\p{Hangul}]', '', 'g')),
                            's': 'Hangul'},
                           {'n': -length(regexp_replace(text,
                                '[^\\p{Devanagari}]', '', 'g')),
                            's': 'Devanagari'},
                           {'n': -length(regexp_replace(text,
                                '[^\\p{Hebrew}]', '', 'g')),
                            's': 'Hebrew'},
                           {'n': -length(regexp_replace(text,
                                '[^\\p{Thai}]', '', 'g')),
                            's': 'Thai'})) as best
                from d
            ), dom as (
                select doc_id, text,
                       case when text is not null and best.n < 0
                            then best.s end as dominant_script
                from dm
            ), c as (
                select dominant_script, count(*) as n_docs,
                       cast(sum(case when text is null then 1 else 0
                                end) as bigint) as n_null_text,
                       cast(sum(coalesce(
                            case when length(trim(text)) = 0 then 0
                                 else length(string_split_regex(
                                          trim(text), '\\s+')) end, 0))
                            as bigint) as n_words,
                       cast(sum(coalesce(length(regexp_extract_all(
                                lower(text),
                                '[a-z]+|[0-9]+|[^a-z0-9\\s]')), 0))
                            as bigint) as n_pieces,
                       cast(sum(coalesce(length(text), 0)) as bigint)
                           as n_chars
                from dom group by 1
            )
            select dominant_script, n_docs, n_null_text, n_words,
                   n_pieces, n_chars,
                   case when n_words > 0 then cast(floor(
                        n_pieces / n_words * 1000000.0 + 0.5)
                        as bigint) end as fertility_u,
                   case when n_pieces > 0 then cast(floor(
                        n_chars / n_pieces * 1000000.0 + 0.5)
                        as bigint) end as chars_per_piece_u
            from c
        """,
        "histogram_match_events": """
            with b as (
                select event_id, event_type, value,
                       cast(least(greatest(
                            floor((cast(value as double) - 0.0) / 25.0),
                            0), 19) as int) as bin
                from events where value is not null
            ), rc as (
                select bin, count(*) as n_ref from b
                where event_type = 'purchase' group by 1
            ), sc as (
                select bin, count(*) as n_src from b group by 1
            ), j as (
                select sc.bin, coalesce(rc.n_ref, 0) as n_ref, sc.n_src
                from sc left join rc using (bin)
            ), best as (
                select j1.bin as bb, j1.n_ref as rb, j1.n_src as sb
                from j j1
                where j1.n_ref > 0 and not exists (
                    select 1 from j j2 where j2.n_ref > 0 and (
                        cast(j2.n_ref as hugeint) * j1.n_src
                            > cast(j1.n_ref as hugeint) * j2.n_src
                        or (cast(j2.n_ref as hugeint) * j1.n_src
                            = cast(j1.n_ref as hugeint) * j2.n_src
                            and j2.bin < j1.bin)))
            )
            select e.event_id, e.event_type,
                   cast(floor(cast(e.value as double) * 1000000.0 + 0.5)
                        as bigint) as value_u
            from b e
            join j on e.bin = j.bin
            cross join best
            where cast(cast(('0x' || substr(md5(
                        cast(e.event_id as varchar) || ':0'), 1, 15))
                        as bigint) as hugeint)
                  * (cast(j.n_src as hugeint) * best.rb)
                < cast(j.n_ref as hugeint) * best.sb
                  * cast(1152921504606846976 as hugeint)
        """,
        "bloom_semi_lineitem": """
            select l_returnflag, l_linestatus, count(*) as n,
                   cast(sum(cast(floor(l_quantity * 100.0 + 0.5)
                                 as bigint)) as bigint) as qty_u,
                   cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5)
                                 as bigint)) as bigint) as price_u
            from lineitem
            where l_orderkey in (
                select o_orderkey from orders
                where o_orderpriority = '1-URGENT')
            group by 1, 2
        """,
        "bloom_anti_lineitem": """
            select l_returnflag, l_linestatus, count(*) as n,
                   cast(sum(cast(floor(l_quantity * 100.0 + 0.5)
                                 as bigint)) as bigint) as qty_u,
                   cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5)
                                 as bigint)) as bigint) as price_u
            from lineitem l
            where not exists (
                select 1 from orders o
                where o.o_orderpriority = '1-URGENT'
                  and o.o_orderkey = l.l_orderkey)
            group by 1, 2
        """,
        "conformal_value_events": """
            with cal as (
                select cast(floor(abs(value - 250.0) * 1000000.0 + 0.5)
                            as bigint) as s_u
                from events
                where value is not null and event_id % 2 = 0
            ), dist as (
                select s_u, count(*) as c from cal group by 1
            ), ann as (
                select s_u,
                       sum(c) over (order by s_u rows between unbounded
                                    preceding and current row) as cum,
                       sum(c) over () as n_all
                from dist
            ), one as (
                select cast(coalesce(max(n_all), 0) as bigint) as n_cal,
                       max(cast(ceil(cast(n_all + 1 as double) * 0.9)
                                as bigint)) as rank_r,
                       min(case when cum >= cast(ceil(cast(n_all + 1
                                     as double) * 0.9) as bigint)
                                then s_u end) as qhat_u
                from ann
            ), t as (
                select cast(floor(abs(value - 250.0) * 1000000.0 + 0.5)
                            as bigint) as s_u
                from events
                where value is not null and event_id % 2 = 1
            )
            select n_cal, rank_r, qhat_u, count(*) as n_test,
                   cast(coalesce(sum(case when s_u <= qhat_u then 1
                                          else 0 end), 0) as bigint)
                       as n_covered
            from t cross join one
            group by 1, 2, 3
        """,
        "survival_km_purchase": "with recursive " + _tte_sql(3, "cohort") + """, counts as (
                select cohort, dur, sum(ev) as d, count(*) as c
                from subj group by 1, 2
            ), risk as (
                select cohort, dur, d,
                       sum(c) over (partition by cohort)
                         - sum(c) over (partition by cohort order by dur
                                        rows between unbounded preceding
                                        and current row)
                         + c as n_at_risk
                from counts
            ), evr as (
                select cohort, dur, d, n_at_risk,
                       row_number() over (partition by cohort
                                          order by dur) as rn
                from risk where d > 0
            ), km as (
                select cohort, rn, dur, d, n_at_risk,
                       (1000000000 * (n_at_risk - d)) // n_at_risk as s
                from evr where rn = 1
                union all
                select e.cohort, e.rn, e.dur, e.d, e.n_at_risk,
                       (km.s * (e.n_at_risk - e.d)) // e.n_at_risk
                from km join evr e
                  on e.cohort = km.cohort and e.rn = km.rn + 1
            )
            select cohort, cast(dur as bigint) as dur,
                   cast(d as bigint) as d_events,
                   cast(n_at_risk as bigint) as n_at_risk,
                   cast(s as bigint) as surv_q9
            from km order by cohort, dur
        """,
        "cif_purchase_error": """
            with recursive tte as (
                select user_id as entity,
                       min(epoch_ms(ts)) as origin_ms,
                       max(epoch_ms(ts)) as last_ms,
                       min(case when event_type = 'purchase'
                                then epoch_ms(ts) end) as t1,
                       min(case when event_type = 'error'
                                then epoch_ms(ts) end) as t2
                from events
                group by user_id
            ), subj as (
                select cast(entity % 3 as integer) as cohort,
                       coalesce(least(t1, t2), last_ms) - origin_ms
                           as dur,
                       case when t1 is not null
                                 and t1 = least(t1, t2) then 1
                            when t2 is not null
                                 and t2 = least(t1, t2) then 2
                            else 0 end as cause
                from tte
                where origin_ms is not null
                  and coalesce(least(t1, t2), last_ms)
                      - origin_ms >= 0
            ), counts as (
                select cohort, dur,
                       sum(case when cause > 0 then 1 else 0 end) as d,
                       count(*) as c,
                       sum(case when cause = 1 then 1 else 0 end) as d1,
                       sum(case when cause = 2 then 1 else 0 end) as d2
                from subj group by 1, 2
            ), risk as (
                select cohort, dur, d, d1, d2,
                       sum(c) over (partition by cohort)
                         - sum(c) over (partition by cohort order by dur
                                        rows between unbounded preceding
                                        and current row)
                         + c as n_at_risk
                from counts
            ), evr as (
                select cohort, dur, d, d1, d2, n_at_risk,
                       row_number() over (partition by cohort
                                          order by dur) as rn
                from risk where d > 0
            ), km as (
                select cohort, rn, dur, d, n_at_risk,
                       (1000000000 * d1) // n_at_risk as c1,
                       (1000000000 * d2) // n_at_risk as c2,
                       (1000000000 * (n_at_risk - d)) // n_at_risk as s
                from evr where rn = 1
                union all
                select e.cohort, e.rn, e.dur, e.d, e.n_at_risk,
                       km.c1 + (km.s * e.d1) // e.n_at_risk,
                       km.c2 + (km.s * e.d2) // e.n_at_risk,
                       (km.s * (e.n_at_risk - e.d)) // e.n_at_risk
                from km join evr e
                  on e.cohort = km.cohort and e.rn = km.rn + 1
            )
            select cohort, cast(dur as bigint) as dur,
                   cast(d as bigint) as d_all,
                   cast(n_at_risk as bigint) as n_at_risk,
                   cast(s as bigint) as surv_q9,
                   cast(c1 as bigint) as cif1_q9,
                   cast(c2 as bigint) as cif2_q9
            from km order by cohort, dur
        """,
        "srm_check_events": """
            with m as (
                select sum(case when cast(cast(('0x' || substr(md5(
                           cast(event_id as varchar)), 1, 8)) as bigint)
                           % 2 as integer) = 1
                           then 1 else 0 end) as n_t,
                       sum(case when cast(cast(('0x' || substr(md5(
                           cast(event_id as varchar)), 1, 8)) as bigint)
                           % 2 as integer) = 0
                           then 1 else 0 end) as n_c
                from events
            ), s as (
                select cast(n_t as bigint) as n_t,
                       cast(n_c as bigint) as n_c,
                       cast(n_t + n_c as double) * 1.0 / 2.0 as e_t,
                       cast(n_t + n_c as double) * 1.0 / 2.0 as e_c
                from m
            )
            select n_t, n_c,
                   case when n_t + n_c > 0 then e_t end as expected_t,
                   case when n_t + n_c > 0 then
                        cast(floor(((cast(n_t as double) - e_t)
                                    * (cast(n_t as double) - e_t) / e_t
                                    + (cast(n_c as double) - e_c)
                                    * (cast(n_c as double) - e_c) / e_c)
                                   * 1000000.0 + 0.5) as bigint)
                       end as chi2_q6,
                   case when n_t + n_c > 0 then
                        ((cast(n_t as double) - e_t)
                         * (cast(n_t as double) - e_t) / e_t
                         + (cast(n_c as double) - e_c)
                         * (cast(n_c as double) - e_c) / e_c)
                        > 3.841458820694124 else false end as srm_flag
            from s
        """,
        "nelson_aalen_purchase": "with " + _tte_sql(3, "cohort") + """, counts as (
                select cohort, dur, sum(ev) as d, count(*) as c
                from subj group by 1, 2
            ), risk as (
                select cohort, dur, d,
                       sum(c) over (partition by cohort)
                         - sum(c) over (partition by cohort order by dur
                                        rows between unbounded preceding
                                        and current row)
                         + c as n_at_risk
                from counts
            ), cum as (
                select cohort, dur, d, n_at_risk,
                       sum((1000000000 * d) // n_at_risk)
                           over (partition by cohort order by dur
                                 rows between unbounded preceding
                                 and current row) as ch
                from risk
            )
            select cohort, cast(dur as bigint) as dur,
                   cast(d as bigint) as d_events,
                   cast(n_at_risk as bigint) as n_at_risk,
                   cast(ch as bigint) as cumhaz_q9
            from cum where d > 0 order by cohort, dur
        """,
        "logrank_purchase_cohorts": "with " + _tte_sql(2, "grp") + """, per as (
                select dur,
                       sum(case when grp = 1 then ev else 0 end) as d1g,
                       sum(case when grp = 0 then ev else 0 end) as d0g,
                       sum(case when grp = 1 then 1 else 0 end) as c1,
                       sum(case when grp = 0 then 1 else 0 end) as c0
                from subj group by dur
            ), risk as (
                select dur, d1g, d0g,
                       sum(c1) over ()
                         - sum(c1) over (order by dur
                                         rows between unbounded preceding
                                         and current row) + c1 as n1,
                       sum(c0) over ()
                         - sum(c0) over (order by dur
                                         rows between unbounded preceding
                                         and current row) + c0 as n0
                from per
            ), t as (
                select cast(d1g + d0g as hugeint) as d_all,
                       cast(d1g as hugeint) as d1,
                       cast(n1 + n0 as hugeint) as n_all,
                       cast(n1 as hugeint) as n1
                from risk where d1g + d0g > 0
            ), agg as (
                select count(*) as n_times,
                       sum(d1) as o1,
                       sum((1000000000 * d_all * n1) // n_all) as e1,
                       sum(case when n_all > 1 then
                           ((((1000000 * d_all * n1) // n_all)
                             * 1000000 * (n_all - n1)) // n_all
                            * (n_all - d_all)) // (n_all - 1)
                           else 0 end) as v
                from t
            )
            select cast(n_times as bigint) as n_times,
                   cast(o1 as bigint) as o1,
                   cast(e1 as bigint) as e1_q9,
                   cast(v as bigint) as v_q12,
                   cast(case when v > 0 then
                        ((o1 * 1000000000 - e1) * (o1 * 1000000000 - e1))
                        // v end as bigint) as chi2_q6
            from agg
        """,
        "rmst_purchase_cohorts": "with recursive " + _tte_sql(3, "cohort") + """, counts as (
                select cohort, dur, sum(ev) as d, count(*) as c
                from subj group by 1, 2
            ), risk as (
                select cohort, dur, d,
                       sum(c) over (partition by cohort)
                         - sum(c) over (partition by cohort order by dur
                                        rows between unbounded preceding
                                        and current row)
                         + c as n_at_risk
                from counts
            ), evr as (
                select cohort, dur, d, n_at_risk,
                       row_number() over (partition by cohort
                                          order by dur) as rn
                from risk where d > 0
            ), km as (
                select cohort, rn, dur,
                       (1000000000 * (n_at_risk - d)) // n_at_risk as s
                from evr where rn = 1
                union all
                select e.cohort, e.rn, e.dur,
                       (km.s * (e.n_at_risk - e.d)) // e.n_at_risk
                from km join evr e
                  on e.cohort = km.cohort and e.rn = km.rn + 1
            ), seg as (
                select cohort, dur, s,
                       least(dur, 172800000) as tc,
                       lag(least(dur, 172800000), 1, 0)
                           over (partition by cohort order by dur)
                           as t_prev,
                       lag(s, 1, 1000000000)
                           over (partition by cohort order by dur)
                           as s_prev
                from km
            )
            select cohort,
                   cast(172800000 as bigint) as tau_ms,
                   cast(count(*) as bigint) as n_event_times,
                   cast(sum(cast(s_prev as hugeint)
                            * (tc - t_prev))
                        + cast(arg_max(s, dur) as hugeint)
                          * (172800000 - max(tc)) as bigint)
                       as rmst_q9ms
            from seg
            group by cohort
            order by cohort
        """,
        "uplift_qini_purchases": """
            with per_user as (
                select user_id, count(*) as n_ev,
                       coalesce(sum(case when event_type = 'purchase'
                                    then cast(floor(value * 100.0 + 0.5)
                                              as bigint) end), 0) as yu
                from events group by user_id
            ), unit as (
                select user_id as uid,
                       cast(cast(('0x' || substr(md5(
                           cast(user_id as varchar)), 1, 8)) as bigint)
                           % 2 as integer) as treat,
                       n_ev as score, yu
                from per_user
            ), ranked as (
                select treat, yu,
                       row_number() over (order by score desc, uid)
                           - 1 as rk,
                       count(*) over () as n
                from unit
            ), per as (
                select (rk * 10) // n as bucket,
                       sum(case when treat = 1 then 1 else 0 end) as n_t,
                       sum(case when treat = 0 then 1 else 0 end) as n_c,
                       sum(case when treat = 1
                                then cast(yu as hugeint)
                                else 0 end) as sy_t,
                       sum(case when treat = 0
                                then cast(yu as hugeint)
                                else 0 end) as sy_c
                from ranked group by 1
            ), cum as (
                select *,
                       sum(n_t) over w as cn_t, sum(n_c) over w as cn_c,
                       sum(sy_t) over w as cy_t, sum(sy_c) over w as cy_c
                from per
                window w as (order by bucket rows between unbounded
                             preceding and current row)
            )
            select cast(bucket as bigint) as bucket,
                   cast(n_t as bigint) as n_t,
                   cast(n_c as bigint) as n_c,
                   cast(sy_t as bigint) as sy_t_u,
                   cast(sy_c as bigint) as sy_c_u,
                   cast(case when n_t > 0 and n_c > 0 then
                        (1000000 * (sy_t * n_c - sy_c * n_t))
                        // (n_t * n_c) end as bigint) as uplift_q6,
                   cast(cn_t as bigint) as cum_n_t,
                   cast(cn_c as bigint) as cum_n_c,
                   cast(case when cn_c > 0 then
                        (1000000 * (cy_t * cn_c - cy_c * cn_t))
                        // cn_c end as bigint) as qini_q6
            from cum order by bucket
        """,
        "ate_stratified_purchases": """
            with per_user as (
                select user_id, count(*) as n_ev,
                       coalesce(sum(case when event_type = 'purchase'
                                    then cast(floor(value * 100.0 + 0.5)
                                              as bigint) end), 0) as yu
                from events group by user_id
            ), unit as (
                select cast(cast(('0x' || substr(md5(
                           cast(user_id as varchar)), 1, 8)) as bigint)
                           % 2 as integer) as treat,
                       cast(floor(log2(cast(n_ev as double)))
                           as integer) as stratum,
                       yu
                from per_user
            ), per as (
                select stratum,
                       sum(case when treat = 1 then 1 else 0 end) as n_t,
                       sum(case when treat = 0 then 1 else 0 end) as n_c,
                       sum(case when treat = 1
                                then cast(yu as hugeint)
                                else 0 end) as sy_t,
                       sum(case when treat = 0
                                then cast(yu as hugeint)
                                else 0 end) as sy_c
                from unit
                group by stratum
                having n_t > 0 and n_c > 0
            ), ann as (
                select stratum, n_t, n_c, sy_t, sy_c,
                       (1000000 * (sy_t * n_c - sy_c * n_t))
                           // (n_t * n_c) as diff_q,
                       n_t + n_c as n_s
                from per
            ), pooled as (
                select sum(n_s * diff_q) // sum(n_s) as ate from ann
            )
            select stratum,
                   cast(n_t as bigint) as n_t,
                   cast(n_c as bigint) as n_c,
                   cast(sy_t as bigint) as sy_t_u,
                   cast(sy_c as bigint) as sy_c_u,
                   cast(diff_q as bigint) as diff_q6,
                   cast(pooled.ate as bigint) as ate_q6
            from ann cross join pooled
            order by stratum
        """,
        "conformal_by_type_events": """
            with cal as (
                select event_type,
                       cast(floor(abs(value - 250.0) * 1000000.0 + 0.5)
                            as bigint) as s_u
                from events where value is not null
            ), dist as (
                select event_type, s_u, count(*) as c
                from cal group by 1, 2
            ), ann as (
                select event_type, s_u,
                       sum(c) over (partition by event_type order by s_u
                                    rows between unbounded preceding
                                    and current row) as cum,
                       sum(c) over (partition by event_type) as n_all
                from dist
            )
            select event_type,
                   cast(max(n_all) as bigint) as n_cal,
                   max(cast(ceil(cast(n_all + 1 as double) * 0.9)
                            as bigint)) as rank_r,
                   min(case when cum >= cast(ceil(cast(n_all + 1
                                 as double) * 0.9) as bigint)
                            then s_u end) as qhat_u
            from ann group by 1
        """,
        "corr_matrix_lineitem": """
            with q as (
                select cast(floor(l_quantity * 1.0 + 0.5) as bigint) qx,
                       cast(floor(l_extendedprice * 0.001 + 0.5)
                            as bigint) px,
                       cast(floor(l_discount * 100.0 + 0.5) as bigint) dx,
                       cast(floor(l_tax * 100.0 + 0.5) as bigint) tx
                from lineitem
            ), m as (
                select count(*) as n,
                       sum(qx) s_q, sum(px) s_p, sum(dx) s_d, sum(tx) s_t,
                       sum(qx*qx) s_qq, sum(px*px) s_pp,
                       sum(dx*dx) s_dd, sum(tx*tx) s_tt,
                       sum(qx*px) s_qp, sum(qx*dx) s_qd,
                       sum(qx*tx) s_qt, sum(px*dx) s_pd,
                       sum(px*tx) s_pt, sum(dx*tx) s_dt
                from q
            )
            select 'l_quantity' as feat_a, 'l_extendedprice' as feat_b, n,
                   cast(floor(cast(n*s_qp - s_q*s_p as double)
                        / sqrt(cast(n*s_qq - s_q*s_q as double)
                               * cast(n*s_pp - s_p*s_p as double))
                        * 1000000.0 + 0.5) as bigint) as corr_u from m
            union all
            select 'l_quantity', 'l_discount', n,
                   cast(floor(cast(n*s_qd - s_q*s_d as double)
                        / sqrt(cast(n*s_qq - s_q*s_q as double)
                               * cast(n*s_dd - s_d*s_d as double))
                        * 1000000.0 + 0.5) as bigint) from m
            union all
            select 'l_quantity', 'l_tax', n,
                   cast(floor(cast(n*s_qt - s_q*s_t as double)
                        / sqrt(cast(n*s_qq - s_q*s_q as double)
                               * cast(n*s_tt - s_t*s_t as double))
                        * 1000000.0 + 0.5) as bigint) from m
            union all
            select 'l_extendedprice', 'l_discount', n,
                   cast(floor(cast(n*s_pd - s_p*s_d as double)
                        / sqrt(cast(n*s_pp - s_p*s_p as double)
                               * cast(n*s_dd - s_d*s_d as double))
                        * 1000000.0 + 0.5) as bigint) from m
            union all
            select 'l_extendedprice', 'l_tax', n,
                   cast(floor(cast(n*s_pt - s_p*s_t as double)
                        / sqrt(cast(n*s_pp - s_p*s_p as double)
                               * cast(n*s_tt - s_t*s_t as double))
                        * 1000000.0 + 0.5) as bigint) from m
            union all
            select 'l_discount', 'l_tax', n,
                   cast(floor(cast(n*s_dt - s_d*s_t as double)
                        / sqrt(cast(n*s_dd - s_d*s_d as double)
                               * cast(n*s_tt - s_t*s_t as double))
                        * 1000000.0 + 0.5) as bigint) from m
        """,
        "containment_pairs_docs": """
            with w as (
                select doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') as words
                from documents
            ), sh0 as (
                select distinct doc_id,
                       array_to_string(words[i : i + 4], ' ') as shingle
                from w, unnest(generate_series(
                    1, greatest(length(words) - 4, 1))) as t(i)
            ), sh as (
                select * from sh0 where shingle in (
                    select shingle from sh0
                    group by shingle having count(distinct doc_id) <= 100)
            ), sizes as (
                select doc_id, count(*) as n_sh from sh group by 1
            ), common as (
                select a.doc_id as doc_a, b.doc_id as doc_b,
                       count(*) as n_common
                from sh a join sh b
                  on a.shingle = b.shingle and a.doc_id < b.doc_id
                group by 1, 2
            )
            select doc_a, doc_b, n_common,
                   cast(sa.n_sh as bigint) as n_a,
                   cast(sb.n_sh as bigint) as n_b,
                   cast(floor(cast(n_common as double)
                        / cast(sa.n_sh as double) * 1000000.0 + 0.5)
                        as bigint) as contain_ab_u,
                   cast(floor(cast(n_common as double)
                        / cast(sb.n_sh as double) * 1000000.0 + 0.5)
                        as bigint) as contain_ba_u
            from common
            join sizes sa on sa.doc_id = doc_a
            join sizes sb on sb.doc_id = doc_b
            where greatest(
                cast(floor(cast(n_common as double)
                     / cast(sa.n_sh as double) * 1000000.0 + 0.5)
                     as bigint),
                cast(floor(cast(n_common as double)
                     / cast(sb.n_sh as double) * 1000000.0 + 0.5)
                     as bigint)) >= 300000
        """,
        "topk_orders_per_customer": """
            select o_custkey, o_orderkey, price, rank from (
                select o_custkey, o_orderkey,
                       cast(o_totalprice as double) as price,
                       row_number() over (partition by o_custkey
                                          order by o_totalprice desc,
                                                   o_orderkey asc) as rank
                from orders
            ) where rank <= 3
        """,
        "rollup_orders": """
            select o_orderstatus, o_orderpriority, count(*) as n,
                   cast(sum(cast(o_totalprice as decimal(18,4))) as double)
                       as total
            from orders
            group by rollup(o_orderstatus, o_orderpriority)
        """,
        "pivot_event_values": """
            with q as (select user_id, event_type,
                              cast(floor(value * 1000000.0 + 0.5)
                                   as bigint) as vq
                       from events)
            select user_id,
                   cast(coalesce(sum(vq) filter (where event_type = 'click'), 0) as bigint) as click_sum_u,
                   cast(coalesce(sum(vq) filter (where event_type = 'purchase'), 0) as bigint) as purchase_sum_u,
                   cast(coalesce(sum(vq) filter (where event_type = 'view'), 0) as bigint) as view_sum_u,
                   cast(coalesce(sum(vq) filter (where event_type = 'signup'), 0) as bigint) as signup_sum_u,
                   cast(coalesce(sum(vq) filter (where event_type = 'error'), 0) as bigint) as error_sum_u
            from q group by 1
        """,
        "asof_forward_next_purchase": """
            select l.event_id, l.user_id, epoch_ms(l.ts) as click_ms,
                   r.value as next_purchase_value,
                   epoch_ms(r.ts) as next_purchase_ms
            from (select * from events where event_type = 'click') l
            asof left join
                 (select user_id, ts, value from events
                  where event_type = 'purchase') r
            on l.user_id = r.user_id and l.ts <= r.ts
        """,
        "target_encode_events": """
            with s as (
                select event_id, event_type,
                       coalesce(sum(cast(value as decimal(18,6))) over w,
                                cast(0 as decimal(18,6))) as S,
                       count(value) over w as C
                from events
                window w as (partition by event_type order by ts, event_id
                             rows between unbounded preceding
                             and 1 preceding)
            )
            select event_id, event_type,
                   (2 * cast((S + 1000) * 1000000 as bigint) + (C + 10))
                     // (2 * (C + 10)) as te_micro
            from s
        """,
        "interpolated_click_value": """
            with labels as (
                select event_id, user_id, epoch_ms(ts) as ms
                from events where event_type = 'purchase'
            ), clicks as (
                select user_id, epoch_ms(ts) as ms, value
                from events
                where event_type = 'click' and value is not null
            ), b as (
                select l.event_id, l.user_id, l.ms,
                       r.value as v0, r.ms as t0
                from labels l asof left join clicks r
                on l.user_id = r.user_id and l.ms >= r.ms
            ), f as (
                select b.*, r.value as v1, r.ms as t1
                from b asof left join clicks r
                on b.user_id = r.user_id and b.ms <= r.ms
            )
            select event_id, user_id, ms,
                   round(case
                     when v0 is null then v1
                     when v1 is null then v0
                     when t1 = t0 then v0
                     else v0 + (v1 - v0)
                          * ((cast(ms as double) - cast(t0 as double))
                             / (cast(t1 as double) - cast(t0 as double)))
                   end, 6) as interp_value
            from f
        """,
        "rolling_zscore_value": """
            with s as (
                select event_id, user_id, value,
                       avg(value) over w as m,
                       stddev_samp(value) over w as sd,
                       count(value) over w as n
                from events
                window w as (partition by user_id order by ts, event_id
                             rows between 20 preceding and 1 preceding)
            )
            select event_id, user_id,
                   round(case when n >= 5 and sd > 0.0
                              then (value - m) / sd end, 4) as z,
                   cast(case when n >= 5 and sd > 0.0
                             then abs((value - m) / sd) > 2.0 end as int)
                       as is_anom
            from s
        """,
        "resample_grid_clicks": """
            with ev as (
                select user_id, epoch_ms(ts) as ms, value
                from events
                where event_type = 'click' and value is not null
            ), s as (
                select user_id,
                       cast(ceil(min(ms) / 86400000.0)
                            * 86400000 as bigint) as lo,
                       cast(floor(max(ms) / 86400000.0)
                            * 86400000 as bigint) as hi
                from ev group by 1
            ), grid as (
                select user_id, cast(g as bigint) as ms
                from s, unnest(generate_series(lo, hi, 86400000)) as t(g)
                where hi >= lo
            )
            select g.user_id, g.ms,
                   round(r.value, 6) as value_grid
            from grid g asof left join ev r
              on g.user_id = r.user_id and g.ms >= r.ms
        """,
        "snapshot_diff_customers": """
            with old as (
                select c_custkey, c_name, c_acctbal from customer
            ), new as (
                select c_custkey, c_name,
                       case when c_custkey % 11 = 0 then c_acctbal + 100.0
                            else c_acctbal end as c_acctbal
                from customer where c_custkey % 13 != 0
            ), j as (
                select coalesce(o.c_custkey, n.c_custkey) as c_custkey,
                       o.c_custkey is not null as in_old,
                       n.c_custkey is not null as in_new,
                       list_filter(
                         [case when not (o.c_name is not distinct
                                         from n.c_name)
                               then 'c_name' end,
                          case when not (o.c_acctbal is not distinct
                                         from n.c_acctbal)
                               then 'c_acctbal' end],
                         x -> x is not null) as diffs
                from old o full outer join new n
                  on o.c_custkey = n.c_custkey
            )
            select c_custkey,
                   case when not in_old then 'added'
                        when not in_new then 'removed'
                        when length(diffs) > 0 then 'changed'
                        else 'unchanged' end as change_type,
                   case when in_old and in_new
                        then array_to_string(diffs, ',') else '' end as cols
            from j
            where (case when not in_old then 'added'
                        when not in_new then 'removed'
                        when length(diffs) > 0 then 'changed'
                        else 'unchanged' end) != 'unchanged'
        """,
        "grouped_quantiles_value": """
            select event_type, q, round(value, 6) as value from (
                select event_type, 0.25 as q,
                       quantile_cont(value, 0.25) as value
                from events group by 1
                union all
                select event_type, 0.5, quantile_cont(value, 0.5)
                from events group by 1
                union all
                select event_type, 0.75, quantile_cont(value, 0.75)
                from events group by 1
                union all
                select event_type, 0.9, quantile_cont(value, 0.9)
                from events group by 1
            )
        """,
        "calibration_value_purchase": """
            with b as (
                select cast(least(greatest(
                           floor(cast(cast(value / 400.0 as decimal(18,9))
                                      as double) / 0.125), 0), 7) as int)
                           as bin,
                       cast(value / 400.0 as decimal(18,9)) as score,
                       case when event_type = 'purchase' then 1 else 0 end
                           as pos
                from events where value is not null
            ), a as (
                select bin, count(*) as n, sum(pos) as n_pos,
                       sum(score) as ssum
                from b group by 1
            ), spine as (
                select cast(x as int) as bin
                from unnest(generate_series(0, 7)) as t(x)
            )
            select spine.bin,
                   cast(coalesce(a.n, 0) as bigint) as n,
                   cast(coalesce(a.n_pos, 0) as bigint) as n_pos,
                   round(case when a.n > 0
                              then cast(a.ssum as double) / a.n end, 6)
                       as mean_score,
                   round(case when a.n > 0
                              then cast(a.n_pos as double) / a.n end, 6)
                       as pos_rate
            from spine left join a using (bin)
        """,
        "word_entropy_docs": """
            with w as (
                select doc_id, w as word
                from documents,
                     unnest(string_split_regex(trim(lower(text)),
                                               '\\s+')) as t(w)
                where text is not null and w != ''
            ), c as (
                select doc_id, word, count(*) as c
                from w group by 1, 2
            ), s as (
                select doc_id,
                       sum(c) as n_words_total,
                       count(*) as n_distinct_words,
                       cast(cast(sum(cast(floor(
                            cast(c as double) * ln(cast(c as double))
                            * 1000000000.0 + 0.5) as bigint))
                            as bigint) as double) as clncq
                from c group by 1
            ), full_ as (
                select d.doc_id,
                       cast(coalesce(s.n_words_total, 0) as bigint)
                           as n_words_total,
                       cast(coalesce(s.n_distinct_words, 0) as bigint)
                           as n_distinct_words,
                       case when s.doc_id is null then 0.0
                            else ln(cast(s.n_words_total as double))
                                 - (s.clncq / 1000000000.0)
                                   / cast(s.n_words_total as double) end
                           as entropy,
                       case when s.doc_id is null then null
                            else cast(s.n_distinct_words as double)
                                 / cast(s.n_words_total as double) end
                           as ttr
                from documents d left join s using (doc_id)
            )
            select doc_id, n_words_total, n_distinct_words,
                   cast(floor(entropy * 1000000.0 + 0.5) as bigint)
                       as entropy_u,
                   cast(floor(ttr * 1000000.0 + 0.5) as bigint) as ttr_u
            from full_
        """,
        "quantile_bin_price": """
            with e as (
                select quantile_cont(l_extendedprice,
                    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) as edges
                from lineitem
            )
            select l_orderkey, l_linenumber,
                   cast(case when l_extendedprice is null then null
                        else length(list_filter(edges,
                                    e -> l_extendedprice >= e)) end as int)
                       as price_decile
            from lineitem, e
        """,
        "woe_encode_users": """
            with b as (
                select event_id, user_id, ts,
                       case when value > 100.0 then 1 else 0 end as ev,
                       case when value is null then 0
                            when value > 100.0 then 0 else 1 end as ne
                from events
            ), t as (
                select sum(ev) as tev, sum(ne) as tne from b
            ), s as (
                select event_id, user_id,
                       coalesce(sum(ev) over w, 0) as pev,
                       coalesce(sum(ne) over w, 0) as pne
                from b
                window w as (partition by user_id order by ts, event_id
                             rows between unbounded preceding
                             and 1 preceding)
            )
            select event_id, user_id,
                   round(ln(((cast(pev as double) + 0.5)
                             / (cast(tev as double) + 1.0))
                            / ((cast(pne as double) + 0.5)
                               / (cast(tne as double) + 1.0))), 6) as woe
            from s, t
        """,
        "feature_hash_events": """
            select event_id, user_id, event_type,
                   cast(cast(('0x' || substr(md5(concat_ws(':',
                            cast(user_id as varchar), event_type, '7')),
                        1, 8)) as bigint) % 64 as int) as feature_bucket
            from events
        """,
        "robust_scaled_value": """
            with s as (
                select event_type,
                       quantile_cont(value, 0.5) as med,
                       quantile_cont(value, 0.75)
                         - quantile_cont(value, 0.25) as iqr
                from events group by 1
            )
            select e.event_id, e.event_type,
                   round(case when s.iqr > 0.0
                              then (e.value - s.med) / s.iqr end, 6)
                       as z_robust
            from events e join s
              on e.event_type is not distinct from s.event_type
        """,
        "decayed_sum_value": """
            select a.event_id, a.user_id,
                   round(sum(b.value
                             * exp(-(epoch_ms(a.ts) - epoch_ms(b.ts))
                                   / 86400000.0)), 6) as decayed
            from events a join events b
              on a.user_id = b.user_id
             and (b.ts < a.ts or (b.ts = a.ts and b.event_id <= a.event_id))
            group by a.event_id, a.user_id
        """,
        "psi_value_drift": """
            with spine as (
                select cast(b as int) as bin
                from unnest(generate_series(0, 9)) as t(b)
            ), r as (
                select cast(least(greatest(
                           floor(value / 40.0), 0), 9) as int) as bin,
                       count(*) as n_ref
                from events
                where event_type = 'click' and value is not null
                group by 1
            ), c as (
                select cast(least(greatest(
                           floor(value / 40.0), 0), 9) as int) as bin,
                       count(*) as n_cur
                from events
                where event_type = 'purchase' and value is not null
                group by 1
            ), j as (
                select spine.bin,
                       coalesce(n_ref, 0) as n_ref,
                       coalesce(n_cur, 0) as n_cur
                from spine left join r using (bin) left join c using (bin)
            ), t as (
                select bin, n_ref, n_cur,
                       (cast(n_ref as double) + 0.5)
                         / (cast(sum(n_ref) over () as double) + 0.5 * 10.0)
                           as p,
                       (cast(n_cur as double) + 0.5)
                         / (cast(sum(n_cur) over () as double) + 0.5 * 10.0)
                           as q
                from j
            )
            select bin, n_ref, n_cur,
                   round(p, 8) as p_ref, round(q, 8) as p_cur,
                   round((p - q) * ln(p / q), 8) as psi_contrib
            from t
        """,
        "token_counts": """
            select doc_id,
                   case when length(trim(text)) = 0 then 0 else
                        length(string_split_regex(trim(text), '\\s+')) end
                       as ws_tokens,
                   length(regexp_extract_all(lower(text),
                          '[a-z]+|[0-9]+|[^a-z0-9\\s]')) as bpe_ish_tokens
            from documents
        """,
        "near_dup_exact": """
            select a.vec_id as id_a, b.vec_id as id_b,
                   round(
                     list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> cast(p[1] as double) * cast(p[2] as double)))
                     / (sqrt(list_sum(list_transform(a.embedding,
                          x -> cast(x as double) * cast(x as double))))
                        * sqrt(list_sum(list_transform(b.embedding,
                          x -> cast(x as double) * cast(x as double))))),
                     6) as cosine
            from embeddings a, embeddings b
            where a.vec_id % 7 = 0 and a.vec_id < b.vec_id
              and round(
                     list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> cast(p[1] as double) * cast(p[2] as double)))
                     / (sqrt(list_sum(list_transform(a.embedding,
                          x -> cast(x as double) * cast(x as double))))
                        * sqrt(list_sum(list_transform(b.embedding,
                          x -> cast(x as double) * cast(x as double))))),
                     6) >= 0.3
        """,
        "range_predicate_count": """
            select l_returnflag,
                   cast(sum(case when l_quantity between 10 and 30
                                 then 1 else 0 end) as bigint) as n_in_range,
                   count(*) as n_total
            from lineitem group by 1
        """,
        "distinct_users_per_type": """
            select event_type, count(distinct user_id) as n_users,
                   count(*) as n_events
            from events group by 1
        """,
        "customers_without_orders": """
            select c_custkey, c_name from customer
            where not exists (select 1 from orders
                              where o_custkey = c_custkey
                                and o_totalprice > 300000)
        """,
        "user_key_overlap": """
            select k, 'intersect' as setop from (
                select user_id as k from events
                intersect
                select c_custkey as k from customer
            )
            union all
            select k, 'except' as setop from (
                select distinct user_id as k from events
                except
                select c_custkey as k from customer
            )
        """,
        "median_by_type": """
            select event_type,
                   round(quantile_cont(value, 0.5), 6) as median_value,
                   round(quantile_cont(value, 0.9), 6) as p90_value
            from events group by 1
        """,
        "contamination_frac_docs": """
            with w as (
                select doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') as words
                from documents where text is not null
            ), sh as (
                select distinct doc_id,
                       array_to_string(words[i : i + 4], ' ') as shingle
                from w, unnest(generate_series(
                    1, greatest(length(words) - 4, 1))) as t(i)
            ), bench as (
                select distinct shingle from sh where doc_id % 41 = 0
            ), tr as (
                select doc_id, count(*) as n_sh,
                       sum(case when shingle in (select shingle from bench)
                                then 1 else 0 end) as n_cont
                from sh where doc_id % 41 <> 0 group by 1
            )
            select d.doc_id,
                   cast(coalesce(tr.n_sh, 0) as bigint) as n_shingles,
                   cast(coalesce(tr.n_cont, 0) as bigint)
                       as n_contaminated,
                   cast(tr.n_cont as double) / cast(tr.n_sh as double)
                       as contamination_frac
            from (select distinct doc_id from documents
                  where doc_id % 41 <> 0) d
            left join tr using (doc_id)
        """,
        "ab_cuped_purchases": """
            with pu as (
                select user_id,
                       sum(case when epoch_ms(ts) >= 1705363200000
                                then cast(floor(value * 1000 + 0.5)
                                          as bigint) else 0 end) as metric,
                       sum(case when epoch_ms(ts) < 1705363200000
                                then cast(floor(value * 1000 + 0.5)
                                          as bigint) else 0 end) as cov
                from events where event_type = 'purchase' group by 1
            ), g as (
                select case when substr(md5(concat(
                                cast(user_id as varchar), ':', '42')), 1, 1)
                            in ('0','2','4','6','8','a','c','e')
                            then 'control' else 'treatment' end as grp,
                       metric, cov
                from pu
            ), m as (
                select
                  sum(case when grp='control' then 1 else 0 end) as n_c,
                  sum(case when grp='treatment' then 1 else 0 end) as n_t,
                  cast(cast(sum(case when grp='control' then metric end) as varchar)
                       as double) as sy_c,
                  cast(cast(sum(case when grp='treatment' then metric end) as varchar)
                       as double) as sy_t,
                  cast(cast(sum(case when grp='control'
                                then cast(metric as hugeint)*metric end) as varchar)
                       as double) as syy_c,
                  cast(cast(sum(case when grp='treatment'
                                then cast(metric as hugeint)*metric end) as varchar)
                       as double) as syy_t,
                  cast(cast(sum(case when grp='control' then cov end) as varchar)
                       as double) as sx_c,
                  cast(cast(sum(case when grp='treatment' then cov end) as varchar)
                       as double) as sx_t,
                  cast(cast(sum(case when grp='control'
                                then cast(cov as hugeint)*cov end) as varchar)
                       as double) as sxx_c,
                  cast(cast(sum(case when grp='treatment'
                                then cast(cov as hugeint)*cov end) as varchar)
                       as double) as sxx_t,
                  cast(cast(sum(case when grp='control'
                                then cast(cov as hugeint)*metric end) as varchar)
                       as double) as sxy_c,
                  cast(cast(sum(case when grp='treatment'
                                then cast(cov as hugeint)*metric end) as varchar)
                       as double) as sxy_t
                from g
            ), s as (
                select *,
                  cast(n_c as double) as nc, cast(n_t as double) as nt,
                  sy_c / cast(n_c as double) as mean_c,
                  sy_t / cast(n_t as double) as mean_t,
                  (syy_c - sy_c * sy_c / cast(n_c as double))
                      / (cast(n_c as double) - 1.0) as var_c,
                  (syy_t - sy_t * sy_t / cast(n_t as double))
                      / (cast(n_t as double) - 1.0) as var_t
                from m
            ), s2 as (
                select *,
                  var_c / nc + var_t / nt as se2,
                  (sxy_c + sxy_t) - (sx_c + sx_t) * (sy_c + sy_t)
                      / (nc + nt) as cov_xy,
                  (sxx_c + sxx_t) - (sx_c + sx_t) * (sx_c + sx_t)
                      / (nc + nt) as var_x,
                  (syy_c + syy_t) - (sy_c + sy_t) * (sy_c + sy_t)
                      / (nc + nt) as var_y,
                  (sx_c + sx_t) / (nc + nt) as x_bar
                from s
            ), s3 as (
                select *,
                  cov_xy / var_x as theta,
                  (cov_xy * cov_xy) / (var_x * var_y) as rho2,
                  sy_c / nc - (cov_xy / var_x) * (sx_c / nc - x_bar)
                      as adj_c,
                  sy_t / nt - (cov_xy / var_x) * (sx_t / nt - x_bar)
                      as adj_t
                from s2
            )
            select cast(n_c as bigint) as n_c, cast(n_t as bigint) as n_t,
                   cast(floor(mean_c * 1e9 + 0.5) as bigint) as mean_c_u,
                   cast(floor(mean_t * 1e9 + 0.5) as bigint) as mean_t_u,
                   cast(floor((mean_t - mean_c) * 1e9 + 0.5) as bigint)
                       as diff_u,
                   cast(floor((mean_t - mean_c) / sqrt(se2) * 1e9 + 0.5)
                        as bigint) as welch_t_u,
                   cast(floor(theta * 1e9 + 0.5) as bigint) as theta_u,
                   cast(floor((adj_t - adj_c) * 1e9 + 0.5) as bigint)
                       as cuped_diff_u,
                   cast(floor((adj_t - adj_c)
                              / sqrt(se2 * (1.0 - rho2)) * 1e9 + 0.5)
                        as bigint) as cuped_t_u,
                   cast(floor((1.0 - rho2) * 1e9 + 0.5) as bigint)
                       as var_reduction_u
            from s3
        """,
        "token_budget_sources": """
            with g as (
                select source as "group", count(*) as n_docs,
                       cast(sum(cast(n_chars as bigint)) as bigint)
                           as tokens_available
                from documents group by 1
            ), w as (
                select *,
                       case "group"
                           when 'src0' then 200000
                           when 'src1' then 150000
                           when 'src2' then 100000
                           when 'src3' then 50000
                           else 0 end as weight_ppm,
                       case "group"
                           when 'src0' then 10000
                           when 'src1' then 7500
                           when 'src2' then 5000
                           when 'src3' then 2500
                           else 0 end as tokens_target
                from g
            )
            select "group", n_docs, tokens_available,
                   cast(weight_ppm as bigint) as weight_ppm,
                   cast(tokens_target as bigint) as tokens_target,
                   case when tokens_available > 0
                        then cast(least(tokens_available, tokens_target)
                                  as double)
                             / cast(tokens_available as double)
                        else 0.0 end as sample_fraction,
                   cast(least(tokens_available, tokens_target) as bigint)
                       as tokens_expected,
                   (tokens_available < tokens_target) as exhausted
            from w
        """,
        "passage_windows_docs": """
            with base as (
                select doc_id, text, length(text) as n
                from documents where text is not null
            )
            select doc_id, k as passage_idx,
                   k * 100 as char_start,
                   substr(text, cast(k * 100 + 1 as int), 120) as passage
            from base, unnest(generate_series(
                0, (greatest(n - 120, 0) + 99) // 100
            )) as t(k)
        """,
        "attribution_last_touch": """
            with u as (
                select event_id, user_id, epoch_ms(ts) as ms, 0 as side,
                       event_id as tid, cast(null as bigint) as cid
                from events where event_type = 'click'
                union all
                select event_id, user_id, epoch_ms(ts), 1,
                       cast(null as bigint), event_id
                from events where event_type = 'purchase'
            ), w0 as (
                select *,
                       min(case when side = 0
                                then {'ms': ms, 'tid': tid} end) over w as f,
                       max(case when side = 0
                                then {'ms': ms, 'tid': tid} end) over w as l,
                       count(case when side = 0
                                  then {'ms': ms, 'tid': tid} end) over w
                           as n_touches
                from u
                window w as (partition by user_id order by ms
                             range between 3600000 preceding
                             and 1 preceding)
            )
            select cid as conv_id, user_id, ms as conv_ms,
                   f.tid as first_touch_id, f.ms as first_touch_ms,
                   l.tid as last_touch_id, l.ms as last_touch_ms,
                   n_touches
            from w0 where side = 1
        """,
        # time-decay multi-touch: integer halflife buckets make the
        # weights exact powers of two; Hamilton largest-remainder split
        # (quota // + % + remainder rank) mirrors attribution_shares
        # sorted-rank Gini + HHI over the |sources|-bounded relation;
        # hugeint exact sums, truncating // mirrors trunc_div
        "concentration_sources": """
            with g as (
                select source,
                       cast(coalesce(sum(coalesce(n_chars, 0)), 0)
                            as hugeint) as w
                from documents group by 1
            ), r as (
                select w,
                       cast(row_number() over
                            (order by w asc, source asc) as hugeint) as i
                from g
            ), a as (
                select cast(count(*) as hugeint) as n, sum(w) as tw,
                       sum(w * w) as s2, sum(i * w) as si, max(w) as top
                from r
            )
            select cast(n as bigint) as n_groups,
                   cast(tw as bigint) as total_weight,
                   case when tw > 0 then
                        cast((1000000 * s2) // (tw * tw) as bigint)
                   end as hhi_micro,
                   case when tw > 0 then
                        cast((1000000 * (2 * si - (n + 1) * tw))
                             // (n * tw) as bigint)
                   end as gini_micro,
                   case when tw > 0 then
                        cast((1000000 * top) // tw as bigint)
                   end as top_share_micro
            from a
        """,
        # 3 unrolled synchronous LPA rounds; min-label tie break via
        # (count desc, label asc) rank — mirrors graph.label_prop
        "label_prop_suppliers": """
            with su as (
                select distinct l_orderkey as o, l_suppkey as s
                from lineitem
                where l_orderkey is not null and l_suppkey is not null
                  and l_shipdate >= date '1995-02-01'
                  and l_shipdate < date '1995-08-01'
            ), e0 as (
                select distinct a.s as x, b.s as y
                from su a join su b on a.o = b.o and a.s < b.s
            ), eu as (
                select x, y from e0 union select y, x from e0
            ), l0 as (
                select distinct x as node, x as label from eu
            ), c1 as (
                select e.y as node, l.label, count(*) as c
                from eu e join l0 l on e.x = l.node
                group by 1, 2
            ), l1 as (
                select node, label from (
                    select node, label,
                           row_number() over (partition by node
                               order by c desc, label asc) as rn
                    from c1) where rn = 1
            ), c2 as (
                select e.y as node, l.label, count(*) as c
                from eu e join l1 l on e.x = l.node
                group by 1, 2
            ), l2 as (
                select node, label from (
                    select node, label,
                           row_number() over (partition by node
                               order by c desc, label asc) as rn
                    from c2) where rn = 1
            ), c3 as (
                select e.y as node, l.label, count(*) as c
                from eu e join l2 l on e.x = l.node
                group by 1, 2
            ), l3 as (
                select node, label from (
                    select node, label,
                           row_number() over (partition by node
                               order by c desc, label asc) as rn
                    from c3) where rn = 1
            )
            select node, label from l3
        """,
        # composed RFM: exact per-user aggregates + the quantile_bin
        # edge idiom (quantile_cont edges, searchsorted-right count)
        "rfm_features_users": """
            with u as (
                select user_id, max(epoch_ms(ts)) as r_ms,
                       cast(count(*) as bigint) as f,
                       cast(coalesce(sum(cast(floor(value * 1e6 + 0.5)
                                              as bigint)), 0)
                            as bigint) as m_micro
                from events group by 1
            ), e as (
                select quantile_cont(r_ms, [0.2, 0.4, 0.6, 0.8]) as re,
                       quantile_cont(f, [0.2, 0.4, 0.6, 0.8]) as fe,
                       quantile_cont(m_micro,
                                     [0.2, 0.4, 0.6, 0.8]) as me
                from u
            )
            select user_id, r_ms, f, m_micro,
                   cast(case when r_ms is null then null
                        else length(list_filter(re, x -> r_ms >= x))
                        end as int) as r_bin,
                   cast(length(list_filter(fe, x -> f >= x)) as int)
                       as f_bin,
                   cast(length(list_filter(me, x -> m_micro >= x)) as int)
                       as m_bin
            from u, e
        """,
        # multiset Jaccard: sum-min over shared shingles, identity
        # sum-max = wa + wb - m; hugeint // mirrors trunc_div
        "weighted_jaccard_pairs": """
            with w as (
                select doc_id,
                       string_split_regex(trim(lower(text)),
                                          '\\s+') as words
                from documents where text is not null
            ), g as (
                select doc_id,
                       array_to_string(words[i : i + 2], ' ') as shingle
                from w, unnest(generate_series(
                    1, greatest(length(words) - 2, 1))) as t(i)
            ), tf0 as (
                select doc_id, shingle, cast(count(*) as hugeint) as tf
                from g group by 1, 2
            ), tf as (
                select * from tf0 where shingle in (
                    select shingle from tf0
                    group by shingle
                    having count(distinct doc_id) <= 100)
            ), sizes as (
                select doc_id, sum(tf) as w from tf group by 1
            ), common as (
                select a.doc_id as doc_a, b.doc_id as doc_b,
                       sum(least(a.tf, b.tf)) as m
                from tf a join tf b
                  on a.shingle = b.shingle and a.doc_id < b.doc_id
                group by 1, 2
            )
            select doc_a, doc_b,
                   cast((1000000 * m) // (sa.w + sb.w - m) as bigint)
                       as jw_micro
            from common
            join sizes sa on sa.doc_id = doc_a
            join sizes sb on sb.doc_id = doc_b
            where (1000000 * m) // (sa.w + sb.w - m) >= 300000
        """,
        "dup_census_sources": """
            select source, cast(count(*) as bigint) as n_docs,
                   cast(count(text) as bigint) as n_texts,
                   cast(count(distinct text) as bigint) as n_unique,
                   case when count(text) > 0 then
                        cast((1000000 * (cast(count(text) as hugeint)
                                         - count(distinct text)))
                             // count(text) as bigint)
                   end as dup_rate_micro
            from documents group by 1
        """,
        # H(Y|X) = (sum_x cx ln cx - sum_xy cxy ln cxy)/N; nano-quantized
        # terms (floor(t*1e9+0.5)) summed in hugeint, // final ratio —
        # mirrors lm.conditional_entropy; marginals from the same relation
        "cond_entropy_sources": f"""
            with {_SQL_TOK},
            bg as (
                select source as g, tokens[i] as a, tokens[i + 1] as b
                from tok, unnest(generate_series(1, len(tokens) - 1))
                     as u(i)
            ), cxy as (
                select g, a, b, cast(count(*) as hugeint) as c
                from bg group by 1, 2, 3
            ), cx as (
                select g, a, sum(c) as cx from cxy group by 1, 2
            ), sx as (
                select g, sum(cast(floor(cast(cx as double)
                                         * ln(cast(cx as double))
                                         * 1000000000.0 + 0.5)
                                   as hugeint)) as sx
                from cx group by 1
            ), sxy as (
                select g, sum(cast(floor(cast(c as double)
                                         * ln(cast(c as double))
                                         * 1000000000.0 + 0.5)
                                   as hugeint)) as sxy,
                       sum(c) as n
                from cxy group by 1
            )
            select sxy.g as source, cast(n as bigint) as n_bigrams,
                   cast((sx.sx - sxy.sxy) // n as bigint) as h_cond_nano
            from sxy join sx on sxy.g is not distinct from sx.g
        """,
        # worst w=16 sliding bigram-LM window per doc; same quantized
        # ln p terms as lm_score_docs, exact int64 window sums
        "worst_span_docs": f"""
            with {_SQL_TOK}, {_SQL_BG},
            cab as (select a, b, count(*) as c from bg group by 1, 2),
            ca as (select a, cast(sum(c) as bigint) as c_a
                   from cab group by 1),
            scored as (
                select bg.doc_id, bg.pos,
                       cast(floor(ln((cast(cab.c as double) + 0.5)
                                     / (cast(ca.c_a as double)
                                        + 0.5 * 4096))
                                  * 1000000000.0 + 0.5) as bigint) as q
                from bg join cab using (a, b) join ca using (a)
            ), sp as (
                select doc_id, pos,
                       sum(q) over w as ssum, count(*) over w as sn,
                       max(pos) over (partition by doc_id) as nb
                from scored
                window w as (partition by doc_id order by pos
                             rows between 15 preceding and current row)
            ), best as (
                select doc_id, nb, pos, ssum,
                       row_number() over (partition by doc_id
                           order by ssum asc, pos asc) as rn
                from sp where sn = 16
            )
            select doc_id, cast(nb as int) as n_bigrams,
                   cast(pos as int) as span_end_pos,
                   cast(ssum as bigint) as span_sum_q9
            from best where rn = 1
        """,
        "cusum_value_by_user": """
            with obs as (
                select user_id, event_id, epoch_ms(ts) as ms,
                       cast(floor(value * 1000000 + 0.5) as hugeint) as q
                from events where ts is not null and value is not null
            ), run as (
                select user_id, ms,
                       cast(row_number() over w as hugeint) as i,
                       sum(q) over (w rows between unbounded preceding
                                    and current row) as pre,
                       cast(count(*) over (partition by user_id)
                            as hugeint) as n,
                       sum(q) over (partition by user_id) as s
                from obs
                window w as (partition by user_id order by ms, event_id)
            ), stat as (
                select user_id, ms, i, n,
                       abs(n * pre - i * s) as st
                from run
            ), best as (
                select user_id, i, ms, n, st,
                       row_number() over (partition by user_id
                           order by st desc, i asc) as rk
                from stat where i < n
            ), totals as (
                select user_id, cast(count(*) as bigint) as n_obs
                from obs group by 1
            )
            select t.user_id, t.n_obs,
                   cast(b.i as bigint) as cp_index,
                   b.ms as cp_ms,
                   cast(b.st // b.n as bigint) as max_dev_u
            from totals t
            left join (select * from best where rk = 1) b
              using (user_id)
        """,
        "benford_prices": _BENFORD_SQL,
        "sax_value_by_user": _sax_sql(),
        "ps_match_purchase_view": """
            with base as (
                select event_id as id,
                       event_type = 'purchase' as t,
                       cast(floor(value * 1000000 + 0.5) as bigint) as s
                from events
                where value is not null
                  and event_type in ('purchase', 'view')
            ), ctrl as (
                select s, min(id) as cid from base where not t group by 1
            ), taxis as (
                select distinct s from base where t
            ), axis as (
                select coalesce(ta.s, c.s) as s, c.cid,
                       case when c.cid is not null then c.s end as cs
                from taxis ta full outer join ctrl c on ta.s = c.s
            ), swept as (
                select s,
                       max(cs) over (order by s rows between unbounded
                           preceding and current row) as before_s,
                       min(cs) over (order by s rows between current row
                           and unbounded following) as after_s
                from axis
            ), mapped0 as (
                select s,
                       case when before_s is null then after_s
                            when after_s is null then before_s
                            when s - before_s <= after_s - s
                                then before_s
                            else after_s end as cs
                from swept
            ), mapped1 as (
                select s, case when abs(cs - s) <= 250000 then cs end
                           as cs
                from mapped0
            ), mapped as (
                select m.s, m.cs, c.cid
                from mapped1 m left join ctrl c on c.s = m.cs
            )
            select b.id, b.s as score_u, m.cid as ctrl_id,
                   m.cs as ctrl_score_u,
                   case when m.cs is not null then abs(m.cs - b.s) end
                       as dist_u
            from base b join mapped m on b.s = m.s
            where b.t
        """,
        "oof_target_encode_events": """
            with base as (
                select event_type,
                       cast(cast(('0x' || substr(md5(
                                concat(cast(user_id as varchar),
                                       ':gkf:7')), 1, 8)) as bigint)
                            % 5 as int) as fold,
                       cast(floor(value * 1000000 + 0.5) as hugeint) as q
                from events
                where event_type is not null and user_id is not null
                  and value is not null
            ), cf as (
                select event_type, fold,
                       cast(count(*) as hugeint) as n_cf,
                       sum(q) as s_cf
                from base group by 1, 2
            ), oof as (
                select event_type, fold,
                       sum(n_cf) over (partition by event_type) - n_cf
                           as n_oof,
                       sum(s_cf) over (partition by event_type) - s_cf
                           as s_oof
                from cf
            )
            select event_type, fold,
                   cast(n_oof as bigint) as n_oof,
                   case when n_oof > 0 then
                       cast((s_oof * 1000000)
                            // (n_oof * 1000000) as bigint)
                   end as te_oof_u
            from oof
        """,
        "twa_value_by_user": """
            with obs as (
                select user_id, event_id, epoch_ms(ts) as ms,
                       cast(floor(value * 1000000 + 0.5) as hugeint) as q
                from events where ts is not null and value is not null
            ), held as (
                select user_id, ms, q,
                       lead(ms) over (partition by user_id
                                      order by ms, event_id) - ms as w
                from obs
            ), agg as (
                select user_id, cast(count(*) as bigint) as n_obs,
                       cast(max(ms) - min(ms) as bigint) as span_ms,
                       sum(cast(w as hugeint)) as sw,
                       sum(q * cast(w as hugeint)) as sqw
                from held group by 1
            )
            select user_id, n_obs, span_ms,
                   case when sw > 0 then
                       cast((sqw * 1000000) // (sw * 1000000) as bigint)
                   end as twa_u
            from agg
        """,
        "bfs_hops_suppliers": """
            with recursive su as (
                select distinct l_orderkey as o, l_suppkey as s
                from lineitem
                where l_orderkey is not null and l_suppkey is not null
                  and l_shipdate >= date '1995-02-01'
                  and l_shipdate < date '1995-08-01'
            ), e as (
                select distinct a.s as x, b.s as y
                from su a join su b on a.o = b.o and a.s < b.s
            ), adj as (
                select x as u, y as v from e
                union all
                select y, x from e
            ), seeds as (
                select v as node from
                    (select x as v from e union select y from e)
                order by node limit 5
            ), r(node, d) as (
                select node, 0 from seeds
                union
                select a.v, r.d + 1
                from r join adj a on a.u = r.node
                where r.d < 4
            )
            select node, cast(min(d) as int) as hops
            from r group by node
        """,
        "best_splits_lineitem": """
            with stacked as (
                select 'l_quantity' as feature,
                       cast(floor(l_quantity * 100 + 0.5) as hugeint)
                           as xq,
                       cast(floor(l_extendedprice + 0.5) as hugeint)
                           as yq
                from lineitem
                where l_quantity is not null
                  and l_extendedprice is not null
                union all
                select 'l_discount',
                       cast(floor(l_discount * 100 + 0.5) as hugeint),
                       cast(floor(l_extendedprice + 0.5) as hugeint)
                from lineitem
                where l_discount is not null
                  and l_extendedprice is not null
                union all
                select 'l_tax',
                       cast(floor(l_tax * 100 + 0.5) as hugeint),
                       cast(floor(l_extendedprice + 0.5) as hugeint)
                from lineitem
                where l_tax is not null and l_extendedprice is not null
            ), per_x as (
                select feature, xq, cast(count(*) as hugeint) as c,
                       sum(yq) as sy
                from stacked group by 1, 2
            ), run as (
                select feature, xq,
                       sum(c) over (w rows between unbounded preceding
                                    and current row) as nl,
                       sum(sy) over (w rows between unbounded preceding
                                     and current row) as sl,
                       sum(c) over (partition by feature) as n,
                       sum(sy) over (partition by feature) as s
                from per_x
                window w as (partition by feature order by xq)
            ), cand as (
                select feature, xq, nl, n - nl as nr, sl, s - sl as sr
                from run where nl < n
            ), scored as (
                select feature, cast(xq as bigint) as threshold_u,
                       cast(nl as bigint) as n_left,
                       cast(nr as bigint) as n_right,
                       cast((sl * nr - sr * nl) * (sl * nr - sr * nl)
                            // (nl * nr * 1000000) as bigint) as gain_n_u
                from cand
            ), rk as (
                select *, row_number() over (partition by feature
                    order by gain_n_u desc, threshold_u asc) as r
                from scored
            )
            select feature, threshold_u, n_left, n_right, gain_n_u
            from rk where r = 1
        """,
        "attribution_decay_events": """
            with c as (
                select event_id as cid, user_id, epoch_ms(ts) as cms
                from events where event_type = 'purchase'
            ), t as (
                select event_id as tid, user_id, epoch_ms(ts) as tms
                from events where event_type = 'click'
            ), p as (
                select c.cid, t.tid, t.tms,
                       (c.cms - t.tms) // 600000 as k
                from c join t on c.user_id = t.user_id
                 and t.tms >= c.cms - 3600000 and t.tms < c.cms
            ), rk as (
                select cid, tid, k,
                       row_number() over
                           (partition by cid order by tms, tid) as r,
                       count(*) over (partition by cid) as n,
                       max(k) over (partition by cid) as kmax
                from p
            ), sh as (
                select cid, tid, r, n,
                       cast(1::bigint << cast(kmax - k as integer)
                            as hugeint) as w,
                       sum(cast(1::bigint << cast(kmax - k as integer)
                                as hugeint))
                           over (partition by cid) as tw
                from rk
            ), base as (
                select cid, tid, r, n,
                       (1000000 * w) // tw as b,
                       (1000000 * w) % tw as rem
                from sh
            ), fin as (
                select *, sum(b) over (partition by cid) as sb,
                       row_number() over
                           (partition by cid order by rem desc, r) as hrk
                from base
            )
            select cid as conv_id, tid as touch_id,
                   cast(r as int) as touch_rank,
                   cast(n as bigint) as n_touches,
                   cast(b + case when hrk <= 1000000 - sb
                                 then 1 else 0 end as bigint) as credit
            from fin
        """,
        "fs_weights_events": """
            with ev as (
                select event_id, user_id, event_type, value,
                       epoch_ms(ts) as ms
                from events
            ), pairs as (
                select (a.event_type = b.event_type) as type_agree,
                       (abs(a.value - b.value) < 1.0) as val_agree,
                       (abs(a.ms - b.ms) < 3600000) as is_match
                from ev a join ev b
                  on a.user_id = b.user_id and a.event_id < b.event_id
            ), c as (
                select
                    sum(case when is_match then 1 else 0 end) as nm,
                    sum(case when not is_match then 1 else 0 end) as nu,
                    sum(case when is_match and type_agree
                             then 1 else 0 end) as am_t,
                    sum(case when not is_match and type_agree
                             then 1 else 0 end) as au_t,
                    sum(case when is_match and val_agree
                             then 1 else 0 end) as am_v,
                    sum(case when not is_match and val_agree
                             then 1 else 0 end) as au_v
                from pairs
            ), f as (
                select 'type_agree' as field, nm, nu,
                       am_t as am, au_t as au from c
                union all
                select 'val_agree', nm, nu, am_v, au_v from c
            ), p as (
                select field,
                       cast(nm as bigint) as n_match,
                       cast(nu as bigint) as n_unmatch,
                       cast(am as bigint) as agree_match,
                       cast(au as bigint) as agree_unmatch,
                       (cast(am as double) + 0.5)
                           / (cast(nm as double) + 1.0) as m,
                       (cast(au as double) + 0.5)
                           / (cast(nu as double) + 1.0) as u
                from f
            )
            select field, n_match, n_unmatch, agree_match, agree_unmatch,
                   cast(floor(ln(m / u) * 1e9 + 0.5) as bigint)
                       as w_agree_u,
                   cast(floor(ln((1 - m) / (1 - u)) * 1e9 + 0.5) as bigint)
                       as w_disagree_u
            from p
        """,
        "json_props": """
            select event_id,
                   cast(json_extract_string(props, '$.k') as int) as prop_k
            from events
        """,
        "range_join_price_bands": """
            select p_partkey, count(*) as n_in_band
            from part join lineitem
              on cast(l_extendedprice as double)
                 between cast(p_retailprice * 30 as double)
                     and cast(p_retailprice * 30 + 500 as double)
            group by 1
        """,
        "pack_assignments_docs": """
            with d as (
                select doc_id,
                       substr(md5(cast(doc_id as varchar)), 1, 2) as bucket,
                       cast(case when length(trim(text)) = 0 then 0 else
                            length(string_split_regex(trim(text), '\\s+'))
                            end as bigint) as n_tok
                from documents
            ), a as (
                select doc_id, bucket, n_tok,
                       cast(sum(n_tok) over (partition by bucket
                                             order by doc_id
                                             rows between unbounded preceding
                                             and current row) - n_tok
                            as bigint) as start_offset
                from d
            )
            select doc_id, bucket, n_tok, start_offset,
                   cast(floor(start_offset / 256) as bigint) as first_seq,
                   cast(floor((start_offset + greatest(n_tok, 1) - 1) / 256)
                        as bigint) as last_seq,
                   cast(start_offset % 256 as bigint) as offset_in_seq
            from a
        """,
        "packing_stats_docs": """
            with d as (
                select doc_id,
                       substr(md5(cast(doc_id as varchar)), 1, 2) as bucket,
                       cast(case when length(trim(text)) = 0 then 0 else
                            length(string_split_regex(trim(text), '\\s+'))
                            end as bigint) as n_tok
                from documents
            ), pb as (
                select bucket,
                       cast(sum(n_tok) as bigint) as stream,
                       count(*) as n,
                       cast(sum(least(n_tok, 256)) as bigint) as kept,
                       sum(case when n_tok > 256 then 1 else 0 end)
                           as trunc
                from d group by 1
            ), a as (
                select cast(sum(n) as bigint) as n_docs,
                       cast(sum(stream) as bigint) as total_tokens,
                       cast(sum((stream + 255) // 256) as bigint)
                           as n_windows,
                       cast(sum(kept) as bigint) as kept_all,
                       cast(sum(trunc) as bigint) as n_truncated_docs
                from pb
            )
            select n_docs, total_tokens, cast(256 as int) as budget,
                   n_windows,
                   case when n_windows > 0 then
                        cast(total_tokens as double)
                        / (cast(n_windows as double) * 256.0) end
                       as packed_efficiency,
                   n_truncated_docs,
                   n_docs as naive_rows,
                   case when n_docs > 0 then
                        cast(kept_all as double)
                        / (cast(n_docs as double) * 256.0) end
                       as naive_efficiency
            from a
        """,
        "zipf_fit_docs": f"""
            with {_SQL_TOK},
            uni as (
                select t, count(*) as c
                from tok, unnest(tokens) as u(t)
                group by 1
            ), ranked as (
                select c,
                       row_number() over (order by c desc, t asc) as r
                from uni
                qualify r <= 500
            ), q as (
                select cast(floor(ln(cast(r as double)) * 1e5 + 0.5)
                            as hugeint) as x,
                       cast(floor(ln(cast(c as double)) * 1e5 + 0.5)
                            as hugeint) as y
                from ranked
            ), m as (
                select count(*) as n_ranks,
                       cast(sum(x) as double) as sx,
                       cast(sum(y) as double) as sy,
                       cast(sum(x * y) as double) as sxy,
                       cast(sum(x * x) as double) as sxx,
                       cast(sum(y * y) as double) as syy
                from q
            ), s as (
                select n_ranks,
                       cast(n_ranks as double) as n,
                       sxy - sx * sy / cast(n_ranks as double) as cov,
                       sxx - sx * sx / cast(n_ranks as double) as varx,
                       syy - sy * sy / cast(n_ranks as double) as vary,
                       sx, sy
                from m
            )
            select cast(n_ranks as bigint) as n_ranks,
                   cast(floor((cov / varx) * 1e9 + 0.5) as bigint)
                       as slope_u,
                   cast(floor(((sy - (cov / varx) * sx) / n / 1e5)
                              * 1e9 + 0.5) as bigint) as intercept_u,
                   cast(floor(((cov * cov) / (varx * vary)) * 1e9 + 0.5)
                        as bigint) as r2_u
            from s
        """,
        "stratified_sample_docs": """
            select doc_id, lang from documents
            where substr(md5(concat(cast(doc_id as varchar), ':', '5')),
                         1, 8)
                  < case lang when 'en' then '4ccccccc'
                              when 'de' then '99999999'
                              when 'fr' then 'g'
                              else '26666666' end
        """,
        "quality_filter_docs": f"""
            with q as (
                select doc_id,
                       cast({n_words} as bigint) as n_words,
                       round({n_nospace} * 1.0 / greatest({n_words}, 1), 6)
                           as mean_word_len,
                       round((length(text) - length(regexp_replace(text,
                              '[.,!?;:]', '', 'g'))) * 1.0
                             / greatest(length(text), 1), 6) as punct_ratio
                from documents
            ), g as (
                select doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') as words
                from documents
            ), grams as (
                select doc_id,
                       array_to_string(words[i : i + 1], ' ') as ngram
                from g, unnest(generate_series(
                    1, greatest(length(words) - 1, 1))) as t(i)
            ), counts as (
                select doc_id, ngram, count(*) as c
                from grams group by 1, 2
            ), r as (
                select doc_id,
                       round(max(c) * 1.0 / sum(c), 6) as top_ngram_frac,
                       round(sum(case when c > 1 then c else 0 end) * 1.0
                             / sum(c), 6) as dup_ngram_frac
                from counts group by 1
            )
            select q.doc_id, q.n_words, q.mean_word_len, q.punct_ratio,
                   r.top_ngram_frac, r.dup_ngram_frac,
                   (q.n_words >= 10 and q.n_words <= 5000
                    and q.mean_word_len >= 2.0 and q.mean_word_len <= 12.0
                    and q.punct_ratio <= 0.2
                    and r.top_ngram_frac <= 0.3
                    and r.dup_ngram_frac <= 0.6) as keep
            from q join r using (doc_id)
        """,
        "cube_doc_stats": """
            select source, lang, count(*) as n_docs,
                   cast(sum(n_chars) as bigint) as total_chars
            from documents
            group by cube (source, lang)
        """,
        "value_quartiles_by_type": """
            select event_id, event_type,
                   cast(ntile(4) over w as bigint) as quartile,
                   round(percent_rank() over w, 6) as pct_rank
            from events
            window w as (partition by event_type order by value, event_id)
        """,
        "fk_orphan_report": """
            select 'reference(o_custkey)' as rule,
                   cast((select count(*) from orders o where not exists
                         (select 1 from customer c
                          where c.c_custkey = o.o_custkey)) as bigint)
                       as n_violations,
                   (select count(*) from orders o where not exists
                    (select 1 from customer c
                     where c.c_custkey = o.o_custkey)) = 0 as passed
            union all
            select 'reference(l_partkey)',
                   cast((select count(*) from lineitem l where not exists
                         (select 1 from part p
                          where p.p_partkey = l.l_partkey)) as bigint),
                   (select count(*) from lineitem l where not exists
                    (select 1 from part p
                     where p.p_partkey = l.l_partkey)) = 0
            union all
            select 'reference(l_orderkey)',
                   cast((select count(*) from lineitem l where not exists
                         (select 1 from orders o
                          where o.o_orderkey = l.l_orderkey)) as bigint),
                   (select count(*) from lineitem l where not exists
                    (select 1 from orders o
                     where o.o_orderkey = l.l_orderkey)) = 0
        """,
        "apply_changelog_users": """
            with base as (
                select user_id, epoch_ms(ts) as ms, value, event_id,
                       'u' as op, 0 as src
                from (
                    select *, row_number() over (
                        partition by user_id
                        order by ts desc, event_id desc) as rn
                    from events where event_type = 'view'
                ) where rn = 1
            ), ch as (
                select user_id, epoch_ms(ts) as ms, value, event_id,
                       case when event_type = 'click' then 'u'
                            else 'd' end as op, 1 as src
                from events where event_type in ('click', 'error')
            ), u as (
                select * from base union all select * from ch
            ), r as (
                select *, row_number() over (
                    partition by user_id
                    order by ms desc, src desc, event_id desc) as rn
                from u
            )
            select user_id, ms, value, event_id
            from r where rn = 1 and op = 'u'
        """,
        "validate_docs": """
            with agg as (
                select
                    cast(sum(case when text is null then 1 else 0 end)
                         as bigint) as v_null,
                    cast(count(doc_id) - count(distinct doc_id) as bigint)
                        as v_uniq,
                    cast(sum(case when n_chars is null or n_chars < 1
                                  or n_chars > 100000 then 1 else 0 end)
                         as bigint) as v_range,
                    cast(sum(case when lang is null or lang not in
                                  ('en','de','fr','es') then 1 else 0 end)
                         as bigint) as v_lang,
                    cast(sum(case when source is null or
                                  not regexp_matches(source, '^src\\d+$')
                                  then 1 else 0 end) as bigint) as v_src
                from documents
            )
            select rule, n_violations, n_violations = 0 as passed
            from agg, lateral (values
                ('not_null(text)', v_null),
                ('unique(doc_id)', v_uniq),
                ('in_range(n_chars,1,100000)', v_range),
                ('one_of(lang,en|de|fr|es)', v_lang),
                ('matches(source,^src\\d+$)', v_src))
                as t(rule, n_violations)
        """,
        "latest_snapshot_events": """
            select user_id, event_type, event_id,
                   epoch_ms(ts) as latest_ms, value
            from (
                select *, row_number() over (
                    partition by user_id, event_type
                    order by ts desc, event_id desc) as rn
                from events
            ) where rn = 1
        """,
        "theta_user_overlap": """
            with a as (select distinct user_id from events
                       where event_type = 'click'),
                 b as (select distinct user_id from events
                       where event_type = 'purchase')
            select (select count(*) from a) as n_a,
                   (select count(*) from b) as n_b,
                   (select count(*) from (select * from a union
                                          select * from b)) as n_union,
                   (select count(*) from (select * from a intersect
                                          select * from b))
                       as n_intersection,
                   (select count(*) from (select * from a except
                                          select * from b)) as n_only_a
        """,
        "quality_topk_docs": f"""
            with q as (
                select d.doc_id, d.source,
                       round(cast({n_words} as bigint)
                             * (1 - round((length(text)
                                - length(regexp_replace(text, '[.,!?;:]',
                                                        '', 'g'))) * 1.0
                                / greatest(length(text), 1), 6)), 6)
                           as score
                from documents d
            ), ranked as (
                select source, doc_id, score,
                       row_number() over (partition by source
                                          order by score desc, doc_id)
                           as rank
                from q
            )
            select source, doc_id, score, rank from ranked where rank <= 5
        """,
        "tfidf_top_terms": r"""
            with w as (
                select doc_id,
                       unnest(string_split_regex(trim(lower(text)), '\s+'))
                           as word
                from documents
            ), tf as (
                select doc_id, word, count(*) as tf
                from w where word <> '' group by 1, 2
            ), dfreq as (
                select word, count(*) as df from tf group by 1
            ), nd as (
                select count(distinct doc_id) as n from documents
            ), scored as (
                select t.doc_id, t.word, t.tf,
                       round(cast(t.tf as double)
                             * (ln((nd.n + 1.0) / (d.df + 1.0)) + 1.0), 6)
                           as score
                from tf t join dfreq d using (word) cross join nd
            ), ranked as (
                select *, row_number() over (partition by doc_id
                                             order by score desc, word asc)
                           as rank
                from scored
            )
            select doc_id, word, tf, score, cast(rank as bigint) as rank
            from ranked where rank <= 5
        """,
        "pii_scan": r"""
            with d as (
                select doc_id,
                       text || ' contact user' || cast(doc_id % 50 as varchar)
                            || '@example.com'
                            || case when doc_id % 7 = 0
                                    then ' from 10.0.0.1' else '' end
                            || case when doc_id % 11 = 0
                                    then ' ssn 123-45-6789' else '' end
                            || case when doc_id % 13 = 0
                                    then ' call 555-867-5309' else '' end
                           as text
                from documents
            )
            select doc_id,
                   cast(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))
                        as bigint) as n_email,
                   cast(len(regexp_extract_all(text,
                        '\b\d{3}-\d{2}-\d{4}\b')) as bigint) as n_ssn,
                   cast(len(regexp_extract_all(text,
                        '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) as bigint) as n_phone,
                   cast(len(regexp_extract_all(text,
                        '\b(\d{1,3}\.){3}\d{1,3}\b')) as bigint) as n_ipv4,
                   cast(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))
                      + len(regexp_extract_all(text,
                        '\b\d{3}-\d{2}-\d{4}\b'))
                      + len(regexp_extract_all(text,
                        '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
                      + len(regexp_extract_all(text,
                        '\b(\d{1,3}\.){3}\d{1,3}\b')) as bigint) as pii_total,
                   cast(length(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text,
                             '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}',
                             '<EMAIL>', 'g'),
                           '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                         '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
                       '\b(\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g'))
                        as bigint) as redacted_len
            from d
        """,
        "repetition_stats": """
            with g as (
                select doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') as words
                from documents
            ), grams as (
                select doc_id,
                       array_to_string(words[i : i + 1], ' ') as ngram
                from g, unnest(generate_series(
                    1, greatest(length(words) - 1, 1))) as t(i)
            ), counts as (
                select doc_id, ngram, count(*) as c
                from grams group by 1, 2
            )
            select doc_id,
                   round(max(c) * 1.0 / sum(c), 6) as top_ngram_frac,
                   round(sum(case when c > 1 then c else 0 end) * 1.0
                         / sum(c), 6) as dup_ngram_frac
            from counts group by 1
        """,
        "hash_sample_docs": """
            select doc_id, lang from documents
            where substr(md5(concat(cast(doc_id as varchar), ':', '7')),
                         1, 8) < '33333333'
        """,
        "classification_report_events": """
            with s as (
                select (event_type = 'purchase') as label,
                       case when value is not null then value > 2.0 end
                           as pred
                from events
            ), a as (
                select
                  cast(sum(case when label is not null and pred is not null
                                and label and pred then 1 else 0 end)
                       as bigint) as tp,
                  cast(sum(case when label is not null and pred is not null
                                and (not label) and pred then 1 else 0 end)
                       as bigint) as fp,
                  cast(sum(case when label is not null and pred is not null
                                and label and (not pred) then 1 else 0 end)
                       as bigint) as fn,
                  cast(sum(case when label is not null and pred is not null
                                and (not label) and (not pred)
                                then 1 else 0 end) as bigint) as tn,
                  cast(sum(case when label is null or pred is null
                                then 1 else 0 end) as bigint) as n_null
                from s
            )
            select tp, fp, fn, tn, n_null,
                   case when tp + fp > 0
                        then cast(tp as double) / (tp + fp)
                   end as "precision",
                   case when tp + fn > 0
                        then cast(tp as double) / (tp + fn)
                   end as recall,
                   case when tp + tp + fp + fn > 0
                        then cast(tp + tp as double) / (tp + tp + fp + fn)
                   end as f1,
                   case when tp + fp + fn + tn > 0
                        then cast(tp + tn as double) / (tp + fp + fn + tn)
                   end as accuracy
            from a
        """,
        "group_kfold_events": """
            select event_id, user_id,
                   case when user_id is not null then
                        cast(cast(('0x' || substr(md5(
                                 concat(cast(user_id as varchar),
                                        ':gkf:7')), 1, 8)) as bigint)
                             % 5 as int)
                   end as fold
            from events
        """,
        "stable_split_events": """
            select event_id, user_id,
                   case when substr(md5(concat(cast(user_id as varchar),
                                               ':', '42')), 1, 8)
                             < 'cccccccc' then 'train'
                        when substr(md5(concat(cast(user_id as varchar),
                                               ':', '42')), 1, 8)
                             < 'e6666666' then 'val'
                        else 'test' end as split
            from events
        """,
        "decontaminate_docs": """
            with w as (
                select doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') as words
                from documents
            ), sh as (
                select distinct doc_id,
                       array_to_string(words[i : i + 4], ' ') as shingle
                from w, unnest(generate_series(
                    1, greatest(length(words) - 4, 1))) as t(i)
            ), bench as (
                select doc_id as bench_id, shingle from sh
                where doc_id % 41 = 0
            ), ov as (
                select s.doc_id, b.bench_id, count(*) as n_common
                from sh s join bench b using (shingle)
                where s.doc_id % 41 <> 0
                group by 1, 2
                having count(*) >= 3
            )
            select doc_id,
                   cast(count(distinct bench_id) as bigint)
                       as n_matched_benchmarks,
                   cast(max(n_common) as bigint) as max_overlap
            from ov group by 1
        """,
        "cosine_topk": """
            with q as (
                select vec_id as query_id, embedding as qv
                from embeddings where vec_id < 5
            ), scored as (
                select q.query_id, e.vec_id as neighbor_id,
                       round(
                         list_sum(list_transform(list_zip(e.embedding, q.qv),
                            p -> cast(p[1] as double) * cast(p[2] as double)))
                         / (sqrt(list_sum(list_transform(e.embedding,
                              x -> cast(x as double) * cast(x as double))))
                            * sqrt(list_sum(list_transform(q.qv,
                              x -> cast(x as double) * cast(x as double))))),
                         6) as cosine
                from embeddings e, q
                where e.vec_id <> q.query_id
            ), ranked as (
                select *, row_number() over (partition by query_id
                                             order by cosine desc,
                                                      neighbor_id) as rank
                from scored
            )
            select query_id, neighbor_id, cosine, rank
            from ranked where rank <= 10
        """,
        "retrieval_metrics_vecs": _sql_retrieval_metrics(),
        "fim_transform_docs": _sql_fim_transform(),
        "span_corrupt_docs": _sql_span_corrupt(),
        "vocab_remap_docs": f"""
            with {_SQL_TOK},
            freq as (select t as tok, count(*) as c
                     from (select unnest(tokens) as t from tok)
                     group by 1),
            kept as (select tok, new_id from (
                       select tok,
                              cast(row_number() over
                                   (order by c desc, tok asc) as int)
                                as new_id
                       from freq where c >= 2)
                     where new_id <= 24),
            pos as (select doc_id, i, tokens[i] as tk
                    from tok,
                         unnest(generate_series(1, len(tokens))) as u(i)),
            m as (select p.doc_id, p.i,
                         coalesce(k.new_id, 0) as nid,
                         (k.new_id is null) as unk
                  from pos p left join kept k on k.tok = p.tk),
            agg as (select doc_id,
                           cast(sum(case when unk then 1 else 0 end)
                                as bigint) as n_unk,
                           string_agg(cast(nid as varchar), ' '
                                      order by i) as remap_str
                    from m group by doc_id)
            select t.doc_id, cast(len(t.tokens) as bigint) as n_tok,
                   coalesce(a.n_unk, 0) as n_unk,
                   coalesce(a.remap_str, '') as remap_str
            from tok t left join agg a using (doc_id)
        """,
        "token_spans_docs": f"""
            with {_SQL_TOK},
            g as (
                select doc_id, cast(i - 1 as bigint) as pos,
                       cast(least(i + 6, len(tokens) - 1) as bigint)
                           as end_pos,
                       array_to_string(tokens[i : i + 7], ' ') as gram
                from tok, unnest(generate_series(
                    1, greatest(len(tokens) - 7, 1))) as t(i)
                where len(tokens) >= 8
            ), dup as (
                select gram from g
                group by gram having count(distinct doc_id) >= 2
            ), hits as (
                select doc_id, pos, end_pos from g
                where gram in (select gram from dup)
            ), m as (
                select doc_id, pos, end_pos,
                       max(end_pos) over (partition by doc_id order by pos
                                          rows between unbounded preceding
                                          and 1 preceding) as pmax
                from hits
            ), grp as (
                select doc_id, pos, end_pos,
                       sum(case when pmax is null or pos > pmax + 1
                                then 1 else 0 end)
                         over (partition by doc_id order by pos
                               rows between unbounded preceding
                               and current row) as grp_id
                from m
            )
            select doc_id, min(pos) as span_start, max(end_pos) as span_end,
                   max(end_pos) - min(pos) + 1 as span_words
            from grp group by doc_id, grp_id
        """,
        "pack_segments_docs": f"""
            with {_SQL_TOK},
            d as (
                select doc_id, tokens,
                       substr(md5(cast(doc_id as varchar)), 1, 2)
                           as bucket,
                       cast(len(tokens) as bigint) as n_tok
                from tok
            ), a as (
                select *,
                       sum(n_tok) over (partition by bucket
                                        order by doc_id
                                        rows between unbounded preceding
                                        and current row) - n_tok as so
                from d
            ), b as (
                select doc_id, tokens, bucket, n_tok,
                       cast(so as bigint) as so,
                       cast(so // 64 as bigint) as first_seq,
                       cast((so + greatest(n_tok, 1) - 1) // 64
                            as bigint) as last_seq
                from a
            ), frag as (
                select bucket, seq_no,
                       greatest(seq_no * 64, so) as pos,
                       greatest(seq_no * 64, so) - so as loc,
                       tokens[(greatest(seq_no * 64, so) - so + 1)
                              : (least((seq_no + 1) * 64, so + n_tok)
                                 - so)] as frag
                from b, unnest(generate_series(first_seq, last_seq))
                     as s(seq_no)
            ), ord as (
                select bucket, seq_no, pos, loc, frag,
                       row_number() over (partition by bucket, seq_no
                                          order by pos) as segid
                from frag where len(frag) > 0
            ), tokrow as (
                select bucket, seq_no, pos, segid,
                       loc + j - 1 as posid, frag[j] as t, j
                from ord, unnest(generate_series(1, len(frag))) as u(j)
            ), agg as (
                select bucket, seq_no,
                       cast(count(*) as bigint) as n_tok,
                       cast(max(segid) as bigint) as n_segments,
                       string_agg(cast(t as varchar), ' '
                                  order by pos, j) as tokens_str,
                       string_agg(cast(segid as varchar), ' '
                                  order by pos, j) as seg_str,
                       string_agg(cast(posid as varchar), ' '
                                  order by pos, j) as pos_str
                from tokrow group by 1, 2
            ), winrows as (
                select distinct bucket, seq_no from frag
            )
            select w.bucket, w.seq_no,
                   coalesce(a.n_tok, 0) as n_tok,
                   coalesce(a.n_segments, 0) as n_segments,
                   coalesce(a.tokens_str, '') as tokens_str,
                   coalesce(a.seg_str, '') as seg_str,
                   coalesce(a.pos_str, '') as pos_str
            from winrows w left join agg a using (bucket, seq_no)
        """,
        "preference_pairs_docs": f"""
            with {_SQL_TOK},
            d as (select doc_id, source,
                         cast(len(tokens) as bigint) as n_tok
                  from tok),
            ranked as (
                select source, doc_id, n_tok,
                       row_number() over (partition by source
                                          order by n_tok desc,
                                                   doc_id asc) as rt,
                       row_number() over (partition by source
                                          order by n_tok asc,
                                                   doc_id desc) as rb
                from d
            )
            select t.source, t.doc_id as chosen_id,
                   b.doc_id as rejected_id,
                   t.n_tok as chosen_score, b.n_tok as rejected_score,
                   t.n_tok - b.n_tok as margin
            from ranked t join ranked b using (source)
            where t.rt <= 4 and b.rb <= 4
              and t.doc_id != b.doc_id
              and t.n_tok - b.n_tok >= 8
        """,
        "curriculum_keys_docs": f"""
            with {_SQL_TOK},
            d as (select doc_id,
                         cast(len(tokens) as bigint) as n_tok
                  from tok),
            e as (select quantile_cont(n_tok, 0.25) as q1,
                         quantile_cont(n_tok, 0.50) as q2,
                         quantile_cont(n_tok, 0.75) as q3
                  from d)
            select doc_id,
                   cast((case when n_tok >= q1 then 1 else 0 end)
                      + (case when n_tok >= q2 then 1 else 0 end)
                      + (case when n_tok >= q3 then 1 else 0 end)
                        as int) as cur_bucket,
                   cast(cast(('0x' || substr(md5(
                            cast(doc_id as varchar) || ':cur:7'), 1, 8))
                        as bigint) % 1073741824 as bigint) as cur_key
            from d, e
        """,
        "temperature_mixture_sources": f"""
            with {_SQL_TOK},
            g as (
                select source as "group", count(*) as n_docs,
                       cast(sum(len(tokens)) as bigint) as n_tokens
                from tok group by 1
            ), q as (
                select *,
                       cast(floor(sqrt(cast(n_tokens as double))
                                  * 1000000.0 + 0.5) as bigint) as q_temp
                from g
            ), t as (
                select *,
                       cast(sum(cast(q_temp as hugeint)) over ()
                            as hugeint) as qq
                from q
            ), b as (
                select *,
                       case when qq > 0 then cast(
                            (cast(q_temp as hugeint) * 137) // qq
                            as bigint) else 0 end as base,
                       case when qq > 0 then
                            (cast(q_temp as hugeint) * 137) % qq
                            else cast(0 as hugeint) end as rem
                from t
            ), r as (
                select *,
                       cast(row_number() over (
                            order by rem desc, "group" asc)
                            as bigint) as rk,
                       cast(sum(base) over () as bigint) as sum_base
                from b
            )
            select "group", n_docs, n_tokens, q_temp,
                   case when qq > 0 then cast(floor(
                        cast(q_temp as double) / cast(qq as double)
                        * 1000000.0 + 0.5) as bigint) end as weight_u,
                   cast(case when qq > 0 then base
                             + (case when rk <= 137 - sum_base
                                then 1 else 0 end)
                        else 0 end as bigint) as alloc_docs
            from r
        """,
        "shard_plan_docs": f"""
            with {_SQL_TOK},
            d as (
                select doc_id, source,
                       cast(len(tokens) as bigint) as n_tok
                from tok
            ), r as (
                select *,
                       cast(row_number() over (
                            order by n_tok desc, doc_id asc) - 1
                            as bigint) as rank
                from d
            )
            select doc_id, source, n_tok, rank,
                   cast(case when (rank // 7) % 2 = 0 then rank % 7
                             else 6 - (rank % 7) end as int) as shard
            from r
        """,
        "shard_stats_docs": f"""
            with {_SQL_TOK},
            d as (
                select doc_id,
                       cast(len(tokens) as bigint) as n_tok
                from tok
            ), r as (
                select *,
                       cast(row_number() over (
                            order by n_tok desc, doc_id asc) - 1
                            as bigint) as rank
                from d
            ), s as (
                select *,
                       cast(case when (rank // 7) % 2 = 0 then rank % 7
                                 else 6 - (rank % 7) end as int) as shard
                from r
            ), per as (
                select shard, count(*) as n_docs,
                       cast(sum(n_tok) as bigint) as tokens,
                       cast(min(n_tok) as bigint) as min_doc,
                       cast(max(n_tok) as bigint) as max_doc
                from s group by 1
            ), ext as (
                select cast(max(tokens) as bigint) as mx,
                       cast(min(tokens) as bigint) as mn
                from per
            )
            select per.shard, per.n_docs, per.tokens, per.min_doc,
                   per.max_doc,
                   case when ext.mn > 0 then cast(floor(
                        cast(ext.mx as double) / cast(ext.mn as double)
                        * 1000000.0 + 0.5) as bigint) end as imbalance_u
            from per cross join ext
        """,
        "dedup_lines_docs": """
            with d as (
                select doc_id, source,
                       case when text is not null then
                            text || chr(10) ||
                            '-- page break --' || chr(10) ||
                            'footer for ' || source || chr(10) ||
                            text || chr(10) ||
                            '-- page break --' || chr(10) ||
                            'ad'
                       end as text
                from documents
            ), s as (
                select doc_id, source, text,
                       string_split(text, chr(10)) as lines
                from d
            ), l as (
                select doc_id, i, lines[i] as line
                from s, unnest(generate_series(1, len(lines))) as u(i)
            ), k as (
                select doc_id, i, line,
                       (length(line) < 5 or
                        row_number() over (
                            partition by doc_id, line order by i) = 1)
                       as keep
                from l
            ), agg as (
                select doc_id,
                       coalesce(string_agg(line, chr(10) order by i)
                                filter (where keep), '') as clean,
                       cast(count(*) - sum(case when keep then 1
                                           else 0 end) as bigint)
                           as n_removed
                from k group by doc_id
            )
            select s.doc_id, s.source,
                   case when s.text is not null then md5(agg.clean) end
                       as clean_md5,
                   cast(case when s.text is null then 0
                        else agg.n_removed end as bigint)
                       as n_lines_removed
            from s left join agg using (doc_id)
        """,
        "average_precision_value_purchase": """
            with e as (
                select cast(floor(value * 1000000.0 + 0.5) as bigint)
                           as score_q,
                       case when event_type = 'purchase' then 1
                            else 0 end as y
                from events where value is not null
            ), a as (
                select score_q, count(*) as n,
                       cast(sum(y) as bigint) as n_pos
                from e group by 1
            ), r as (
                select *,
                       cast(sum(n_pos) over (
                            order by score_q desc
                            rows between unbounded preceding
                            and current row) as bigint) as tp,
                       cast(sum(n) over (
                            order by score_q desc
                            rows between unbounded preceding
                            and current row) as bigint) as cum_n,
                       cast(sum(n_pos) over () as bigint) as p
                from a
            )
            select cast(sum(n) as bigint) as n,
                   cast(max(p) as bigint) as n_pos,
                   cast(sum(n) - max(p) as bigint) as n_neg,
                   cast(sum(case when p > 0 then cast(floor(
                        (cast(n_pos as double) * cast(tp as double))
                        / (cast(p as double) * cast(cum_n as double))
                        * 1000000000000.0 + 0.5) as hugeint)
                        else 0 end) as bigint) as ap_u,
                   case when max(p) > 0 then
                        cast(sum(case when p > 0 then cast(floor(
                             (cast(n_pos as double) * cast(tp as double))
                             / (cast(p as double) * cast(cum_n as double))
                             * 1000000000000.0 + 0.5) as hugeint)
                             else 0 end) as double) / 1e12
                   end as ap
            from r
        """,
        "roc_auc_value_purchase": """
            with e as (
                select cast(floor(value * 1000000.0 + 0.5) as bigint)
                           as score_q,
                       case when event_type = 'purchase' then 1
                            else 0 end as y
                from events where value is not null
            ), a as (
                select score_q, count(*) as n,
                       cast(sum(y) as bigint) as n_pos
                from e group by 1
            ), r as (
                select *,
                       cast(coalesce(sum(n) over (
                            order by score_q
                            rows between unbounded preceding
                            and 1 preceding), 0) as bigint) as cum
                from a
            ), t as (
                select cast(sum(n) as hugeint) as nt,
                       cast(sum(n_pos) as hugeint) as p,
                       cast(sum(cast(n_pos as hugeint)
                                * (2 * cast(cum as hugeint) + n + 1))
                            as hugeint) as rs2
                from r
            )
            select cast(nt as bigint) as n,
                   cast(p as bigint) as n_pos,
                   cast(nt - p as bigint) as n_neg,
                   cast(rs2 - p * (p + 1) as bigint) as auc_num2,
                   cast(2 * p * (nt - p) as bigint) as auc_den2,
                   case when 2 * p * (nt - p) > 0 then
                        cast(rs2 - p * (p + 1) as double)
                        / cast(2 * p * (nt - p) as double)
                   end as auc
            from t
        """,
        "changelog_from_snapshots": """
            with src as (
                select c_custkey, c_name, c_nationkey,
                       c_acctbal + 1000.0 as c_acctbal,
                       'UPDATED' as c_mktsegment
                from customer where c_custkey % 7 = 0
                union all
                select c_custkey + 1000000, 'new_' || c_name,
                       c_nationkey, c_acctbal, c_mktsegment
                from customer where c_custkey % 11 = 0
            ), merged as (
                select * from src
                union all
                select c_custkey, c_name, c_nationkey, c_acctbal,
                       c_mktsegment
                from customer
                where c_custkey not in (select c_custkey from src)
            ), newt as (
                select * from merged where c_custkey % 13 <> 0
            ), j as (
                select coalesce(o.c_custkey, n.c_custkey) as c_custkey,
                       o.c_custkey is not null as in_old,
                       n.c_custkey is not null as in_new,
                       o.c_name as o_name, o.c_nationkey as o_nk,
                       o.c_acctbal as o_bal, o.c_mktsegment as o_seg,
                       n.c_name as n_name, n.c_nationkey as n_nk,
                       n.c_acctbal as n_bal, n.c_mktsegment as n_seg
                from customer o full outer join newt n
                     on o.c_custkey = n.c_custkey
            )
            select c_custkey,
                   case when not in_new then o_name else n_name end
                       as c_name,
                   case when not in_new then o_nk else n_nk end
                       as c_nationkey,
                   cast(floor(case when not in_new then o_bal
                              else n_bal end * 1000000.0 + 0.5)
                        as bigint) as acctbal_u,
                   case when not in_new then o_seg else n_seg end
                       as c_mktsegment,
                   case when not in_new then 'd' else 'u' end as op,
                   cast(12345 as bigint) as change_ts
            from j
            where (not in_old) or (not in_new)
               or (o_name is distinct from n_name)
               or (o_nk is distinct from n_nk)
               or (o_bal is distinct from n_bal)
               or (o_seg is distinct from n_seg)
        """,
        "script_census_docs": """
            with d as (
                select doc_id,
                       case when text is not null then text ||
                            case cast(doc_id % 5 as int)
                                 when 0 then ' Привет мир'
                                 when 1 then ' 你好世界'
                                 when 2 then ' مرحبا بالعالم'
                                 when 3 then ' γειά σου'
                                 else '' end
                       end as text
                from documents
            ), c as (
                select doc_id, text,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text, '[^\\p{L}]',
                                                  '', 'g')) end
                            as bigint) as n_letters,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text, '[^\\p{Latin}]',
                                                  '', 'g')) end
                            as bigint) as n_latin,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text,
                                   '[^\\p{Cyrillic}]', '', 'g')) end
                            as bigint) as n_cyrillic,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text, '[^\\p{Han}]',
                                                  '', 'g')) end
                            as bigint) as n_han,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text, '[^\\p{Arabic}]',
                                                  '', 'g')) end
                            as bigint) as n_arabic,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text, '[^\\p{Greek}]',
                                                  '', 'g')) end
                            as bigint) as n_greek,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text, '[^\\p{Hangul}]',
                                                  '', 'g')) end
                            as bigint) as n_hangul,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text,
                                   '[^\\p{Devanagari}]', '', 'g')) end
                            as bigint) as n_devanagari,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text, '[^\\p{Hebrew}]',
                                                  '', 'g')) end
                            as bigint) as n_hebrew,
                       cast(case when text is null then 0 else
                            length(regexp_replace(text, '[^\\p{Thai}]',
                                                  '', 'g')) end
                            as bigint) as n_thai
                from d
            ), b as (
                select *,
                       list_min(list_value(
                           {'n': -n_latin, 's': 'Latin'},
                           {'n': -n_cyrillic, 's': 'Cyrillic'},
                           {'n': -n_han, 's': 'Han'},
                           {'n': -n_arabic, 's': 'Arabic'},
                           {'n': -n_greek, 's': 'Greek'},
                           {'n': -n_hangul, 's': 'Hangul'},
                           {'n': -n_devanagari, 's': 'Devanagari'},
                           {'n': -n_hebrew, 's': 'Hebrew'},
                           {'n': -n_thai, 's': 'Thai'})) as best
                from c
            )
            select doc_id, n_letters, n_latin, n_cyrillic, n_han,
                   n_arabic, n_greek, n_hangul, n_devanagari, n_hebrew,
                   n_thai,
                   case when text is not null and best.n < 0
                        then best.s end as dominant_script,
                   case when text is not null and best.n < 0
                             and n_letters > 0
                        then cast(floor(cast(-best.n as double)
                             / cast(n_letters as double)
                             * 1000000.0 + 0.5) as bigint)
                   end as dominant_frac_u
            from b
        """,
        "merge_into_customers": """
            with src as (
                select c_custkey, c_name, c_nationkey,
                       c_acctbal + 1000.0 as c_acctbal,
                       'UPDATED' as c_mktsegment
                from customer where c_custkey % 7 = 0
                union all
                select c_custkey + 1000000, 'new_' || c_name,
                       c_nationkey, c_acctbal, c_mktsegment
                from customer where c_custkey % 11 = 0
            )
            select c_custkey, c_name, c_nationkey,
                   cast(floor(c_acctbal * 1000000.0 + 0.5) as bigint)
                       as acctbal_u,
                   c_mktsegment
            from src
            union all
            select c_custkey, c_name, c_nationkey,
                   cast(floor(c_acctbal * 1000000.0 + 0.5) as bigint)
                       as acctbal_u,
                   c_mktsegment
            from customer
            where c_custkey not in (select c_custkey from src)
        """,
        "length_buckets_docs": f"""
            with {_SQL_TOK},
            d as (
                select doc_id,
                       cast(len(tokens) as bigint) as n_tok
                from tok
            ), b as (
                select doc_id, n_tok,
                       least(greatest(
                           1 << cast(length(bin(greatest(n_tok, 2) - 1))
                                     as int),
                           16), 1024) as bucket
                from d
            ), r as (
                select *,
                       cast(row_number() over (
                            partition by bucket
                            order by md5(cast(doc_id as varchar) || ':0'),
                                     doc_id) - 1 as bigint) as rk,
                       cast(2048 // bucket as bigint) as dpb
                from b
            )
            select doc_id, n_tok, cast(bucket as bigint) as bucket,
                   cast(rk // dpb as bigint) as batch_in_bucket,
                   cast(rk % dpb as bigint) as pos_in_batch,
                   cast(bucket - least(n_tok, bucket) as bigint) as pad,
                   n_tok > bucket as truncated
            from r
        """,
        "mixture_draw_docs": f"""
            with {_SQL_TOK},
            g as (
                select source as "group", count(*) as n_docs,
                       cast(sum(len(tokens)) as bigint) as n_tokens
                from tok group by 1
            ), q as (
                select *,
                       cast(floor(sqrt(cast(n_tokens as double))
                                  * 1000000.0 + 0.5) as bigint) as q_temp
                from g
            ), t as (
                select *,
                       cast(sum(cast(q_temp as hugeint)) over ()
                            as hugeint) as qq
                from q
            ), b as (
                select *,
                       case when qq > 0 then cast(
                            (cast(q_temp as hugeint) * 137) // qq
                            as bigint) else 0 end as base,
                       case when qq > 0 then
                            (cast(q_temp as hugeint) * 137) % qq
                            else cast(0 as hugeint) end as rem
                from t
            ), r as (
                select *,
                       cast(row_number() over (
                            order by rem desc, "group" asc)
                            as bigint) as rk,
                       cast(sum(base) over () as bigint) as sum_base
                from b
            ), a as (
                select "group",
                       cast(case when qq > 0 then base
                                 + (case when rk <= 137 - sum_base
                                    then 1 else 0 end)
                            else 0 end as bigint) as alloc_docs
                from r
            ), d as (
                select doc_id, source,
                       cast(len(tokens) as bigint) as n_tok,
                       row_number() over (
                           partition by source
                           order by md5(cast(doc_id as varchar) || ':0'),
                                    doc_id) as drk
                from tok
            )
            select d.doc_id, d.source, d.n_tok
            from d join a on d.source = a."group"
            where d.drk <= a.alloc_docs
        """,
        "loss_mask_docs": f"""
            with {_SQL_TOK},
            p as (select doc_id, tokens,
                         coalesce(list_position(tokens, 7), 0) as p
                  from tok),
            m as (select doc_id,
                         case when i <= p then 0 else 1 end as b, i
                  from p, unnest(generate_series(1, len(tokens)))
                       as u(i)),
            agg as (select doc_id,
                           string_agg(cast(b as varchar), ' '
                                      order by i) as mask_str
                    from m group by doc_id)
            select p.doc_id,
                   cast(p.p as bigint) as n_prompt,
                   cast(len(p.tokens) - p.p as bigint) as n_target,
                   coalesce(a.mask_str, '') as mask_str
            from p left join agg a using (doc_id)
        """,
        "vocab_coverage_docs": f"""
            with {_SQL_TOK},
            freq as (select t as tok, count(*) as c
                     from (select unnest(tokens) as t from tok)
                     group by 1),
            kept as (select tok, new_id from (
                       select tok,
                              row_number() over
                                  (order by c desc, tok asc) as new_id
                       from freq where c >= 2)
                     where new_id <= 24),
            sel as (select f.c, k.new_id
                    from freq f left join kept k using (tok))
            select cast(count(new_id) as bigint) as vocab_size,
                   cast(coalesce(sum(c), 0) as bigint) as n_tokens,
                   cast(coalesce(sum(case when new_id is not null
                                          then c end), 0) as bigint)
                     as n_covered,
                   cast(coalesce(sum(case when new_id is not null
                                          then c end), 0) as double)
                     / cast(coalesce(sum(c), 0) as double)
                     as coverage_frac
            from sel
        """,
        "hash_tokenize_docs": f"""
            with {_SQL_TOK}
            select doc_id, array_to_string(tokens, ' ') as tokens_str,
                   cast(len(tokens) as bigint) as n_tok, source
            from tok
        """,
        "lm_score_docs": f"""
            with {_SQL_TOK}, {_SQL_BG},
            cab as (select a, b, count(*) as c from bg group by 1, 2),
            ca as (select a, cast(sum(c) as bigint) as c_a
                   from cab group by 1),
            s as (
                select bg.doc_id, count(*) as n_bigrams,
                       cast(cast(sum(cast(floor(
                            ln((cast(cab.c as double) + 0.5)
                               / (cast(ca.c_a as double) + 0.5 * 4096))
                            * 1000000000.0 + 0.5) as bigint))
                            as bigint) as double)
                           / 1000000000.0 as sum_lnp
                from bg join cab using (a, b) join ca using (a)
                group by 1
            )
            select t.doc_id,
                   cast(coalesce(s.n_bigrams, 0) as bigint) as n_bigrams,
                   cast(floor(s.sum_lnp * 1000000.0 + 0.5) as bigint)
                       as sum_lnp_u,
                   cast(floor((-s.sum_lnp
                               / cast(s.n_bigrams as double))
                        * 1000000.0 + 0.5) as bigint) as nll_u
            from tok t left join s using (doc_id)
        """,
        "kn_score_docs": f"""
            with {_SQL_TOK}, {_SQL_BG},
            cab as (select a, b, count(*) as c from bg group by 1, 2),
            ca as (select a, cast(sum(c) as bigint) as c_a,
                          count(*) as n1a
                   from cab group by 1),
            nb as (select b, count(*) as n1b from cab group by 1),
            tot as (select count(*) as n1t from cab),
            s as (
                select bg.doc_id, count(*) as n_bigrams,
                       cast(cast(sum(cast(floor(
                            ln((greatest(cast(cab.c as double) - 0.75,
                                         0.0)
                                + (0.75 * cast(ca.n1a as double))
                                * (cast(nb.n1b as double)
                                   / cast(tot.n1t as double)))
                               / cast(ca.c_a as double))
                            * 1000000000.0 + 0.5) as bigint))
                            as bigint) as double)
                           / 1000000000.0 as sum_lnp
                from bg join cab using (a, b) join ca using (a)
                     join nb using (b) cross join tot
                group by 1
            )
            select t.doc_id,
                   cast(coalesce(s.n_bigrams, 0) as bigint) as n_bigrams,
                   cast(floor(s.sum_lnp * 1000000.0 + 0.5) as bigint)
                       as sum_lnp_u,
                   cast(floor((-s.sum_lnp
                               / cast(s.n_bigrams as double))
                        * 1000000.0 + 0.5) as bigint) as nll_u
            from tok t left join s using (doc_id)
        """,
        "similar_docs_tfidf": f"""
            with {_SQL_TOK},
            ex as (
                select doc_id, unnest(tokens) as t
                from tok where doc_id % 7 = 0
            ),
            pl as (
                select t, doc_id, cast(count(*) as bigint) as tf
                from ex group by 1, 2
            ),
            nd as (
                select cast(count(*) as bigint) as n
                from tok where doc_id % 7 = 0
            ),
            dfq as (
                select t, cast(count(*) as bigint) as df
                from pl group by 1
                having count(*) <= 1048576
            ),
            wp as (
                select pl.t, pl.doc_id,
                       pl.tf * cast(floor(
                           ln((cast(nd.n as double) + 1)
                              / (cast(dfq.df as double) + 1) + 1.0)
                           * 1000.0 + 0.5) as bigint) as w
                from pl join dfq using (t) cross join nd
            ),
            nrm as (select doc_id, sum(w * w) as n2 from wp group by 1),
            pr as (
                select l.doc_id as id_a, r.doc_id as id_b,
                       cast(count(*) as bigint) as n_shared,
                       sum(l.w * r.w) as dot
                from wp l join wp r
                     on l.t = r.t and l.doc_id < r.doc_id
                group by 1, 2
            )
            select * from (
                select pr.id_a, pr.id_b, pr.n_shared,
                       cast(pr.dot as bigint) as dot,
                       cast(floor(cast(pr.dot as double)
                            / (sqrt(cast(na.n2 as double))
                               * sqrt(cast(nb.n2 as double)))
                            * 1000000.0 + 0.5) as bigint) as cos_u
                from pr join nrm na on pr.id_a = na.doc_id
                        join nrm nb on pr.id_b = nb.doc_id
            ) where cos_u >= 800000
        """,
        "bt_ratings_events": _bt_oracle_sql(iters=8, scale=9),
        "k_center_vecs": _kcenter_oracle_sql(k=6, scale=6),
        "kappa_langid_docs": f"""
            with scores as ({_sql_lang_scores()}),
            pred as (
                select doc_id,
                       case when s_en >= s_de and s_en >= s_fr
                                 and s_en >= s_es then 'en'
                            when s_de >= s_fr and s_de >= s_es then 'de'
                            when s_fr >= s_es then 'fr'
                            else 'es' end as lang_pred
                from scores
            ), j as (
                select d.lang as a, p.lang_pred as b
                from documents d join pred p using (doc_id)
                where d.text is not null
            ), cells as (
                select a, b, cast(count(*) as bigint) as c
                from j where a is not null and b is not null
                group by 1, 2
            ), ra as (select a, sum(c) as ra from cells group by 1),
            cb as (select b, sum(c) as cb from cells group by 1),
            rc as (
                select cast(coalesce(sum(ra.ra * cb.cb), 0) as bigint)
                    as sum_rc
                from ra join cb on ra.a = cb.b
            ), tot as (
                select cast(coalesce(sum(c), 0) as bigint) as n,
                       cast(coalesce(sum(case when a = b then c end), 0)
                            as bigint) as n_agree
                from cells
            ), nulls as (
                select cast(count(*) as bigint) as n_null
                from j where a is null or b is null
            )
            select tot.n, nulls.n_null, tot.n_agree, rc.sum_rc,
                   case when tot.n * tot.n <> rc.sum_rc then
                        cast(floor(
                            (cast(tot.n * tot.n_agree - rc.sum_rc
                                  as double)
                             / cast(tot.n * tot.n - rc.sum_rc
                                    as double)) * 1000000000.0 + 0.5)
                            as bigint) end as kappa_n
            from tot cross join rc cross join nulls
        """,
        "hard_negatives_vecs": """
            with q as (
                select vec_id, label,
                       list_transform(embedding, x ->
                           cast(floor(cast(x as double) * 1000000.0
                                      + 0.5) as bigint)) as qv
                from embeddings
            ), n as (
                select vec_id, label, qv,
                       cast(list_sum(list_transform(qv, x -> x * x))
                            as bigint) as n2
                from q
            ), p as (
                select a.vec_id, a.label,
                       b.vec_id as neighbor_id,
                       b.label as neighbor_label,
                       cast(list_sum(list_transform(
                            list_zip(a.qv, b.qv), z -> z[1] * z[2]))
                            as bigint) as dot,
                       a.n2 as n2a, b.n2 as n2b
                from n a join n b on a.label <> b.label
                where a.n2 > 0 and b.n2 > 0
            ), s as (
                select vec_id, label, neighbor_id, neighbor_label,
                       cast(floor(cast(dot as double)
                            / (sqrt(cast(n2a as double))
                               * sqrt(cast(n2b as double)))
                            * 1000000000.0 + 0.5) as bigint) as cos_q
                from p
            ), r as (
                select *, row_number() over (partition by vec_id
                             order by cos_q desc, neighbor_id) as rnk
                from s
            )
            select vec_id, label, neighbor_id, neighbor_label, cos_q,
                   cast(rnk as bigint) as rank
            from r where rnk <= 2
        """,
        "unimax_plan_sources": f"""
            with {_SQL_TOK},
            g as (
                select source as "group", count(*) as n_docs,
                       cast(sum(len(tokens)) as bigint)
                           as tokens_available
                from tok group by 1
            ), c as (
                select *, tokens_available * 2 as cap from g
            ), r as (
                select *,
                       cast(row_number() over (order by cap, "group")
                            as bigint) as rk,
                       cast(count(*) over () as bigint) as m,
                       cast(coalesce(sum(cap) over (
                            order by cap, "group"
                            rows between unbounded preceding
                            and 1 preceding), 0) as bigint) as pfx
                from c
            ), e as (
                select *,
                       (cap * (m - rk + 1) + pfx) <= 48000 as exhausted
                from r
            ), k as (
                select cast(max(case when exhausted then rk else 0 end)
                            as bigint) as kline,
                       cast(max(case when exhausted then pfx + cap
                                else 0 end) as bigint) as pk
                from e
            ), f as (
                select e.*, k.kline,
                       greatest(48000 - k.pk, 0) as rem,
                       e.m - k.kline as nfree
                from e cross join k
            ), a as (
                select *,
                       case when exhausted then cap
                            else (case when nfree > 0 then rem // nfree
                                  else 0 end)
                                 + (case when rk - kline <=
                                         (rem - (case when nfree > 0
                                            then rem // nfree else 0
                                            end) * nfree)
                                    then 1 else 0 end)
                       end as tokens_alloc
                from f
            )
            select "group", n_docs, tokens_available, cap, exhausted,
                   cast(tokens_alloc as bigint) as tokens_alloc,
                   case when tokens_available > 0 then cast(floor(
                        tokens_alloc / tokens_available
                        * 1000000.0 + 0.5) as bigint) end as epochs_u
            from a
        """,
        "fertility_sources": """
            with c as (
                select source, count(*) as n_docs,
                       cast(sum(case when text is null then 1 else 0
                                end) as bigint) as n_null_text,
                       cast(sum(coalesce(
                            case when length(trim(text)) = 0 then 0
                                 else length(string_split_regex(
                                          trim(text), '\\s+')) end, 0))
                            as bigint) as n_words,
                       cast(sum(coalesce(length(regexp_extract_all(
                                lower(text),
                                '[a-z]+|[0-9]+|[^a-z0-9\\s]')), 0))
                            as bigint) as n_pieces,
                       cast(sum(coalesce(length(text), 0)) as bigint)
                           as n_chars
                from documents group by 1
            )
            select source, n_docs, n_null_text, n_words, n_pieces,
                   n_chars,
                   case when n_words > 0 then cast(floor(
                        n_pieces / n_words * 1000000.0 + 0.5)
                        as bigint) end as fertility_u,
                   case when n_pieces > 0 then cast(floor(
                        n_chars / n_pieces * 1000000.0 + 0.5)
                        as bigint) end as chars_per_piece_u,
                   case when n_words > 0 then cast(floor(
                        n_chars / n_words * 1000000.0 + 0.5)
                        as bigint) end as chars_per_word_u
            from c
        """,
        "perplexity_buckets_docs": f"""
            with {_SQL_TOK}, {_SQL_BG},
            cab as (select a, b, count(*) as c from bg group by 1, 2),
            ca as (select a, cast(sum(c) as bigint) as c_a
                   from cab group by 1),
            s as (
                select bg.doc_id, count(*) as n_bigrams,
                       cast(cast(sum(cast(floor(
                            ln((cast(cab.c as double) + 0.5)
                               / (cast(ca.c_a as double) + 0.5 * 4096))
                            * 1000000000.0 + 0.5) as bigint))
                            as bigint) as double)
                           / 1000000000.0 as sum_lnp
                from bg join cab using (a, b) join ca using (a)
                group by 1
            ), sc as (
                select t.doc_id, t.source,
                       cast(floor((-s.sum_lnp
                                   / cast(s.n_bigrams as double))
                            * 1000000.0 + 0.5) as bigint) as nll_u
                from tok t join s using (doc_id)
                where s.n_bigrams > 0
            ), r as (
                select doc_id, source, nll_u,
                       row_number() over (partition by source
                                          order by nll_u, doc_id) as rn,
                       count(*) over (partition by source) as n
                from sc
            )
            select doc_id, source, nll_u,
                   cast(((rn - 1) * 3) // n as int) as bucket_idx,
                   case when ((rn - 1) * 3) // n = 0 then 'head'
                        when ((rn - 1) * 3) // n = 2 then 'tail'
                        else 'middle' end as ppl_bucket
            from r
        """,
        "nfc_normalize_docs": """
            with inj as (
                select doc_id, case when text is not null then
                        text
                        || case when doc_id % 3 = 0 then
                             ' Cafe' || chr(769) || ' A' || chr(778)
                             else '' end
                        || case when doc_id % 4 = 0 then
                             ' ' || chr(233) || chr(229) else '' end
                    end as text
                from documents
            ), n as (
                select doc_id, text, nfc_normalize(text) as norm
                from inj
            )
            select doc_id,
                   case when text is not null then
                        case when text <> norm then 1 else 0 end
                   end as changed,
                   md5(norm) as norm_md5,
                   cast(length(text) as bigint) as n_chars_orig,
                   cast(length(norm) as bigint) as n_chars_norm
            from n
        """,
        "gopher_quality_docs": """
            with inj as (
                select doc_id, case when text is not null then
                        replace(text, ' the ', chr(10))
                        || case when doc_id % 5 = 0 then
                             repeat(chr(10)
                                    || 'and that have with to be of...',
                                    2) else '' end
                        || case when doc_id % 7 = 0 then
                             chr(10) || '- bullet point one' || chr(10)
                             || '* bullet two' else '' end
                        || case when doc_id % 11 = 0 then
                             chr(10) || '# # # fin' || chr(8230)
                             else '' end
                    end as text
                from documents
            ), base as (
                select doc_id, coalesce(text, '') as t from inj
            ), w as (
                select doc_id, t,
                       list_filter(
                           string_split_regex(trim(t),
                                              '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x <> '') as words
                from base
            ), wn as (
                select doc_id,
                       cast(len(words) as bigint) as n_words,
                       cast(coalesce(list_sum(list_transform(
                                words, x -> length(x))), 0) as bigint)
                           as n_word_chars,
                       cast(len(list_filter(words,
                                x -> regexp_matches(x, '[A-Za-z]')))
                            as bigint) as n_alpha_words,
                       cast(len(list_filter(words,
                                x -> list_contains(
                                    ['the','be','to','of','and',
                                     'that','have','with'], lower(x))))
                            as bigint) as n_stop_hits,
                       cast(length(t) - length(replace(t, '#', ''))
                            as bigint) as n_hash_chars,
                       cast((length(t)
                             - length(replace(t, '...', ''))) // 3
                            as bigint) as n_ellipsis_seqs
                from w
            ), l as (
                select doc_id, trim(x) as line
                from base, unnest(string_split(t, chr(10))) as u(x)
                where trim(x) <> ''
            ), lc as (
                select doc_id, line, count(*) as c,
                       length(line) as len,
                       case when substr(line, 1, 1) in
                            ('-', '*', chr(8226), chr(8227), chr(9702))
                            then 1 else 0 end as bul,
                       case when ends_with(line, '...')
                            or ends_with(line, chr(8230))
                            then 1 else 0 end as ell
                from l group by 1, 2
            ), ln as (
                select doc_id,
                       cast(sum(c) as bigint) as n_lines,
                       cast(sum(bul * c) as bigint) as n_bullet_lines,
                       cast(sum(ell * c) as bigint) as n_ellipsis_lines,
                       cast(sum(case when c > 1 then c else 0 end)
                            as bigint) as n_dup_lines,
                       cast(sum(case when c > 1 then c * len
                                else 0 end) as bigint)
                           as n_dup_line_chars,
                       cast(sum(c * len) as bigint) as n_line_chars
                from lc group by 1
            ), j as (
                select wn.*,
                       coalesce(n_lines, 0) as n_lines,
                       coalesce(n_bullet_lines, 0) as n_bullet_lines,
                       coalesce(n_ellipsis_lines, 0)
                           as n_ellipsis_lines,
                       coalesce(n_dup_lines, 0) as n_dup_lines,
                       coalesce(n_dup_line_chars, 0)
                           as n_dup_line_chars,
                       coalesce(n_line_chars, 0) as n_line_chars
                from wn left join ln using (doc_id)
            )
            select doc_id, n_words, n_lines, n_dup_lines,
                   n_bullet_lines, n_stop_hits,
                   case when n_words > 0 then cast(floor(
                        n_word_chars / n_words * 1000000.0 + 0.5)
                        as bigint) end as mean_word_len_u,
                   case when n_words > 0 then cast(floor(
                        n_alpha_words / n_words * 1000000.0 + 0.5)
                        as bigint) end as alpha_frac_u,
                   case when n_words > 0 then cast(floor(
                        (n_hash_chars + n_ellipsis_seqs) / n_words
                        * 1000000.0 + 0.5) as bigint) end
                       as symbol_ratio_u,
                   case when n_lines > 0 then cast(floor(
                        n_bullet_lines / n_lines * 1000000.0 + 0.5)
                        as bigint) end as bullet_frac_u,
                   case when n_lines > 0 then cast(floor(
                        n_ellipsis_lines / n_lines * 1000000.0 + 0.5)
                        as bigint) end as ellipsis_frac_u,
                   case when n_lines > 0 then cast(floor(
                        n_dup_lines / n_lines * 1000000.0 + 0.5)
                        as bigint) end as dup_line_frac_u,
                   case when n_line_chars > 0 then cast(floor(
                        n_dup_line_chars / n_line_chars
                        * 1000000.0 + 0.5) as bigint) end
                       as dup_char_frac_u,
                   case when n_words between 20 and 100000
                        and n_word_chars >= 3 * n_words
                        and n_word_chars <= 10 * n_words
                        and 10 * (n_hash_chars + n_ellipsis_seqs)
                            <= n_words
                        and 10 * n_bullet_lines <= 9 * n_lines
                        and 10 * n_ellipsis_lines <= 3 * n_lines
                        and 5 * n_alpha_words >= 4 * n_words
                        and n_stop_hits >= 1
                        and 10 * n_dup_lines <= 3 * n_lines
                        and 5 * n_dup_line_chars <= n_line_chars
                        then 1 else 0 end as gopher_pass
            from j
        """,
        "gram_novelty_docs": """
            with w as (
                select source,
                       string_split_regex(trim(lower(text)), '\\s+')
                           as words
                from documents where text is not null
            ), g as (
                select source,
                       array_to_string(words[i : i + 2], ' ') as ngram
                from w, unnest(generate_series(
                    1, greatest(len(words) - 2, 1))) as t(i)
            ), occ as (
                select source as shard,
                       cast(count(*) as bigint) as n_occurrences
                from g group by 1
            ), ps as (select distinct source as shard, ngram from g),
            dist as (
                select shard, cast(count(*) as bigint) as n_distinct
                from ps group by 1
            ), novel as (
                select shard, cast(count(*) as bigint) as n_novel
                from (select ngram, min(shard) as shard
                      from ps group by 1)
                group by 1
            )
            select occ.shard as source, occ.n_occurrences,
                   cast(coalesce(dist.n_distinct, 0) as bigint)
                       as n_distinct,
                   cast(coalesce(novel.n_novel, 0) as bigint) as n_novel
            from occ
            left join dist on occ.shard is not distinct from dist.shard
            left join novel
                 on occ.shard is not distinct from novel.shard
        """,
        "context_pairs_docs": f"""
            with {_SQL_TOK}
            select doc_id, cast(p as int) as pos,
                   array_to_string(tokens[p - 4 : p - 1], ' ')
                       as context_str,
                   tokens[p] as target
            from tok, unnest(generate_series(5, len(tokens))) as u(p)
        """,
        "pmi_bigrams_docs": f"""
            with {_SQL_TOK}, {_SQL_BG},
            cab as (select a, b, count(*) as c from bg group by 1, 2),
            ca as (select a, cast(sum(c) as bigint) as c_a
                   from cab group by 1),
            cb as (select b, cast(sum(c) as bigint) as c_b
                   from cab group by 1),
            tot as (select cast(sum(c) as bigint) as nb from cab)
            select a, b, c, c_a, c_b,
                   round(ln((cast(c as double) * cast(nb as double))
                            / (cast(c_a as double) * cast(c_b as double))),
                         6) as pmi
            from cab join ca using (a) join cb using (b) cross join tot
            where c >= 3
        """,
        "oov_rate_docs": f"""
            with {_SQL_TOK},
            u as (select doc_id, t from tok, unnest(tokens) as un(t)),
            uc as (select t, count(*) as c from u group by 1),
            voc as (select t from uc where c >= 5),
            per as (select u.doc_id, count(*) as n_tok,
                           cast(sum(case when v.t is null then 1 else 0
                                    end) as bigint) as n_oov
                    from u left join voc v on u.t = v.t
                    group by 1)
            select t.doc_id,
                   cast(coalesce(per.n_tok, 0) as bigint) as n_tok,
                   cast(coalesce(per.n_oov, 0) as bigint) as n_oov,
                   round(case when per.n_tok is null then null
                         else cast(per.n_oov as double)
                              / cast(per.n_tok as double) end,
                         6) as oov_rate
            from tok t left join per using (doc_id)
        """,
        "transition_probs_events": """
            with seq as (
                select event_type as to_type,
                       lag(event_type) over w as from_type,
                       row_number() over w as rn
                from events
                window w as (partition by user_id order by ts, event_id)
            ), cnt as (
                select from_type, to_type, count(*) as n
                from seq where rn > 1 group by 1, 2
            ), marg as (
                select from_type as ft, cast(sum(n) as bigint) as nf
                from cnt group by 1
            )
            select c.from_type, c.to_type, c.n,
                   round(cast(c.n as double) / cast(m.nf as double), 6) as p
            from cnt c join marg m on c.from_type is not distinct from m.ft
        """,
        "recency_features_events": """
            select event_id, user_id, event_type,
                   cast(epoch_ms(ts) // 1000
                        - epoch_ms(lag(ts) over w) // 1000 as double)
                       as secs_since_prev,
                   cast(row_number() over w - 1 as bigint) as n_prior
            from events
            window w as (partition by user_id, event_type
                         order by ts, event_id)
        """,
        "trailing_values_events": """
            with t as (
                select event_id, user_id, value,
                       -- DuckDB's windowed list() KEEPS nulls while
                       -- Spark's collect_list skips them: filter after
                       -- the frame so nulls occupy a slot but are
                       -- excluded from the array (operator contract)
                       list_filter(
                         coalesce(list(value) over (
                             partition by user_id order by ts, event_id
                             rows between 3 preceding and 1 preceding),
                           cast([] as double[])),
                         x -> x is not null) as l
                from events
            )
            select event_id, user_id, value,
                   l[-1] as prev1, l[-2] as prev2, l[-3] as prev3
            from t
        """,
        # per-vector int8 scalar quantization: amax is an exact max of
        # exact float32→double widenings; each code is the identical
        # 4-op IEEE chain (÷, ×127, +0.5, floor) in both engines
        "scalar_quantize_vecs": """
            with q as (
                select vec_id, embedding,
                       list_max(list_transform(embedding, x ->
                           abs(cast(x as double)))) as amax
                from embeddings where embedding is not null
            )
            select vec_id,
                   cast(floor(amax * 1000000.0 + 0.5) as bigint)
                       as qscale_u,
                   cast(gs.i as int) as pos,
                   case when amax > 0 then
                        cast(floor(cast(embedding[gs.i + 1] as double)
                                   / amax * 127.0 + 0.5) as int)
                   else 0 end as code
            from q, lateral (select unnest(generate_series(0,
                     len(embedding) - 1)) as i) gs
        """,
        # deterministic Rademacher JL sketch: the DuckDB oracle REBUILDS
        # the ±1 sign matrix from the shared md5 idiom (first 8 hex chars
        # even → +1), so a linear-algebra operator gets a fully
        # relational exact-integer contract — no goldens, no floats
        "rp_embed_vecs": """
            with s as (
                select i.i as i, j.j as j,
                       case when cast(('0x' || substr(md5(
                                cast(i.i as varchar) || ':'
                                || cast(j.j as varchar) || ':rp:7'),
                                1, 8)) as bigint) % 2 = 0
                            then 1 else -1 end as sgn
                from (select unnest(generate_series(0, 63)) as i) i,
                     (select unnest(generate_series(0, 15)) as j) j
            ),
            q as (
                select vec_id,
                       list_transform(embedding, x ->
                           cast(floor(cast(x as double) * 1000000.0
                                      + 0.5) as bigint)) as qv
                from embeddings where embedding is not null
            ),
            u as (
                select vec_id, g.i as i, qv[g.i + 1] as qi
                from q, lateral (select unnest(generate_series(0,
                         len(qv) - 1)) as i) g
            )
            select u.vec_id, cast(s.j as int) as dim,
                   cast(sum(u.qi * s.sgn) as bigint) as comp_q
            from u join s on s.i = u.i
            group by u.vec_id, s.j
        """,
        "embedding_norms_vecs": """
            with q as (
                select vec_id,
                       list_transform(embedding, x ->
                           floor(cast(x as double) * 1000000.0 + 0.5))
                           as qs
                from embeddings
            )
            select vec_id,
                   cast(floor((sqrt(list_sum(list_transform(qs,
                            v -> v * v))) / 1000000.0)
                        * 1000000.0 + 0.5) as bigint) as l2_norm_u
            from q
        """,
        "embedding_moments_vecs": f"""
            with {_SQL_POSQ},
            a as (
                select cast(i as int) as pos, count(*) as n,
                       cast(count(*) as double) as nd,
                       cast(cast(sum(q) as bigint) as double) as sx,
                       cast(cast(sum(q * q) as bigint) as double) as sxx
                from posq group by 1
            )
            select pos, n,
                   cast(floor(((sx / nd) / 1000000.0)
                        * 1000000.0 + 0.5) as bigint) as mean_u,
                   case when n >= 2 then
                        cast(floor((((sxx - sx * sx / nd) / (nd - 1.0))
                             / 1000000000000.0)
                             * 1000000000.0 + 0.5) as bigint) end as var_u
            from a
        """,
        "label_centroids_vecs": f"""
            with {_SQL_POSQ},
            a as (
                select label, cast(i as int) as pos, count(*) as n,
                       cast(count(*) as double) as nd,
                       cast(cast(sum(q) as bigint) as double) as sx
                from posq group by 1, 2
            )
            select label, pos, n,
                   cast(floor(((sx / nd) / 1000000.0)
                        * 1000000.0 + 0.5) as bigint) as mean_u
            from a
        """,
        "covariance_embeddings": f"""
            with {_SQL_POSQ},
            pr as (select a.i as i, b.i as j,
                          cast(cast(sum(a.q * b.q) as bigint) as double)
                              as sxy
                   from posq a join posq b
                     on a.vec_id = b.vec_id and a.i <= b.i
                   group by 1, 2),
            m as (select i,
                         cast(cast(sum(q) as bigint) as double) as sx
                  from posq group by 1),
            nn as (select cast(count(*) as bigint) as n,
                          cast(count(*) as double) as nd from embeddings
                   where embedding is not null)
            select cast(p.i as int) as i, cast(p.j as int) as j, nn.n,
                   case when nn.n >= 2 then
                        cast(floor((((p.sxy - mi.sx * mj.sx / nn.nd)
                             / (nn.nd - 1.0)) / 1000000000000.0)
                             * 1000000000.0 + 0.5) as bigint) end as cov_u
            from pr p
            join m mi on mi.i = p.i
            join m mj on mj.i = p.j
            cross join nn
        """,
        "centroid_distance_vecs": f"""
            with {_SQL_POSQ},
            cent as (select label as clabel, i,
                            floor(cast(cast(sum(q) as bigint) as double)
                                  / cast(count(*) as double) + 0.5) as mq
                     from posq group by 1, 2),
            dists as (select p.vec_id, c.clabel,
                             cast(cast(sum((p.q - c.mq) * (p.q - c.mq))
                                  as bigint) as double) as d2
                      from posq p join cent c on p.i = c.i
                      group by 1, 2),
            own as (select e.vec_id, e.label, d.d2 as d2own
                    from embeddings e
                    left join dists d on d.vec_id = e.vec_id
                                     and d.clabel = e.label),
            nearest as (select vec_id, clabel, d2,
                               row_number() over (partition by vec_id
                                   order by d2, clabel) as rk
                        from dists)
            select o.vec_id, o.label,
                   cast(floor((sqrt(o.d2own) / 1000000.0)
                        * 1000000.0 + 0.5) as bigint) as dist_own_u,
                   n.clabel as nearest_label,
                   cast(floor((sqrt(n.d2) / 1000000.0)
                        * 1000000.0 + 0.5) as bigint) as dist_nearest_u
            from own o join nearest n on n.vec_id = o.vec_id and n.rk = 1
        """,
        "time_folds_events": """
            with e as (
                select quantile_cont(epoch_ms(ts),
                    [0.2, 0.4, 0.6, 0.8]) as edges
                from events
            )
            select event_id,
                   cast(case when ts is null then null
                        else length(list_filter(e.edges,
                                    ed -> epoch_ms(ts) >= ed)) end as int)
                       as fold
            from events, e
        """,
        "purged_split_events": """
            with e as (
                select quantile_cont(epoch_ms(ts),
                    [0.2, 0.4, 0.6, 0.8]) as edges
                from events
            ), f as (
                select event_id, epoch_ms(ts) as ms,
                       cast(case when ts is null then null
                            else length(list_filter(e.edges,
                                 ed -> epoch_ms(ts) >= ed)) end as int)
                           as fold
                from events, e
            ), span as (
                select min(ms) as lo, max(ms) as hi from f where fold = 2
            )
            select f.event_id, f.fold,
                   -- null ts -> null fold -> all three flags null
                   -- (mirrors Spark's three-valued logic through the
                   -- ~is_test conjunctions)
                   cast(case when f.fold is null then null
                        when f.fold = 2 then 1 else 0 end as int)
                       as is_test,
                   -- nuance: with an EMPTY test fold, lo is null and
                   -- Spark's (null AND false) = false, so in_embargo
                   -- is 0 (not null) even for null-ts rows
                   cast(case when f.fold is null then
                             (case when span.lo is null then 0 end)
                        when f.fold <> 2 and span.lo is not null
                             and f.ms >= span.lo - 86400000
                             and f.ms <= span.hi + 86400000
                        then 1 else 0 end as int) as in_embargo,
                   cast(case when f.fold is null then null
                        when f.fold <> 2
                             and not (span.lo is not null
                                      and f.ms >= span.lo - 86400000
                                      and f.ms <= span.hi + 86400000)
                        then 1 else 0 end as int) as is_train
            from f cross join span
        """,
        "negative_samples_orders": """
            with pos as (
                select o_custkey as user_id, l_partkey as item_id
                from lineitem join orders on l_orderkey = o_orderkey
                where l_orderkey % 20 = 0
            ), cat as (
                select p_partkey as neg_item,
                       cast(row_number() over (order by p_partkey) - 1
                            as bigint) as idx
                from (select distinct p_partkey from part)
            ), n as (select count(*) as n_items from cat),
            cand as (
                select user_id, item_id, slot,
                       cast(('0x' || substr(md5(user_id || ':' || item_id
                            || ':' || slot || ':11'), 1, 8)) as bigint)
                       % n.n_items as idx
                from pos, unnest([0, 1]) as s(slot)
                cross join n
            )
            select c.user_id, c.item_id, cast(c.slot as int) as slot,
                   cat.neg_item
            from cand c join cat on cat.idx = c.idx
            where not exists (select 1 from pos p
                              where p.user_id = c.user_id
                                and p.item_id = cat.neg_item)
        """,
        "count_encode_events": """
            select event_id, event_type,
                   cast(coalesce(count(*) over (
                       partition by event_type
                       order by epoch_ms(ts), event_id
                       rows between unbounded preceding and 1 preceding),
                     0) as bigint) as n_prior_cat
            from events
        """,
        "chunk_tokens_docs": f"""
            with {_SQL_TOK},
            starts as (
                select doc_id, tokens,
                       unnest(generate_series(0, len(tokens) - 1, 24)) as s
                from tok where len(tokens) > 0
            ), c as (
                select doc_id, cast(s // 24 as int) as chunk_id,
                       tokens[s + 1 : least(s + 32, len(tokens))] as ck
                from starts
            )
            select doc_id, chunk_id, cast(len(ck) as int) as chunk_n,
                   array_to_string(ck, ' ') as chunk_str
            from c where len(ck) >= 8
        """,
        "index_stats_docs": f"""
            with {_SQL_TOK},
            pd as (
                select t, doc_id, count(*) as tf
                from (select doc_id, tokens[i] as t
                      from tok,
                           unnest(generate_series(1, len(tokens))) as u(i))
                group by 1, 2
            ), stats as (
                select t, cast(count(*) as bigint) as df,
                       cast(sum(tf) as bigint) as cf
                from pd group by 1
            ), rk as (
                select t, doc_id, tf,
                       row_number() over (partition by t
                                          order by tf desc, doc_id) as r
                from pd
            ), top as (
                select t, string_agg(doc_id || ':' || tf, ','
                                     order by r) as top_str
                from rk where r <= 3 group by 1
            )
            select stats.t, stats.df, stats.cf, top.top_str
            from stats join top using (t)
        """,
        "zorder_events": f"""
            with b as (
                select event_id, user_id % 65536 as x,
                       (epoch_ms(ts) // 60000) % 65536 as y
                from events
            )
            select event_id, x, y,
                   {zorder_sql('x', 'y', 16)} as z
            from b
        """,
        "autocorr_value_by_user": """
            with obs as (
                select user_id, event_id, epoch_ms(ts) as ms,
                       cast(floor(value * 1000000 + 0.5) as bigint) as x
                from events where value is not null
            ), lagged as (
                select user_id, x,
                       lag(x, 1) over w as y1, lag(x, 2) over w as y2
                from obs
                window w as (partition by user_id order by ms, event_id)
            ), pairs as (
                select user_id, cast(1 as int) as lag, x, y1 as y
                from lagged where y1 is not null
                union all
                select user_id, cast(2 as int) as lag, x, y2 as y
                from lagged where y2 is not null
            ), agg as (
                select user_id, lag, count(*) as n_pairs,
                       sum(cast(x as hugeint)) as sx,
                       sum(cast(y as hugeint)) as sy,
                       sum(cast(x as hugeint) * y) as sxy,
                       sum(cast(x as hugeint) * x) as sxx,
                       sum(cast(y as hugeint) * y) as syy
                from pairs group by 1, 2
            )
            select user_id, lag, n_pairs,
                   case when n_pairs >= 2
                             and sqrt(cast(n_pairs * sxx - sx * sx as double)
                                      * cast(n_pairs * syy - sy * sy
                                             as double)) > 0
                        then cast(n_pairs * sxy - sx * sy as double)
                             / sqrt(cast(n_pairs * sxx - sx * sx as double)
                                    * cast(n_pairs * syy - sy * sy
                                           as double))
                   end as r
            from agg
        """,
        "er_candidates_part": """
            with src as (
                select p_partkey as id, p_name as nm
                from part where p_brand = 'Brand#11'
            ), words as (
                select id, unnest(list_distinct(list_filter(
                    string_split_regex(trim(lower(coalesce(nm, ''))),
                                       '[ \\t\\n\\x0B\\f\\r]+'),
                    w -> w != ''))) as w
                from src
            ), dfreq as (
                select w, count(*) as wdf from words group by w
            ), pick as (
                select id, min({'wdf': wdf, 'w': w}) as p
                from words join dfreq using (w) group by id
            ), blk as (
                select pick.id, pick.p.w as block, src.nm
                from pick join src using (id)
            )
            select b1.id as id_a, b2.id as id_b,
                   cast(levenshtein(b1.nm, b2.nm) as int) as dist
            from blk b1 join blk b2 using (block)
            where b1.id < b2.id and levenshtein(b1.nm, b2.nm) <= 2
        """,
        "k_anonymity_customers": """
            with g as (
                select c_nationkey, c_mktsegment, count(*) as n
                from customer group by 1, 2
            )
            select cast(coalesce(sum(n), 0) as bigint) as n_rows,
                   cast(count(*) as bigint) as n_groups,
                   cast(coalesce(sum(case when n < 5 then 1 else 0 end),
                                 0) as bigint) as n_violating_groups,
                   cast(coalesce(sum(case when n < 5 then n end), 0)
                        as bigint) as n_violating_rows,
                   min(n) as min_group,
                   coalesce(min(n) >= 5, true) as is_k_anonymous
            from g
        """,
        "funnel_view_click_purchase": """
            with e as (
                select user_id as u, epoch_ms(ts) as ms, event_type as et
                from events
                where user_id is not null and ts is not null
                  and event_type is not null
            ), t1 as (
                select u, min(ms) as m1 from e where et = 'view' group by u
            ), t2 as (
                select e.u, min(e.ms) as m2
                from e join t1 on e.u = t1.u
                where e.et = 'click' and e.ms > t1.m1
                  and e.ms <= t1.m1 + 259200000
                group by e.u
            ), t3 as (
                select e.u, min(e.ms) as m3
                from e join t2 on e.u = t2.u join t1 on t1.u = t2.u
                where e.et = 'purchase' and e.ms > t2.m2
                  and e.ms <= t1.m1 + 259200000
                group by e.u
            ), n as (
                select (select count(*) from t1) as n1,
                       (select count(*) from t2) as n2,
                       (select count(*) from t3) as n3
            )
            select cast(1 as int) as step, 'view' as event_type,
                   cast(n1 as bigint) as n_entities,
                   cast(null as double) as conv_from_prev,
                   cast(null as double) as conv_from_first
            from n
            union all
            select cast(2 as int), 'click', cast(n2 as bigint),
                   case when n1 > 0 then cast(n2 as double) / n1 end,
                   case when n1 > 0 then cast(n2 as double) / n1 end
            from n
            union all
            select cast(3 as int), 'purchase', cast(n3 as bigint),
                   case when n2 > 0 then cast(n3 as double) / n2 end,
                   case when n1 > 0 then cast(n3 as double) / n1 end
            from n
        """,
        "cohort_retention_weekly": """
            with e as (
                select user_id as u, ts from events
                where user_id is not null and ts is not null
            ), f as (
                select u, date_trunc('week', min(ts)) as c
                from e group by u
            ), a as (
                select distinct e.u, date_trunc('week', e.ts) as p from e
            ), m as (
                select f.c as cohort_period,
                       cast(date_diff('day', f.c, a.p) // 7 as int)
                           as period_offset,
                       cast(count(*) as bigint) as n_active
                from a join f on a.u = f.u
                group by 1, 2
            ), s as (
                select cohort_period, n_active as cohort_size
                from m where period_offset = 0
            )
            select epoch_ms(m.cohort_period) as cohort_ms,
                   m.period_offset, m.n_active, s.cohort_size,
                   cast(m.n_active as double) / s.cohort_size as retention
            from m join s using (cohort_period)
        """,
        "watch_time_coverage": """
            with iv as (
                select user_id, epoch_ms(ts) as s,
                       epoch_ms(ts)
                       + greatest(cast(floor(value * 1000 + 0.5)
                                       as bigint), 0) as e
                from events
                where event_type = 'view' and value is not null
                  and user_id is not null and ts is not null
            ), w as (
                select user_id, s, e,
                       max(e) over (partition by user_id order by s, e
                                    rows between unbounded preceding
                                    and 1 preceding) as pm
                from iv
            )
            select user_id,
                   cast(count(*) as bigint) as n_intervals,
                   cast(sum(case when pm is null or s > pm then 1
                            else 0 end) as bigint) as n_components,
                   cast(sum(greatest(e - greatest(s, coalesce(pm, s)), 0))
                        as bigint) as covered
            from w group by user_id
        """,
        "key_profile_events": """
            with c as (
                select user_id, cast(count(*) as bigint) as n
                from events group by user_id
            ), s as (
                select cast(sum(n) as bigint) as n_rows,
                       cast(count(*) as bigint) as n_keys,
                       max(n) as max_n, min(n) as min_n
                from c
            )
            select n_rows, n_keys, max_n, min_n,
                   cast(n_rows as double) / n_keys as avg_n,
                   cast(max_n as double) / n_rows as top_share,
                   round((select quantile_cont(n, 0.5) from c), 6)
                       as p50_n,
                   round((select quantile_cont(n, 0.9) from c), 6)
                       as p90_n,
                   round((select quantile_cont(n, 0.99) from c), 6)
                       as p99_n
            from s
        """,
        "heavy_users_events": """
            select user_id, cast(count(*) as bigint) as n
            from events group by user_id
            order by n desc, user_id asc nulls last
            limit 20
        """,
        "event_time_disorder": """
            with e as (
                select event_id,
                       epoch_ms(ts)
                       - (cast(('0x' || substr(md5(
                              cast(event_id as varchar) || ':' || '13'),
                              1, 8)) as bigint) % 600000) as ms
                from events
                where event_id is not null and ts is not null
            ), w as (
                select ms, max(ms) over (order by event_id
                    rows between unbounded preceding and 1 preceding)
                    as pm
                from e
            ), l as (
                select case when pm is not null
                       then greatest(pm - ms, 0) else 0 end as late
                from w
            )
            select cast(count(*) as bigint) as n_events,
                   cast(sum(case when late > 0 then 1 else 0 end)
                        as bigint) as n_late,
                   cast(sum(case when late > 0 then 1 else 0 end)
                        as double) / count(*) as frac_late,
                   max(late) as max_lateness,
                   round(quantile_cont(late, 0.5)
                         filter (late > 0), 6) as p50_lateness,
                   round(quantile_cont(late, 0.99)
                         filter (late > 0), 6) as p99_lateness
            from l
        """,
        "pagerank_part_supplier": _pagerank_oracle(),
        "pattern_vcp_users": """
            with e as (
                select user_id as u, epoch_ms(ts) as ms, event_id,
                       case event_type when 'view' then 'V'
                            when 'click' then 'C'
                            when 'purchase' then 'P'
                            else '_' end as ch
                from events
                where user_id is not null and ts is not null
                  and event_id is not null
            ), s as (
                select u, cast(count(*) as bigint) as n_events,
                       string_agg(ch, '' order by ms, event_id, ch)
                           as seq
                from e group by u
            )
            select u as user_id, n_events,
                   cast(len(regexp_extract_all(seq, 'VC*P')) as int)
                       as n_matches
            from s
        """,
        "scd2_purchase_values": """
            with p as (
                select user_id, event_id, value, ts from events
                where event_type = 'purchase' and ts is not null
            )
            select user_id, event_id, value,
                   epoch_ms(ts) as eff_from_ms,
                   epoch_ms(lead(ts) over (partition by user_id
                       order by ts, event_id)) as eff_to_ms,
                   lead(ts) over (partition by user_id
                       order by ts, event_id) is null as is_current
            from p
        """,
        "join_size_orders_lineitem": """
            with ca as (
                select o_orderkey as k, cast(count(*) as bigint) as cl
                from orders where o_orderkey is not null group by 1
            ), cb as (
                select l_orderkey as k, cast(count(*) as bigint) as cr
                from lineitem where l_orderkey is not null group by 1
            ), m as (
                select cast(count(*) as bigint) as n_matched_keys,
                       coalesce(sum(cl * cr), 0) as est,
                       coalesce(max(cl * cr), 0) as mx
                from ca join cb using (k)
            )
            select (select cast(count(*) as bigint) from orders)
                       as n_left,
                   (select cast(count(*) as bigint) from lineitem)
                       as n_right,
                   (select cast(count(*) as bigint) from ca)
                       as n_left_keys,
                   (select cast(count(*) as bigint) from cb)
                       as n_right_keys,
                   n_matched_keys,
                   cast(est as bigint) as est_rows,
                   cast(mx as bigint) as max_key_rows,
                   case when est > 0
                        then cast(mx as double) / cast(est as double)
                   end as top_key_share
            from m
        """,
        "json_key_profile_events": """
            with p as (
                select props from events
                where props is not null and json_valid(props)
            ), kv as (
                select k.key as key,
                       json_extract_string(p.props, k.key) as v
                from p, unnest(json_keys(p.props)) as k(key)
            )
            select key, cast(count(*) as bigint) as n_present,
                   cast(sum(case when v is null then 1 else 0 end)
                        as bigint) as n_null_value,
                   cast(sum(case when regexp_matches(v, '^-?[0-9]+$')
                            then 1 else 0 end) as bigint) as n_intlike,
                   cast(sum(case when regexp_matches(v,
                            '^-?[0-9]*\\.[0-9]+$') then 1 else 0 end)
                        as bigint) as n_floatlike,
                   cast(sum(case when regexp_matches(v,
                            '^(true|false)$') then 1 else 0 end)
                        as bigint) as n_boollike,
                   cast(count(distinct v) as bigint) as n_distinct
            from kv group by key
        """,
        "salted_join_segments": """
            select c.c_mktsegment, cast(count(*) as bigint) as n,
                   cast(sum(cast(floor(e.value * 1e6 + 0.5) as bigint))
                        as bigint) as sum_value_micro,
                   cast(count(distinct e.user_id) as bigint) as n_users
            from events e
            join customer c on e.user_id = c.c_custkey
            group by c.c_mktsegment
        """,
        "fingerprint_lineitem": """
            with h as (
                select cast(('0x' || substr(md5(
                    concat_ws(chr(31),
                        coalesce(cast(l_orderkey as varchar), chr(0)),
                        coalesce(cast(l_partkey as varchar), chr(0)),
                        coalesce(cast(l_suppkey as varchar), chr(0)))),
                    1, 15)) as bigint) as h
                from lineitem
            )
            select cast(count(*) as bigint) as n_rows,
                   cast(count(distinct h) as bigint)
                       as n_distinct_hashes,
                   cast(coalesce(sum(h), 0) as varchar) as sum_hash,
                   min(h) as min_hash, max(h) as max_hash
            from h
        """,
        "diff_buckets_events": """
            with l as (
                select cast(('0x' || substr(md5(
                    concat_ws(chr(31),
                        coalesce(cast(event_id as varchar), chr(0)),
                        coalesce(event_type, chr(0)),
                        coalesce(cast(user_id as varchar), chr(0)))),
                    1, 15)) as bigint) as h
                from events
            ), r as (
                select cast(('0x' || substr(md5(
                    concat_ws(chr(31),
                        coalesce(cast(event_id as varchar), chr(0)),
                        coalesce(event_type, chr(0)),
                        coalesce(cast(user_id as varchar), chr(0)))),
                    1, 15)) as bigint) as h
                from events
                where not (event_type = 'purchase'
                           and event_id % 97 = 0)
            ), la as (
                select h % 64 as bucket, cast(count(*) as bigint) as n,
                       sum(h) as s
                from l group by 1
            ), ra as (
                select h % 64 as bucket, cast(count(*) as bigint) as n,
                       sum(h) as s
                from r group by 1
            )
            select coalesce(la.bucket, ra.bucket) as bucket,
                   coalesce(la.n, 0) as n_left,
                   coalesce(ra.n, 0) as n_right,
                   cast(coalesce(la.s, 0) as varchar) as sum_left,
                   cast(coalesce(ra.s, 0) as varchar) as sum_right
            from la full outer join ra on la.bucket = ra.bucket
            where coalesce(la.n, 0) != coalesce(ra.n, 0)
               or coalesce(la.s, 0) != coalesce(ra.s, 0)
        """,
        "l_diversity_customers": """
            with b as (
                select c_nationkey, c_mktsegment,
                       case when c_acctbal < 0 then 'neg'
                            when c_acctbal < 5000 then 'mid'
                            else 'high' end as bal_band
                from customer
            ), g as (
                select c_nationkey, c_mktsegment,
                       cast(count(*) as bigint) as n_rows,
                       cast(count(distinct bal_band) as bigint) as ns
                from b group by 1, 2
            )
            select cast(coalesce(sum(n_rows), 0) as bigint) as n_rows,
                   cast(count(*) as bigint) as n_groups,
                   cast(coalesce(sum(case when ns < 3 then 1 else 0
                        end), 0) as bigint) as n_violating_groups,
                   cast(coalesce(sum(case when ns < 3 then n_rows
                        end), 0) as bigint) as n_violating_rows,
                   min(ns) as min_l,
                   coalesce(min(ns) >= 3, true) as is_l_diverse
            from g
        """,
        "group_sample_events": """
            select event_type, event_id, user_id from events
            qualify row_number() over (
                partition by event_type
                order by md5(cast(event_id as varchar) || ':' || '0')
                         nulls last,
                         event_id nulls last) <= 5
        """,
        "incremental_refresh_users": """
            select user_id, cast(count(*) as bigint) as n,
                   cast(coalesce(sum(cast(floor(value * 1e6 + 0.5)
                        as bigint)), 0) as bigint) as sum_value_micro,
                   max(epoch_ms(ts)) as max_ms
            from events where ts is not null
            group by user_id
        """,
        "gap_stats_users": """
            with obs as (
                select user_id, epoch_ms(ts) as ms, event_id
                from events where ts is not null
            ), lagged as (
                select user_id,
                       ms - lag(ms) over (partition by user_id
                                          order by ms, event_id) as gap
                from obs
            )
            select user_id,
                   cast(count(*) as bigint) as n_obs,
                   cast(count(gap) as bigint) as n_gaps,
                   max(gap) as max_gap_ms,
                   quantile_cont(gap, 0.5) as median_gap_ms,
                   cast(coalesce(sum(case when gap > 3600000
                                          then 1 end), 0) as bigint)
                       as n_gaps_over
            from lagged group by user_id
        """,
        "survivorship_users": """
            with ev as (
                select user_id, epoch_ms(ts) as ms,
                       case when event_id % 5 = 0 then null
                            else value end as value_n,
                       case when event_id % 3 = 0 then null
                            else event_type end as type_n
                from events where ts is not null
            ), agg as (
                select user_id,
                       cast(count(*) as bigint) as n_members,
                       max(case when value_n is not null
                                then {'ts': ms, 'v': value_n} end) as pv,
                       max(case when type_n is not null
                                then {'ts': ms, 'v': type_n} end) as pt
                from ev group by user_id
            )
            select user_id, n_members, pv.v as value_n, pt.v as type_n
            from agg
        """,
        "audience_overlap_types": """
            with base as (
                select distinct user_id as e, event_type as t
                from events
                where user_id is not null and event_type is not null
            ), marg as (
                select t, cast(count(*) as bigint) as n from base group by t
            ), ovl as (
                select a.t as type_a, b.t as type_b,
                       cast(count(*) as bigint) as n_both
                from base a join base b on a.e = b.e and a.t < b.t
                group by 1, 2
            )
            select ma.t as type_a, mb.t as type_b,
                   ma.n as n_a, mb.n as n_b,
                   coalesce(ovl.n_both, 0) as n_both,
                   cast(coalesce(ovl.n_both, 0) as double)
                   / cast(ma.n + mb.n - coalesce(ovl.n_both, 0)
                          as double) as jaccard
            from marg ma
            join marg mb on ma.t < mb.t
            left join ovl on ovl.type_a = ma.t and ovl.type_b = mb.t
        """,
        "ecdf_value_by_type": """
            select event_id, value,
                   case when value is not null then
                       cast(count(value) over (
                                partition by event_type order by value
                                range between unbounded preceding
                                          and current row) as double)
                       / cast(count(value) over (
                                partition by event_type) as double)
                   end as value_ecdf
            from events
        """,
        "top_paths_events": """
            with s as (
                select user_id, coalesce(event_type, '∅') as t,
                       row_number() over (
                           partition by user_id
                           order by ts, event_id) as rn
                from events where ts is not null
            ), pe as (
                select user_id,
                       string_agg(t, '>' order by rn)
                           filter (where rn <= 4) as path,
                       max(rn) as n_ev
                from s group by user_id
            )
            select path, cast(count(*) as bigint) as n_entities,
                   cast(sum(case when n_ev > 4 then 1 else 0 end)
                        as bigint) as n_truncated
            from pe group by path
            order by n_entities desc, path
            limit 15
        """,
        "column_profile_events": """
            select 'event_id' as column, count(*) as n_rows,
                   count(*) - count(event_id) as n_null,
                   count(distinct event_id) as n_distinct,
                   cast(min(event_id) as varchar) as min_str,
                   cast(max(event_id) as varchar) as max_str
            from events
            union all
            select 'user_id', count(*), count(*) - count(user_id),
                   count(distinct user_id),
                   cast(min(user_id) as varchar),
                   cast(max(user_id) as varchar)
            from events
            union all
            select 'event_type', count(*), count(*) - count(event_type),
                   count(distinct event_type),
                   cast(min(event_type) as varchar),
                   cast(max(event_type) as varchar)
            from events
            union all
            select 'value', count(*), count(*) - count(value),
                   count(distinct value),
                   cast(min(value) as varchar),
                   cast(max(value) as varchar)
            from events
        """,
        "impute_median_values": """
            with ev as (
                select event_id, event_type,
                       case when event_id % 7 = 0 then null
                            else value end as value_n
                from events
            ), med as (
                select event_type,
                       quantile_cont(value_n, 0.5) as m
                from ev group by 1
            )
            select ev.event_id, ev.value_n,
                   coalesce(ev.value_n, med.m) as value_n_imputed
            from ev left join med
              on ev.event_type is not distinct from med.event_type
        """,
        "calendar_features_events": """
            with ev as (
                select event_id, epoch_ms(ts) as ms, ts from events
            )
            select event_id,
                   cast(year(ts) as int) as year,
                   cast(month(ts) as int) as month,
                   cast(day(ts) as int) as day,
                   cast((ms % 86400000) // 3600000 as int) as hour,
                   cast(((ms % 86400000) % 3600000) // 60000 as int)
                       as minute,
                   cast((ms // 86400000 + 4) % 7 as int) as dow,
                   ((ms // 86400000 + 4) % 7) in (0, 6) as is_weekend,
                   cast(ms // 86400000 as bigint) as days_since_epoch
            from ev
        """,
        "lump_rare_part_types": """
            with c as (
                select p_type as t, count(*) as cn
                from part where p_type is not null group by 1
            ), tot as (
                select sum(cn) as s from c
            ), keep as (
                select t from c, tot
                where cn >= 15
                  and cast(cn as double) >= 0.0 * cast(s as double)
            )
            select p_partkey, p_type,
                   case when p_type is null then null
                        when keep.t is not null then p_type
                        else '__other__' end as p_type_lumped
            from part left join keep on p_type = keep.t
        """,
        "value_histogram_users": """
            with obs as (
                select user_id,
                       least(greatest(
                           floor((value - 0.0) / 25.0), 0), 9) as b
                from events where value is not null
            )
            select user_id,
                   cast(count(*) as bigint) as n_values,
                   concat_ws(',',
                       cast(coalesce(sum(case when b = 0 then 1 end), 0)
                            as bigint),
                       cast(coalesce(sum(case when b = 1 then 1 end), 0)
                            as bigint),
                       cast(coalesce(sum(case when b = 2 then 1 end), 0)
                            as bigint),
                       cast(coalesce(sum(case when b = 3 then 1 end), 0)
                            as bigint),
                       cast(coalesce(sum(case when b = 4 then 1 end), 0)
                            as bigint),
                       cast(coalesce(sum(case when b = 5 then 1 end), 0)
                            as bigint),
                       cast(coalesce(sum(case when b = 6 then 1 end), 0)
                            as bigint),
                       cast(coalesce(sum(case when b = 7 then 1 end), 0)
                            as bigint),
                       cast(coalesce(sum(case when b = 8 then 1 end), 0)
                            as bigint),
                       cast(coalesce(sum(case when b = 9 then 1 end), 0)
                            as bigint)) as hist_str
            from obs group by user_id
        """,
        "clustering_coeff_suppliers": """
            with su as (
                select distinct l_orderkey as o, l_suppkey as s
                from lineitem
                where l_orderkey is not null and l_suppkey is not null
                  and l_shipdate >= date '1995-02-01'
                  and l_shipdate < date '1995-08-01'
            ), e as (
                select distinct a.s as x, b.s as y
                from su a join su b on a.o = b.o and a.s < b.s
            ), deg as (
                select v as node, cast(count(*) as bigint) as d
                from (select x as v from e union all select y from e)
                group by v
            ), tri as (
                select unnest([e1.x, e1.y, e2.y]) as node
                from e e1
                join e e2 on e1.y = e2.x
                join e e3 on e3.x = e1.x and e3.y = e2.y
            ), tn as (
                select node, cast(count(*) as bigint) as t
                from tri group by node
            )
            select deg.node, deg.d as degree,
                   coalesce(tn.t, 0) as n_tri,
                   case when deg.d >= 2
                        then cast(coalesce(tn.t, 0) * 2 as double)
                             / cast(deg.d * (deg.d - 1) as double)
                   end as coeff
            from deg left join tn using (node)
        """,
        "er_resolve_part": """
            with recursive src as (
                select p_partkey as id, p_name as nm
                from part where p_brand = 'Brand#11'
            ), words as (
                select id, unnest(list_distinct(list_filter(
                    string_split_regex(trim(lower(coalesce(nm, ''))),
                                       '[ \\t\\n\\x0B\\f\\r]+'),
                    w -> w != ''))) as w
                from src
            ), dfreq as (
                select w, count(*) as wdf from words group by w
            ), pk as (
                select id, min({'wdf': wdf, 'w': w}) as p
                from words join dfreq using (w) group by id
            ), blk as (
                select pk.id, pk.p.w as block, src.nm
                from pk join src using (id)
            ), pairs as (
                select b1.id as a, b2.id as b
                from blk b1 join blk b2 using (block)
                where b1.id < b2.id
                  and levenshtein(b1.nm, b2.nm) <= 2
            ), e as (
                select a, b from pairs
                union select b, a from pairs
            ), reach as (
                select a, b from e
                union
                select r.a, e.b from reach r join e on r.b = e.a
            ), clus as (
                select s.id,
                       least(s.id, coalesce(min(r.b), s.id))
                           as cluster_id
                from src s left join reach r on r.a = s.id
                group by s.id
            ), pick as (
                select cluster_id,
                       cast(count(*) as bigint) as n_members,
                       min({'negl': -length(coalesce(src.nm, '')),
                            'id': clus.id}) as c
                from clus join src using (id)
                group by cluster_id
            )
            select clus.id as p_partkey, clus.cluster_id,
                   pick.c.id as canonical_id, pick.n_members
            from clus join pick using (cluster_id)
        """,
        "trend_value_by_user": """
            with obs as (
                select user_id, epoch_ms(ts) as ms,
                       cast(floor(value * 1000000 + 0.5) as bigint) as y
                from events where value is not null and ts is not null
            ), rel as (
                select user_id, y, ms,
                       min(ms) over (partition by user_id) as t0_ms
                from obs
            ), agg as (
                select user_id, count(*) as n_obs, min(t0_ms) as t0_ms,
                       sum(cast(ms - t0_ms as hugeint)) as sx,
                       sum(cast(y as hugeint)) as sy,
                       sum(cast(ms - t0_ms as hugeint) * y) as sxy,
                       sum(cast(ms - t0_ms as hugeint) * (ms - t0_ms))
                           as sxx,
                       sum(cast(y as hugeint) * y) as syy
                from rel group by 1
            ), fit as (
                select user_id, n_obs, t0_ms,
                       cast(n_obs * sxy - sx * sy as double) as num,
                       cast(n_obs * sxx - sx * sx as double) as d1,
                       cast(n_obs * syy - sy * sy as double) as d2,
                       cast(sx as double) as sxd, cast(sy as double) as syd
                from agg
            )
            select user_id, n_obs, t0_ms,
                   cast(floor(case when n_obs >= 2 and d1 > 0
                              then (num / d1) * 1e-3 end
                         * 1e9 + 0.5) as bigint) as slope_n,
                   cast(floor(case when n_obs >= 2 and d1 > 0
                              then ((syd - (num / d1) * sxd)
                                    / cast(n_obs as double)) / 1e6
                         end * 1e6 + 0.5) as bigint) as intercept_u,
                   cast(floor(case when n_obs >= 2 and d1 > 0 and d2 > 0
                              then (num / d1) * (num / d2) end
                         * 1e9 + 0.5) as bigint) as r2_n
            from fit
        """,
        "triangles_supplier_coorder": """
            with su as (
                select distinct l_orderkey as o, l_suppkey as s
                from lineitem
                where l_orderkey is not null and l_suppkey is not null
                  and l_shipdate >= date '1995-02-01'
                  and l_shipdate < date '1995-08-01'
            ), e as (
                select distinct a.s as x, b.s as y
                from su a join su b on a.o = b.o and a.s < b.s
            ), nodes as (
                select x as v from e union select y from e
            )
            select (select cast(count(*) as bigint) from nodes)
                       as n_nodes,
                   (select cast(count(*) as bigint) from e) as n_edges,
                   (select cast(count(*) as bigint)
                    from e e1
                    join e e2 on e1.y = e2.x
                    join e e3 on e3.x = e1.x and e3.y = e2.y)
                       as n_triangles
        """,
        "winsorize_value": """
            with s as (
                select event_type,
                       quantile_cont(value, 0.05) as lo,
                       quantile_cont(value, 0.95) as hi
                from events group by event_type
            )
            select e.event_id, e.event_type,
                   round(case when e.value is not null
                         then least(greatest(cast(e.value as double),
                                             s.lo), s.hi) end, 6)
                       as v_winsor
            from events e
            left join s on e.event_type is not distinct from
                           s.event_type
        """,
        "boilerplate_census_docs": """
            with inj as (
                select doc_id, source,
                       case when text is not null then
                            'copyright ' || source || chr(10) || text
                            || chr(10) || 'subscribe to our newsletter'
                       end as text
                from documents
            ), ls as (
                select source as g, doc_id,
                       unnest(string_split(text, chr(10))) as line
                from inj where text is not null
            ), pl as (
                select g, line,
                       cast(count(distinct doc_id) as bigint)
                           as n_docs_with_line
                from ls where len(line) >= 5 group by 1, 2
            ), pg as (
                select source as g, cast(count(*) as bigint) as n
                from inj where text is not null group by 1
            )
            select g as source, line, n_docs_with_line,
                   n as n_docs_in_group,
                   cast(n_docs_with_line as double) / n as frac
            from pl join pg using (g)
            where n_docs_with_line >= 2
              and cast(n_docs_with_line as double) / n >= 0.9
        """,
        "remove_boilerplate_docs": """
            with inj as (
                select doc_id, source,
                       case when text is not null then
                            'copyright ' || source || chr(10) || text
                            || chr(10) || 'subscribe to our newsletter'
                       end as text
                from documents
            ), sp as (
                select doc_id, source, text,
                       string_split(text, chr(10)) as lsx
                from inj
            ), ex as (
                select doc_id, source, i as pos, lsx[i] as line
                from sp, lateral unnest(generate_series(1, len(lsx)))
                     as t(i)
                where text is not null
            ), pl as (
                select source as g, line,
                       cast(count(distinct doc_id) as bigint) as nd
                from ex where len(line) >= 5 group by 1, 2
            ), pg as (
                select source as g, cast(count(*) as bigint) as n
                from inj where text is not null group by 1
            ), flagged as (
                select g, line from pl join pg using (g)
                where nd >= 2 and cast(nd as double) / n >= 0.9
            ), kept as (
                select ex.doc_id, ex.pos, ex.line
                from ex left join flagged f
                on ex.source = f.g and ex.line = f.line
                where f.line is null
            ), re as (
                select doc_id,
                       string_agg(line, chr(10) order by pos) as clean,
                       cast(count(*) as bigint) as n_kept
                from kept group by doc_id
            )
            select i.doc_id, i.source,
                   case when i.text is not null
                        then md5(coalesce(re.clean, '')) end
                       as clean_md5,
                   cast(case when i.text is null then 0
                        else len(string_split(i.text, chr(10)))
                             - coalesce(re.n_kept, 0) end as bigint)
                       as n_lines_removed
            from inj i left join re using (doc_id)
        """,
        "dedup_paragraphs_docs": """
            with inj as (
                select doc_id, source,
                       case when text is not null then
                            'the quick brown fox jumps over the lazy '
                            || 'dog.' || chr(10) || text || chr(10)
                            || 'sig ' || coalesce(source, '?')
                            || chr(10) || '--'
                            || case when doc_id % 5 = 0
                               then chr(10) || text else '' end
                       end as text
                from documents
            ), sp as (
                select doc_id, source, text,
                       string_split(text, chr(10)) as lsx
                from inj
            ), ex as (
                select doc_id, source, i as pos, lsx[i] as line
                from sp, lateral unnest(generate_series(1, len(lsx)))
                     as t(i)
                where text is not null
            ), rn as (
                select doc_id, pos, line,
                       case when len(line) >= 5 then
                            row_number() over (partition by line
                                               order by doc_id, pos)
                       else 1 end as rn
                from ex
            ), re as (
                select doc_id,
                       string_agg(line, chr(10) order by pos) as clean,
                       cast(count(*) as bigint) as n_kept
                from rn where rn = 1 group by doc_id
            )
            select i.doc_id, i.source,
                   case when i.text is not null
                        then md5(coalesce(re.clean, '')) end
                       as clean_md5,
                   cast(case when i.text is null then 0
                        else len(string_split(i.text, chr(10)))
                             - coalesce(re.n_kept, 0) end as bigint)
                       as n_paragraphs_removed
            from inj i left join re using (doc_id)
        """,
        "c4_filter_docs": """
            with inj as (
                select doc_id, source,
                       case when text is not null then
                            text || chr(10)
                            || 'click here to subscribe' || chr(10)
                            || 'please enable javascript to view.'
                            || chr(10) || 'ok.' || chr(10)
                            || 'the first injected line is long '
                            || 'enough.' || chr(10)
                            || 'a second good line keeps the document '
                            || 'alive.' || chr(10)
                            || 'the third line also ends with '
                            || 'punctuation.'
                            || case when doc_id % 7 = 0 then chr(10)
                               || 'this page uses lorem ipsum '
                               || 'placeholder text.' else '' end
                            || case when doc_id % 11 = 0 then chr(10)
                               || 'function f() { return 1; }'
                               else '' end
                       end as text
                from documents
            ), f as (
                select doc_id, source, text,
                       list_filter(string_split(text, chr(10)), x ->
                           right(x, 1) in ('.', '!', '?', '"')
                           and len(list_filter(
                                   string_split_regex(
                                       trim(x),
                                       '[ \\t\\n\\x0B\\f\\r]+'),
                                   w -> w <> '')) >= 5
                           and not contains(lower(x), 'javascript'))
                           as kept
                from inj
            )
            select doc_id, source,
                   case when text is not null
                        then md5(array_to_string(kept, chr(10))) end
                       as clean_md5,
                   cast(case when text is null then 0
                        else len(kept) end as bigint) as n_lines_kept,
                   coalesce(len(kept) >= 3
                            and not contains(lower(text), 'lorem ipsum')
                            and not contains(text, '{'), false)
                       as keep_doc
            from f
        """,
        "merge_additive_users": """
            select user_id, cast(count(*) as bigint) as n,
                   cast(coalesce(sum(cast(floor(value * 1e6 + 0.5)
                        as bigint)), 0) as bigint) as sum_value_micro,
                   max(epoch_ms(ts)) as max_ms
            from events where ts is not null
            group by user_id
        """,
        "quantile_normalize_docs": """
            with base as (
                select doc_id as id, source,
                       cast(floor(n_chars * 1 + 0.5) as bigint) as q_u
                from documents
                where source is not null and n_chars is not null
            ), ranked as (
                select id, source, q_u,
                       row_number() over (partition by source
                                          order by q_u, id) as r,
                       count(*) over (partition by source) as ns
                from base
            ), census as (
                select q_u, count(*) as c from base group by 1
            ), axis as (
                select q_u as qn_u,
                       sum(c) over w - c as lo,
                       sum(c) over w as hi
                from census
                window w as (order by q_u rows between unbounded
                             preceding and current row)
            ), tot as (
                select count(*) as n from base
            )
            select rk.id, rk.source, rk.q_u, a.qn_u
            from ranked rk cross join tot
            join axis a
              on ((rk.r * tot.n + rk.ns - 1) // rk.ns) > a.lo
             and ((rk.r * tot.n + rk.ns - 1) // rk.ns) <= a.hi
        """,
        "markov_score_users": """
            with obs as (
                select user_id, event_id, epoch_ms(ts) as ms,
                       event_type as a
                from events
                where ts is not null and event_type is not null
            ), big as (
                select user_id, a,
                       lead(a) over (partition by user_id
                                     order by ms, event_id) as b
                from obs
            ), big2 as (
                select user_id, a, b from big where b is not null
            ), cab as (
                select a, b, cast(count(*) as bigint) as c
                from big2 group by 1, 2
            ), ca as (
                select a, cast(sum(c) as bigint) as ca
                from cab group by 1
            ), v as (
                select cast(count(distinct a) as double) as v from obs
            ), scored as (
                select g.user_id,
                       cast(floor(ln((cast(c as double) + 0.5)
                                     / (cast(ca as double) + 0.5 * v.v))
                                  * 1000000000 + 0.5) as hugeint) as q
                from big2 g
                join cab using (a, b) join ca using (a) cross join v
            )
            select user_id,
                   cast(count(*) as bigint) as n_trans,
                   cast(sum(q) as bigint) as sum_q9,
                   cast(sum(q) // cast(count(*) as hugeint) as bigint)
                       as mean_q9
            from scored group by 1
        """,
        "spearman_qty_price": """
            with base as (
                select cast(floor(l_quantity * 1000000 + 0.5)
                            as hugeint) as qa,
                       cast(floor(l_extendedprice * 1000000 + 0.5)
                            as hugeint) as qb
                from lineitem
                where l_quantity is not null
                  and l_extendedprice is not null
            ), cena as (
                select qa, cast(count(*) as hugeint) as w
                from base group by 1
            ), axa as (
                select qa,
                       2 * (sum(w) over wax - w) + w + 1 as r2,
                       sum(w) over () as n2x
                from cena
                window wax as (order by qa rows between unbounded
                               preceding and current row)
            ), axa2 as (
                select qa, (r2 * 1000000) // (2 * n2x) as ra from axa
            ), cenb as (
                select qb, cast(count(*) as hugeint) as w
                from base group by 1
            ), axb as (
                select qb,
                       2 * (sum(w) over wbx - w) + w + 1 as r2,
                       sum(w) over () as n2x
                from cenb
                window wbx as (order by qb rows between unbounded
                               preceding and current row)
            ), axb2 as (
                select qb, (r2 * 1000000) // (2 * n2x) as rb from axb
            ), joined as (
                select ra, rb
                from base join axa2 using (qa) join axb2 using (qb)
            ), agg as (
                select cast(count(*) as hugeint) as n,
                       coalesce(sum(ra), 0) as sa,
                       coalesce(sum(rb), 0) as sb,
                       coalesce(sum(ra * rb), 0) as sab,
                       coalesce(sum(ra * ra), 0) as saa,
                       coalesce(sum(rb * rb), 0) as sbb
                from joined
            ), parts as (
                select n,
                       (n * sab - sa * sb) // 100000000 as nx,
                       (n * saa - sa * sa) // 100000000 as dx,
                       (n * sbb - sb * sb) // 100000000 as dy
                from agg
            )
            select cast(n as bigint) as n_pairs,
                   case when dx > 0 and dy > 0 then
                       cast(floor(cast(nx as double)
                                  / sqrt(cast(dx as double)
                                         * cast(dy as double))
                                  * 1000000 + 0.5) as bigint)
                   end as rho_u
            from parts
        """,
        "ess_value_by_type": """
            with base as (
                select event_type,
                       cast(floor(value * 1000000 + 0.5) as hugeint)
                           as q
                from events where value is not null
            ), agg as (
                select event_type,
                       cast(count(*) as bigint) as n_obs,
                       coalesce(sum(q), 0) as sw,
                       coalesce(sum(q * q), 0) as sww
                from base group by 1
            )
            select event_type, n_obs,
                   case when sww > 0 then
                       cast((sw * sw * 1000000) // sww as bigint)
                   end as ess_u,
                   case when sww > 0 then
                       cast(((sw * sw * 1000000) // sww)
                            // cast(n_obs as hugeint) as bigint)
                   end as ess_ratio_u
            from agg
        """,
        "mwu_value_drift": """
            with r as (
                select value as v, count(*) as cr from events
                where event_type = 'click' and value is not null
                group by 1
            ), c as (
                select value as v, count(*) as cc from events
                where event_type = 'purchase' and value is not null
                group by 1
            ), m0 as (
                select coalesce(r.v, c.v) as v,
                       cast(coalesce(cr, 0) as hugeint) as cr,
                       cast(coalesce(cc, 0) as hugeint) as cc
                from r full outer join c on r.v = c.v
            ), run as (
                select cr, cc, cr + cc as w,
                       sum(cr + cc) over (order by v rows between
                           unbounded preceding and current row)
                           - (cr + cc) as cum
                from m0
            ), agg as (
                select coalesce(sum(cr), 0) as n,
                       coalesce(sum(cc), 0) as m,
                       coalesce(sum(cr * (2 * cum + w + 1)), 0) as r2x,
                       coalesce(sum(w * w * w - w), 0) as ties
                from run
            ), parts as (
                select n, m, r2x - n * (n + 1) as u_x2,
                       case when n + m >= 2 then
                           (n * m * ((n + m + 1) * (n + m) * (n + m - 1)
                                     - ties))
                           // (12 * (n + m) * (n + m - 1)) end as var_q
                from agg
            )
            select cast(n as bigint) as n_ref,
                   cast(m as bigint) as n_cur,
                   case when n > 0 and m > 0 then
                       cast(u_x2 as bigint) end as u_x2,
                   case when n > 0 and m > 0 and var_q > 0 then
                       cast(floor(cast(u_x2 - n * m as double)
                                  / (2.0 * sqrt(cast(var_q as double)))
                                  * 1000000 + 0.5) as bigint)
                   end as z_q6
            from parts
        """,
        "cvm_value_drift": """
            with r as (
                select value as v, count(*) as cr from events
                where event_type = 'click' and value is not null
                group by 1
            ), c as (
                select value as v, count(*) as cc from events
                where event_type = 'purchase' and value is not null
                group by 1
            ), m as (
                select coalesce(r.v, c.v) as v,
                       cast(coalesce(cr, 0) as hugeint) as cr,
                       cast(coalesce(cc, 0) as hugeint) as cc
                from r full outer join c on r.v = c.v
            ), tot as (
                select coalesce(sum(cr), 0) as n,
                       coalesce(sum(cc), 0) as m
                from m
            ), run as (
                select cr, cc,
                       sum(cr) over w as fr, sum(cc) over w as fc
                from m
                window w as (order by v
                             rows between unbounded preceding
                                      and current row)
            ), num as (
                select coalesce(sum((cr + cc)
                           * (fr * tot.m - fc * tot.n)
                           * (fr * tot.m - fc * tot.n)), 0) as s
                from run cross join tot
            )
            select cast(tot.n as bigint) as n_ref,
                   cast(tot.m as bigint) as n_cur,
                   case when tot.n > 0 and tot.m > 0 then
                       cast((num.s * 1000000000)
                            // (tot.n * tot.m * (tot.n + tot.m)
                                * (tot.n + tot.m)) as bigint)
                   end as t_q9
            from tot cross join num
        """,
        "ks_value_drift": """
            with r as (
                select value as v, count(*) as cr from events
                where event_type = 'click' and value is not null
                group by 1
            ), c as (
                select value as v, count(*) as cc from events
                where event_type = 'purchase' and value is not null
                group by 1
            ), m as (
                select coalesce(r.v, c.v) as v,
                       coalesce(cr, 0) as cr, coalesce(cc, 0) as cc
                from r full outer join c on r.v = c.v
            ), tot as (
                select cast(coalesce(sum(cr), 0) as bigint) as n_ref,
                       cast(coalesce(sum(cc), 0) as bigint) as n_cur
                from m
            ), run as (
                select sum(cr) over w as fr, sum(cc) over w as fc
                from m
                window w as (order by v
                             rows between unbounded preceding
                                      and current row)
            ), dmax as (
                select max(abs(cast(fr as hugeint) * tot.n_cur
                               - cast(fc as hugeint) * tot.n_ref))
                       as dm
                from run cross join tot
            )
            select tot.n_ref, tot.n_cur,
                   case when tot.n_ref > 0 and tot.n_cur > 0
                        then cast(dmax.dm as double)
                             / cast(cast(tot.n_ref as hugeint)
                                    * tot.n_cur as double)
                   end as d
            from tot cross join dmax
        """,
        "search_topk_docs": f"""
            with {_SQL_TOK},
            q(t, qtf) as (values (1571, 2), (1650, 1), (199, 1),
                                 (2776, 1)),
            n as (select cast(count(*) as bigint) as nd from tok),
            pos as (
                select doc_id, tokens[i] as t
                from tok, unnest(generate_series(1, len(tokens))) as u(i)
                where tokens[i] in (select t from q)
            ), pl as (
                select t, doc_id, cast(count(*) as bigint) as tf
                from pos group by 1, 2
            ), dfq as (
                select t, cast(count(*) as bigint) as df from pl group by 1
            )
            select pl.doc_id,
                   cast(sum(q.qtf * pl.tf
                            * cast(floor(ln(cast(n.nd + 1 as double)
                                            / cast(dfq.df + 1 as double)
                                            + 1.0) * 1000000000.0 + 0.5)
                                   as bigint)) as bigint) as score_nano
            from pl join dfq using (t) join q using (t) cross join n
            group by 1
            order by score_nano desc, doc_id
            limit 20
        """,
        # BM25 with k1 = 6/5, b = 3/4: the saturation fraction clears
        # denominators via T (corpus tokens) and N (docs) —
        # num = (k1n+k1d)*bd*T*tf = 44*T*tf, den = k1d*bd*T*tf +
        # k1n*(bd-bn)*T + k1n*bn*len*N = 20*T*tf + 6*T + 18*len*N —
        # then micro-quantizes with hugeint // (truncating, all terms
        # non-negative), mirroring trunc_div in operators.lm.bm25_topk.
        "bm25_topk_docs": f"""
            with {_SQL_TOK},
            q(t, qtf) as (values (1571, 2), (1650, 1), (199, 1),
                                 (2776, 1)),
            tot as (select cast(count(*) as hugeint) as nd,
                           cast(coalesce(sum(len(tokens)), 0) as hugeint)
                           as tt
                    from tok),
            pos as (
                select doc_id, len(tokens) as dl, tokens[i] as t
                from tok, unnest(generate_series(1, len(tokens))) as u(i)
                where tokens[i] in (select t from q)
            ), pl as (
                select t, doc_id, cast(count(*) as hugeint) as tf,
                       cast(max(dl) as hugeint) as dl
                from pos group by 1, 2
            ), dfq as (
                select t, cast(count(*) as bigint) as df from pl group by 1
            )
            select pl.doc_id,
                   cast(sum(cast(q.qtf as hugeint)
                            * cast(floor(ln(cast(tot.nd + 1 as double)
                                            / cast(dfq.df + 1 as double)
                                            + 1.0) * 1000000000.0 + 0.5)
                                   as hugeint)
                            * ((44 * tot.tt * pl.tf * 1000000)
                               // (20 * tot.tt * pl.tf + 6 * tot.tt
                                   + 18 * pl.dl * tot.nd)))
                        as bigint) as score_q
            from pl join dfq using (t) join q using (t) cross join tot
            group by 1
            order by score_q desc, doc_id
            limit 20
        """,
        # replace-length substring counting: identical non-overlapping
        # left-to-right semantics in Spark and DuckDB; // exact since
        # the length delta is always a multiple of len(keyword)
        "dict_tag_docs": """
            with kw(keyword) as (values ('data'), ('fast sort'),
                                 ('merge batch'), ('slow'), ('spark')),
            h as (
                select d.doc_id, kw.keyword,
                       cast((length(d.hay)
                             - length(replace(d.hay, kw.keyword, '')))
                            // length(kw.keyword) as bigint) as n_hits
                from (select doc_id, lower(coalesce(text, '')) as hay
                      from documents) d
                cross join kw
            )
            select keyword, cast(count(*) as bigint) as n_docs,
                   cast(sum(n_hits) as bigint) as n_hits,
                   cast(max(n_hits) as bigint) as max_hits
            from h where n_hits > 0
            group by 1
        """,
        "blocklist_filter_docs": """
            with f as (
                select source,
                       cast((length(hay)
                             - length(replace(hay, 'big vector', '')))
                            // length('big vector') as bigint)
                       + cast((length(hay)
                               - length(replace(hay, 'slow query', '')))
                              // length('slow query') as bigint) as hits
                from (select source, lower(coalesce(text, '')) as hay
                      from documents) d
            )
            select source, cast(count(*) as bigint) as n_kept,
                   cast(coalesce(sum(hits), 0) as bigint) as sum_hits
            from f where hits <= 1
            group by 1
        """,
        # zero-cell-free expansion chi2 = sum_observed O^2*N/(r*c) - N,
        # staged truncating division (t1 = 1e6*O^2 // r, term = t1*N // c)
        # mirroring functions.util.trunc_div; null categories kept via
        # IS NOT DISTINCT FROM marginal joins
        "chi2_features_docs": """
            with s as (
                select 'source' as feature, cast(source as varchar) as v,
                       cast(lang as varchar) as y
                from documents
                union all
                select 'len_bucket',
                       cast(n_chars // 100 as varchar), cast(lang as varchar)
                from documents
            ), cells as (
                select feature, v, y, cast(count(*) as hugeint) as o
                from s group by 1, 2, 3
            ), r as (
                select feature, v, sum(o) as r from cells group by 1, 2
            ), c as (
                select feature, y, sum(o) as c from cells group by 1, 2
            ), nn as (
                select feature, sum(o) as n,
                       count(distinct v)
                       + max(case when v is null then 1 else 0 end) as nv,
                       count(distinct y)
                       + max(case when y is null then 1 else 0 end) as ny
                from cells group by 1
            ), terms as (
                select cells.feature,
                       (((1000000 * o * o) // r.r) * nn.n) // c.c as t
                from cells
                join r on cells.feature = r.feature
                      and cells.v is not distinct from r.v
                join c on cells.feature = c.feature
                      and cells.y is not distinct from c.y
                join nn on cells.feature = nn.feature
            )
            select terms.feature, cast(nn.n as bigint) as n,
                   cast((nn.nv - 1) * (nn.ny - 1) as bigint) as dof,
                   cast(sum(t) - nn.n * 1000000 as bigint) as chi2_micro
            from terms join nn on terms.feature = nn.feature
            group by terms.feature, nn.n, nn.nv, nn.ny
        """,
        "pit_audit_training_set": """
            with j as (
                select l.event_id, epoch_ms(l.ts) as ms,
                       epoch_ms(r.ts) as fms
                from (select * from events
                      where event_type = 'purchase') l
                asof left join
                     (select user_id, ts from events
                      where event_type = 'click') r
                on l.user_id = r.user_id and l.ts >= r.ts
            )
            select 'fms' as feature_col,
                   cast(count(*) as bigint) as n_rows,
                   cast(coalesce(sum(case when fms is not null
                                               and fms > ms
                                          then 1 else 0 end), 0)
                        as bigint) as n_violations,
                   max(case when fms is not null and fms > ms
                            then fms - ms end) as max_leak,
                   max(case when fms is not null and fms <= ms
                            then ms - fms end) as max_lag
            from j
        """,
        "active_users_trailing_hour": """
            with l as (
                select event_id, epoch_ms(ts) as ms
                from events where event_type = 'purchase'
            )
            select l.event_id,
                   cast((select count(distinct e.user_id) from events e
                         where e.user_id is not null
                           and epoch_ms(e.ts) <= l.ms
                           and epoch_ms(e.ts) > l.ms - 3600000)
                        as bigint) as n_distinct
            from l
        """,
        "basket_rules_lineitem": """
            with pres as (
                select distinct l_orderkey as b, l_partkey as i
                from lineitem
                where l_orderkey is not null and l_partkey is not null
            ), sup as (
                select i, cast(count(*) as bigint) as n_item
                from pres group by i
            ), nb as (
                select cast(count(distinct b) as bigint) as n_baskets
                from pres
            ), pairs as (
                select a.i as ia, b.i as ib,
                       cast(count(*) as bigint) as n_pair
                from pres a join pres b on a.b = b.b and a.i < b.i
                group by 1, 2 having count(*) >= 2
            ), directed as (
                select ia as antecedent, ib as consequent, n_pair
                from pairs
                union all
                select ib as antecedent, ia as consequent, n_pair
                from pairs
            )
            select d.antecedent, d.consequent, d.n_pair,
                   sa.n_item as n_ante, sc.n_item as n_cons, nb.n_baskets,
                   cast(d.n_pair as double)
                     / cast(nb.n_baskets as double) as support,
                   cast(d.n_pair as double)
                     / cast(sa.n_item as double) as confidence,
                   cast(cast(d.n_pair as hugeint) * nb.n_baskets as double)
                     / cast(cast(sa.n_item as hugeint) * sc.n_item
                            as double) as lift
            from directed d
            join sup sa on sa.i = d.antecedent
            join sup sc on sc.i = d.consequent
            cross join nb
        """,
        "mutual_info_docs": """
            with cell as (
                select lang as x, source as y, count(*) as o
                from documents group by 1, 2
            ), mx as (select x, cast(sum(o) as bigint) as c_x
                      from cell group by 1),
            my as (select y, cast(sum(o) as bigint) as c_y
                   from cell group by 1),
            tot as (select cast(sum(o) as bigint) as n,
                           (select count(*) from mx) as n_x,
                           (select count(*) from my) as n_y
                    from cell),
            grid as (
                select mx.x, my.y, mx.c_x, my.c_y,
                       coalesce(cell.o, 0) as o
                from mx cross join my
                left join cell on cell.x is not distinct from mx.x
                              and cell.y is not distinct from my.y
            )
            select tot.n, tot.n_x, tot.n_y,
                   cast((tot.n_x - 1) * (tot.n_y - 1) as bigint) as dof,
                   cast(floor((cast(cast(sum(case when g.o > 0
                       then cast(floor(
                            (cast(g.o as double) / cast(tot.n as double))
                            * ln((cast(g.o as double)
                                  * cast(tot.n as double))
                                 / (cast(g.c_x as double)
                                    * cast(g.c_y as double)))
                            * 1000000000000.0 + 0.5) as bigint)
                       else 0 end) as bigint) as double)
                       / 1000000000000.0)
                       * 1000000.0 + 0.5) as bigint) as mi_u,
                   cast(floor((cast(cast(sum(cast(floor(
                       (cast(g.o as double)
                        - cast(g.c_x as double) * cast(g.c_y as double)
                          / cast(tot.n as double))
                       * (cast(g.o as double)
                          - cast(g.c_x as double) * cast(g.c_y as double)
                            / cast(tot.n as double))
                       / (cast(g.c_x as double) * cast(g.c_y as double)
                          / cast(tot.n as double))
                       * 1000000000.0 + 0.5) as bigint)) as bigint)
                       as double) / 1000000000.0)
                       * 1000000.0 + 0.5) as bigint) as chi2_u
            from grid g cross join tot
            group by 1, 2, 3, 4
        """,
    }
