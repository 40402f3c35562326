"""Physical plan shape assertions — the scale contract, checked in CI.

These guard the properties that matter at 100 TB: filters/projections reach
the parquet scan, small sides broadcast, the serving as-of path is
shuffle-free, and aggregations are partial+final.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = (li.where(F.col("l_shipdate") <= F.lit("1995-01-01").cast("timestamp"))
         .select("l_orderkey", "l_quantity"))
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan
    # column pruning: the scan must read only the 3 referenced columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_broadcast_asof_join_is_shuffle_free(spark):
    from msi_preprocessing_pipeline_spark.operators.asof import (
        asof_join_broadcast)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet") \
        .select("event_id", "user_id", F.unix_millis(
            F.col("ts").cast("timestamp")).alias("ms"))
    right = ev.groupBy("user_id").agg(F.min("ms").alias("vf")) \
        .withColumn("payload", F.lit(1.0))
    joined = asof_join_broadcast(ev, right, on="user_id", left_ts="ms",
                                 right_ts="vf", value_cols=["payload"])
    plan = plan_of(joined, "simple")
    assert "BroadcastHashJoin" in plan
    # the LEFT (row) side must not shuffle: the only exchanges allowed are
    # the broadcast itself and the tiny right-side aggregation
    left_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "user_id" in ln
        and "vf" not in ln
    ]
    # right-side agg shuffles on user_id (tiny); verify the join input scan
    # path has no exchange between the parquet scan and the join
    join_idx = plan.index("BroadcastHashJoin")
    scan_section = plan[join_idx:]
    assert "Exchange hashpartitioning" not in scan_section.split(
        "BroadcastExchange")[0]
    _ = left_shuffles


def test_small_dim_join_broadcasts(spark):
    import __spark_entry__ as em
    plan = plan_of(em.queries()["weighted_mean_nation"](spark, SF_DIR),
                   "simple")
    assert "BroadcastHashJoin" in plan


def test_cosine_topk_uses_broadcast(spark):
    import __spark_entry__ as em
    plan = plan_of(em.queries()["cosine_topk"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" in plan


def test_agg_is_partial_then_final(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = plan_of(q)
    # map-side combine: two HashAggregate nodes (partial + final)
    assert plan.count("HashAggregate") >= 2
    # codegen visible once the adaptive plan is final
    q.collect()
    plan_final = plan_of(q, "simple")
    assert "*(" in plan_final or "WholeStageCodegen" in plan_final


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from pyspark.sql import functions as F

    from msi_preprocessing_pipeline_spark.sources.bucketed import (
        read_table, write_bucketed)

    # default warehouse dir (repo-local spark-warehouse/, gitignored)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet") \
        .select("event_id", "user_id", "value")
    agg = ev.groupBy("user_id").agg(F.sum("value").alias("total"))
    write_bucketed(ev, "ev_bucketed", "user_id", n_buckets=8)
    write_bucketed(agg, "agg_bucketed", "user_id", n_buckets=8)

    joined = read_table(spark, "ev_bucketed").join(
        read_table(spark, "agg_bucketed").hint("merge"), "user_id")
    plan = plan_of(joined, "simple")
    try:
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: bucket layout reused
        # and the join is actually correct
        n = joined.count()
        assert n == ev.count()
    finally:
        spark.sql("drop table if exists ev_bucketed")
        spark.sql("drop table if exists agg_bucketed")


def test_text_ops_are_jvm_side(spark):
    import __spark_entry__ as em
    plan = plan_of(em.queries()["text_stats"](spark, SF_DIR), "simple")
    # no python UDF in the text pipeline
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapsInPandas" not in plan and "MapInPandas" not in plan


def test_serve_plan_is_shuffle_free_on_partitioned_input(spark, tmp_path):
    """On a well-partitioned input the serving path is scan → ONE
    MapInArrow: no exchange, no join (the artifact timeline and the per-row
    version pick live inside the UDF)."""
    import numpy as np

    from msi_preprocessing_pipeline_spark.operators import spectrum as sp
    from msi_preprocessing_pipeline_spark.oracle import PipelineConfig
    from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline
    from msi_preprocessing_pipeline_spark.sources import synthetic

    sources = {"src-000": 16, "src-001": 16}
    cfg = PipelineConfig()
    df = sp.with_ts(synthetic.sequences_df(spark, sources,
                                           base_channels=512), cfg)
    path = str(tmp_path / "seq")
    df.repartition(16).write.parquet(path)
    seq = spark.read.parquet(path)
    axes = synthetic.source_axes_for(sources, 512)
    pipe = FeaturePipeline(spark, axes, cfg)
    art = sp.ArtifactSet(
        version=1, valid_from_ts=cfg.epoch_base,
        mz_axis=pipe.common_axis(), b1=float("-inf"), b2=float("inf"),
        pafft_reference=np.ones(pipe.common_axis().size),
        tic_reference_tic=1000.0,
        gmm_mu=np.array([900.0]), gmm_sig=np.array([5.0]),
        gmm_w=np.array([1.0]),
        merge_starts=np.array([0]), merge_lengths=np.array([1]))

    served = pipe.transform(seq, [art])
    plan = plan_of(served, "simple")
    physical = plan.split("== Physical Plan ==")[1]
    assert physical.count("MapInArrow") == 1
    assert "roundrobin" not in plan.lower()
    assert "Exchange" not in physical
    assert "BroadcastHashJoin" not in physical
    # forcing rebalance on an under-partitioned input still works
    served_fat = pipe.transform(seq.coalesce(1), [art])
    assert "roundrobin" in plan_of(served_fat, "simple").lower()
    assert served.count() == 32


def test_decontaminate_broadcasts_benchmark_side(spark):
    import __spark_entry__ as em
    plan = plan_of(em.queries()["decontaminate_docs"](spark, SF_DIR),
                   "simple")
    assert "BroadcastHashJoin" in plan  # eval-set shingles broadcast
    assert "SortMergeJoin" not in plan  # no corpus-sized shuffle join


def test_packing_single_layout_shuffle(spark):
    import __spark_entry__ as em
    plan = plan_of(em.queries()["pack_assignments_docs"](spark, SF_DIR),
                   "simple")
    # exactly one exchange: the bucket-window layout shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "bucket" in plan


def test_pii_scan_is_pure_codegen(spark):
    import __spark_entry__ as em
    plan = plan_of(em.queries()["pii_scan"](spark, SF_DIR), "simple")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "MapInArrow"):
        assert node not in plan  # JVM regexp codegen end to end


def test_star_guard_uses_broadcast_not_window(spark):
    """Round-3 contract: the giant-bucket guard is a broadcast aggregate
    join, not a full-relation window (which would shuffle every candidate
    row by bucket)."""
    from msi_preprocessing_pipeline_spark.operators import dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, n_hashes=16, shingle_words=3)
    pairs = dedup.minhash_lsh_pairs(sigs, bands=4, threshold=0.3,
                                    star_over=8)
    plan = plan_of(pairs, "simple")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_gram_generation_has_no_python_workers(spark):
    """Round-3 contract: shingle/n-gram generation is JVM-side (Spark ML
    NGram) — no Python eval nodes anywhere in the n-gram Jaccard plan."""
    import __spark_entry__ as em
    plan = plan_of(em.queries()["ngram_jaccard_pairs"](spark, SF_DIR),
                   "simple")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "MapInArrow"):
        assert node not in plan


def test_range_join_wide_branch_is_broadcast(spark):
    import pandas as pd

    from msi_preprocessing_pipeline_spark.operators.joins import range_join
    pts = spark.createDataFrame(pd.DataFrame({"pid": [1, 2], "x": [1.0, 9.0]}))
    ivs = spark.createDataFrame(pd.DataFrame(
        {"iid": [1, 2], "lo": [0.0, -1e7], "hi": [2.0, 1e7]}))
    out = range_join(pts, ivs, "x", "lo", "hi", bucket_width=1.0,
                     wide_buckets=64)
    plan = plan_of(out, "simple")
    assert "BroadcastNestedLoopJoin" in plan  # wide branch
    assert "CartesianProduct" not in plan


def test_rolling_range_single_window_single_exchange(spark):
    """Round-3 contract: all rolling_range aggregates share one window spec
    (one Window node, one entity-hash exchange) — distinct cast aliases
    would otherwise produce one Window per aggregate."""
    import __spark_entry__ as em
    plan = plan_of(em.queries()["rolling_time_features"](spark, SF_DIR),
                   "simple")
    assert plan.count("+- Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_training_set_broadcast_spine_no_exchange(spark):
    """Broadcast-strategy training set: the spine side must see no hash
    exchange, no sort-merge join and no window — map-only at any scale."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        FeatureSpec, build_training_set)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    spine = ev.select("event_id", "user_id", "ts", "value")
    feat = ev.select("user_id", F.col("ts").alias("fts"),
                     F.col("value").alias("fv"))
    out = build_training_set(
        spine, on="user_id", spine_ts="ts",
        features=[FeatureSpec(feat, ts_col="fts", value_cols=["fv"],
                              prefix="f_", strategy="broadcast")])
    plan = plan_of(out, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_mixture_sample_is_map_only(spark):
    """The mixture filter itself must be a shuffle-free JVM predicate."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        mixture_sample)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = mixture_sample(docs, "doc_id", "source",
                         {"src0": 0.5, "src1": 0.5}, seed=3)
    plan = plan_of(out, "simple")
    assert "Exchange" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_hll_agg_is_partial_then_final(spark):
    """Sketch aggregation must map-side combine (partial_hll_sketch_agg)."""
    from msi_preprocessing_pipeline_spark.operators.sketches import (
        approx_distinct)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_of(approx_distinct(ev, "user_id", "event_type"), "simple")
    assert "partial_hll_sketch_agg" in plan


def test_ngram_jaccard_no_forced_doc_cardinality_broadcast(spark):
    """The per-doc `sizes` relation is corpus-cardinality: the operator
    must NOT carry a broadcast hint on it (AQE may still choose to
    broadcast at small scale — that is runtime-sized and fine; a forced
    hint would ship the whole doc list to every executor at 100 TB)."""
    from msi_preprocessing_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = ngram_jaccard_pairs(docs, k=5, threshold=0.2)  # no max_df ->
    # the only joins in the plan are the two sizes joins
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical


def test_tfidf_composition_is_lazy(spark):
    """Composing tfidf_top_terms must not run a Spark job (the corpus size
    N is an in-plan broadcast aggregate, not an eager .count())."""
    from msi_preprocessing_pipeline_spark.operators import text as tx
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    tx.tfidf_top_terms(docs, k_terms=5)
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before


def test_hash_tokenize_and_context_pairs_map_only(spark):
    """Tokenization + training-pair generation must be one map-only JVM
    pass: no exchange, no Python workers, no window."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        context_target_pairs, hash_tokenize)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = context_target_pairs(hash_tokenize(docs), context_len=4)
    plan = plan_of(out, "simple")
    assert "Exchange" not in plan and "Window" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_lm_score_and_oov_joins_unhinted(spark):
    """The count-relation joins in lm_score/oov_rate must carry NO
    broadcast hints — a multi-GB bigram table or vocabulary must not be
    forced onto the driver (AQE sizes them at runtime)."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        hash_tokenize, lm_score, oov_rate, unigram_counts)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tok = hash_tokenize(docs)
    for df in (lm_score(tok),
               oov_rate(tok, unigram_counts(tok).where(F.col("c") >= 5))):
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in logical


def test_recency_and_trailing_single_window_single_exchange(spark):
    """Both recency features share one window sort; trailing_values is
    one frame — each: one Window node, one entity-hash exchange."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        recency_features, trailing_values)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    for df in (recency_features(ev, ["user_id", "event_type"], "ts",
                                tiebreak=["event_id"]),
               trailing_values(ev, "value", "user_id", "ts", k=3,
                               tiebreak=["event_id"])):
        plan = plan_of(df, "simple")
        assert plan.count("Window") == 1
        assert plan.count("Exchange hashpartitioning") == 1


def test_covariance_raw_rows_never_shuffle(spark):
    """The covariance partials must be computed BEFORE any exchange: the
    scan feeds MapInPandas directly, and every exchange in the plan
    operates on the d^2-bounded partial relation."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        covariance_matrix)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(covariance_matrix(emb), "simple")
    assert "MapInPandas" in plan
    scan_to_map = plan[plan.index("MapInPandas"):]
    # below (upstream of) the MapInPandas node: scan only, no exchange
    assert "Exchange" not in scan_to_map


def test_centroid_distance_is_map_only(spark):
    """Scoring rows against the broadcast centroid set must be one Arrow
    pass over the scan — no exchange, no join in the row path."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        centroid_distance_features, label_centroids)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = centroid_distance_features(emb, label_centroids(emb))
    plan = plan_of(out, "simple")
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and "Join" not in plan


def test_time_folds_row_side_no_hash_exchange(spark):
    """Fold assignment: the 1-row edge aggregate broadcasts; the row side
    stays map-only (no hash exchange on event rows)."""
    from msi_preprocessing_pipeline_spark.operators.cv import time_folds
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_of(time_folds(ev, "ts", n_folds=5), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the only hash exchange allowed is the single-partition edge agg
    rows = [ln for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln]
    assert rows == []


def test_sliding_distinct_single_window_no_wide_broadcast(spark):
    """The presence-interval build is ONE lead window, and the interval
    cap keeps range_join on its bucketized branch: a corpus-cardinality
    interval relation must never hit the broadcast theta-join."""
    from msi_preprocessing_pipeline_spark.operators.windows import (
        sliding_distinct)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("user_id").alias("uid"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ems"))
    labels = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"))
    plan = plan_of(sliding_distinct(labels, ev, "uid", 3_600_000,
                                    label_ts="ms", event_ts="ems"))
    assert plan.count("+- Window") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_rarest_word_block_pick_is_aggregate_not_window(spark):
    from msi_preprocessing_pipeline_spark.operators.er import (
        rarest_word_blocks)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(rarest_word_blocks(docs, "text", "doc_id"))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final somewhere


def test_association_rules_no_forced_broadcast(spark):
    """Supports are |items|-bounded but still corpus-derived — leave
    broadcasting to AQE, never hint (round-3 ngram_jaccard lesson)."""
    from msi_preprocessing_pipeline_spark.operators.market import (
        association_rules)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = association_rules(li, "l_orderkey", "l_partkey", min_count=2)
    assert "ResolvedHint" not in plan_of(out, "extended")


def test_trend_features_single_exchange(spark):
    """trend_features: the min-ts window and the moment aggregation key
    on the same entity column — ONE hash exchange, one Window node."""
    from msi_preprocessing_pipeline_spark.operators.sequences import (
        trend_features)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_of(trend_features(ev, "value", "user_id", "ts"), "simple")
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_value_histogram_single_exchange_partial_agg(spark):
    """value_histogram: one map-side-combined aggregation — a single
    exchange, partial+final HashAggregate, no explode/pivot."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        value_histogram)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_of(value_histogram(ev, "value", ["user_id"],
                                   0.0, 250.0, 10), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "Generate" not in plan            # no explode


def test_lump_rare_rows_never_hash_shuffle(spark):
    """lump_rare: the row side joins the vocabulary-sized kept-set via
    broadcast — row-cardinality data must not hash-shuffle (the only
    exchanges belong to the category-count aggregation)."""
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        lump_rare)
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    plan = plan_of(lump_rare(part, "p_type", min_count=3), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_passage_windows_map_only(spark):
    """Char-window passage splitting must be one map-only JVM pass:
    no exchange, no Python workers, no window."""
    from msi_preprocessing_pipeline_spark.operators.text import (
        passage_windows)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(passage_windows(docs, 120, 20), "simple")
    assert "Exchange" not in plan and "Window" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_attribution_single_exchange_no_join(spark):
    """Attribution is the union + ONE window shape: exactly one hash
    exchange of the union, and no join node anywhere."""
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        attribution)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"))
    out = attribution(ev.where(F.col("event_id") % 2 == 0),
                      ev.where(F.col("event_id") % 2 == 1),
                      conv_ts="ms", touch_ts="ms", horizon_ms=1000)
    plan = plan_of(out, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_phash_and_kmeans_assign_map_only(spark):
    """pHash computation and k-means assignment are single Arrow passes:
    one MapInPandas each, no exchange."""
    import numpy as np
    from msi_preprocessing_pipeline_spark.operators.multimodal import (
        phash64, synth_media_from_ids)
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        kmeans_assign)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hashes = phash64(synth_media_from_ids(docs.select("doc_id")),
                     decoder="real", id_col="doc_id")
    plan = plan_of(hashes, "simple")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2  # media synth + phash, chained
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan2 = plan_of(kmeans_assign(emb, np.zeros((4, 64))), "simple")
    assert "Exchange" not in plan2
    assert plan2.count("MapInPandas") == 1


def test_fs_weights_single_aggregation(spark):
    """fs_weights reduces the pairs relation with ONE partial+final
    aggregate to a single row — no window, no second scan."""
    from msi_preprocessing_pipeline_spark.operators.er import fs_weights
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    pairs = ev.select((F.col("value") > 1).alias("a1"),
                      (F.col("value") > 2).alias("a2"),
                      (F.col("event_id") % 2 == 0).alias("is_match"))
    plan = plan_of(fs_weights(pairs, ["a1", "a2"]), "simple")
    assert "Window" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final


def test_random_projection_map_only(spark):
    """The JL sketch is ONE Arrow pass: quantize (JVM) + matmul
    (MapInPandas) — zero exchanges, so it composes with any downstream
    bucketing without its own shuffle."""
    from msi_preprocessing_pipeline_spark.operators.embeddings import (
        random_projection)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(random_projection(emb, in_dim=64, out_dim=16), "simple")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_dsir_weights_broadcast_lambda_single_doc_shuffle(spark):
    """DSIR scoring: the λ table joins BROADCAST (bounded ≤ buckets
    rows) and the per-doc sum is the only row-proportional exchange —
    no sort-merge join anywhere."""
    import numpy as np
    from msi_preprocessing_pipeline_spark.operators.importance import (
        dsir_weights)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(dsir_weights(docs, np.ones(64, dtype=np.int64),
                                buckets=64), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_pairs_shuffle_on_cluster_only(spark):
    """SemDeDup's pair stage self-joins on cluster id (SMJ/shuffle-hash
    on the bounded cluster key) — no broadcast of the full corpus and
    no cartesian product."""
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        semdedup)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # materialize=False keeps the lazy plan — the default eager
    # localCheckpoint would truncate lineage to Scan ExistingRDD and
    # make these assertions vacuous
    out = semdedup(emb, k=4, iters=1, threshold=0.95, materialize=False)
    plan = plan_of(out, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_pq_encode_map_only(spark):
    """PQ encoding is ONE Arrow pass (0 Exchange) and ADC scoring adds
    no Python: the score is a JVM zip_with lookup-fold over the
    broadcast literal table."""
    import numpy as np
    from msi_preprocessing_pipeline_spark.operators.similarity import (
        pq_adc_topk, pq_encode)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = np.zeros((4, 2, 16))
    books[:, 1, :] = 1.0
    codes = pq_encode(emb, books)
    plan = plan_of(codes, "simple")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1
    out = pq_adc_topk(codes, books, emb.where(F.col("vec_id") < 2),
                      topk=5)
    plan2 = plan_of(out, "simple")
    # ONE code scan (hence one encode pass) covers every query — the
    # tables ride a broadcast relation, scoring itself is JVM
    assert plan2.count("MapInPandas") == 1
    assert "BroadcastNestedLoopJoin" in plan2
    assert "SortMergeJoin" not in plan2


def test_weighted_sample_and_dsir_topk_take_ordered(spark):
    """Both top-n selections compile to TakeOrderedAndProject (per-
    partition heaps + one small merge), never a full global sort."""
    import numpy as np
    from msi_preprocessing_pipeline_spark.operators.importance import (
        dsir_topk, dsir_weights)
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        weighted_sample_k)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p1 = plan_of(weighted_sample_k(docs, "doc_id", "n_chars", n=10),
                 "simple")
    assert "TakeOrderedAndProject" in p1
    w = dsir_weights(docs, np.ones(64, dtype=np.int64), buckets=64)
    p2 = plan_of(dsir_topk(w, 10), "simple")
    assert "TakeOrderedAndProject" in p2


def test_c4_filter_is_map_only(spark):
    """C4 cleaning must stay a pure projection: zero Exchange, zero
    Python, one scan."""
    from msi_preprocessing_pipeline_spark.operators.text import c4_filter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(c4_filter(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # formatted mode prints each node twice (tree + detail section)
    assert plan.count("Scan parquet") == 2


def test_kn_score_single_histogram_lineage(spark):
    """All model marginals must ride ONE bigram-histogram lineage: the
    executed plan reads the corpus exactly 4x (scoring explode,
    histogram, 1-row N1+(..) branch, keep-all-docs left join) — the
    branchy groupBy formulation measured 6 scans.  (The r6
    materialize-once variant hit 1 scan but lost on the count-driven
    bench — see the lm_score note — so 4 lazy scans is the pinned
    trade.)"""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        hash_tokenize, kn_score)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = kn_score(hash_tokenize(docs, vocab_size=512), scale=9)
    out.count()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert executed.count("Scan parquet") == 4


def test_similar_doc_pairs_no_cartesian_and_pair_filter_in_join(spark):
    """The term self-join must be an equi-join on t with the id_a <
    id_b predicate attached — never a cartesian/nested-loop product."""
    from msi_preprocessing_pipeline_spark.operators.lm import (
        hash_tokenize, similar_doc_pairs)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tok = hash_tokenize(docs, vocab_size=512)
    plan = plan_of(similar_doc_pairs(tok, threshold=0.9, max_df=10**6))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are copies of the 1-row N
    # broadcast (wp's lineage is re-inlined in each of its 4 uses;
    # formatted mode prints every node twice: tree + detail)
    assert plan.count("BroadcastNestedLoopJoin") <= 8
    # the pair stage itself must be hash-joined on the term key
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_bradley_terry_iteration_state_is_model_sized(spark):
    """Each MM round must touch only checkpointed model relations: the
    analyzed plan of the returned strengths contains NO raw-contest
    scan (the lineage was truncated) and builds in bounded time."""
    from pyspark.sql import Row

    from msi_preprocessing_pipeline_spark.operators.ranking import (
        bradley_terry)

    contests = spark.createDataFrame(
        [Row(winner="a", loser="b"), Row(winner="b", loser="c"),
         Row(winner="a", loser="c")] * 4)
    s = bradley_terry(contests, iters=6)
    plan = plan_of(s)
    # the strength lineage ends at the last round's localCheckpoints:
    # the raw contest relation (a LocalTableScan here) must be GONE,
    # and only checkpointed ExistingRDD scans remain — 4 of them (s
    # twice, sym, wtab), printed twice by formatted mode
    assert "LocalTableScan" not in plan
    assert plan.count("Scan ExistingRDD") <= 8


def test_temperature_mixture_windows_bounded_to_sources(spark):
    """The mixture plan's only windows run over the |sources|-bounded
    aggregate relation: exactly ONE corpus-side exchange (the source
    groupBy), and every Window input is post-aggregation."""
    from msi_preprocessing_pipeline_spark.operators.sampling import (
        temperature_mixture_plan)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .withColumn("n_tok", F.length("text"))
    plan = plan_of(temperature_mixture_plan(docs, 100), "simple")
    # ONE corpus scan (the crossJoin formulation re-scanned it 4x) and
    # one corpus exchange (the source agg); remaining exchanges are
    # SinglePartition moves of the |sources| relation
    assert plan.count("FileScan parquet") == 1
    corpus_exchanges = [ln for ln in plan.splitlines()
                        if "Exchange hashpartitioning" in ln]
    assert len(corpus_exchanges) == 1
    assert "HashAggregate" in plan


def test_unigram_tokenize_is_single_arrow_pass(spark):
    """unigram_tokenize: zero exchanges on corpus rows, ONE Python node."""
    from msi_preprocessing_pipeline_spark.operators.unigram import (
        Piece, unigram_tokenize)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pieces = [Piece("a", 1, 10, -100), Piece("b", 2, 5, -200)]
    plan = plan_of(unigram_tokenize(docs, pieces))
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2  # tree + detail section


def test_plan_shards_no_single_partition_window_on_rows(spark):
    """plan_shards must rank via the per-partition window (partitioned by
    the frozen spark_partition_id), never a global single-partition
    window over corpus rows."""
    from msi_preprocessing_pipeline_spark.operators.layout import (
        plan_shards)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .withColumn("n_tok", F.length("text"))
    plan = plan_of(plan_shards(docs, 5), "simple")
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert win_lines, "expected a Window node"
    for ln in win_lines:
        assert "__pid" in ln  # partitioned window, not global
    # the offsets side broadcasts
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_dedup_lines_in_doc_is_map_only(spark):
    from msi_preprocessing_pipeline_spark.operators.text import (
        dedup_lines_in_doc)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(dedup_lines_in_doc(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Scan parquet") == 2


def test_corr_matrix_single_scan_partial_final_agg(spark):
    """All d(d-1)/2 correlation pairs in ONE scan: a partial+final
    aggregate pair around a single Exchange carrying 3·d² integer cells
    — no corpus shuffle, no joins, no windows, no Python."""
    from msi_preprocessing_pipeline_spark.operators.featsel import (
        corr_matrix)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = plan_of(corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        scales={"l_quantity": 0, "l_extendedprice": -3,
                "l_discount": 2}))
    # formatted mode prints each node twice (tree outline + detail)
    assert plan.count("Scan parquet") == 2
    assert plan.count("Exchange") == 2  # ONE exchange: the 1-row gather
    assert "SinglePartition" in plan
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInArrow" not in plan


def test_bloom_probe_prune_is_pre_shuffle(spark):
    """The bloom semi-join's probe branch: scan -> JVM hash positions ->
    Arrow bit test -> filter, all BEFORE the exact join's Exchange."""
    from msi_preprocessing_pipeline_spark.operators.runtime_filter import (
        bloom_semi_join)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    od = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
          .where(F.col("o_orderpriority") == "1-URGENT"))
    plan = plan_of(bloom_semi_join(li, od, "l_orderkey", "o_orderkey",
                                   how="semi"))
    assert "LeftSemi" in plan
    arrow_at = plan.find("MapInArrow")
    assert arrow_at != -1
    # the fragment below the Arrow stage (its input subtree: the probe
    # scan) must be exchange-free — pruning happens upstream of any
    # shuffle
    assert "Exchange" not in plan[arrow_at:plan.find("Scan parquet",
                                                    arrow_at)]


def test_na_curve_is_pure_window_plan(spark):
    """Nelson-Aalen never leaves the JVM: one partial+final aggregation
    to the |distinct durations| relation, then Window ops — zero Python
    (no ArrowEvalPython / FlatMapGroupsInPandas anywhere)."""
    from msi_preprocessing_pipeline_spark.operators.survival import (
        na_curve)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        (F.col("event_id") % 1000).alias("dur"),
        (F.col("event_id") % 2).alias("ev"),
        (F.col("user_id") % 3).alias("g"))
    plan = plan_of(na_curve(ev, "dur", "ev", ["g"]))
    assert "InPandas" not in plan and "ArrowEval" not in plan \
        and "MapInArrow" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final reduction
    assert "Window" in plan


def test_logrank_single_reduction_then_tiny_windows(spark):
    """log-rank reduces the corpus ONCE (partial+final HashAggregate to
    the pooled-time relation); everything after runs on |distinct
    event times| rows. Exactly one row-proportional Exchange pair
    (aggregation); the window/sort exchanges move curve rows only."""
    from msi_preprocessing_pipeline_spark.operators.survival import (
        logrank_test)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        (F.col("event_id") % 1000).alias("dur"),
        (F.col("event_id") % 2).alias("ev"),
        (F.col("user_id") % 2).alias("g"))
    plan = plan_of(logrank_test(ev, "dur", "ev", "g"))
    assert "InPandas" not in plan and "MapInArrow" not in plan
    # corpus-side: scan feeds ONE aggregation; no join anywhere
    assert "Join" not in plan
    scan_at = plan.find("Scan parquet")
    assert scan_at != -1


def test_uplift_bucket_agg_is_partial_final(spark):
    """uplift_curve: after the global-rank sort, the bucket aggregation
    is partial+final (map-side combine) and the cumulative window runs
    on the B-row relation; no Python stages."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        uplift_curve)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("event_id").alias("id"),
        (F.col("user_id") % 2).cast("int").alias("t"),
        F.col("value").alias("y"),
        (F.col("event_id") % 97).alias("s"))
    plan = plan_of(uplift_curve(ev, "t", "y", "s", "id", n_buckets=10))
    assert "InPandas" not in plan and "MapInArrow" not in plan
    assert plan.count("HashAggregate") >= 2
    # the rank join is the broadcast offsets join, never shuffled both
    # sides: exactly zero SortMergeJoin
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ate_stratified_single_scan_single_agg(spark):
    """ate_stratified: ONE corpus aggregation; the pooled window rides
    the |strata| relation (WindowExec single-partition warning is over
    the tiny relation, by design)."""
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        ate_stratified)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        (F.col("user_id") % 2).cast("int").alias("t"),
        F.col("value").alias("y"),
        (F.col("event_id") % 5).cast("int").alias("s"))
    plan = plan_of(ate_stratified(ev, "t", "y", "s", scale=2))
    # formatted mode prints each node once in the tree and once in the
    # detail section -> a single scan appears exactly twice
    assert plan.count("Scan parquet") == 2
    assert "InPandas" not in plan and "Join" not in plan


def test_chi2_single_expand_scan(spark):
    """chi2_scores: multi-feature screening is ONE corpus scan (Expand),
    all joins are over cell-bounded relations, no Python."""
    from msi_preprocessing_pipeline_spark.operators.featsel import (
        chi2_scores)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(chi2_scores(docs.withColumn(
        "lb", (F.col("n_chars") % 7).cast("string")),
        ["source", "lb"], "lang"))
    assert plan.count("Scan parquet") == 2  # tree + detail sections
    assert "Expand" in plan
    assert "InPandas" not in plan and "ArrowEvalPython" not in plan


def test_concentration_single_scan_bounded_window(spark):
    """concentration: one corpus scan to the |groups| relation; the
    rank window rides that bounded relation only."""
    from msi_preprocessing_pipeline_spark.operators.profile import (
        concentration)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(concentration(docs, "source", "n_chars"))
    assert plan.count("Scan parquet") == 2
    assert "InPandas" not in plan


def test_attribution_shares_no_entity_window(spark):
    """attribution_shares: every window partitions by the conversion
    id, never by the entity — hot entities cost only the equi-join."""
    from msi_preprocessing_pipeline_spark.operators.behavior import (
        attribution_shares)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"))
    plan = plan_of(attribution_shares(
        ev.limit(50), ev, model="time_decay", horizon_ms=3_600_000,
        halflife_ms=600_000))
    import re
    parts = re.findall(r"windowspecdefinition\((\w+)#", plan.lower())
    assert parts and all(p.startswith("__cid") for p in parts)


# ---------------------------------------------------------------------------
# session-12 operators


def test_split_candidates_single_corpus_shuffle(spark):
    from msi_preprocessing_pipeline_spark.operators.featsel import (
        split_candidates)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cand = split_candidates(li, ["l_quantity", "l_discount"],
                            "l_extendedprice", x_scales=2, y_scale=0,
                            out_scale=-6)
    plan = plan_of(cand, "simple")
    # corpus rows shuffle exactly once — on (feature, xq) for the census;
    # the prefix/total windows ride that same partitioning (no second
    # corpus exchange; Window sort is within partitions)
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) <= 2, exchanges  # census partial+final pair max
    assert "HashAggregate" in plan  # map-side combine before the shuffle


def test_time_weighted_mean_two_entity_exchanges(spark):
    from msi_preprocessing_pipeline_spark.operators.windows import (
        time_weighted_mean)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = time_weighted_mean(ev, "value", "user_id", "ts",
                             tiebreak=["event_id"])
    plan = plan_of(out, "simple")
    exchanges = [ln for ln in plan.splitlines()
                 if "Exchange hashpartitioning" in ln]
    # lead-window partitioning + group aggregate — both on user_id only
    assert all("user_id" in ln for ln in exchanges)
    assert len(exchanges) <= 2, exchanges


def test_ps_match_axis_broadcast_back(spark):
    from msi_preprocessing_pipeline_spark.operators.experiment import (
        ps_match)

    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .where(F.col("event_type").isin("purchase", "view"))
          .select("event_id",
                  (F.col("event_type") == "purchase").alias("treat"),
                  "value"))
    out = ps_match(ev, "treat", "value", "event_id", caliper=0.25)
    plan = plan_of(out, "simple")
    # treated rows join the score->control map WITHOUT shuffling the
    # corpus on score: the axis side is small, AQE/stats broadcast it
    assert "BroadcastHashJoin" in plan or "Exchange" in plan
    # the global sweep windows run on the distinct-score axis only: no
    # corpus-wide single-partition exchange of the raw event rows
    assert plan.count("Exchange SinglePartition") <= 2, plan


def test_oof_target_encode_broadcast_join(spark):
    from msi_preprocessing_pipeline_spark.operators.training import (
        target_encode_oof)

    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .withColumn("fold", (F.col("event_id") % 5).cast("int")))
    out = target_encode_oof(ev, "event_type", "value", "fold")
    plan = plan_of(out, "simple")
    assert "BroadcastHashJoin" in plan  # encode table broadcasts back


def test_cusum_changepoint_single_entity_partitioning(spark):
    from msi_preprocessing_pipeline_spark.operators.drift import (
        cusum_changepoint)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = cusum_changepoint(ev, "user_id", "ts", "value",
                            tiebreak=["event_id"])
    plan = plan_of(out, "simple")
    # every exchange is on the entity key — no global sort, no single
    # partition collapse of corpus rows
    assert "Exchange SinglePartition" not in plan, plan
    exchanges = [ln for ln in plan.splitlines()
                 if "Exchange hashpartitioning" in ln]
    assert exchanges and all("user_id" in ln for ln in exchanges)


def test_benford_profile_single_scan_census(spark):
    from msi_preprocessing_pipeline_spark.operators.profile import (
        benford_profile)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = plan_of(benford_profile(li, "l_extendedprice"), "simple")
    # ONE parquet scan: census + total + frame all derive from it
    assert plan.count("FileScan parquet") == 1, plan
    assert "HashAggregate" in plan  # map-side combined census


def test_quantile_normalize_broadcast_axis(spark):
    from msi_preprocessing_pipeline_spark.operators.encoding import (
        quantile_normalize)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(quantile_normalize(docs, "source", "n_chars",
                                      "doc_id", scale=0), "simple")
    # the census axis joins back as a broadcast range join — corpus rows
    # are never range-shuffled
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" \
        in plan, plan
