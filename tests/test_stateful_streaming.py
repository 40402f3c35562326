"""Online point-in-time enrichment: the broadcast training-set plan over a
streaming spine emits exactly the batch result."""

import os
import shutil

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_training_set_matches_batch(spark, tmp_path):
    """Online PIT enrichment: build_training_set with the broadcast
    strategy runs unchanged on a STREAMING spine (stream-static broadcast
    as-of is stateless) and emits exactly the batch result."""
    from msi_preprocessing_pipeline_spark.operators.training import (
        FeatureSpec, build_training_set)

    ev_dir = str(tmp_path / "events_ts")
    os.makedirs(ev_dir)
    shutil.copy(f"{SF_DIR}/events.parquet", f"{ev_dir}/part-0.parquet")
    raw = spark.read.parquet(ev_dir)
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    feats = [FeatureSpec(
        raw.where(F.col("event_type") == "click")
           .select("user_id", ms.alias("fts"), F.col("value").alias("v")),
        ts_col="fts", value_cols=["v"], prefix="click_",
        strategy="broadcast")]

    def spine_of(df):
        return (df.where(F.col("event_type") == "purchase")
                .select("event_id", "user_id", ms.alias("pms")))

    batch = build_training_set(spine_of(raw), on="user_id",
                               spine_ts="pms", features=feats).toPandas()

    stream_spine = spine_of(
        spark.readStream.schema(raw.schema).parquet(ev_dir))
    out = build_training_set(stream_spine, on="user_id", spine_ts="pms",
                             features=feats)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("pit_stream").trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("select * from pit_stream").toPandas()

    cols = sorted(batch.columns)
    canon = lambda p: (p[cols].sort_values(cols)  # noqa: E731
                       .reset_index(drop=True))
    assert len(got) == len(batch) > 0
    import pandas as pd
    pd.testing.assert_frame_equal(canon(got), canon(batch))
