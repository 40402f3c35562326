"""Streaming feature serving.

The serving hot path (per-row version pick + fused featurization, one UDF)
is stateless given a fitted artifact set, so it runs unchanged as a
Structured Streaming transformation: ``readStream`` over the sequence table
directory → :meth:`FeaturePipeline.transform` (one ``mapInArrow``) →
``writeStream``. Late/replayed rows get the same zero-leakage semantics (a
row only ever sees artifact versions at-or-before its ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import spectrum as sp
from ..oracle import PipelineConfig
from ..plans.pipeline import FeaturePipeline


def streaming_features(spark: SparkSession, input_dir: str,
                       artifacts: list[sp.ArtifactSet],
                       source_axes: dict, config: PipelineConfig,
                       schema: str = ("doc_id string, tokens array<int>, "
                                      "n_tok int, source string, ts long"),
                       max_files_per_trigger: int = 8) -> DataFrame:
    """Streaming DataFrame of features over files arriving in ``input_dir``."""
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_dir))
    return FeaturePipeline(spark, source_axes, config).transform(stream,
                                                                 artifacts)


def run_stream_to_parquet(features: DataFrame, out_dir: str,
                          checkpoint_dir: str):
    """Drive the bounded stream to completion into parquet (exactly-once via
    the checkpoint dir; resuming a killed query continues from the commit
    log)."""
    q = (features.writeStream.outputMode("append")
         .format("parquet").option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
