"""spark-submit / python -m entry point.

The north rule runs jobs via ``spark-submit --py-files``; this module is that
driver. Subcommands:

* ``fit``        — fit the artifact chain (checkpoint-resumable) from a
                   sequence parquet table and write the artifact set.
* ``transform``  — featurize each row under the artifact version valid at
                   its ts (one map pass); writes the feature table.
* ``pit``        — point-in-time end-to-end: fit one artifact version per
                   checkpoint in memory (no ``--work-dir``), serve all
                   rows, write features.
* ``recompute``  — invalidate one checkpoint stage (and, by default, the
                   stages after it) and refit from the kept checkpoints.

Examples::

    spark-submit --master local[32] \
        --py-files msi_preprocessing_pipeline_spark.zip \
        -m msi_preprocessing_pipeline_spark pit \
        --input /data/sequences --output /data/features \
        --checkpoints 1600000000,1600030000
"""

from __future__ import annotations

import argparse
import json
import sys


def _existing_or_new_session(args):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from msi_preprocessing_pipeline_spark.session import build_session
    return build_session("msi-spark-cli", parallelism=args.parallelism)


def _axes_for(args) -> dict:
    from msi_preprocessing_pipeline_spark.sources import synthetic

    sources = [s for s in args.sources.split(",") if s]
    return synthetic.source_axes_for(sources, args.base_channels)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="msi_preprocessing_pipeline_spark")
    p.add_argument("command", choices=["fit", "transform", "pit",
                                       "recompute"])
    p.add_argument("--stage", default=None,
                   help="recompute: checkpoint stage to invalidate and rerun "
                        f"(one of FeaturePipeline.CHECKPOINT_ORDER)")
    p.add_argument("--only-stage", action="store_true",
                   help="recompute: invalidate ONLY the named stage (debug "
                        "inspection; downstream checkpoints stay and may be "
                        "stale). Default invalidates downstream too.")
    p.add_argument("--input", required=True,
                   help="parquet dir of (doc_id, tokens, n_tok, source[, ts])")
    p.add_argument("--output", default=None, help="feature parquet dir")
    p.add_argument("--work-dir", default=None,
                   help="checkpoint/lineage dir (fit, recompute)")
    p.add_argument("--artifacts", default=None,
                   help="artifact JSON path (fit output / transform input)")
    p.add_argument("--checkpoints", default=None,
                   help="comma-separated PIT checkpoint timestamps")
    p.add_argument("--sources", required=True,
                   help="comma-separated source names (axis artifacts)")
    p.add_argument("--base-channels", type=int, default=2048)
    p.add_argument("--parallelism", type=int, default=None)
    args = p.parse_args(argv)
    if args.command == "pit" and args.work_dir:
        p.error("pit fits in memory and takes no --work-dir")

    from msi_preprocessing_pipeline_spark.operators import spectrum as sp
    from msi_preprocessing_pipeline_spark.oracle import PipelineConfig
    from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline
    from msi_preprocessing_pipeline_spark.plans.runner import StageRunner
    from pyspark.sql import functions as F

    from msi_preprocessing_pipeline_spark.sources.tables import read_sequences

    spark = _existing_or_new_session(args)
    cfg = PipelineConfig()
    axes = _axes_for(args)
    pipe = FeaturePipeline(spark, axes, cfg)

    # path → parquet dir; catalog identifier → spark.read.table (Iceberg/V2)
    df = read_sequences(spark, args.input)
    if "ts" not in df.columns:
        df = sp.with_ts(df, cfg)

    if args.command == "fit":
        if args.work_dir:
            art = pipe.fit_checkpointed(df, StageRunner(spark, args.work_dir))
        else:
            art = pipe.fit(df)
        out = args.artifacts or (args.work_dir or ".") + "/artifact_set.json"
        with open(out, "w") as f:
            json.dump(art.to_row(), f)
        print(json.dumps({"command": "fit", "artifacts": out,
                          "components": int(art.gmm_mu.size),
                          "features": int(art.merge_starts.size)}))
    elif args.command == "transform":
        with open(args.artifacts) as f:
            art = sp.ArtifactSet.from_row(json.load(f))
        pipe.transform(df, [art]).write.mode("overwrite") \
            .parquet(args.output)
        print(json.dumps({"command": "transform", "output": args.output,
                          "rows": spark.read.parquet(args.output).count()}))
    elif args.command == "pit":
        checkpoints = [int(x) for x in args.checkpoints.split(",")]
        arts = pipe.fit_pit(df, checkpoints)
        feats = pipe.transform(df, arts)
        feats.write.mode("overwrite").parquet(args.output)
        out_df = spark.read.parquet(args.output)
        print(json.dumps({
            "command": "pit", "output": args.output,
            "rows": out_df.count(),
            "versions": out_df.where(
                F.col("artifact_version").isNotNull())
            .select("artifact_version").distinct().count(),
        }))
    elif args.command == "recompute":
        # targeted single-stage rerun reusing upstream checkpoints
        # (reference per-stage debug entry, pipeline/resampling.py:129-136)
        if not args.work_dir or not args.stage:
            p.error("recompute requires --work-dir and --stage")
        order = list(FeaturePipeline.CHECKPOINT_ORDER)
        if args.stage not in order:
            p.error(f"--stage must be one of {order}")
        runner = StageRunner(spark, args.work_dir)
        targets = ([args.stage] if args.only_stage
                   else order[order.index(args.stage):])
        invalidated = [s for s in targets if runner.invalidate(s)]
        n_lineage_before = len(runner.lineage())
        art = pipe.fit_checkpointed(df, runner)
        recomputed = [r["stage"]
                      for r in runner.lineage()[n_lineage_before:]]
        out = args.artifacts or args.work_dir + "/artifact_set.json"
        with open(out, "w") as f:
            json.dump(art.to_row(), f)
        print(json.dumps({"command": "recompute", "stage": args.stage,
                          "invalidated": invalidated,
                          "recomputed": recomputed,
                          "artifacts": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
