"""The spark-submit driver (__main__.main), exercised in-process: fit with
checkpoints → transform from saved artifacts → PIT end-to-end."""

import json

from msi_preprocessing_pipeline_spark.__main__ import main
from msi_preprocessing_pipeline_spark.sources import synthetic


def test_cli_fit_transform_pit(spark, tmp_path, capsys):
    df = synthetic.sequences_df(spark, {"src-000": 10, "src-001": 10},
                                base_channels=512)
    in_dir = str(tmp_path / "seq")
    df.write.parquet(in_dir)
    work = str(tmp_path / "work")
    art_path = str(tmp_path / "art.json")

    assert main(["fit", "--input", in_dir, "--work-dir", work,
                 "--artifacts", art_path,
                 "--sources", "src-000,src-001",
                 "--base-channels", "512"]) == 0
    fit_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert fit_out["features"] > 0

    out_dir = str(tmp_path / "feats")
    assert main(["transform", "--input", in_dir, "--artifacts", art_path,
                 "--output", out_dir, "--sources", "src-000,src-001",
                 "--base-channels", "512"]) == 0
    tr_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert tr_out["rows"] == 20

    pit_dir = str(tmp_path / "pit")
    assert main(["pit", "--input", in_dir, "--output", pit_dir,
                 "--checkpoints", "1600000000,1600000300",
                 "--sources", "src-000,src-001",
                 "--base-channels", "512"]) == 0
    pit_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pit_out["rows"] == 20 and pit_out["versions"] == 2


def test_cli_recompute_single_stage_reuses_upstream(spark, tmp_path, capsys):
    df = synthetic.sequences_df(spark, {"src-000": 8, "src-001": 8},
                                base_channels=512)
    in_dir = str(tmp_path / "seq")
    df.write.parquet(in_dir)
    work = str(tmp_path / "work")

    assert main(["fit", "--input", in_dir, "--work-dir", work,
                 "--sources", "src-000,src-001",
                 "--base-channels", "512"]) == 0
    capsys.readouterr()

    assert main(["recompute", "--input", in_dir, "--work-dir", work,
                 "--stage", "pafft",
                 "--sources", "src-000,src-001",
                 "--base-channels", "512"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # pafft and everything downstream recomputed; upstream stages
    # (resample_baseline, thresholds, pafft_reference) reused from checkpoint
    assert "pafft" in out["recomputed"]
    assert "artifact_set" in out["recomputed"]
    for upstream in ("resample_baseline", "tic_thresholds",
                     "pafft_reference", "mz_axis"):
        assert upstream not in out["recomputed"], upstream

    # --only-stage: strictly one stage rebuilt
    assert main(["recompute", "--input", in_dir, "--work-dir", work,
                 "--stage", "pafft", "--only-stage",
                 "--sources", "src-000,src-001",
                 "--base-channels", "512"]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["recomputed"] == ["pafft"]


def test_cli_transform_work_dir_serves_current_artifacts(spark, tmp_path,
                                                         capsys):
    """A second transform with new artifacts in the same work dir must serve
    the new artifacts, not re-emit the first transform's features."""
    df = synthetic.sequences_df(spark, {"src-000": 8, "src-001": 8},
                                base_channels=512)
    in_dir = str(tmp_path / "seq")
    df.write.parquet(in_dir)
    work = str(tmp_path / "work")
    art1 = str(tmp_path / "art1.json")
    common = ["--input", in_dir, "--work-dir", work,
              "--sources", "src-000,src-001", "--base-channels", "512"]

    assert main(["fit", "--artifacts", art1] + common) == 0
    with open(art1) as f:
        row = json.load(f)
    row["version"] = 2
    art2 = str(tmp_path / "art2.json")
    with open(art2, "w") as f:
        json.dump(row, f)

    for art, version in ((art1, 1), (art2, 2)):
        out_dir = str(tmp_path / f"feats{version}")
        assert main(["transform", "--artifacts", art, "--output", out_dir]
                    + common) == 0
        capsys.readouterr()
        got = {r.artifact_version for r in
               spark.read.parquet(out_dir).select("artifact_version")
               .distinct().collect()}
        assert got == {version}


def test_threshold_diagnostics_table(spark, tmp_path):
    import pandas as pd

    from msi_preprocessing_pipeline_spark.oracle import PipelineConfig
    from msi_preprocessing_pipeline_spark.operators import spectrum as sp
    from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline
    from msi_preprocessing_pipeline_spark.plans.runner import StageRunner
    from msi_preprocessing_pipeline_spark.sources import synthetic

    plan = synthetic.source_plan(2, 8)
    df = sp.with_ts(synthetic.sequences_df(spark, plan, base_channels=512))
    axes = synthetic.source_axes_for(plan, 512)
    pipe = FeaturePipeline(spark, axes, PipelineConfig())
    art = pipe.fit(df)
    diag = pipe.threshold_diagnostics_df().toPandas()
    assert len(diag) > 0

    # a fresh checkpointed fit reports the same table; a fit resumed from
    # the artifact_set checkpoint reports an empty one, never a stale one
    ckpt = FeaturePipeline(spark, axes, PipelineConfig())
    work = str(tmp_path / "work")
    ckpt.fit_checkpointed(df, StageRunner(spark, work))
    pd.testing.assert_frame_equal(
        ckpt.threshold_diagnostics_df().toPandas(), diag)
    ckpt.fit_checkpointed(df, StageRunner(spark, work))
    assert ckpt.threshold_diagnostics_df().count() == 0

    # one chosen threshold per stage that produced thresholds; n_kept for the
    # chosen amplitude threshold must equal the survivors entering variance
    assert set(diag.columns) == {"stage", "threshold_index", "threshold",
                                 "clip", "n_candidates", "n_kept", "chosen"}
    for stage in diag.stage.unique():
        sub = diag[diag.stage == stage]
        assert sub.chosen.sum() == 1, stage
    amp = diag[diag.stage == "amplitude"]
    var = diag[diag.stage == "variance"]
    if len(amp) and len(var):
        kept_by_amp = int(amp[amp.chosen].n_kept.iloc[0])
        assert int(var.n_candidates.iloc[0]) == kept_by_amp
    assert art.gmm_mu.size > 0


def test_read_sequences_catalog_and_path(spark, tmp_path):
    from msi_preprocessing_pipeline_spark.sources.tables import (
        read_sequences, write_sequences)

    df = synthetic.sequences_df(spark, {"src-000": 5}, base_channels=128)
    path = str(tmp_path / "seqs")
    write_sequences(df, path)
    assert read_sequences(spark, path).count() == 5

    # catalog identifier route (exercises spark.read.table — the same code
    # path an Iceberg catalog table takes)
    write_sequences(df, "seq_catalog_test")
    try:
        assert read_sequences(spark, "seq_catalog_test").count() == 5
        import pytest as _pt
        with _pt.raises(ValueError):
            read_sequences(spark, path, snapshot_id=1)
    finally:
        spark.sql("drop table if exists seq_catalog_test")
