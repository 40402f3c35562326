"""Checkpoint/resume contract (FIXTURES.md F5): a run interrupted after any
stage resumes to byte-identical artifacts, and lineage records per-stage
throughput + per-partition row counts."""

import os

import numpy as np
import pytest

from msi_preprocessing_pipeline_spark.oracle import PipelineConfig
from msi_preprocessing_pipeline_spark.operators import spectrum as sp
from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline
from msi_preprocessing_pipeline_spark.plans.runner import StageRunner
from msi_preprocessing_pipeline_spark.sources import synthetic

CFG = PipelineConfig()
SOURCES = {"src-000": 10, "src-001": 10}


@pytest.fixture(scope="module")
def table(spark):
    df = synthetic.sequences_df(spark, SOURCES, base_channels=512)
    df = sp.with_ts(df, CFG).persist()
    df.count()
    yield df
    df.unpersist()


def _art_equal(a: sp.ArtifactSet, b: sp.ArtifactSet):
    np.testing.assert_array_equal(a.mz_axis, b.mz_axis)
    assert (a.b1, a.b2, a.tic_reference_tic) == (b.b1, b.b2,
                                                 b.tic_reference_tic)
    np.testing.assert_array_equal(a.pafft_reference, b.pafft_reference)
    np.testing.assert_array_equal(a.gmm_mu, b.gmm_mu)
    np.testing.assert_array_equal(a.merge_starts, b.merge_starts)


def test_resume_after_partial_run(spark, table, tmp_path_factory):
    axes = synthetic.source_axes_for(SOURCES, 512)
    pipe = FeaturePipeline(spark, axes, CFG)
    work = str(tmp_path_factory.mktemp("ckpt"))

    runner = StageRunner(spark, work)
    art_full = pipe.fit_checkpointed(table, runner)

    # simulate a crash after the pafft stage: wipe everything produced later
    for name in ["artifact_tic_reference_tic.json",
                 "artifact_gmm_reference.json",
                 "artifact_artifact_set.json"]:
        os.remove(f"{work}/{name}")

    runner2 = StageRunner(spark, work)
    art_resumed = pipe.fit_checkpointed(table, runner2)
    _art_equal(art_full, art_resumed)

    # a fully fresh run also agrees (determinism across work dirs)
    work3 = str(tmp_path_factory.mktemp("ckpt3"))
    art_fresh = pipe.fit_checkpointed(table, StageRunner(spark, work3))
    _art_equal(art_full, art_fresh)

    # checkpointed fit agrees with the in-memory fit
    art_mem = pipe.fit(table)
    np.testing.assert_allclose(art_resumed.gmm_mu, art_mem.gmm_mu, rtol=1e-9)
    np.testing.assert_allclose([art_resumed.b1, art_resumed.b2],
                               [art_mem.b1, art_mem.b2], rtol=1e-9)


def test_lineage_records(spark, table, tmp_path_factory):
    axes = synthetic.source_axes_for(SOURCES, 512)
    pipe = FeaturePipeline(spark, axes, CFG)
    work = str(tmp_path_factory.mktemp("lineage"))
    runner = StageRunner(spark, work)
    pipe.fit_checkpointed(table, runner)
    records = runner.lineage()
    # one record per checkpoint, in the order the CLI's recompute assumes
    assert tuple(r["stage"] for r in records) \
        == FeaturePipeline.CHECKPOINT_ORDER
    stages = [r for r in records if r["kind"] == "stage"]
    assert {r["stage"] for r in stages} == {"resample_baseline", "pafft"}
    for r in stages:
        assert r["rows"] == 20
        assert r["partitions"] >= 1
        assert sum(r["rows_per_partition"]) == r["rows"]
        assert r["rows_per_sec"] > 0
    arts = {r["stage"] for r in records if r["kind"] == "artifact"}
    assert {"mz_axis", "tic_thresholds", "pafft_reference",
            "tic_reference_tic", "gmm_reference", "artifact_set"} <= arts

    # resumed run adds NO new stage records (everything skipped)
    n_before = len(records)
    pipe.fit_checkpointed(table, StageRunner(spark, work))
    assert len(runner.lineage()) == n_before
