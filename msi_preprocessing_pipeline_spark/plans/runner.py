"""Checkpoint-resumable stage runner with per-file lineage metrics.

The reference's Luigi DAG skips any task whose output target exists
(``/root/reference/pipeline/_base.py:36-37``; atomic writes via
``temporary_path()``). The Spark analog: each stage materializes to a parquet
directory under the run's work dir with a ``_SUCCESS``-gated commit; a rerun
skips completed stages and resumes from the first missing one. Artifacts
(small JSON) checkpoint the same way.

Every stage completion appends a lineage record to ``lineage.jsonl``:
stage name, wall seconds, row count, partition count, per-partition row
histogram, and rows/sec. The counts come from the parquet footers of the
files the write produced — one partition entry per written file — so
recording lineage runs no Spark job.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class StageRunner:
    def __init__(self, spark: SparkSession, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        os.makedirs(work_dir, exist_ok=True)
        self.lineage_path = os.path.join(work_dir, "lineage.jsonl")

    # ------------------------------------------------------------- stages

    def _stage_path(self, name: str) -> str:
        return os.path.join(self.work_dir, f"stage_{name}.parquet")

    def stage_done(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._stage_path(name), "_SUCCESS"))

    def run_stage(self, name: str, build) -> DataFrame:
        """Materialize ``build()`` to parquet unless already committed; return
        the stage DataFrame (always read back from parquet so a resumed run
        sees byte-identical inputs)."""
        path = self._stage_path(name)
        if not self.stage_done(name):
            if os.path.exists(path):
                shutil.rmtree(path)  # partial output without _SUCCESS
            t0 = time.time()
            df = build()
            df.write.mode("overwrite").parquet(path)
            self._record(name, path, time.time() - t0)
        return self.spark.read.parquet(path)

    # ----------------------------------------------------------- artifacts

    def _artifact_path(self, name: str) -> str:
        return os.path.join(self.work_dir, f"artifact_{name}.json")

    def run_artifact(self, name: str, build) -> dict:
        """JSON-serializable artifact checkpoint (atomic rename commit)."""
        path = self._artifact_path(name)
        if not os.path.exists(path):
            t0 = time.time()
            value = build()
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(value, f)
            os.replace(tmp, path)
            self._append_lineage({
                "kind": "artifact", "stage": name,
                "seconds": round(time.time() - t0, 3),
                "ts": time.time(),
            })
        with open(path) as f:
            return json.load(f)

    # --------------------------------------------------------- invalidation

    def invalidate(self, name: str) -> bool:
        """Drop one stage/artifact checkpoint so the next run recomputes it
        (the targeted-recompute analog of the reference's per-stage debug
        entry points, ``/root/reference/pipeline/resampling.py:129-136``).
        Returns True if something was removed."""
        removed = False
        stage = self._stage_path(name)
        if os.path.exists(stage):
            shutil.rmtree(stage)
            removed = True
        art = self._artifact_path(name)
        if os.path.exists(art):
            os.remove(art)
            removed = True
        return removed

    # ------------------------------------------------------------- lineage

    def _record(self, name: str, path: str, seconds: float) -> None:
        per_file = sorted(
            pq.read_metadata(f).num_rows
            for f in glob.glob(os.path.join(path, "part-*.parquet")))
        rows = sum(per_file)
        self._append_lineage({
            "kind": "stage", "stage": name,
            "seconds": round(seconds, 3),
            "rows": rows,
            "partitions": len(per_file),
            "rows_per_partition": per_file,
            "rows_per_sec": round(rows / seconds, 1) if seconds > 0 else None,
            "ts": time.time(),
        })

    def _append_lineage(self, record: dict) -> None:
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(record) + "\n")

    def lineage(self) -> list[dict]:
        if not os.path.exists(self.lineage_path):
            return []
        with open(self.lineage_path) as f:
            return [json.loads(line) for line in f if line.strip()]
