"""The benchmark's workloads.

Each workload generates its input from the seed, sets up (input load, any
fit, one warm-up pass), runs one timed operation per ``op`` call, checks its
outputs against an oracle outside the timed region, and, on a traced run,
turns the spans and the Spark event log into per-layer metrics.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import numpy as np

from . import data, eventlog, oracles
from .tracing import Tracer, duration

NOOP = "noop"


def _write_noop(df) -> None:
    df.write.format(NOOP).mode("overwrite").save()


def _ms(t: float) -> float:
    return t * 1000.0


def engine_metrics(log: eventlog.EventLog, jobs: list[int], wall_s: float,
                   cores: int, passes: int) -> dict[str, float]:
    """Spark engine totals over ``jobs``, per timed pass."""
    tasks = log.tasks_of(jobs)
    cpu_s = sum(t["cpu_ns"] for t in tasks) * 1e-9
    return {
        "engine.jobs": len(jobs) / passes,
        "engine.stages": len(log.stages_of(jobs)) / passes,
        "engine.tasks": len(tasks) / passes,
        "engine.failed_tasks": sum(t["failed"] for t in tasks) / passes,
        "engine.executor_cpu_s": cpu_s / passes,
        "engine.cpu_util": cpu_s / (wall_s * cores),
        "engine.gc_s": sum(t["gc_ms"] for t in tasks) * 1e-3 / passes,
        "engine.shuffle_write_bytes":
            sum(t["shuffle_write_bytes"] for t in tasks) / passes,
        "engine.spill_bytes": sum(t["spill_bytes"] for t in tasks) / passes,
    }


class Workload:
    """Interface shared by the workloads: ``generate`` the seeded input,
    ``load`` it into a session, ``prepare`` (fit, warm-up), ``op`` is one
    timed pass, ``check`` runs the oracle and ``layers`` derives per-layer
    metrics. ``tracer`` is set on traced runs only."""

    name = ""
    # the timed loop's median absorbs the few slower passes that follow
    WARMUP_PASSES = 1

    def __init__(self, run):
        self.run = run
        self.tracer: Tracer | None = None
        self.spark = None

    def warm_up(self) -> None:
        for _ in range(self.WARMUP_PASSES):
            self.op(-1)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def timed_spans(self, name: str) -> list[dict]:
        """Spans of ``name`` opened inside a timed pass (not in set-up)."""
        return [s for s in self.tracer.named(name) if s["request"] is not None]

    def pass_jobs(self, log: eventlog.EventLog) -> list[int]:
        jobs = log.jobs_in(self.tracer.descendants(self.tracer.named("pass")))
        if not jobs:
            raise RuntimeError("no Spark job of a timed pass in the event log")
        return jobs

    def pass_wall_s(self) -> float:
        return sum(duration(s) for s in self.tracer.named("pass"))

    def common_layers(self, log: eventlog.EventLog) -> dict[str, float]:
        jobs = self.pass_jobs(log)
        passes = len(self.tracer.named("pass"))
        out = engine_metrics(log, jobs, self.pass_wall_s(), self.run.cores,
                             passes)
        out["sources.input_bytes"] = log.driver_metric(
            log.executions_of(jobs), "Scan parquet ",
            "size of files read") / passes
        out["sources.scan_splits"] = self.splits
        return out


# ---------------------------------------------------------------- serve


class Serve(Workload):
    """``FeaturePipeline.transform`` over the whole table to a noop sink,
    against one artifact fitted with ``fit_checkpointed`` in set-up."""

    name = "serve"
    ROWS = 2400
    FILES = 32        # 16 splits on 4 cores: the scan stays shuffle-free
    ORACLE_ROWS = 8
    KERNEL_ROWS = 32
    KERNEL_REPEATS = 3

    def generate(self) -> dict:
        from msi_preprocessing_pipeline_spark.oracle import PipelineConfig
        from msi_preprocessing_pipeline_spark.sources import synthetic

        self.config = PipelineConfig()
        self.plan = data.source_plan(self.ROWS)
        self.table = data.spectra_table(self.plan, self.run.seed,
                                        self.config.epoch_base)
        self.path = self.run.path("spectra")
        data.write_parquet(self.table, self.path, self.FILES)
        self.rows = self.table.num_rows
        self.axes = synthetic.source_axes_for(self.plan, data.CHANNELS)
        # the artifact is fitted on the first third of every source's rows
        # and valid from the first row on
        self.fit_max_ts = (self.config.epoch_base
                           + (max(self.plan.values()) // 3) * data.TS_STEP)
        self.art = None
        return {"sizes": {"rows": self.rows, "channels": data.CHANNELS,
                          "sources": self.plan, "files": self.FILES},
                "input_sha256": data.digest(self.table)}

    def load(self, spark) -> None:
        from msi_preprocessing_pipeline_spark.plans.pipeline import (
            FeaturePipeline)

        self.spark = spark
        self.df = spark.read.parquet(self.path)
        self.splits = self.df.rdd.getNumPartitions()
        self.pipe = FeaturePipeline(spark, self.axes, self.config)

    def prepare(self) -> None:
        """Fit the artifact (once per run), then warm up."""
        from msi_preprocessing_pipeline_spark.plans.runner import StageRunner

        if self.art is None:
            self.runner = StageRunner(self.spark, self.run.path("fit"))
            self.art = self.pipe.fit_checkpointed(
                self.df, self.runner, version=1,
                valid_from_ts=self.config.epoch_base,
                max_ts=self.fit_max_ts)
        self.warm_up()

    def op(self, i: int) -> None:
        _write_noop(self.pipe.transform(self.df, [self.art]))

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        rng = np.random.default_rng(self.run.seed)
        pick = sorted(rng.choice(self.rows, self.ORACLE_ROWS, replace=False))
        sample = self.table.take(pick)
        ids = sample.column("doc_id").to_pylist()
        got = [r.asDict() for r in
               self.pipe.transform(self.df.where(F.col("doc_id").isin(ids)),
                                   [self.art])
               .select("doc_id", "artifact_version", "features").collect()]
        ts = dict(zip(ids, sample.column("ts").to_pylist()))
        expected = oracles.expected_features(data.rows_of(sample), ts,
                                             [self.art], self.axes,
                                             self.config)
        return oracles.check_features(got, expected)

    def kernel_times(self) -> dict[str, float]:
        """Per-row milliseconds of each serve kernel, single process, over a
        seeded row sample: the median over repeats of the sample mean."""
        from msi_preprocessing_pipeline_spark.kernels import (
            alignment, axis, baseline, convolve, merge)

        art, cfg = self.art, self.config
        rng = np.random.default_rng(self.run.seed)
        pick = sorted(rng.choice(self.rows, self.KERNEL_ROWS, replace=False))
        rows = data.rows_of(self.table.take(pick))
        bands = convolve.build_bands(art.mz_axis, art.gmm_mu, art.gmm_sig,
                                     art.gmm_w)
        steps = ("resample", "baseline", "pafft", "featurize")
        reps = {k: [] for k in steps}
        for _ in range(self.KERNEL_REPEATS):
            acc = dict.fromkeys(steps, 0.0)
            for _doc, tokens, _n, src in rows:
                t0 = time.perf_counter()
                x = axis.resample_row(art.mz_axis, self.axes[src],
                                      np.asarray(tokens, dtype=float))
                t1 = time.perf_counter()
                x = baseline.remove_baseline(
                    art.mz_axis, x, cfg.baseline_max_width,
                    cfg.baseline_min_width, cfg.baseline_increment)
                t2 = time.perf_counter()
                x = alignment.pafft(x, art.pafft_reference, art.mz_axis,
                                    cfg.pafft_minimum_segment,
                                    cfg.pafft_shift_limit)
                t3 = time.perf_counter()
                x = x * (art.tic_reference_tic / x.sum())
                merge.apply_merging(convolve.featurize_batch(x[None, :],
                                                             bands),
                                    art.merge_starts, art.merge_lengths)
                t4 = time.perf_counter()
                for k, dt in zip(steps, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                    acc[k] += dt
            for k in steps:
                reps[k].append(_ms(acc[k]) / len(rows))
        return {f"kernels.{k}_ms": statistics.median(v)
                for k, v in reps.items()}

    def layers(self, log: eventlog.EventLog,
               untraced_pass_s: float) -> dict[str, float]:
        tr = self.tracer
        out = self.common_layers(log)
        jobs = self.pass_jobs(log)
        py = log.python_tasks(log.tasks_of(jobs))
        n = len(tr.named("pass"))

        def arrow(metric: str) -> float:
            return log.sql_metric(py, ("MapInArrow",), metric) / n

        out.update({
            "spectrum.python_run_s": arrow("time to run Python workers"),
            "spectrum.python_start_s":
                arrow("time to start Python workers")
                + arrow("time to initialize Python workers"),
            "spectrum.bytes_to_python": arrow("data sent to Python workers"),
            "spectrum.bytes_from_python":
                arrow("data returned from Python workers"),
            "spectrum.tasks": len(py) / n,
            "spectrum.task_skew": eventlog.task_skew(py),
        })
        executions = log.executions_of(jobs)
        if not executions:
            raise RuntimeError("no SQL execution of a serve pass was seen")
        out["asof.exchanges"] = log.row_side_exchanges(executions) / n
        out["pipeline.transform_call_s"] = statistics.median(
            duration(s) for s in self.timed_spans("pipeline.transform"))

        (fit,) = tr.named("pipeline.fit")
        fit_jobs = log.jobs_in(tr.descendants([fit]))
        out["pipeline.fit_s"] = duration(fit)
        out["pipeline.driver_s"] = duration(fit) - log.covered_seconds(
            fit_jobs, _ms(fit["start"]), _ms(fit["end"]))
        lineage = self.runner.lineage()
        fit_rows = sum(r["rows"] for r in lineage
                       if r["stage"] == "resample_baseline")
        out["pipeline.refit_rows_ratio"] = fit_rows / self.rows
        stages = tr.named("runner.stage")
        recorded = {r["stage"]: r["seconds"] for r in lineage
                    if r["kind"] == "stage"}
        out["runner.stage_s"] = sum(duration(s) for s in stages)
        out["runner.artifact_s"] = sum(duration(s) for s in
                                       tr.named("runner.artifact"))
        out["runner.bytes_written"] = sum(
            t["output_bytes"]
            for t in log.tasks_of(log.jobs_in(tr.descendants(stages))))
        out["runner.lineage_s"] = sum(
            duration(s) - recorded[s["attrs"]["label"]] for s in stages)

        kernels = self.kernel_times()
        out.update(kernels)
        out["kernels.gmm_fit_s"] = sum(duration(s) for s in
                                       tr.named("kernels.gmm_fit"))
        per_row_s = sum(kernels.values()) / 1000.0
        out["kernels.share"] = (self.rows * per_row_s
                                / (self.run.cores * untraced_pass_s))
        return out


# -------------------------------------------------------------- pit_sql


class PitSql(Workload):
    """Six ``__spark_entry__`` point-in-time queries, each to a noop sink,
    over a generated ``events`` table."""

    name = "pit_sql"
    # the JVM's JIT is still speeding up the first timed pass after two
    WARMUP_PASSES = 3
    EVENTS = 200_000
    USERS = 10_000
    FILES = 8
    # entry query -> per-layer metric of its wall time
    QUERIES = {
        "asof_click_purchase": "asof.s",
        "backfill_click_value": "asof.backfill_s",
        "training_set_pit": "training.fused_s",
        "pit_agg_features": "training.pit_window_agg_s",
        "sessionize_stats": "windows.session_stats_s",
        "rolling_time_features": "windows.rolling_range_s",
    }

    def generate(self) -> dict:
        self.table = data.events_table(self.EVENTS, self.USERS,
                                       self.run.seed)
        self.sf_dir = self.run.path("sf")
        self.events_path = os.path.join(self.sf_dir, "events.parquet")
        data.write_parquet(self.table, self.events_path, self.FILES)
        self.rows = self.table.num_rows
        return {"sizes": {"events": self.EVENTS, "users": self.USERS,
                          "files": self.FILES},
                "input_sha256": data.digest(self.table)}

    def load(self, spark) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()
        self.splits = spark.read.parquet(
            self.events_path).rdd.getNumPartitions()

    def prepare(self) -> None:
        self.warm_up()

    def op(self, i: int) -> None:
        for name in self.QUERIES:
            with self.span(f"query.{name}"):
                _write_noop(self.queries[name](self.spark, self.sf_dir))

    def check(self) -> list[str]:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.sql(f"set temp_directory='{self.run.tmp}'")
            con.sql(f"create view events as select * from read_parquet("
                    f"'{self.events_path}/*.parquet')")
            problems = []
            for name in self.QUERIES:
                got = self.queries[name](self.spark, self.sf_dir).toPandas()
                problems += oracles.compare_frames(name, got,
                                                   con.sql(sql[name]).df())
            return problems
        finally:
            con.close()

    def layers(self, log: eventlog.EventLog,
               untraced_pass_s: float) -> dict[str, float]:
        tr = self.tracer
        out = self.common_layers(log)
        n = len(tr.named("pass"))

        def jobs_of(queries) -> list[int]:
            return log.jobs_in(tr.descendants(
                [s for q in queries for s in self.timed_spans(f"query.{q}")]))

        for name, metric in self.QUERIES.items():
            out[metric] = statistics.median(
                duration(s) for s in self.timed_spans(f"query.{name}"))
        for module in ("asof", "training", "windows"):
            tasks = log.tasks_of(jobs_of(
                q for q, m in self.QUERIES.items()
                if m.startswith(module + ".")))
            out[f"{module}.shuffle_bytes"] = sum(
                t["shuffle_write_bytes"] for t in tasks) / n
            out[f"{module}.spill_bytes"] = sum(
                t["spill_bytes"] for t in tasks) / n
        asof_jobs = jobs_of(["asof_click_purchase"])
        out["asof.task_skew"] = eventlog.task_skew(log.tasks_of(asof_jobs))
        executions = log.executions_of(asof_jobs)
        if not executions:
            raise RuntimeError("no SQL execution of the as-of query was seen")
        out["asof.exchanges"] = log.row_side_exchanges(executions) / n
        return out


WORKLOADS = {w.name: w for w in (Serve, PitSql)}
