"""Metric names and units: the contract ``BENCHMARK.json`` publishes.

``--trace 0`` prints every END_TO_END metric, ``--trace 1`` every PER_LAYER
metric. The contract has every workload print every metric of the mode it
runs in, so a per-layer metric a workload does not exercise reads 0 and is
listed under ``not_exercised`` in the run's record; checks that a 0 could
fake (``asof.exchanges`` on ``serve``) raise instead when the layer was not
seen. The share of failed operations is the result's ``failed`` ÷
``attempted``: a metric that is 0 on a correct run cannot carry a relative
bound.
"""

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

# metric -> (unit, workloads that exercise it)
_SERVE, _SQL, _BOTH = ("serve",), ("pit_sql",), ("serve", "pit_sql")
PER_LAYER = {
    "session.start_s": ("s", _BOTH),
    "sources.input_bytes": ("bytes", _BOTH),
    "sources.scan_splits": ("count", _BOTH),
    "pipeline.transform_call_s": ("s", _SERVE),
    "pipeline.fit_s": ("s", _SERVE),
    "pipeline.driver_s": ("s", _SERVE),
    "pipeline.refit_rows_ratio": ("ratio", _SERVE),
    "runner.stage_s": ("s", _SERVE),
    "runner.artifact_s": ("s", _SERVE),
    "runner.bytes_written": ("bytes", _SERVE),
    "runner.lineage_s": ("s", _SERVE),
    "spectrum.python_run_s": ("s", _SERVE),
    "spectrum.python_start_s": ("s", _SERVE),
    "spectrum.bytes_to_python": ("bytes", _SERVE),
    "spectrum.bytes_from_python": ("bytes", _SERVE),
    "spectrum.tasks": ("count", _SERVE),
    "spectrum.task_skew": ("ratio", _SERVE),
    "kernels.resample_ms": ("ms", _SERVE),
    "kernels.baseline_ms": ("ms", _SERVE),
    "kernels.pafft_ms": ("ms", _SERVE),
    "kernels.featurize_ms": ("ms", _SERVE),
    "kernels.gmm_fit_s": ("s", _SERVE),
    "kernels.share": ("ratio", _SERVE),
    "asof.s": ("s", _SQL),
    "asof.backfill_s": ("s", _SQL),
    "asof.shuffle_bytes": ("bytes", _SQL),
    "asof.spill_bytes": ("bytes", _SQL),
    "asof.task_skew": ("ratio", _SQL),
    "asof.exchanges": ("count", _BOTH),
    "training.fused_s": ("s", _SQL),
    "training.pit_window_agg_s": ("s", _SQL),
    "training.shuffle_bytes": ("bytes", _SQL),
    "training.spill_bytes": ("bytes", _SQL),
    "windows.session_stats_s": ("s", _SQL),
    "windows.rolling_range_s": ("s", _SQL),
    "windows.shuffle_bytes": ("bytes", _SQL),
    "windows.spill_bytes": ("bytes", _SQL),
    "engine.jobs": ("count", _BOTH),
    "engine.stages": ("count", _BOTH),
    "engine.tasks": ("count", _BOTH),
    "engine.failed_tasks": ("count", _BOTH),
    "engine.executor_cpu_s": ("s", _BOTH),
    "engine.cpu_util": ("ratio", _BOTH),
    "engine.gc_s": ("s", _BOTH),
    "engine.shuffle_write_bytes": ("bytes", _BOTH),
    "engine.spill_bytes": ("bytes", _BOTH),
    "trace.overhead": ("ratio", _BOTH),
}


def units(trace: bool) -> dict[str, str]:
    if trace:
        return {k: unit for k, (unit, _w) in PER_LAYER.items()}
    return dict(END_TO_END)


def not_exercised(workload: str) -> list[str]:
    return [k for k, (_u, wls) in PER_LAYER.items() if workload not in wls]
