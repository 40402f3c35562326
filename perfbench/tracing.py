"""In-memory spans around the calls the benchmark makes into each layer.

A span records its name, start, end, parent and the request it belongs to.
While a span is open its id is the SparkContext job group, so every job in
the event log maps back to the innermost span that caused it. Calls made
inside the program (the driver-side steps of ``fit``) are timed by swapping
module attributes for wrappers; ``Tracer.restore`` puts the originals back.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark_context):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark_context
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span: dict | None) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id",
                                  span["id"] if span else None)
        self._sc.setLocalProperty("spark.job.description",
                                  span["name"] if span else None)

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent["request"]
        rec = {"id": f"pb-{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None,
               "request": request, "attrs": attrs,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str, label_arg: int | None = None):
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``label_arg`` names the positional argument recorded as the label."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            label = (str(args[label_arg])
                     if label_arg is not None and len(args) > label_arg
                     else None)
            with self.span(name, label=label):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, roots: list[dict]) -> set[str]:
        """Ids of ``roots`` and every span nested under them."""
        ids = {s["id"] for s in roots}
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the part its children cover."""
    child_cover: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_cover[s["parent"]] = (child_cover.get(s["parent"], 0.0)
                                        + duration(s))
    out: dict[str, float] = {}
    for s in spans:
        own = duration(s) - child_cover.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points and the driver-side steps of ``fit``."""
    from msi_preprocessing_pipeline_spark.kernels import gmm
    from msi_preprocessing_pipeline_spark.operators import (asof, spectrum,
                                                            training, windows)
    from msi_preprocessing_pipeline_spark.plans import pipeline, runner

    fp, sr = pipeline.FeaturePipeline, runner.StageRunner
    tracer.wrap(fp, "fit", "pipeline.fit")
    tracer.wrap(fp, "fit_checkpointed", "pipeline.fit")
    tracer.wrap(fp, "transform", "pipeline.transform")
    tracer.wrap(sr, "run_stage", "runner.stage", label_arg=1)
    tracer.wrap(sr, "run_artifact", "runner.artifact", label_arg=1)
    for fn in ("tic_outlier_thresholds", "masked_mean_reference",
               "masked_weighted_mean_scalar"):
        tracer.wrap(spectrum, fn, f"spectrum.{fn}")
    tracer.wrap(gmm, "estimate_spectrum_gmm", "kernels.gmm_fit")
    tracer.wrap(pipeline, "filter_components", "pipeline.filter_components")
    # the entry queries import these at call time, so they see the wrappers
    for mod, fns in ((asof, ("asof_join", "backfill")),
                     (training, ("build_training_set_fused",
                                 "pit_window_agg")),
                     (windows, ("session_stats", "rolling_range"))):
        for fn in fns:
            tracer.wrap(mod, fn, f"{mod.__name__.rsplit('.', 1)[1]}.{fn}")
