"""The benchmark (``perfbench``) times package layers by swapping module
attributes for wrappers, looked up by name. A rename in the package breaks
that only at benchmark time; this test finds it in the unit suite. No Spark
session is needed: wrapping only replaces attributes."""

from perfbench.tracing import Tracer, instrument


def test_benchmark_tracing_hooks_resolve_and_restore():
    from msi_preprocessing_pipeline_spark.operators import asof, training

    named = [(training, "build_training_set_fused"),
             (training, "pit_window_agg"), (asof, "asof_join"),
             (asof, "backfill")]
    before = {(m, n): getattr(m, n) for m, n in named}
    tracer = Tracer(None)
    instrument(tracer)  # AttributeError if a wrapped name is gone
    patched = list(tracer._patched)
    try:
        assert patched
        for owner, attr, original in patched:
            assert getattr(owner, attr).__wrapped__ is original
        for (m, n), fn in before.items():
            assert getattr(m, n) is not fn
    finally:
        tracer.restore()
    for owner, attr, original in patched:
        assert getattr(owner, attr) is original
