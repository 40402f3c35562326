"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
full record (provenance, per-operation timings, oracle problems). With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, harness, metrics  # noqa: E402
from perfbench.tracing import Tracer, instrument, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUPS = 3          # session builds per untraced run; setup_s takes the
                    # median, so the first build's JVM launch does not count


def timed_run(run, wl, seconds: float):
    """Build the session SETUPS times (the last one stays up), fit and warm
    up once, then run the timed loop and the oracle. Returns metric values,
    record details, oracle problems and the timed operations."""
    builds = []
    for _ in range(SETUPS):
        if wl.spark is not None:
            wl.spark.stop()
        t0 = time.perf_counter()
        wl.load(run.build_session())
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    with harness.Sampler() as sampler:
        res = harness.timed_loop(wl.op, seconds)
    problems = wl.check()
    nominal_s = sampler.at_nominal_speed(res)
    values = {
        "setup_s": statistics.median(builds) + prepare_s,
        "rows_per_s": wl.rows / res.median(nominal_s),
        "peak_rss_mb": sampler.peak / 2 ** 20,
    }
    detail = {"builds_s": builds, "prepare_s": prepare_s,
              "op_s": res.seconds, "op_ok": res.ok,
              "op_nominal_s": nominal_s,
              "wall_rows_per_s": wl.rows / res.median(),
              "host_speed": sampler.host_speed(),
              "peak_jvm_rss_mb": sampler.peak_jvm / 2 ** 20}
    return values, detail, problems, res


def traced_run(run, wl, seconds: float):
    """One event-logged session with spans around every layer call and the
    timed loop, then a plain session for the few untraced passes the tracing
    overhead is measured against."""
    t0 = time.perf_counter()
    spark = run.build_session(event_log=True)
    session_s = time.perf_counter() - t0
    tracer = wl.tracer = Tracer(spark.sparkContext)
    instrument(tracer)

    def traced_op(i: int) -> None:
        with tracer.span("pass", request=i):
            wl.op(i)

    try:
        with tracer.span("setup"):
            wl.load(spark)
            wl.prepare()
        res = harness.timed_loop(traced_op, seconds)
    finally:
        tracer.restore()
    problems = wl.check()
    spark.stop()  # closes the event log
    log = eventlog.parse(run.event_log())

    wl.tracer = None
    wl.load(run.build_session())
    wl.prepare()
    plain = harness.timed_loop(wl.op, 0)  # the minimum number of passes
    wl.tracer = tracer

    values = wl.layers(log, plain.median())
    values["session.start_s"] = session_s
    values["trace.overhead"] = res.median() / plain.median()
    for name in metrics.not_exercised(wl.name):
        values.setdefault(name, 0.0)
    detail = {"traced_op_s": res.seconds, "untraced_op_s": plain.seconds,
              "not_exercised": metrics.not_exercised(wl.name),
              "span_self_s": self_times(tracer.spans), "spans": tracer.spans}
    res.seconds += plain.seconds
    res.ok += plain.ok
    return values, detail, problems, res


def count_failed(res: harness.OpResult, problems: list[str]) -> int:
    """Operations that raised; when the oracle found a wrong output, every
    operation produced it, so all of them count."""
    return res.attempted if problems else res.raised


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = harness.Run(args.workload, args.seed, bool(args.trace))
    wl = WORKLOADS[args.workload](run)
    try:
        prov = wl.generate()
        if args.trace:
            values, detail, problems, res = traced_run(run, wl, args.seconds)
        else:
            values, detail, problems, res = timed_run(run, wl, args.seconds)
    finally:
        harness.stop_spark()
        run.cleanup()
    failed = count_failed(res, problems)
    record = dict(harness.provenance(run, prov["sizes"],
                                      prov["input_sha256"]),
                  seconds=args.seconds, problems=problems, **detail)
    harness.emit(run, correct=failed == 0, attempted=res.attempted,
                 failed=failed, metrics=values,
                 units=metrics.units(bool(args.trace)), record=record)
    return 0


if __name__ == "__main__":
    sys.exit(main())
