"""Reader for Spark's plain-JSON event log.

Jobs carry the job group (the benchmark's span id) in their properties;
stages map to jobs, tasks to stages, and SQL executions to their physical
plans, whose SQL metrics (accumulators) the tasks update.
"""

from __future__ import annotations

import json
import statistics

_SQL = "org.apache.spark.sql.execution.ui."
PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
# SQL metric types and the factor to the base unit (seconds or counts)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0,
          "average": 1.0}


class EventLog:
    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.plans: dict[int, dict] = {}        # execution id -> final plan
        self.accums: dict[int, tuple] = {}      # id -> (node, metric, type)
        # execution id -> {accumulator id: value} set on the driver
        self.driver_accums: dict[int, dict[int, float]] = {}

    # ------------------------------------------------------------- queries

    def jobs_in(self, groups: set[str]) -> list[int]:
        return [j for j, job in self.jobs.items() if job["group"] in groups]

    def tasks_of(self, job_ids) -> list[dict]:
        jobs = set(job_ids)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def stages_of(self, job_ids) -> set[int]:
        """Stages that ran tasks for these jobs (skipped stages excluded)."""
        return {t["stage"] for t in self.tasks_of(job_ids)}

    def executions_of(self, job_ids) -> set[int]:
        return {self.jobs[j]["execution"] for j in job_ids
                if self.jobs[j]["execution"] is not None}

    def row_side_exchanges(self, executions) -> int:
        """Shuffle Exchange nodes in the final plans of ``executions``,
        leaving out those that only feed a broadcast (the small side of a
        broadcast join shuffles its own few rows, not the input)."""
        return sum(1 for e in executions if e in self.plans
                   for node in walk(self.plans[e], prune="BroadcastExchange")
                   if node["nodeName"] == "Exchange")

    def sql_metric(self, tasks: list[dict], nodes: tuple[str, ...],
                   metric: str) -> float:
        """Sum of task updates to SQL metric ``metric`` of plan nodes named
        in ``nodes``, in base units (seconds for timings)."""
        ids = {i: self.accums[i][2] for i in self.accums
               if self.accums[i][0] in nodes and self.accums[i][1] == metric}
        return sum(t["accums"][i] * _SCALE.get(kind, 1.0)
                   for t in tasks for i, kind in ids.items()
                   if i in t["accums"])

    def driver_metric(self, executions, node: str, metric: str) -> float:
        """Sum over ``executions`` of a driver-side SQL metric (such as a
        scan's "size of files read")."""
        return sum(v for e in executions
                   for i, v in self.driver_accums.get(e, {}).items()
                   if self.accums.get(i, ())[:2] == (node, metric))

    def python_tasks(self, tasks: list[dict]) -> list[dict]:
        """Tasks that ran a Python UDF node."""
        ids = {i for i, (node, _m, _k) in self.accums.items()
               if node in PYTHON_NODES}
        return [t for t in tasks if ids & t["accums"].keys()]

    def covered_seconds(self, job_ids, start_ms: float, end_ms: float) -> float:
        """Wall time within [start, end] during which any of the jobs ran."""
        spans = sorted((max(self.jobs[j]["submit"], start_ms),
                        min(self.jobs[j]["end"], end_ms))
                       for j in job_ids if self.jobs[j]["end"] is not None)
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in spans:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total / 1000.0


def walk(plan: dict, prune: str | None = None):
    """Plan nodes depth first; a node named ``prune`` and its subtree are
    skipped."""
    if plan["nodeName"] == prune:
        return
    yield plan
    for child in plan.get("children", ()):
        yield from walk(child, prune)


def task_skew(tasks: list[dict]) -> float:
    """Median over stages of (max ÷ median task run time)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    ratios = [max(v) / statistics.median(v) for v in by_stage.values()
              if statistics.median(v) > 0]
    return statistics.median(ratios) if ratios else 0.0


def _register_plan(log: EventLog, execution: int, plan: dict) -> None:
    log.plans[execution] = plan
    for node in walk(plan):
        for m in node.get("metrics", ()):
            log.accums[m["accumulatorId"]] = (node["nodeName"], m["name"],
                                              m["metricType"])


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                execution = props.get("spark.sql.execution.id")
                log.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e["Submission Time"], "end": None,
                    "execution": int(execution) if execution else None,
                    "ok": None}
                for s in e.get("Stage IDs", ()):
                    log.stage_job.setdefault(s, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                job = log.jobs[e["Job ID"]]
                job["end"] = e["Completion Time"]
                job["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                log.tasks.append(_task(e))
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _register_plan(log, e["executionId"], e["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                log.driver_accums.setdefault(e["executionId"], {}).update(
                    (int(i), float(v)) for i, v in e["accumUpdates"])
    return log


def _task(e: dict) -> dict:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    accums = {}
    for a in info.get("Accumulables", ()):
        if a.get("Metadata") == "sql":
            try:
                accums[a["ID"]] = float(a["Update"])
            except (TypeError, ValueError):
                pass
    return {
        "stage": e["Stage ID"],
        "launch": info["Launch Time"], "finish": info["Finish Time"],
        "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {})
        .get("Shuffle Bytes Written", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written",
                                                            0),
        "accums": accums,
    }
