"""The event-log reader on a hand-written log: jobs map to the span that
was the job group, tasks to their stage's job, SQL metrics to plan nodes."""

import json

import pytest

from perfbench import eventlog

SQL = "org.apache.spark.sql.execution.ui."


def _metric(name, acc, kind):
    return {"name": name, "accumulatorId": acc, "metricType": kind}


def _node(name, children=(), metrics=()):
    return {"nodeName": name, "children": list(children),
            "metrics": list(metrics)}


# a serve-shaped plan: the input feeds the Python node without a shuffle;
# the only Exchange sits under the broadcast of the small artifact spine
PLAN = _node("AdaptiveSparkPlan", [
    _node("MapInArrow", [
        _node("BroadcastHashJoin", [
            _node("Scan parquet ",
                  metrics=[_metric("size of files read", 12, "size")]),
            _node("BroadcastExchange", [_node("Exchange")]),
        ]),
    ], [_metric("time to run Python workers", 10, "timing"),
        _metric("data sent to Python workers", 11, "size")]),
])


def _task(stage, run_ms, accums, cpu_ns=2_000_000_000):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": run_ms,
                          "Failed": False, "Killed": False,
                          "Accumulables": [
                              {"ID": i, "Update": str(v), "Metadata": "sql"}
                              for i, v in accums.items()]},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns,
                             "JVM GC Time": 5, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": 100},
                             "Output Metrics": {"Bytes Written": 0}}}


EVENTS = [
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
     "sparkPlanInfo": PLAN},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb-3",
                                      "spark.sql.execution.id": "7"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
     "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "pb-9"}},
    _task(0, 300, {10: 250, 11: 4096}),
    _task(0, 100, {10: 50, 11: 1024}),
    _task(1, 100, {}),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000,
     "Job Result": {"Result": "JobSucceeded"}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500,
     "Job Result": {"Result": "JobSucceeded"}},
    {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 7,
     "accumUpdates": [[12, 5000]]},
]


@pytest.fixture()
def log(tmp_path):
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in EVENTS))
    return eventlog.parse(str(path))


def test_job_maps_to_its_span(log):
    assert log.jobs_in({"pb-3"}) == [0]
    assert log.jobs_in({"pb-9"}) == [1]
    assert [t["run_ms"] for t in log.tasks_of([0])] == [300, 100]


def test_sql_metrics_sum_over_the_spans_tasks(log):
    tasks = log.python_tasks(log.tasks_of([0, 1]))
    assert len(tasks) == 2
    assert log.sql_metric(tasks, ("MapInArrow",),
                          "time to run Python workers") == pytest.approx(0.3)
    assert log.sql_metric(tasks, ("MapInArrow",),
                          "data sent to Python workers") == 5120
    assert log.driver_metric({7}, "Scan parquet ",
                             "size of files read") == 5000


def test_broadcast_side_exchange_is_not_a_row_side_shuffle(log):
    assert log.executions_of([0]) == {7}
    assert log.row_side_exchanges({7}) == 0
    assert log.executions_of([1]) == set()


def test_covered_seconds_and_skew(log):
    assert log.covered_seconds([0, 1], 0, 10_000) == pytest.approx(1.5)
    assert log.covered_seconds([0], 1200, 1700) == pytest.approx(0.5)
    assert eventlog.task_skew(log.tasks_of([0])) == pytest.approx(300 / 200)
