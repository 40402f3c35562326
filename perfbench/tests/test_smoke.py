"""Every workload end to end at a smoke size, untraced and traced, and the
metric names against ``BENCHMARK.json``. Each run starts its own Spark JVM
(about a minute per run)."""

import json
import os

import pytest

from perfbench import metrics, run
from perfbench.workloads import PitSql, Serve

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _result(capsys, argv):
    assert run.main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_benchmark_json_lists_the_metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        metrics.units(False)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        metrics.units(True)
    assert {w["name"] for w in bench["workloads"]} == {"serve", "pit_sql"}


@pytest.fixture()
def smoke_sizes(monkeypatch):
    monkeypatch.setattr(Serve, "ROWS", 240)
    monkeypatch.setattr(PitSql, "EVENTS", 5000)
    monkeypatch.setattr(PitSql, "USERS", 500)


@pytest.mark.parametrize("workload", ["serve", "pit_sql"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_and_is_correct(smoke_sizes, capsys, workload, trace):
    res = _result(capsys, ["--workload", workload, "--seed", "7",
                           "--seconds", "1", "--trace", str(trace)])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    assert set(res["metrics"]) == set(metrics.units(bool(trace)))
    values = {k: v["value"] for k, v in res["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values())
    elif workload == "serve":
        # the broadcast as-of keeps the row side shuffle-free
        assert values["asof.exchanges"] == 0
        assert 0 < values["kernels.share"] and values["kernels.pafft_ms"] > 0
        assert values["pipeline.fit_s"] > values["kernels.gmm_fit_s"] > 0
    else:
        assert values["asof.exchanges"] >= 1
        assert values["windows.rolling_range_s"] > 0
        assert values["kernels.share"] == 0
