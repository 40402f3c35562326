"""Each oracle flags an injected wrong answer, and a flagged run counts
every operation as failed."""

import numpy as np
import pandas as pd

from perfbench import harness, oracles
from perfbench.run import count_failed


def _expected():
    return {"a": (1, np.array([1.0, 2.0, 3.0])), "b": (None, None)}


def _got(features_a):
    return [{"doc_id": "a", "artifact_version": 1, "features": features_a},
            {"doc_id": "b", "artifact_version": None, "features": None}]


def test_features_match_and_perturbed_vector_fails():
    assert oracles.check_features(_got([1.0, 2.0, 3.0]), _expected()) == []
    problems = oracles.check_features(_got([1.0, 2.5, 3.0]), _expected())
    assert problems == ["a: features differ from the oracle"]


def test_future_artifact_is_leakage():
    got = _got([1.0, 2.0, 3.0])
    got[1].update(artifact_version=1, features=[1.0, 2.0, 3.0])
    problems = oracles.check_features(got, _expected())
    assert "b: artifact_version 1 != None" in problems


def test_expected_version_is_latest_valid_artifact():
    class Art:
        def __init__(self, version, valid_from_ts):
            self.version, self.valid_from_ts = version, valid_from_ts

    arts = [Art(1, 100), Art(2, 200)]
    assert oracles.expected_version(99, arts) is None
    assert oracles.expected_version(100, arts) == 1
    assert oracles.expected_version(250, arts) == 2


def test_dropped_sql_row_fails():
    expected = pd.DataFrame({"event_id": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    shuffled = expected.iloc[[2, 0, 1]].reset_index(drop=True)
    assert oracles.compare_frames("q", shuffled, expected) == []
    problems = oracles.compare_frames("q", expected.iloc[:2], expected)
    assert problems == ["q: 2 rows != oracle 3"]


def test_changed_sql_value_and_dtype_fail():
    expected = pd.DataFrame({"event_id": [1, 2], "v": [0.5, 1.5]})
    changed = expected.assign(v=[0.5, 1.25])
    assert oracles.compare_frames("q", changed, expected)
    widened = expected.assign(event_id=expected.event_id.astype("int32"))
    assert oracles.compare_frames("q", widened, expected)[0].startswith(
        "q.event_id: dtype int32")


def test_oracle_problem_fails_every_operation():
    res = harness.OpResult()
    res.seconds, res.ok = [1.0, 1.0, 1.0], [True, False, True]
    assert count_failed(res, []) == 1
    assert count_failed(res, ["q: 2 rows != oracle 3"]) == 3
