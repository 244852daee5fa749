"""Tests of the benchmark's metric math; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import steadiness  # noqa: E402
from metrics import (  # noqa: E402
    covered,
    geomean,
    quartile_spread,
    read_event_log,
    self_time,
    tail_percentile,
)


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([0.5]) == pytest.approx(0.5)
    # every query weighs the same: scaling one query scales the mean by its root
    base = geomean([1.0, 1.0, 1.0, 1.0])
    assert geomean([16.0, 1.0, 1.0, 1.0]) == pytest.approx(base * 2.0)
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_tail_percentile_needs_ten_samples_beyond():
    # fewer than 11 samples: no percentile leaves ten beyond it
    assert tail_percentile(range(10)) is None
    # 20 samples: p50 is rank 10, leaving exactly ten beyond
    assert tail_percentile(range(1, 21)) == (50.0, 10)
    # 100 samples: p90 is rank 90 (ten beyond); p95 would leave five
    assert tail_percentile(range(1, 101)) == (90.0, 90)
    # 1000 samples: p99 is rank 990, ten beyond
    assert tail_percentile(range(1, 1001)) == (99.0, 990)
    # order of the input does not matter
    assert tail_percentile(reversed(range(1, 101))) == (90.0, 90)


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3)]) == 3
    assert covered([(0, 10), (2, 3), (4, 5)]) == 10
    assert covered([(5, 6), (0, 1), (0.5, 1.5)]) == pytest.approx(2.5)


def test_self_time_subtracts_union_of_children():
    assert self_time((0, 10), []) == 10
    # overlapping children are counted once
    assert self_time((0, 10), [(1, 4), (3, 6)]) == 5
    # children reaching outside the span are clipped to it
    assert self_time((0, 10), [(-5, 2), (9, 20)]) == 7
    # children outside the span do not count
    assert self_time((0, 10), [(10, 12), (-3, 0)]) == 10
    # fully covered
    assert self_time((0, 10), [(0, 6), (5, 10)]) == 0


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, med, q3 = 11.75, 14.5, 17.25  # exclusive method: ranks 2.75 and 8.25 of 10
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / med)


def test_event_log_extraction_from_recorded_log():
    """A traced run of the PNG resize query (three chained mapInPandas
    operators) in job group "m8"; one ungrouped job must be left out."""
    with open(os.path.join(HERE, "eventlog_m8.jsonl")) as f:
        ev = read_event_log(f, lambda g: g == "m8")
    jvm, py = ev["jvm"], ev["python"]
    assert jvm["stages"] == 3 and jvm["tasks"] == 3 and jvm["failed_tasks"] == 0
    assert jvm["task_run_s"] == pytest.approx(3.363)
    assert jvm["task_cpu_s"] == pytest.approx(0.799551835)
    assert jvm["gc_s"] == pytest.approx(0.018)
    assert jvm["input_bytes"] == 5954
    # 'timing' SQL metrics are milliseconds
    assert py["boot_s"] == pytest.approx(1.216)
    assert py["init_s"] == pytest.approx(2.325)
    assert py["total_s"] == pytest.approx(4.631)
    assert py["data_sent_bytes"] == 299648
    assert py["data_received_bytes"] == 433472
    # 'number of output rows' counts only on the Python operators
    assert py["rows_received"] == 2500
    assert [s["stage"] for s in ev["stages"]] == [40, 41, 42]
    assert all(s["group"] == "m8" and s["end"] >= s["start"] for s in ev["stages"])
    # the same log seen through another group holds nothing
    with open(os.path.join(HERE, "eventlog_m8.jsonl")) as f:
        none = read_event_log(f, lambda g: g == "other")
    assert none["jvm"]["tasks"] == 0 and none["python"]["total_s"] == 0


def test_event_log_shuffle_spill_and_failed_tasks():
    def task(stage, ok=True, **tm):
        metrics = {"Executor Run Time": 100, "Executor CPU Time": 5e7, "JVM GC Time": 10,
                   "Input Metrics": {"Bytes Read": 0},
                   "Shuffle Write Metrics": {"Shuffle Bytes Written": tm.get("sw", 0)},
                   "Shuffle Read Metrics": {"Remote Bytes Read": tm.get("rr", 0),
                                            "Local Bytes Read": tm.get("lr", 0)},
                   "Disk Bytes Spilled": tm.get("spill", 0)}
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
                "Task Info": {"Failed": not ok, "Accumulables": []}, "Task Metrics": metrics}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "pass0:q:execute"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "check:q"}},
        task(1, sw=1000), task(1, sw=24),
        task(2, lr=600, rr=424, spill=77), task(2, ok=False),
        task(3, sw=99999),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1000, "Completion Time": 3000}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 3, "Submission Time": 1000, "Completion Time": 3000}},
    ]
    ev = read_event_log((json.dumps(e) for e in events), lambda g: g.startswith("pass"))
    jvm = ev["jvm"]
    assert jvm["tasks"] == 4 and jvm["failed_tasks"] == 1 and jvm["stages"] == 1
    assert jvm["shuffle_write_bytes"] == 1024
    assert jvm["shuffle_read_bytes"] == 1024
    assert jvm["spill_bytes"] == 77
    assert jvm["task_run_s"] == pytest.approx(0.4)
    assert jvm["task_cpu_s"] == pytest.approx(0.2)
    assert ev["stages"] == [{"group": "pass0:q:execute", "stage": 1, "start": 1.0, "end": 3.0}]
    assert ev["jobs"] == {"pass0:q:execute": 1}


def _set(wall_values, setup_values=None):
    setup_values = setup_values or [2.0] * len(wall_values)
    return {"w": [
        {"seed": i, "exit": 0, "elapsed_s": 50.0, "result": {
            "correct": True, "metrics": {
                "setup_s": {"value": s, "unit": "s"},
                "wall_s": {"value": w, "unit": "s"},
                "geomean_query_s": {"value": w / 5, "unit": "s"}}}}
        for i, (w, s) in enumerate(zip(wall_values, setup_values))]}


def test_steadiness_check_against_bounds(tmp_path, monkeypatch):
    spec = {"end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "geomean_query_s", "unit": "s", "better": "lower", "bound": 0.1}]}
    monkeypatch.setattr(steadiness, "load_spec", lambda root: spec)
    steady = [5.0, 5.1, 4.9, 5.05, 4.95, 5.0, 5.02, 4.98, 5.1, 4.9]
    paths = {}
    for name, walls, setups in (
        ("a", steady, None),
        ("b", [w * 1.05 for w in steady], None),            # 5% worse: within 0.1
        ("c", [w * 1.2 for w in steady], None),             # 20% worse: beyond 0.1
        ("d", [3, 7, 4, 6, 5, 3, 7, 4, 6, 5], None),        # spread beyond the bound
        ("e", steady, [1, 9, 2, 8, 3, 7, 4, 6, 5, 5]),      # setup_s spread beyond its bound
        ("f", steady, [2.6] * 10),                          # setup_s median 30% worse
    ):
        paths[name] = tmp_path / f"{name}.json"
        paths[name].write_text(json.dumps(_set(walls, setups)))
    assert steadiness.check(".", [paths["a"]])
    assert steadiness.check(".", [paths["a"], paths["b"]])
    assert not steadiness.check(".", [paths["a"], paths["c"]])
    assert steadiness.check(".", [paths["c"], paths["a"]])   # better is fine
    assert not steadiness.check(".", [paths["d"]])
    assert not steadiness.check(".", [paths["e"]])
    assert not steadiness.check(".", [paths["a"], paths["f"]])

