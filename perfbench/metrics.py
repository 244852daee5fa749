"""Metric math and Spark event-log extraction; pure functions, no Spark."""

from __future__ import annotations

import json
import math
import statistics

PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def geomean(values) -> float:
    """Geometric mean of positive values."""
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geomean needs at least one value, all positive")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(samples, ladder=PERCENTILE_LADDER):
    """Highest percentile of ``ladder`` with at least ten samples above it.

    Uses the nearest-rank definition: the p-th percentile of n sorted
    samples is the one at rank ceil(p/100 * n), which leaves n - rank
    samples beyond it. Returns ``(p, value)``, or None when even the
    lowest rung leaves fewer than ten samples beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in ladder:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return p, xs[rank - 1]
    return None


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children) -> float:
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - covered(clipped)


# SQL metric names of Spark 4.1's Python operators (PythonSQLMetrics).
PYTHON_METRICS = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "total_s",
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
}
TIME_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


def _python_accumulators(plan, out: dict) -> None:
    """Map accumulator id -> (python metric key, scale) over a plan tree."""
    metrics = plan.get("metrics", [])
    names = {m["name"] for m in metrics}
    python_node = "data sent to Python workers" in names
    for m in metrics:
        key = PYTHON_METRICS.get(m["name"])
        if key is None and python_node and m["name"] == "number of output rows":
            key = "rows_received"
        if key is not None:
            out[m["accumulatorId"]] = (key, TIME_SCALE.get(m.get("metricType"), 1.0))
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def read_event_log(lines, group_filter) -> dict:
    """Totals over the tasks of jobs whose group id passes ``group_filter``.

    ``lines`` are the JSON lines of an uncompressed, non-rolling event log.
    Returns ``{"jvm": {...}, "python": {...}, "jobs": {group: count},
    "stages": [...]}``; each stage is ``{"group", "stage", "start", "end"}``
    in epoch seconds, so a stage can be parented to the query whose job
    group launched it.
    """
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    py_acc: dict[int, tuple] = {}
    jvm = dict.fromkeys(
        ("task_run_s", "task_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes", "stages", "tasks", "failed_tasks"), 0)
    python = dict.fromkeys(
        ("boot_s", "init_s", "total_s", "data_sent_bytes", "data_received_bytes",
         "rows_received"), 0)
    stages = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None and group_filter(group):
                jobs[group] = jobs.get(group, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is not None:
                jvm["stages"] += 1
                stages.append({"group": group, "stage": info["Stage ID"],
                               "start": info.get("Submission Time", 0) / 1e3,
                               "end": info.get("Completion Time", 0) / 1e3})
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") not in stage_group:
                continue
            info = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            jvm["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                jvm["failed_tasks"] += 1
            jvm["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            jvm["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            jvm["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            jvm["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            jvm["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            jvm["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            jvm["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                hit = py_acc.get(acc.get("ID"))
                if hit is not None:
                    key, scale = hit
                    python[key] += float(acc.get("Update", 0)) * scale
    return {"jvm": jvm, "python": python, "jobs": jobs, "stages": stages}
