"""One benchmark session: set up Spark, check every query against its
oracle, then time passes over the workload for about --seconds. With
``--setup-only`` it only sets up and times that.

Started by ``run.py`` in a fresh process whose environment already points
Spark's local dirs, ``TMPDIR`` and the event log (in a traced run) into the
run's own directory. Writes one JSON document to ``--out``.

It drives only the public API: ``vunnel_spark.session.get_spark`` and
``load_tables``, then ``vunnel_spark.registry.all_queries()[name](spark,
data_dir)``, each result consumed in full by a ``noop`` write. One client,
one query at a time (a closed loop).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import time

from metrics import read_event_log, self_time
from oracle import Oracle
from workloads import WORKLOADS

CALIB_ROWS = 25_000_000
# Nominal wall of one timed pass of either workload on a 4-core machine. A
# run makes the same number of timed passes however fast the machine runs:
# a deadline would give a slow run fewer passes, so more of its median
# would come from the passes the JIT is still warming.
PASS_S = 3.0


class Spans:
    """In-memory spans: ``{id, parent, name, start, end}``, epoch seconds."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.items.append({"id": len(self.items), "parent": parent, "name": name,
                           "start": start, "end": end})
        return len(self.items) - 1


def drain(roots) -> tuple[int, int]:
    """Bytes and files the writer queries left under ``roots``; then empty them."""
    nbytes = nfiles = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                path = os.path.join(dirpath, f)
                if not os.path.islink(path):
                    nbytes += os.path.getsize(path)
                    nfiles += 1
        for entry in os.listdir(root):
            path = os.path.join(root, entry)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
    return nbytes, nfiles


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def python_worker_pids(jvm_pid: int) -> list[int]:
    """Python processes descended from the JVM (the PySpark daemon and workers)."""
    parents: dict[int, int] = {}
    names: dict[int, str] = {}
    for status in glob.glob("/proc/[0-9]*/status"):
        try:
            with open(status) as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        pid = int(status.split("/")[2])
        parents[pid] = int(fields.get("PPid", "0").strip())
        names[pid] = fields.get("Name", "").strip()
    out = []
    for pid, name in names.items():
        p = parents.get(pid, 0)
        while p > 1 and p != jvm_pid:
            p = parents.get(p, 0)
        if p == jvm_pid and name.startswith("python"):
            out.append(pid)
    return out


def cpu_steal() -> tuple[int, int]:
    """(all, steal) CPU jiffies so far, from /proc/stat; steal is time the
    hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), (ticks[7] if len(ticks) > 7 else 0)


def jvm_hash_s(spark) -> float:
    """Calibration probe: data-free JVM compute through whole-stage codegen."""
    from pyspark.sql import functions as F

    spark.sparkContext.setJobGroup("calib", "calib")
    t0 = time.perf_counter()
    spark.range(CALIB_ROWS).select(F.bit_xor(F.xxhash64("id"))).collect()
    return time.perf_counter() - t0


def error_text(exc: BaseException) -> str:
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0] if lines else ''}"[:300]


def setup(args, spans: Spans, parent: int):
    """The cold set-up of this process: ``get_spark`` (which launches the
    JVM), ``load_tables`` and a warm-up ``count()`` of every table."""
    from vunnel_spark.session import get_spark, load_tables

    s0 = time.time()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=args.cpus)
    t1 = time.perf_counter()
    for df in load_tables(spark, args.data).values():
        df.count()
    t2 = time.perf_counter()
    spans.add("setup", s0, time.time(), parent)
    return spark, {"get_spark_s": t1 - t0, "load_tables_s": t2 - t1, "setup_s": t2 - t0}


def run(args) -> dict:
    spans = Spans()
    run_start = time.time()
    run_span = spans.add("run", run_start, run_start)
    spark, timing = setup(args, spans, run_span)
    if args.setup_only:
        spark.stop()
        return {"setups": [timing]}

    from vunnel_spark import registry

    workload = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    sc = spark.sparkContext
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    queries, oracles = registry.all_queries(), registry.all_oracles()
    missing = [q for q in workload if q not in queries or q not in oracles]
    if missing:
        raise SystemExit(f"workload {args.workload}: not registered or without oracle: {missing}")

    sinks = (os.environ["TMPDIR"], args.warehouse)
    drain(sinks)
    failures: list[dict] = []
    attempted = 0

    # Untimed check pass; it is also the warm-up pass.
    oracle = Oracle(args.data)
    result_rows: dict[str, int] = {}
    check_start = time.time()
    check_span = spans.add("check", check_start, check_start, run_span)
    order = list(workload)
    rng.shuffle(order)
    for name in order:
        attempted += 1
        sc.setJobGroup(f"check:{name}", name)
        q0 = time.time()
        try:
            df = queries[name](spark, args.data)
            rows = df.collect()
            result_rows[name] = len(rows)
            err = oracle.mismatch(oracles[name], df.columns, rows)
        except Exception as exc:  # noqa: BLE001  a failed query is a result
            err = error_text(exc)
        spans.add(name, q0, time.time(), check_span)
        drain(sinks)
        spark.catalog.clearCache()
        if err:
            failures.append({"query": name, "phase": "check", "error": err})
    spans.items[check_span]["end"] = time.time()
    oracle.close()

    def run_pass(label: str) -> list[dict]:
        """One pass over the workload in a fresh seeded order."""
        nonlocal attempted
        order = list(workload)
        rng.shuffle(order)
        p0 = time.time()
        pass_span = spans.add(label, p0, p0, run_span)
        recs = []
        for name in order:
            attempted += 1
            rec = timed_query(spark, queries[name], name, label, args, spans, pass_span)
            rec["sink_bytes"], rec["sink_files"] = drain(sinks)
            spark.catalog.clearCache()
            if rec.get("error"):
                failures.append({"query": name, "phase": label, "error": rec["error"]})
            recs.append(rec)
        spans.items[pass_span]["end"] = time.time()
        return recs

    # One more untimed pass: after the check pass the JIT is still warming up.
    warmup_start = time.time()
    run_pass("warmup")
    timed_start = time.time()

    # Timed passes, each in its own seeded order, with interleaved calibration.
    calib = []
    passes: list[list[dict]] = []
    steal0 = cpu_steal()
    for _ in range(max(2, round(args.seconds / PASS_S))):
        calib.append(jvm_hash_s(spark))
        passes.append(run_pass(f"pass{len(passes)}"))
    calib.append(jvm_hash_s(spark))
    steal = [b - a for a, b in zip(steal0, cpu_steal())]

    jvm_mb = vm_hwm_mb(jvm_pid)
    py_mb = max([vm_hwm_mb(os.getpid())] + [vm_hwm_mb(p) for p in python_worker_pids(jvm_pid)])
    app_id = sc.applicationId
    env = {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
    spark.stop()
    run_end = spans.items[run_span]["end"] = time.time()

    out = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setups": [timing], "passes": passes, "calib_s": calib,
        "result_rows": result_rows, "attempted": attempted, "failures": failures,
        "mem": {"jvm_peak_rss_mb": jvm_mb, "python_peak_rss_mb": py_mb},
        "env": env,
        "steal_frac": steal[1] / steal[0] if steal[0] else 0.0,
        "phase_s": {"setup": check_start - run_start, "check": warmup_start - check_start,
                    "warmup": timed_start - warmup_start, "timed": run_end - timed_start},
    }
    if args.trace:
        out["trace"] = trace_layers(args, app_id, passes, spans)
        with open(args.spans, "w") as f:
            json.dump(spans.items, f)
    return out


def timed_query(spark, fn, name, label, args, spans, parent) -> dict:
    """Construct, then execute with a noop write; in a traced run also read
    the Catalyst phase times of the result's plan afterwards."""
    sc = spark.sparkContext
    rec = {"query": name}
    q0 = time.time()
    qspan = spans.add(name, q0, q0, parent)
    try:
        sc.setJobGroup(f"{label}:{name}:construct", name)
        t0 = time.perf_counter()
        df = fn(spark, args.data)
        t1 = time.perf_counter()
        q1 = time.time()
        sc.setJobGroup(f"{label}:{name}:execute", name)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        q2 = time.time()
    except Exception as exc:  # noqa: BLE001  a failed query is a result
        rec["error"] = error_text(exc)
        spans.items[qspan]["end"] = time.time()
        return rec
    rec["construct_s"], rec["execute_s"] = t1 - t0, t2 - t1
    rec["construct_span"] = spans.add("construct", q0, q1, qspan)
    rec["execute_span"] = spans.add("execute", q1, q2, qspan)
    spans.items[qspan]["end"] = q2
    if args.trace:
        # Replays optimization and physical planning of the result's own
        # QueryExecution (the noop write planned a copy of it); analysis
        # ran eagerly inside the construct call. Outside the timed spans.
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        rec["catalyst"] = {
            p: (phases.apply(p).durationMs() / 1e3 if phases.contains(p) else 0.0)
            for p in ("analysis", "optimization", "planning")
        }
    return rec


def trace_layers(args, app_id, passes, spans) -> dict:
    """Per-pass layer numbers from the event log and the spans."""
    log = os.path.join(args.eventlog_dir, app_id)
    with open(log) as f:
        ev = read_event_log(f, lambda g: g.startswith("pass"))
    n = len(passes)
    by_group: dict[str, list] = {}
    for st in ev["stages"]:
        by_group.setdefault(st["group"], []).append((st["start"], st["end"]))
    construct_jobs = sum(c for g, c in ev["jobs"].items() if g.endswith(":construct"))
    exec_self = construct_self = 0.0
    catalyst = dict.fromkeys(("analysis", "optimization", "planning"), 0.0)
    for k, recs in enumerate(passes):
        for rec in recs:
            if "execute_span" not in rec:
                continue
            for phase in ("construct", "execute"):
                span_id = rec[f"{phase}_span"]
                stages = by_group.get(f"pass{k}:{rec['query']}:{phase}", [])
                for start, end in stages:
                    spans.add("stage", start, end, span_id)
                s = spans.items[span_id]
                own = self_time((s["start"], s["end"]), stages)
                if phase == "execute":
                    exec_self += own
                else:
                    construct_self += own
            for p in catalyst:
                catalyst[p] += rec["catalyst"][p]
    return {
        "jvm": {k: v / n for k, v in ev["jvm"].items()},
        "python": {k: v / n for k, v in ev["python"].items()},
        "construct_jobs": construct_jobs / n,
        "execute_self_s": exec_self / n,
        "construct_self_s": construct_self / n,
        "catalyst": {p: v / n for p, v in catalyst.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--eventlog-dir", default="")
    ap.add_argument("--spans", default="")
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
