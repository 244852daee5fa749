#!/usr/bin/env python3
"""vunnel_spark benchmark: one command, every metric by name with its unit.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It copies the fixed sf0.01 input tables
(``perfbench/data/sf0.01``) into ``.perfbench/``, times cold set-ups in
fresh processes, runs one benchmark session (``worker.py``), prints a report,
and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The seed sets the query
order of every pass. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` it also runs a traced session and the metrics are the
per-layer ones, plus ``trace.overhead_frac`` (traced ``wall_s`` over
untraced ``wall_s``).

Exits 1 when a query raised or did not match its DuckDB oracle, and 2 when
the repository's engine is not beside it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import geomean, tail_percentile  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUN_LIMIT_S = 170  # every session of one invocation ends within this
SETUPS = 2  # cold set-ups per invocation, each in a fresh process; setup_s is their median
SETUP_LIMIT_S = 40  # one set-up-only session ends within this
FIXTURE = os.path.join(HERE, "data", "sf0.01")


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def group_alive(pgid: int) -> bool:
    for stat in os.listdir("/proc"):
        if not stat.isdigit():
            continue
        try:
            with open(f"/proc/{stat}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int, grace_s: float) -> None:
    """Wait ``grace_s`` for a session's processes to exit, then signal the
    group (TERM, later KILL) until none is left."""
    start = time.monotonic()
    while group_alive(pgid):
        waited = time.monotonic() - start
        if waited > grace_s:
            try:
                os.killpg(pgid, signal.SIGKILL if waited > grace_s + 5 else signal.SIGTERM)
            except ProcessLookupError:
                return
        time.sleep(0.1)


def session(root: str, run_dir: str, args, tag: str, data: str, timeout: float,
            trace: bool = False, setup_only: bool = False) -> dict:
    """Run one ``worker.py`` session in its own process group."""
    sdir = os.path.join(run_dir, tag)
    paths = {k: os.path.join(sdir, k) for k in ("local", "tmp", "jtmp", "warehouse", "events")}
    for p in paths.values():
        os.makedirs(p)
    # -XX:-UsePerfData keeps the JVMs from writing perf data to the system temp directory.
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={paths['jtmp']}"
    submit = [
        "--driver-java-options", jvm_opts,
        "--conf", f"spark.sql.warehouse.dir={paths['warehouse']}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{paths['events']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": paths["local"],
        "TMPDIR": paths["tmp"],
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
    })
    out = os.path.join(sdir, "result.json")
    spans = os.path.join(root, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(int(trace)),
        "--cpus", str(args.cpus), "--data", data, "--warehouse", paths["warehouse"],
        "--eventlog-dir", paths["events"], "--spans", spans, "--out", out,
    ] + (["--setup-only"] if setup_only else [])
    proc = subprocess.Popen(cmd, cwd=sdir, env=env, stdout=sys.stderr, start_new_session=True)
    code = None
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc.pid, grace_s=5.0 if code is not None else 0.0)
        proc.wait()
    if code != 0 or not os.path.exists(out):
        fail(f"{tag} session {'timed out' if code is None else f'exited {code}'}", 1)
    with open(out) as f:
        return json.load(f)


def pass_walls(res: dict) -> list[float]:
    return [sum(r["construct_s"] + r["execute_s"] for r in recs)
            for recs in res["passes"] if all("execute_s" in r for r in recs)]


def query_times(res: dict) -> dict[str, list[float]]:
    per_query: dict[str, list[float]] = {}
    for recs in res["passes"]:
        for r in recs:
            if "execute_s" in r:
                per_query.setdefault(r["query"], []).append(r["construct_s"] + r["execute_s"])
    return per_query


def end_to_end(res: dict, setups: list[dict]) -> dict:
    walls = pass_walls(res)
    per_query = {q: statistics.median(v) for q, v in query_times(res).items()}
    stored = [sum(r.get("sink_bytes", 0) for r in recs) for recs in res["passes"]]
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
        "wall_s": (statistics.median(walls) if walls else float("nan"), "s"),
        "geomean_query_s": (geomean(per_query.values()) if per_query else float("nan"), "s"),
        "failed_frac": (len(res["failures"]) / res["attempted"], "frac"),
        "stored_mb": (statistics.median(stored) / 1e6, "MB"),
    }


def per_layer(res: dict, setups: list[dict], untraced_wall: float, cpus: int) -> dict:
    tr = res["trace"]
    passes = res["passes"]
    med = statistics.median
    construct = med(sum(r.get("construct_s", 0) for r in recs) for recs in passes)
    action = med(sum(r.get("execute_s", 0) for r in recs) for recs in passes)
    wall = med(pass_walls(res) or [float("nan")])
    sink_bytes = med(sum(r.get("sink_bytes", 0) for r in recs) for recs in passes)
    sink_files = med(sum(r.get("sink_files", 0) for r in recs) for recs in passes)
    writers = {r["query"] for recs in passes for r in recs if r.get("sink_files")}
    writer_rows = sum(res["result_rows"].get(q, 0) for q in writers)
    m = {
        "session.get_spark_s": (med(s["get_spark_s"] for s in setups), "s"),
        "session.load_tables_s": (med(s["load_tables_s"] for s in setups), "s"),
        "queries.construct_s": (construct, "s"),
        "queries.construct_self_s": (tr["construct_self_s"], "s"),
        "queries.construct_jobs": (tr["construct_jobs"], "count"),
        "catalyst.analysis_s": (tr["catalyst"]["analysis"], "s"),
        "catalyst.optimization_s": (tr["catalyst"]["optimization"], "s"),
        "catalyst.planning_s": (tr["catalyst"]["planning"], "s"),
        "execute.action_s": (action, "s"),
        "execute.self_s": (tr["execute_self_s"], "s"),
    }
    units = {"_s": "s", "_bytes": "bytes"}
    for layer in ("jvm", "python"):
        for k, v in tr[layer].items():
            unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
            m[f"{layer}.{k}"] = (v, unit)
    m["jvm.slot_idle_frac"] = (1 - tr["jvm"]["task_run_s"] / (wall * cpus), "frac")
    m.update({
        "sinks.bytes_written": (sink_bytes, "bytes"),
        "sinks.files_written": (sink_files, "count"),
        "sinks.bytes_per_row": (sink_bytes / writer_rows if writer_rows else 0.0, "bytes/row"),
        "mem.jvm_peak_rss_mb": (res["mem"]["jvm_peak_rss_mb"], "MiB"),
        "mem.python_peak_rss_mb": (res["mem"]["python_peak_rss_mb"], "MiB"),
        "calib.jvm_hash_s": (med(res["calib_s"]), "s"),
        "trace.overhead_frac": (wall / untraced_wall, "frac"),
    })
    return m


def environment(root: str, cpus: int, res: dict) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        commit = "unknown"
    digest = hashlib.sha256()
    for dirpath, dirs, files in os.walk(os.path.join(root, "vunnel_spark")):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    digest.update(f.read())
    return {"nproc": cpus, "mem_total_gib": round(mem_kb / 2**20, 1), **res["env"],
            "commit": commit, "source_digest": digest.hexdigest()[:16]}


def report(title: str, metrics: dict) -> None:
    print(f"# {title}")
    for name, (value, unit) in metrics.items():
        print(f"{name:32s} {value:14.6g} {unit}")


def main() -> None:
    ap = argparse.ArgumentParser(description="vunnel_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    # A terminated run still stops its session's processes (see session()).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "vunnel_spark", "session.py")):
        fail("run from the repository root: vunnel_spark/ is not here", 2)
    args.cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = os.path.join(run_dir, "data")
        shutil.copytree(FIXTURE, data)

        def remaining() -> float:
            return RUN_LIMIT_S - (time.monotonic() - started)

        # A traced run takes its per-layer set-up times from its two sessions.
        probes = 0 if args.trace else SETUPS - 1
        setups = [session(root, run_dir, args, f"setup{i}", data, SETUP_LIMIT_S, setup_only=True)
                  ["setups"][0] for i in range(probes)]
        untraced = session(root, run_dir, args, "untraced", data,
                           remaining() / 2 if args.trace else remaining())
        setups += untraced["setups"]
        results = [untraced]
        if args.trace:
            results.append(session(root, run_dir, args, "traced", data, remaining(), trace=True))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(untraced, setups)
    env = environment(root, args.cpus, untraced)
    print(f"# workload {args.workload} seed {args.seed}: {', '.join(WORKLOADS[args.workload])}")
    print(f"# loop: closed, one client, local[{args.cpus}]; input: the sf0.01 fixture tables")
    print("# env " + json.dumps(env))
    walls = pass_walls(untraced)
    tail = tail_percentile(walls)
    print(f"# pass walls (s): {[round(w, 3) for w in walls]}; calib jvm_hash_s "
          f"{[round(c, 3) for c in untraced['calib_s']]}")
    print(f"# wall_s over {len(walls)} passes: median {statistics.median(walls) if walls else 'n/a'}"
          f", tail {f'p{tail[0]:g} {tail[1]:.4f}' if tail else 'n/a (fewer than 11 samples)'}")
    print("# cold set-ups (s): " + json.dumps([{k: round(v, 3) for k, v in s.items()} for s in setups]))
    print("# session phases (s): " + json.dumps({k: round(v, 2) for k, v in untraced["phase_s"].items()})
          + f"; cpu steal during timed passes {untraced['steal_frac']:.3f}; invocation so far "
          f"{time.monotonic() - started:.1f}s")
    print("# query times per pass (s): " + json.dumps(query_times(untraced)))
    report("end to end (untraced)", e2e)
    metrics = {k: e2e[k] for k in ("setup_s", "wall_s", "geomean_query_s")}
    if args.trace:
        metrics = per_layer(results[1], setups + results[1]["setups"], e2e["wall_s"][0], args.cpus)
        report("per layer (traced)", metrics)
    failures = [f for r in results for f in r["failures"]]
    for f in failures:
        print(f"# FAILED {f['query']} ({f['phase']}): {f['error']}")
    attempted = sum(r["attempted"] for r in results)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
