#!/usr/bin/env python3
"""Steadiness check: are repeated runs of the same code within the bounds?

Record one set of untraced runs, one per seed, for every workload:

    python3 perfbench/steadiness.py record --seeds 1-10 --out set1.json

Check one set, or compare two sets of the same code:

    python3 perfbench/steadiness.py check set1.json [set2.json]

A set passes when, for every end-to-end metric, the quartile spread of
its values -- (Q3 - Q1) / median, with the quartiles of
``statistics.quantiles(n=4)`` -- is within the metric's bound in
BENCHMARK.json. Two sets agree when, for every metric, the second median
is not worse than the first by more than the bound. Exits 1 when a check
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import quartile_spread  # noqa: E402


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def record(root: str, seeds: list[int], workloads: list[str], out: str) -> None:
    spec = load_spec(root)
    result: dict = {}
    for wl in workloads:
        runs = result.setdefault(wl, [])
        for seed in seeds:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
            elapsed = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            runs.append({"seed": seed, "exit": proc.returncode, "elapsed_s": elapsed,
                         "result": last, "report": [ln for ln in lines if ln.startswith("#")]})
            metrics = {k: round(v["value"], 4) for k, v in (last or {}).get("metrics", {}).items()}
            print(f"{wl} seed {seed}: exit {proc.returncode} in {elapsed:.1f}s {metrics}", flush=True)
            with open(out, "w") as f:
                json.dump(result, f, indent=1)


def values(runs: list[dict], metric: str) -> list[float]:
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if r["result"] and metric in r["result"]["metrics"]]


def check(root: str, paths: list[str]) -> bool:
    spec = load_spec(root)
    sets = []
    for p in paths:
        with open(p) as f:
            sets.append(json.load(f))
    ok = True
    for wl in sets[0]:
        for i, s in enumerate(sets):
            runs = s.get(wl, [])
            bad = [r["seed"] for r in runs if r["exit"] != 0 or not (r["result"] or {}).get("correct")]
            elapsed = [r["elapsed_s"] for r in runs]
            print(f"{wl} set{i + 1}: {len(runs)} runs, failed seeds {bad or 'none'}, "
                  f"run time median {statistics.median(elapsed):.1f}s max {max(elapsed):.1f}s")
            ok &= not bad
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for i, s in enumerate(sets):
                vals = values(s.get(wl, []), name)
                if len(vals) < 2:
                    print(f"  {name:16s} set{i + 1}: fewer than two values")
                    ok = False
                    continue
                spread = quartile_spread(vals)
                meds.append(statistics.median(vals))
                verdict = ("ok" if spread <= bound / 3 else "within bound" if spread <= bound
                           else "OVER BOUND")
                ok &= spread <= bound
                print(f"  {name:16s} set{i + 1}: median {meds[-1]:.4f} spread {spread:.4f} "
                      f"(bound {bound}) {verdict}")
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
                agree = worse <= bound
                ok &= agree
                print(f"  {name:16s} set2 vs set1: {worse:+.4f} {'ok' if agree else 'WORSE THAN BOUND'}")
    print("steady" if ok else "NOT steady")
    return ok


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    rec = sub.add_parser("record")
    rec.add_argument("--seeds", default="1-10")
    rec.add_argument("--workloads", default="")
    rec.add_argument("--out", required=True)
    chk = sub.add_parser("check")
    chk.add_argument("sets", nargs="+")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    if args.cmd == "record":
        workloads = [w for w in args.workloads.split(",") if w] or [
            w["name"] for w in load_spec(root)["workloads"]]
        record(root, parse_seeds(args.seeds), workloads, args.out)
    else:
        sys.exit(0 if check(root, args.sets[:2]) else 1)


if __name__ == "__main__":
    main()
