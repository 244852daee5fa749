#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs every registered query through Spark AND its DuckDB oracle on the same
parquet tables, compares row-count + sorted-column schema + order-insensitive
value hash.  Usage: python scripts/check_correctness.py [sf_dir] [name ...]
(optional names restrict the run to those queries).

Set CHECK_PLAIN_SESSION=1 to use a bare SparkSession like the driver's gate
(no get_spark() builder confs) — catches confs that queries wrongly assume.

Evidence modes (the committed CORRECTNESS_local_r{N}*.json workflow):

* CHECK_JSON_OUT=path — write the full gate-shaped report.  Each entry
  carries a content ``anchor`` (sha256 of the registering query module's
  source at run time) and ``_meta`` records ``engine_tree_hash`` (digest
  over every engine source file) + the generating commit.  The preflight
  splice lint (tests/test_plans.py::test_local_evidence_spliced_current)
  recomputes both against the working tree, so evidence whose anchors
  predate a code change cannot pass by timestamp alone (VERDICT r13
  Next #5 — the r13 lint compared commit times only, which a
  touch-the-file splice could satisfy without re-running anything).
* CHECK_SPLICE_INTO=path — re-run the named queries (or ``--stale`` to
  select every entry whose recorded anchor mismatches the current
  module source), update exactly those entries + their anchors in the
  existing JSON, refresh _meta.engine_tree_hash, and append an honest
  _meta.splices record (CHECK_SPLICE_NOTE sets the note).  Re-running
  the queries is the ONLY path that refreshes anchors.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vunnel_spark.session import TABLES  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = set(sys.argv[2:])


def canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row (struct) — compare key-sorted
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def engine_tree_hash() -> str:
    """Digest over every engine source file (the splice lint recomputes
    this against the working tree)."""
    h = hashlib.sha256()
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(os.path.join(REPO, "vunnel_spark")):
        for fn in files:
            if fn.endswith(".py"):
                paths.append(os.path.join(root, fn))
    for p in sorted(paths):
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def module_anchor(fn) -> str | None:
    """sha256 of the source file that registered a query (per-entry
    content anchor; None when the source can't be located)."""
    import inspect

    try:
        src = inspect.getsourcefile(fn)
        with open(src, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()[:16]
    except (TypeError, OSError):
        return None


def _git_short_head() -> str:
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:  # noqa: BLE001
        return "unknown"


def main() -> None:
    from vunnel_spark.registry import all_oracles, all_queries
    from vunnel_spark.session import get_spark

    if os.environ.get("CHECK_PLAIN_SESSION"):
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("correctness_check_plain")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = all_queries(), all_oracles()
    splice_path = os.environ.get("CHECK_SPLICE_INTO")
    only = set(ONLY)
    if splice_path:
        import json

        with open(splice_path) as f:
            existing = json.load(f)
        if "--stale" in only:
            only.discard("--stale")
            for name, entry in existing.items():
                if name == "_meta":
                    continue
                cur = module_anchor(qs[name]) if name in qs else None
                if entry.get("anchor") != cur:
                    only.add(name)
            print(f"splice --stale selected: {sorted(only) or 'nothing'}")
            if not only:
                print("all anchors current; nothing to splice")
                sys.exit(0)
    n_pass = n_fail = n_rows_only = 0
    report: dict[str, dict] = {}
    for name in sorted(qs):
        if only and name not in only:
            continue
        rec = {"rows_match": False, "schema_match": False, "hash_match": False,
               "spark_rows": None, "oracle_rows": None, "err": None,
               "anchor": module_anchor(qs[name])}
        report[name] = rec
        try:
            sdf = qs[name](spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            rec["err"] = f"spark error: {type(e).__name__}: {e}"
            n_fail += 1
            continue
        rec["spark_rows"] = len(srows)
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            rec["err"] = "no oracle (rows-only)"
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {type(e).__name__}: {e}")
            rec["err"] = f"oracle error: {type(e).__name__}: {e}"
            n_fail += 1
            continue
        rec["oracle_rows"] = len(orows)
        problems = []
        rec["rows_match"] = len(srows) == len(orows)
        if not rec["rows_match"]:
            problems.append(f"rows {len(srows)} != {len(orows)}")
        rec["schema_match"] = sorted(c.lower() for c in scols) == sorted(
            c.lower() for c in ocols
        )
        if not rec["schema_match"]:
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh = value_hash([c.lower() for c in scols], [tuple(r) for r in srows])
            oh = value_hash([c.lower() for c in ocols], orows)
            rec["hash_match"] = sh == oh
            if sh != oh:
                problems.append(f"hash {sh} != {oh}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok    {name} ({len(srows)} rows)")
            n_pass += 1
    out_path = os.environ.get("CHECK_JSON_OUT")
    if out_path:
        import json

        report["_meta"] = {
            "engine_tree_hash": engine_tree_hash(),
            "at_commit": _git_short_head(),
            "splices": [],
        }
        with open(out_path, "w") as f:
            json.dump(report, f, indent=2)
    if splice_path and not n_fail:
        import json

        spliced = {n: r for n, r in report.items() if n != "_meta"}
        existing.update(spliced)
        meta = existing.setdefault("_meta", {})
        meta["engine_tree_hash"] = engine_tree_hash()
        meta.setdefault("splices", []).append({
            "at_commit": _git_short_head(),
            "queries": sorted(spliced),
            "note": os.environ.get("CHECK_SPLICE_NOTE", "re-ran and spliced"),
        })
        with open(splice_path, "w") as f:
            json.dump(existing, f, indent=2)
        print(f"spliced {len(report)} entries into {splice_path}")
    elif splice_path:
        print("splice ABORTED: failures above — evidence file unchanged")
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
