# Pre-snapshot guards.  `make preflight` is the MINIMUM bar before any
# end-of-round commit: it is cheap enough (~2 min) that even a
# minutes-long micro-round can run it, and it catches the two failure
# classes that have actually shipped — a red static lint (round 7) and
# a gate-window query going red.  `make check` / `make test` are the
# full evidence/verification runs for normal-length rounds.

PY ?= python

.PHONY: preflight lint gate test check bench bench-test bench-legacy smoke

# static lints + plan/registry invariants (no Spark jobs beyond plan
# construction) then the CURRENT gate window against the DuckDB oracle
# at sf0.001 — the same compare the external driver runs at sf0.01
preflight: lint gate smoke

lint:
	GATE_LINT_STRICT=1 $(PY) -m pytest tests/test_registry_lint.py \
	  tests/test_plans.py::test_gate_window_composition_stable \
	  tests/test_plans.py::test_gate_priority_stamp_current \
	  tests/test_plans.py::test_local_evidence_spliced_current -q

gate:
	$(PY) -c "from vunnel_spark.queries import GATE_WINDOW; import subprocess, sys; \
	sys.exit(subprocess.call(['$(PY)', 'scripts/check_correctness.py', '/root/testdata/sf0.001', *GATE_WINDOW]))"

smoke:
	$(PY) -c "import __spark_entry__ as e; from vunnel_spark.session import get_spark; \
	s = get_spark('smoke'); df = e.entry(s); \
	q, o = e.queries(), e.oracle_sql(); \
	print('entry rows:', df.count(), 'queries:', len(q), 'oracles:', len(o))"

# full suite (~13 min) — required for normal rounds
test:
	$(PY) -m pytest tests/ -x -q

# full-registry oracle gate at sf0.001 (~6 min at sf0.01 pass the dir)
check:
	$(PY) scripts/check_correctness.py

# the repository benchmark (perfbench/README.md), both workloads
BENCH_SEED ?= 1
BENCH_SECONDS ?= 6

bench:
	for w in providers media_sinks; do \
	  python3 perfbench/run.py --workload $$w --seed $(BENCH_SEED) --seconds $(BENCH_SECONDS) --trace 0 || exit 1; \
	done

bench-test:
	python3 -m pytest perfbench/tests -q

# the older single-line headline bench, until perfbench replaces it
bench-legacy:
	$(PY) bench.py
