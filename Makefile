# Developer verification targets (VERDICT r4 item #9).
#
# The iron rule this encodes: any commit that registers or changes a
# query runs `make verify-only ONLY=<names>` first; end-of-round state
# runs `make verify` (the full driver-shaped sweep) + `make test`.

PY ?= python3
SF ?= /root/testdata/sf0.01

.PHONY: test test-fast verify verify-only plan-gates bench bench-only perfbench all

# Spark spills under one scratch root; the session runs one core per
# usable host core unless SPARK_GRAFT_CPUS says otherwise.
test test-fast plan-gates: export SPARK_LOCAL_DIRS ?= /tmp/spark-local

test:            ## full pytest suite (sf0.001 oracle parity included)
	$(PY) -m pytest tests/ -q

test-fast:       ## parity tests only — the quick pre-commit gate
	$(PY) -m pytest tests/test_oracle_parity.py -q

verify:          ## full registry vs DuckDB at sf0.01 (driver-shaped)
	$(PY) tools/parity_sweep.py --sf $(SF)

verify-only:     ## targeted: make verify-only ONLY=q1,q2
	$(PY) tools/parity_sweep.py --sf $(SF) --strict --only $(ONLY)

plan-gates:      ## plan-shape assertions over every registered query
	$(PY) -m pytest tests/test_plan_quality.py -q

bench:           ## one-line JSON headline bench (sf0.1 by default)
	$(PY) bench.py

RUNS ?= 1
bench-only:      ## targeted: make bench-only ONLY=q1,q2 RUNS=5 (no BENCH.json write)
	$(PY) bench.py --only $(ONLY) --runs $(RUNS)

perfbench:       ## benchmark self-tests, then one traced run (prints pipeline.jobs_per_run)
	$(PY) -m pytest perfbench/tests -q
	$(PY) perfbench/run.py --workload pipeline_small --seed 1 --seconds 5 --trace 1

all: test verify plan-gates
