# Developer loop for flux_spark. The driver runs bench.py / the correctness
# gate itself; these targets are the local replicas.

PY ?= python
SF_DIR ?= /root/testdata/sf0.01

.PHONY: test oracle bench perfbench smoke

# The ROADMAP tier-1 command, plus the 25 slowest tests for the wall-time
# record.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors \
	  -p no:cacheprovider --durations=25

# Oracle sweep: every queries() entry vs its DuckDB twin at $(SF_DIR), or
# only the entries named in ORACLES (make oracle ORACLES="q1 q2"). A full
# sweep appends its dated summary to ORACLE_SWEEPS.log (committed each round).
oracle:
	$(PY) tests/oracle_check.py $(SF_DIR) $(ORACLES) 2>&1 | tail -n 160 | tee /tmp/oracle_sweep.out
	@if [ -z "$(ORACLES)" ]; then \
	  { echo "== sweep $$(git rev-parse --short HEAD) $(SF_DIR) =="; \
	    tail -n 3 /tmp/oracle_sweep.out; } >> ORACLE_SWEEPS.log; fi

bench:
	$(PY) bench.py

# The gated benchmark (BENCHMARK.json): its own tests, then one log_tail run.
perfbench:
	$(PY) -m pytest perfbench/tests -q
	$(PY) perfbench/run.py --workload log_tail --seed 1

# Cheap regression net: every registry query executes at sf0.001.
smoke:
	$(PY) -m pytest tests/test_registry_smoke.py -q
