# Developer loop for flux_spark. The driver runs bench.py / the correctness
# gate itself; these targets are the local replicas.

PY ?= python
SF_DIR ?= /root/testdata/sf0.01

.PHONY: test oracle bench perfbench smoke

test:
	$(PY) -m pytest tests/ -q

# Full oracle sweep: every queries() entry vs its DuckDB twin at $(SF_DIR).
# Appends the dated summary to ORACLE_SWEEPS.log (committed each round).
oracle:
	$(PY) tests/oracle_check.py $(SF_DIR) 2>&1 | tail -n 160 | tee /tmp/oracle_sweep.out
	@{ echo "== sweep $$(git rev-parse --short HEAD) $(SF_DIR) =="; \
	   tail -n 3 /tmp/oracle_sweep.out; } >> ORACLE_SWEEPS.log

bench:
	$(PY) bench.py

# The gated benchmark (BENCHMARK.json): its own tests, then one log_tail run.
perfbench:
	$(PY) -m pytest perfbench/tests -q
	$(PY) perfbench/run.py --workload log_tail --seed 1

# Cheap regression net: every registry query executes at sf0.001.
smoke:
	$(PY) -m pytest tests/test_registry_smoke.py -q
