# Developer loop for flux_spark. The driver runs bench.py / the correctness
# gate itself; these targets are the local replicas.

PY ?= python
SF_DIR ?= /root/testdata/sf0.01

.PHONY: test durability oracle bench perfbench smoke ab

# The ROADMAP tier-1 command, plus the 25 slowest tests for the wall-time
# record.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors \
	  -p no:cacheprovider --durations=25

# The crash and concurrency set that any change to durable metadata (the
# catalog, the replay files, the txn log, the offsets table, dir swaps) or
# to the segment index (torn tails, recovery, reads across a rewrite) must
# keep green.
DURABILITY_TESTS = tests/test_catalog.py tests/test_txn.py \
  tests/test_log.py::test_torn_append_retry_is_exactly_once \
  tests/test_log.py::test_append_with_batch_id_is_idempotent \
  tests/test_log.py::test_append_rows_idempotent_batch_id \
  tests/test_log.py::test_catalog_keeps_one_batch_id_and_replay_file_keeps_the_window \
  tests/test_log.py::test_crash_between_replay_write_and_catalog_save \
  tests/test_log.py::test_recreated_topic_does_not_inherit_batch_ids \
  tests/test_log.py::test_multiprocess_ingest_hammer \
  tests/test_log.py::test_concurrent_soak_produce_consume_maintenance \
  tests/test_log.py::test_concurrent_soak_fastlane_under_maintenance \
  tests/test_log.py::test_topic_rewrite_crash_recovery \
  tests/test_log.py::test_recover_hwm_from_data \
  tests/test_log.py::test_read_hides_torn_append_until_recovered \
  tests/test_log.py::test_read_since_hides_torn_append \
  tests/test_log.py::test_read_since_mixed_segment_layouts_match_spark_read \
  tests/test_log.py::test_log_start_and_recovery_after_rewrite \
  tests/test_log.py::test_segment_index_reads_offsets_of_a_file_without_statistics \
  tests/test_consumer.py::test_offsets_rewrite_crash_recovery \
  tests/test_consumer.py::test_fast_poll_under_delivery_keeps_positions \
  tests/test_consumer.py::test_driver_poll_consumes_compacted_topic \
  tests/test_consumer.py::test_spark_poll_fails_loudly_when_planned_segment_disappears \
  tests/test_streaming.py::test_stream_ingest_replay_is_noop

durability:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 1200 $(PY) -m pytest $(DURABILITY_TESTS) -q -p no:cacheprovider

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

# Interleaved A/B of the gated benchmark against an older revision:
#   make ab BASE=<rev> WORKLOAD=log_tail SEEDS="1 2 3 4 5 6 7 8 9 10"
# BASE is checked out as a git worktree under .bench_build/; each seed runs
# perfbench/run.py --trace 0 once in each tree, BASE first on odd seeds.
# Prints one line per run, then each side's medians and, per metric, in
# how many pairs the working tree was better (lower); each run's whole
# output (every metric by name) stays in $(AB_DIR)/<side>-<seed>.txt.
BASE ?= HEAD
WORKLOAD ?= log_tail
SEEDS ?= 1 2 3 4 5 6 7 8 9 10
AB_DIR = .bench_build/ab

define AB_SUMMARY
import json, statistics, sys
seeds, names = sys.argv[1].split(), ("setup_s", "unit_s", "op_p50_ms")
runs = {}
for s in seeds:
    for side in ("base", "change"):
        with open(f"$(AB_DIR)/{side}-{s}.txt") as f:
            r = json.loads(f.read().strip().splitlines()[-1])
        runs[side, s] = r
        m = "  ".join(f"{n} {r['metrics'][n]['value']:.4f}" for n in names)
        print(f"seed {s:>3} {side:<6} correct {r['correct']} failed {r['failed']}  {m}")
for side in ("base", "change"):
    cols = []
    for n in names:
        v = [runs[side, s]["metrics"][n]["value"] for s in seeds]
        q1, q2, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else v * 3
        cols.append(f"{n} {q2:.4f} (IQR {q3 - q1:.4f})")
    print(f"median {side:<6} " + "  ".join(cols))
for n in names:
    k = sum(runs["change", s]["metrics"][n]["value"] < runs["base", s]["metrics"][n]["value"] for s in seeds)
    print(f"{n}: change better in {k}/{len(seeds)}")
endef
export AB_SUMMARY

ab:
	git worktree remove --force .bench_build/base 2>/dev/null || true
	git worktree prune
	git worktree add --detach .bench_build/base $(BASE)
	rm -rf $(AB_DIR) && mkdir -p $(AB_DIR)
	for s in $(SEEDS); do \
	  if [ $$((s % 2)) -eq 1 ]; then order="base change"; else order="change base"; fi; \
	  for side in $$order; do \
	    dir=.; [ $$side = base ] && dir=.bench_build/base; \
	    (cd $$dir && $(PY) perfbench/run.py --workload $(WORKLOAD) --seed $$s --trace 0 \
	      2>/dev/null) > $(AB_DIR)/$$side-$$s.txt; \
	  done; \
	done
	$(PY) -c "$$AB_SUMMARY" "$(SEEDS)"

# Cheap regression net: every registry query executes at sf0.001.
smoke:
	$(PY) -m pytest tests/test_registry_smoke.py -q
