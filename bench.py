#!/usr/bin/env python
"""Benchmark harness (BASELINE.md plan): at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], measure

1. ingest throughput — events table produced into a 3-partition topic log
   through the full routing/offset/commit path (reference floor: ~2.5k
   rec/s, optimistic reading ~22.6k rec/s, ProducerBenchmark.java:65-72);
2. consume throughput — poll-everything round-trip via the offset-bounded
   reader (reference published none, ConsumerBenchmark.java:15-19);
3. analytics + LLM-pipeline headline queries (the layer the reference
   lacks; correctness gated by the DuckDB oracle at sf0.01).

Output contract (VERDICT r5 #4 — the driver tail-captures stdout and
parses the LAST line): the FINAL stdout line is the compact summary JSON
{"metric", "value" (total sec), "unit", "queries" (name -> sec), "sf",
"records_per_s"}; the per-run detail {"runs": name -> [per-run sec]} is
printed on its own EARLIER line so a verdict can attribute deltas to code
vs the box's ~1.6x single-run jitter without pushing the summary line's
head out of the capture window (min-of-N is the headline; the summary
also carries per-query MEDIANS — first-vs-second-run spreads reach 6.6x
at sf0.1, so min-of-2 could not attribute ±50% deltas, VERDICT r6 #2;
SPARK_GRAFT_BENCH_ROUNDS or --repeat N set N, default 3).

Each query is forced with a noop-sink WRITE, not count(): under count()
Catalyst prunes every column and can eliminate entire subtrees whose
output is unused — e.g. emb_semantic_dedup's final left join (right side
unique on the join key, columns unreferenced) vanished, timing the query
at 1.9 s where the honest full-result execution is output-bound. The
noop sink materializes every result column through the full plan.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

ANALYTICS_HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q9_product_profit",
    "q21_sole_returned_supplier",
    "events_hourly",
    "events_sessionize",
    "events_asof_purchase",
    "events_salted_user_stats",
    # r12 (VERDICT r11 #4): the COLLAPSING twin replaces the pair
    # enumerators (doc_dedup_minhash_lsh, _lsh_auto) in the headline —
    # pair output is quadratic in the duplicate mass by the r9
    # output-bound law (the three recorded sf100 wall skips), while the
    # per-doc verdict form is linear-output at every scale. The pair
    # forms stay correctness-gated at sf0.01.
    "doc_dedup_minhash_collapse",
    "doc_simhash",
    "ann_cosine_topk",
    # r8: _auto replaces the pinned-8-plane variant (fixed-config law:
    # candidate volume ~ n^2/2^planes, measured 67 s at sf10; auto keeps
    # planes ~ log2(n) and the gate variant stays correctness-pinned)
    "emb_near_dup_lsh_auto",
    "events_funnel",
    "events_hll_registers",
    "orders_market_basket",
    "doc_ngram_repetition",
    "doc_contamination",
    "ann_cosine_lsh",
    # r11 additions: the occupancy-derived bucket cap on a 40x-replica
    # corpus (the duplicated-mass ANN scale path) and containment with
    # the derived df winnowing prefilter (candidate volume <= cap x
    # corpus — the scale path of the gate-only uncapped enumeration)
    "ann_cosine_lsh_autocap",
    "doc_containment_auto",
    "events_kmv_sketch",
    "events_rolling_1h",
    "doc_pii_scrub",
    "parts_triangles",
    "orders_bucketed_join",
    "doc_bigram_score",
    "events_bloom_filtered_join",
    # round-3 additions
    "doc_filter_report",
    "doc_unigram_oov",
    "doc_curation_pipeline",
    "emb_pq_codes",
    "emb_pq_adc_topk",
    "emb_ivf_recall",
    # round-4 additions (r7: emb_semantic_dedup -> _auto, the production
    # path — the fixed-K gate variant is quadratic by construction and
    # stays correctness-gated, not benched; VERDICT r6 watch item #2)
    "emb_semantic_dedup_auto",
    "doc_perplexity_buckets",
    "events_grouping_sets",
    # round-6 additions
    "emb_knn_label_vote",
    "doc_source_mixture",
    # round-7 additions (benched per VERDICT r7 #4; r8 swapped the label
    # vote to the auto-K variant — the K=8 gate config scans |seeds|/8
    # per probe, quadratic with the corpus (fixed-config law, SCALE.md);
    # the gate stays correctness-pinned, the bench times the scale path)
    "emb_knn_label_vote_ivf_auto",
    "doc_dedup_incremental",
    "events_quantile_sketch",
    # round-8 additions (int8 + RRF are query-broadcast/top-k bounded —
    # linear in the corpus; doc_containment stays gate-only like its twin
    # doc_dedup_ngram_jaccard: the uncapped inverted index is
    # output-bound on the synthetic near-dup wall at sf10+)
    "emb_int8_topk",
    "doc_hybrid_retrieval",
    "emb_binary_hamming_topk",
    # composed IVF-PQ: corpus scanned once into codes (Arrow kernels,
    # zero shuffle), per-probe LUTs broadcast — linear in the corpus
    "emb_ivf_pq_topk",
    # late-r8 additions: chunking + markup are scan-bandwidth codegen;
    # skew profile is O(distinct keys) after a map-side reduce; the
    # power iteration is 4 corpus passes with 64-group partial aggs;
    # edit-verify is the post-LSH candidate-bounded Levenshtein pass
    "doc_chunk_windows",
    "doc_markup_stats",
    "events_skew_profile",
    "emb_top_component",
    # r12: doc_dedup_edit_verify_auto left the headline with the other
    # pair enumerators (r11 #4 skip-free wall) — auto banding bounds its
    # candidate ADMISSION but the verified-pair OUTPUT is still
    # quadratic in the duplicate mass; it stays correctness-gated at
    # sf0.01 and the MinHash collapse twin carries the dedup family in
    # the headline.
    "events_seasonal_anomaly",
    # drift report ranks only distinct (type, value) rows after a
    # map-side combine; the interval join is the bucketed equi-join
    # form (1 h cells), never a range theta-join; the epoch shuffle's
    # only exchange is the (epoch, shard) hash partition
    "events_distribution_drift",
    "events_interval_overlap_join",
    "doc_epoch_shuffle",
    # MERGE reduces both sides to one row/key before the single key
    # shuffle; the IVF lifecycle pays the build once then reads only
    # probed bucket partitions (timed together: build + pruned query)
    "events_cdc_merge",
    "emb_ivf_index_persist",
    # 2 x 4 corpus passes (deflation); driver holds 2 x 64 numbers
    "emb_top2_components",
    # gapfill + OLS reduce the fact stream map-side to O(types x hours)
    # / O(types x days) before any window or join
    "events_gapfill_interpolate",
    "events_trend_ols",
    # r8 session-4 additions: JL projection + code detect are single
    # codegen corpus passes; line dedup shuffles 32 B md5 fingerprints;
    # association rules reuse the capped pair build + broadcast supports;
    # CUSUM and bot-regularity reduce map-side to O(types x days) /
    # O(users) before their windows
    "emb_rp_topk",
    "doc_line_dedup",
    "doc_code_detect",
    "orders_association_rules",
    "events_cusum_changepoint",
    "events_bot_regularity",
    # bloom build is one explode into <= 4163 words; probes join the
    # broadcast filter — history is never joined row-vs-row
    "doc_dedup_bloom",
    # k-center = k one-pass argmax scans vs driver-side center literals;
    # hilbert is 10 chained codegen projections, zero exchange
    "emb_kcenter_coreset",
    "events_hilbert_layout",
    # join-size estimate reduces each side map-side to <= 256 sketch
    # cells; NDCG is the broadcast-queries one-corpus-pass eval
    "events_cms_join_estimate",
    "emb_retrieval_ndcg",
    # schema inference partial-aggregates the key explode map-side to
    # O(types x keys) counter rows
    "events_json_schema_infer",
    # the recursive tokenizer walk runs over DISTINCT words (vocabulary-
    # sized); only the occurrence join + reassembly are corpus-scaled
    "doc_wordpiece_tokenize",
    # r8 session-5 additions: attribution is one user_id equi-join +
    # per-purchase windows; rolling distinct merges 256-row daily HLL
    # registers per window (never re-scans raw events); the classifier
    # is a broadcast vocab x langs model joined map-side; fuzzy linkage
    # pairs DISTINCT names (fact table never self-joins); grid DBSCAN
    # is a cell groupBy + 9-way broadcast equi-probes; kNN outliers use
    # the Arrow-scored top-k machinery
    "events_attribution",
    # r13 (VERDICT r12 #2): the register-only twin joins the headline —
    # the exact COUNT(DISTINCT) validation leg (a 7x range re-join of
    # the distinct fact table) was 389.1 s of the sf100 wall while the
    # register path is sketch-sized. The gated form STAYS in the
    # headline too (bench contract: entries are never removed); at
    # sf0.1 its exact leg costs <1 s, and the sf100 wall now points at
    # the register twin as the production form.
    "events_rolling_distinct_7d",
    "events_rolling_distinct_7d_registers",
    "doc_centroid_langid",
    "doc_pmi_collocations",
    "part_name_fuzzy_pairs",
    "emb_dbscan_grid",
    "emb_knn_distance_outliers",
    # BM25: broadcast side tables, corpus-scaled work = postings probe
    # only; BPE training: 8 rounds over the DISTINCT-word table — cost
    # is the fixed per-round job latency (vocab-sized state), measured
    # flat sf0.01 -> sf1; Markov + path analysis are per-user windows
    # plus counts-only rollups
    "doc_bm25_retrieval",
    "doc_bpe_train",
    "events_markov_prediction",
    "events_path_analysis",
    # label propagation: 3 co-partitioned join+argmax rounds, edges
    # persisted, per-round localCheckpoint (ladder-caught re-execution);
    # safety screen + forecast backtest + skyline are scan-bandwidth
    # codegen + tiny rollups/windows
    "parts_label_propagation",
    "doc_safety_screen",
    "events_forecast_backtest",
    "parts_skyline",
    # r9 additions (VERDICT r8 #4): the strict-order funnel is per-user
    # chain equi-joins with O(steps) output; assortativity reuses the
    # capped co-purchase edge build then reduces to DECIMAL cross-product
    # scalars — both linear in the fact table. (stream_windowed_topk
    # stays gate-only: a checkpointed streaming run's trigger latency
    # would dominate the measurement — see SCALE.md.)
    "events_window_funnel",
    "parts_degree_assortativity",
]


def force(spark, build, label: str) -> float:
    """Run one query to completion; return the wall seconds of ``build()``
    plus its noop-sink write (the forcing rule in the module docstring).
    ``label`` becomes the Spark job description of the run."""
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def concurrent_mode(spark, registry, sf_dir: str, streams: int) -> None:
    """--concurrent N: the TPC-H "throughput test" shape — N client
    threads each run the analytics headline (disjoint round-robin
    slices) against ONE SparkSession under the FAIR scheduler, so the
    measurement is multi-tenant wall time, not single-stream latency.
    Prints one JSON line {metric, value, unit, streams, per_stream, sf}
    and returns; correctness queries are unchanged (same registry)."""
    import threading

    spark.sparkContext.setLocalProperty("spark.scheduler.mode", "FAIR")
    names = [n for n in ANALYTICS_HEADLINE if n in registry]
    slices = [names[i::streams] for i in range(streams)]
    wall: dict[int, float] = {}

    def run(i: int) -> None:
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"stream{i}"
        )
        # no clearCache() here: it is session-global and would unpersist
        # another stream's tables in the middle of its query
        t0 = time.perf_counter()
        for name in slices[i]:
            label = f"stream{i}: {name}"
            force(spark, lambda: registry[name](spark, sf_dir), label)
        wall[i] = round(time.perf_counter() - t0, 2)

    threads = [
        threading.Thread(target=run, args=(i,)) for i in range(streams)
    ]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    total = round(time.perf_counter() - t0, 2)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "concurrent_headline_wall",
                "value": total,
                "unit": "sec",
                "streams": streams,
                "per_stream": wall,
                "n_queries": len(names),
                "sf": sf,
            }
        )
    )


def main() -> None:
    streams = None
    if "--concurrent" in sys.argv:
        # a bad stream count exits naming it: there is no fallback count
        i = sys.argv.index("--concurrent") + 1
        value = sys.argv[i] if i < len(sys.argv) else ""
        streams = int(value) if value.isdigit() else 0
        if streams < 1:
            sys.exit(f"bench.py: --concurrent needs a positive integer, got {value!r}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    import __spark_entry__ as entry_mod

    from pyspark.sql import functions as F

    from flux_spark import FluxConsumer, LogStore
    from flux_spark.analytics.registry import load_table
    from flux_spark.session import get_spark

    spark = get_spark(
        app_name="flux-spark-bench",
        # periodic shuffle-state GC (2min) is get_spark's own default
        # as of r13 — the ENOSPC failure mode it prevents is user-facing,
        # not a bench quirk (see flux_spark/session.py docstring).
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # diagnostics only (no effect on timings): a Python worker
            # that dies mid-batch otherwise surfaces as an opaque
            # "exited unexpectedly" with no traceback
            "spark.python.worker.faulthandler.enabled": "true",
            "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
        },
    )

    # Spark job latency on a shared box is jittery; best-of-N absorbs it
    # (same spirit as the reference's JMH warmup+iterations,
    # ProducerBenchmark.java:14-16). Override with SPARK_GRAFT_BENCH_ROUNDS
    # or `--repeat N`.
    rounds = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3")))
    if "--repeat" in sys.argv:
        try:
            rounds = max(1, int(sys.argv[sys.argv.index("--repeat") + 1]))
        except (IndexError, ValueError):
            print(
                f"warning: invalid --repeat value, keeping N={rounds}",
                file=sys.stderr,
            )

    import statistics

    timings: dict[str, float] = {}
    rates: dict[str, float] = {}
    rates_best: dict[str, float] = {}
    runs: dict[str, list[float]] = {}

    # -- 1. ingest: events -> 3-partition topic through the produce path --
    events = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").cast("string").alias("value"),
    )
    n_events = events.count()  # warms the JVM + caches file listing
    store = LogStore(spark, tempfile.mkdtemp(prefix="flux-bench-"))
    runs["ingest_events"] = []
    for r in range(rounds):
        topic = f"events_r{r}"
        store.catalog.create_topic(topic, 3)
        t0 = time.perf_counter()
        store.append(topic, events, ordering_col="seq")
        runs["ingest_events"].append(round(time.perf_counter() - t0, 4))
    # r10 (VERDICT r9 #3): the throughput legs headline the MEDIAN, not
    # the min — min-of-N inherits the box's full jitter band (r9 saw a
    # -10% round-over-round "regression" with zero ingest-path code
    # change), median makes round deltas signal; the per-run spread and
    # the old best-of-N rate stay on the detail line for comparability.
    med = statistics.median(runs["ingest_events"])
    timings["ingest_events"] = med
    rates["ingest_events"] = round(n_events / med)
    rates_best["ingest_events"] = round(n_events / min(runs["ingest_events"]))

    # -- 2. consume: poll everything back (offset-bounded scan) -----------
    runs["consume_events"] = []
    for r in range(rounds):
        consumer = FluxConsumer(store, group_id=f"bench{r}")
        consumer.assign({"events_r0": [0, 1, 2]})
        t0 = time.perf_counter()
        got = consumer.poll().records.count()
        runs["consume_events"].append(round(time.perf_counter() - t0, 4))
        assert got == n_events, (got, n_events)
    med = statistics.median(runs["consume_events"])
    timings["consume_events"] = med
    rates["consume_events"] = round(n_events / med)
    rates_best["consume_events"] = round(
        n_events / min(runs["consume_events"])
    )

    # -- 2b. single-record produce -> poll-visible round-trip latency -----
    # BASELINE.md's bench plan promises latency as well as throughput:
    # this is the "how long until my record is readable" number a queue
    # user asks first. One warm 1-partition topic, N timed round trips
    # (send -> flush -> poll sees exactly the new record); p50/p99 in ms.
    # Not part of `value` (it's a latency, not a throughput leg).
    from flux_spark import FluxProducer

    lat_topic = "latency_probe"
    store.catalog.create_topic(lat_topic, 1)
    # the HONEST microbatch row: full Spark produce job (a one-row
    # DataFrame through ingest) + the Spark scan a Spark-lane poll runs
    # (read from the previous round trip's high-water mark) per round trip
    lat_prod = FluxProducer(store)
    lat_n = max(1, int(os.environ.get("SPARK_GRAFT_LATENCY_N", "20")))
    lat_ms: list[float] = []
    for i in range(lat_n + 1):  # first round-trip warms, untimed
        t0 = time.perf_counter()
        lat_prod.ingest(
            lat_topic,
            spark.createDataFrame([(f"probe-{i}", "k")], "value string, key string"),
        )
        seen = store.read(lat_topic, partitions=[0], start_offsets={0: i}).count()
        dt_ms = (time.perf_counter() - t0) * 1000.0
        assert seen == 1, (i, seen)
        if i > 0:
            lat_ms.append(dt_ms)
    lat_ms.sort()
    # r10 second row (VERDICT r9 #5): the queue-user fast path — driver-
    # side pyarrow produce (append_rows) + footer-pruned pyarrow tail
    # read (read_since), both oracle-gated equivalent to the Spark paths
    fast_topic = "latency_fast"
    store.catalog.create_topic(fast_topic, 1)
    fast_prod = FluxProducer(store)  # every flush takes append_rows
    fast_ms: list[float] = []
    nxt = 0
    for i in range(lat_n + 1):
        t0 = time.perf_counter()
        fast_prod.send(fast_topic, value=f"probe-{i}", key="k")
        fast_prod.flush()
        recs = store.read_since(fast_topic, 0, nxt)
        dt_ms = (time.perf_counter() - t0) * 1000.0
        assert len(recs) == 1 and recs[0]["value"] == f"probe-{i}", (i, recs)
        nxt = recs[0]["offset"] + 1
        if i > 0:
            fast_ms.append(dt_ms)
    fast_ms.sort()
    # r12 third row (VERDICT r11 #3): the fast lane through the CONSUMER
    # API — FluxConsumer.poll() itself serves small drains via read_ranges
    # (positions/commit/group semantics included), so a queue user no
    # longer drops to the LogStore to reach the ms class. The round trip
    # is fast produce -> poll -> .rows (plain Python; the DataFrame is
    # lazy and untouched here), on the driver lane.
    cons_topic = "latency_consumer"
    store.catalog.create_topic(cons_topic, 1)
    cons_prod = FluxProducer(store)
    cons_cons = FluxConsumer(store, group_id="latconsbench")
    cons_cons.assign({cons_topic: [0]})
    cons_ms: list[float] = []
    for i in range(lat_n + 1):
        t0 = time.perf_counter()
        cons_prod.send(cons_topic, value=f"probe-{i}", key="k")
        cons_prod.flush()
        res = cons_cons.poll()
        dt_ms = (time.perf_counter() - t0) * 1000.0
        assert res.count == 1 and res.lane == "driver", (i, res.count, res.lane)
        assert res.rows[0]["value"] == f"probe-{i}"
        if i > 0:
            cons_ms.append(dt_ms)
    cons_ms.sort()
    latency_ms = {
        "p50": round(lat_ms[len(lat_ms) // 2], 1),
        "p99": round(lat_ms[min(len(lat_ms) - 1, int(len(lat_ms) * 0.99))], 1),
        "fast_p50": round(fast_ms[len(fast_ms) // 2], 2),
        "fast_p99": round(
            fast_ms[min(len(fast_ms) - 1, int(len(fast_ms) * 0.99))], 2
        ),
        "consumer_fast_p50": round(cons_ms[len(cons_ms) // 2], 2),
        "consumer_fast_p99": round(
            cons_ms[min(len(cons_ms) - 1, int(len(cons_ms) * 0.99))], 2
        ),
    }

    # -- 3. analytics + LLM headline --------------------------------------
    # SPARK_GRAFT_BENCH_SKIP: comma list of headline queries to skip —
    # never silent (skips are recorded in the detail line). Used by the
    # scale-ladder runs: the gate-pinned fixed-K/fixed-band configurations
    # (emb_semantic_dedup at K=8) are quadratic in cluster size BY
    # CONSTRUCTION, so at sf10+ the ladder skips them and times the
    # auto-scaled variants instead (see SCALE.md "fixed-config law").
    skip = {
        s
        for s in os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",")
        if s
    }
    registry = entry_mod.queries()
    if streams is not None:
        concurrent_mode(spark, registry, sf_dir, streams)
        return
    for name in ANALYTICS_HEADLINE:
        if name not in registry or name in skip:
            continue
        runs[name] = []
        # progress to stderr (guide §1.5 — label jobs): the summary JSON
        # on stdout is unchanged; on a multi-hour sf100 wall this is the
        # only way to attribute a mid-run failure to its query
        print(f"[bench] headline: {name}", file=sys.stderr, flush=True)
        label = f"headline: {name}"
        for _ in range(rounds):
            wall = force(spark, lambda: registry[name](spark, sf_dir), label)
            runs[name].append(round(wall, 4))
            # drop persisted relations between runs: Spark's CacheManager
            # matches by analyzed plan, so a repeat run of a query that
            # persist()s (emb_semantic_dedup, emb_near_dup_lsh) would
            # silently reuse the previous round's cache and min-of-N
            # would time a cache hit, not the query
            spark.catalog.clearCache()
        timings[name] = min(runs[name])

    total = round(sum(timings.values()), 4)
    medians = {
        name: round(statistics.median(rs), 4) for name, rs in runs.items()
    }
    # per-run detail first, on its own line (not part of the summary): the
    # full 4-dp per-run matrix and per-query medians live HERE so the
    # summary line stays inside the driver's 2000-char tail window
    # (VERDICT r7 #2 — the r7 summary carried both `queries` and `medians`
    # at 4 dp and grew to ~2.4 kB, so `parsed` went null)
    print(
        json.dumps(
            {
                "runs": runs,
                "medians": medians,
                "n_events": n_events,
                "skipped": sorted(skip),
                "latency_ms_sorted": [round(x, 2) for x in lat_ms],
                "latency_fast_ms_sorted": [round(x, 2) for x in fast_ms],
                "latency_consumer_fast_ms_sorted": [
                    round(x, 2) for x in cons_ms
                ],
                "records_per_s_best": rates_best,
            }
        )
    )
    sys.stdout.flush()
    # compact summary LAST: this is the line the driver parses. "queries"
    # stays min-of-N (comparable to every prior round) but rounded to 1 dp
    # (full precision is on the detail line). The driver parses the last
    # line of a 2000-char stdout TAIL (verified against the archived
    # BENCH_r05/r07 captures: a summary line over ~1999 chars loses its
    # head and the WHOLE round's numbers go null), and the full 92-entry
    # dict is 2.7 kB — name bytes alone are 1.8 kB — so it physically
    # cannot fit. r14 (VERDICT r13 #1): fill "queries" to a hard byte
    # budget, most-expensive-first (deterministic name tie-break), so the
    # driver's per-query/scaling comparison sees every entry that carries
    # measurable time; the omitted cheap tail stays on the detail line
    # (queries_on_detail_line stays true — it always is) and is counted
    # in queries_omitted (guide "no silent caps"). Compact separators
    # buy ~15 extra entries over the default ", "/": " encoding.
    base = {
        "metric": "ingest_consume_and_headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {},
        "medians_total": round(sum(medians.values()), 2),
        "sf": sf_val,
        "records_per_s": {k: int(v) for k, v in rates.items()},
        "latency_ms": latency_ms,
        "n_queries": len(timings),
        "queries_on_detail_line": True,
        "queries_omitted": 0,
    }
    budget = 1900 - len(json.dumps(base, separators=(",", ":")))
    by_cost = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    emitted: dict[str, float] = {}
    for name, sec in by_cost:
        entry_len = len(json.dumps({name: round(sec, 1)},
                                   separators=(",", ":"))) - 1
        if budget - entry_len < 0:
            continue
        budget -= entry_len
        emitted[name] = round(sec, 1)
    base["queries"] = emitted
    base["queries_omitted"] = len(timings) - len(emitted)
    summary_line = json.dumps(base, separators=(",", ":"))
    assert len(summary_line) < 1950, (
        f"summary line {len(summary_line)} chars >= 1950 — the budget "
        "fill above is broken; shrink the summary schema"
    )
    print(summary_line)


if __name__ == "__main__":
    main()
