"""Plan-quality regression guards.

Correctness says the answer is right; these tests say the *plan* is the one
that survives 100 TB: filters reach the parquet scan, dimension joins
broadcast instead of shuffling the fact table, scans are column-pruned, and
point reads prune to one partition directory. A regression here is a perf
bug even when results stay correct.
"""

import pytest
from pyspark.sql import functions as F


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_point_fetch_prunes_partition_dir_and_pushes_offset(store, spark):
    store.catalog.create_topic("t", 3)
    e = spark.range(300).select(
        F.col("id").alias("seq"),
        F.pmod("id", F.lit(3)).cast("int").alias("partition"),
        F.col("id").cast("string").alias("value"),
    )
    store.append("t", e, ordering_col="seq")
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    fetch = store.read("t", partitions=[1]).where(F.col("offset") == 5)
    plan = executed_plan(fetch)
    # offset predicate pushed to the scan (rowgroup-stat skipping)
    assert "EqualTo(offset,5)" in plan
    # partition-dir pruning via PartitionFilters on the Hive-style layout
    assert "PartitionFilters" in plan and "(partition" in plan and "= 1)" in plan


def test_q3_broadcasts_dims_no_sort_merge(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["q3_shipping_priority"].fn(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # selective customer filter pushed to the scan
    assert "c_mktsegment" in plan and "BUILDING" in plan


def test_q5_six_table_join_all_broadcast(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["q5_local_supplier"].fn(spark, sf))
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_q1_column_pruned_single_exchange(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    df = ANALYTICS_QUERIES["q1_pricing_summary"].fn(spark, sf)
    df.collect()  # run so AQE finalizes the plan (isFinalPlan=true)
    plan = executed_plan(df)
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    # scan reads only the 7 needed columns, not the full lineitem schema
    assert "l_orderkey" not in final.split("FileScan")[1][:400]
    # one shuffle total: the partial->final aggregation exchange
    assert final.count("Exchange") == 1
    # codegen'd stages marked *(n) in the final adaptive plan
    assert "*(1)" in final


def test_asof_join_is_single_shuffle_window_not_join(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_asof_purchase"].fn(spark, sf))
    # merge-scan form: a window over a union — never an inequality join
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_log_scan_keeps_offset_range_filters_pushed(store, spark):
    store.catalog.create_topic("r", 2)
    e = spark.range(100).select(
        F.col("id").alias("seq"),
        F.pmod("id", F.lit(2)).cast("int").alias("partition"),
        F.col("id").cast("string").alias("value"),
    )
    store.append("r", e, ordering_col="seq")
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    df = store.read("r", partitions=[0, 1], start_offsets={0: 10, 1: 20})
    plan = executed_plan(df)
    assert "offset" in plan and ">= 10" in plan
    # the per-partition disjunction still reaches the parquet reader
    assert "PushedFilters" in plan and "GreaterThanOrEqual(offset,10)" in plan


def test_q6_all_predicates_pushed_to_scan(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    plan = executed_plan(ANALYTICS_QUERIES["q6_forecast_revenue"].fn(spark, sf))
    # every predicate reaches the parquet reader
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.03)",
        "LessThanOrEqual(l_discount,0.05)",
        "LessThan(l_quantity,24",
    ):
        assert pushed in plan, pushed
    assert "Join" not in plan
    # scan is pruned to the 4 referenced columns
    scan = plan.split("FileScan")[1][:500]
    assert "l_orderkey" not in scan and "l_returnflag" not in scan


def test_q10_broadcasts_dims_single_fact_shuffle_join(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["q10_returned_items"].fn(spark, sf))
    # customer + nation broadcast; only lineitem<->orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    # returnflag + orderdate filters pushed down
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_customer_order_gaps_window_and_agg_share_one_exchange(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    df = ANALYTICS_QUERIES["customer_order_gaps"].fn(spark, sf)
    df.collect()
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    # the LAG window and the groupBy both key on o_custkey: one shuffle,
    # then the aggregation reuses the window's partitioning
    assert plan.count("Exchange") == 1


def test_q18_having_set_broadcast_back(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["q18_large_orders"].fn(spark, sf))
    # the HAVING-filtered key set and customer both broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_correlated_min_is_window_single_lineitem_scan(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["q2_min_cost_supplier"].fn(spark, sf))
    # the correlated scalar MIN is a window over the supply agg — lineitem
    # is scanned once, not re-scanned per part
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_decorrelated_two_lineitem_scans_only(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["q21_sole_returned_supplier"].fn(spark, sf))
    # EXISTS + NOT EXISTS collapse into one per-order aggregate: lineitem is
    # scanned twice (stats + probe), never three times
    assert plan.count("lineitem.parquet") == 2
    assert "EqualTo(l_returnflag,R)" in plan  # probe-side filter pushed down
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_threshold_join_no_correlated_rescan(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["q17_small_quantity_revenue"].fn(spark, sf))
    assert plan.count("lineitem.parquet") == 2  # probe + per-part averages
    assert "EqualTo(p_brand,Brand#23)" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q19_disjunctive_predicate_broadcast_join(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["q19_discounted_revenue"].fn(spark, sf))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    # quantity bounds survive as a pushed scan filter (disjunction-derived)
    assert "l_quantity" in plan


def test_q22_anti_join_and_broadcast_threshold(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["q22_dormant_customers"].fn(spark, sf))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan or plan.count("BroadcastNestedLoopJoin") == 1
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_range_join_is_hash_join_not_nested_loop(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["events_clicks_before_purchase"].fn(spark, sf)
    )
    # equi-key keeps the interval join a hash/sort-merge join with a
    # residual range condition — a nested loop here is the 100 TB killer
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # event_type filters pushed to both scans
    assert "EqualTo(event_type,purchase)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_media_metadata_query_prunes_payload_column(spark, sf):
    """Filtering/projecting on media *metadata* must not read the payload
    bytes: the scan schema stays narrow (the real-world multimodal pattern:
    prune on typed fields, decode only after)."""
    from flux_spark.llm.multimodal import with_fake_media
    from flux_spark.analytics.registry import load_table

    media = with_fake_media(load_table(spark, sf, "documents"))
    import tempfile

    path = tempfile.mkdtemp(prefix="flux-media-") + "/media.parquet"
    media.write.mode("overwrite").parquet(path)
    meta_only = (
        spark.read.parquet(path)
        .where(F.col("meta.width") > 100)
        .select("doc_id", "meta.width", "meta.height")
    )
    plan = executed_plan(meta_only)
    scan = plan.split("FileScan")[1]
    schema = scan.split("ReadSchema:")[1][:300]
    assert "media" not in schema  # payload column pruned from the scan
    assert "width" in schema


def test_dau_wau_mau_no_nested_loop_join(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_dau_wau_mau"].fn(spark, sf))
    # the trailing-window membership is an explode + broadcast EQUI-join
    # on the day spine — the range form compiles to BroadcastNestedLoopJoin
    # and walls at O(spine_days x activity rows) (sf100 ladder catch)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # membership flags collapse per (day, user) before the day-level agg:
    # exactly two corpus-scaled exchanges (the acts DISTINCT on (day,
    # user_id) reuses the same partitioning), plus the tiny spine's
    assert "Expand" not in plan  # no count_distinct triple-expansion


def test_funnel_three_windows_share_one_exchange(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_funnel"].fn(spark, sf))
    # 3 chained window stages + per-user agg all reuse ONE hashpartitioning
    # on user_id; the only other exchange is the single-partition gather
    # for the global count.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_market_basket_no_join_two_shuffles(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["orders_market_basket"].fn(spark, sf))
    # pair expansion is two chained generates over per-order item sets
    # (posexplode anchor -> explode tail slice, O(k) peak memory/row):
    # no join of any kind, one gather shuffle + one partial-aggregated
    # count shuffle (the old distinct + self-join form shuffled 3x and
    # dominated the sf1 graph queries)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 3  # gather + count + final ordering
    assert "partial" in plan.lower()


def test_contamination_broadcasts_benchmark_corpus_never_shuffles(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_contamination"].fn(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly two hash exchanges: the (tiny) benchmark-side shingle distinct
    # feeding the broadcast, and the final per-doc re-aggregation — the
    # full-corpus scan itself reaches the join without shuffling
    assert plan.count("Exchange hashpartitioning") == 2


def test_ngram_repetition_zero_shuffle(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_ngram_repetition"].fn(spark, sf))
    assert "Exchange hashpartitioning" not in plan
    assert "Generate explode" not in plan  # per-row fold, no explode


def test_hll_registers_single_exchange_partial_agg(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_hll_registers"].fn(spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_pii_scrub_zero_shuffle_codegen_only(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_pii_scrub"].fn(spark, sf))
    # pure per-row regexp projection: no exchange, no python UDF
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_topk_broadcasts_probes_corpus_never_shuffles(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["ann_cosine_lsh"].fn(spark, sf))
    # tiny multiprobe query side broadcasts; the corpus side reaches the
    # signature bucket join without an exchange
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmv_sketch_partial_aggregates_before_shuffle(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_kmv_sketch"].fn(spark, sf))
    # the distinct partial-aggregates map-side so the shuffle carries unique
    # (event_type, hash) pairs, not raw events; no join anywhere
    assert "partial" in plan.lower()
    assert "Join" not in plan


def test_histogram_no_join_bounded_exchanges(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_value_histogram"].fn(spark, sf))
    assert "Join" not in plan
    # bin partial-agg exchange + per-type window exchange, nothing else
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bucketed_join_zero_exchange(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    # at test scale AQE would (correctly) broadcast instead; disable it to
    # observe the layout the bucketing buys when both sides are fact-sized
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = ANALYTICS_QUERIES["orders_bucketed_join"].fn(spark, sf)
        df.collect()
        plan = executed_plan(df).split("== Initial Plan ==")[0]
        # both sides read pre-bucketed files: the join needs no shuffle —
        # the only exchange left is the final tiny agg by priority
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_lateral_decorrelates_no_nested_loop_per_row(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["customer_lateral_top_orders"].fn(spark, sf)
    )
    # the correlated LATERAL LIMIT becomes a ranked join, never a
    # re-executed subquery or cartesian product
    assert "CartesianProduct" not in plan
    assert "Window" in plan or "TakeOrdered" in plan


def test_moments_single_exchange_partial_sums(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_value_moments"].fn(spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()


def test_quality_checks_single_scan_no_shuffle_per_rule(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_quality_checks"].fn(spark, sf))
    # all rules fold into one global aggregate: one scan, one gather
    assert plan.count("FileScan") == 1
    assert "Exchange hashpartitioning" not in plan


def test_filter_report_zero_shuffle(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_filter_report"].fn(spark, sf))
    # all signals are per-row array expressions: no exchange, no explode
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_pq_encode_broadcast_codebook_no_corpus_shuffle(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["emb_pq_codes"].fn(spark, sf))
    # the codebook is model-sized and closed over by the Arrow distance
    # kernel (no join at all since the _pq_scored Arrow rewrite); the
    # corpus side must stay exchange-free: one Arrow projection, zero
    # shuffles, no join of any kind
    assert "ArrowEvalPython" in plan
    for node in ("Exchange", "Join", "CartesianProduct"):
        assert node not in plan, plan
    # the distance kernel runs once per corpus row: no inferred size
    # filter below the Generate evaluates it a second time
    assert plan.count("ArrowEvalPython") == 1, plan


def test_contamination_broadcasts_bench_never_shuffles_corpus(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_contamination"].fn(spark, sf))
    # benchmark shingle set broadcasts; corpus side has no join shuffle
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_pair_stats_aggregates_dict_not_corpus(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    df = LLM_QUERIES["doc_bpe_pair_stats"].fn(spark, sf)
    df.collect()
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    # corpus scan is column-pruned to text only (word dict built from it)
    scan = plan.split("FileScan")[1][:400]
    assert "text" in scan and "doc_id" not in scan
    # partial aggregation before both shuffles (word dict + pair counts)
    assert plan.count("partial_count") + plan.count("partial_sum") >= 2


def test_semantic_dedup_broadcasts_centroids_no_cartesian_pairs(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["emb_semantic_dedup"].fn(spark, sf))
    # centroid assignment is a single Arrow pass (centroids are a
    # driver-held model closed over by the UDF): no join, no window
    # exchange, no K-row fan-out anywhere in the assignment stage — the
    # old broadcast-NLJ form evaluated K interpreted folds per row and
    # stalled at auto_centroids scale
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # all Python is Arrow-vectorized (assignment + pair-verify cosine)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # the assignment pass is persisted and reused: the tower (corpus
    # FileScan + Arrow scoring) lives ONLY inside the InMemoryRelation —
    # the top-level plan consumes it via InMemoryTableScan and never
    # recomputes it (the r4 weak plan ran it 3x)
    top = plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in top
    assert "FileScan" not in top


def test_perplexity_buckets_broadcast_model_narrow_window(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_perplexity_buckets"].fn(spark, sf))
    # the vocab-bounded LM broadcasts into the per-doc scoring join; the
    # corpus side never sort-merge-shuffles its exploded bigrams
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_expands_then_partial_aggregates(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_grouping_sets"].fn(spark, sf))
    # expand-then-aggregate: one Expand node feeding a partial aggregate,
    # no join anywhere
    assert "Expand" in plan
    assert "partial" in plan.lower()
    assert "Join" not in plan


def test_knn_label_vote_ivf_broadcasts_index_corpus_never_self_joins(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["emb_knn_label_vote_ivf"].fn(spark, sf))
    # the bucketed seed index broadcasts (the corpus side never shuffles
    # its embeddings into a join); no sort-merge, no cartesian product —
    # centroid assign/probe are Arrow kernels, not K-way crossJoins
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_broadcasts_query_luts_corpus_never_shuffles(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["emb_ivf_pq_topk"].fn(spark, sf))
    # composed IVF-PQ: corpus assignment + residual encoding are per-row
    # Arrow kernels (scan once, reduce to codes — zero corpus shuffle);
    # the tiny per-(query, probe) LUT side broadcasts into the bucket
    # join; no sort-merge, no cartesian product anywhere
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_store_side_reads_signatures_never_text(spark, tmp_path):
    """VERDICT r6 #4 'done' criterion: the incremental-dedup verdict plan
    scans the persisted store as (doc_id, sig, bands) parquet — document
    text is never re-read for previously ingested batches — and the
    candidate joins are shuffle-hash (scale-safe), not broadcast off
    cached-relation stats."""
    from flux_spark.llm.dedup_store import MinHashDedupStore

    store = MinHashDedupStore(spark, tmp_path / "idx")
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four")],
        "doc_id long, text string",
    )
    store.ingest(b1)
    b2 = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    plan = executed_plan(store._verdict(store._sig_table(b2, "text", "doc_id")))
    # the ONLY FileScan is the store parquet: signature columns, no text
    scans = plan.split("FileScan")[1:]
    assert scans, plan
    for s in scans:
        head = s[:400]
        assert "sig" in head and "text" not in head, head
    assert "ShuffledHashJoin" in plan
    # the skew guard is IN the plan (VERDICT r7 #5): banded sides carry
    # the window-count <= max_bucket_size filter before the bucket joins
    assert "__bn" in plan and "500" in plan, plan


def test_dedup_store_cap_drops_mega_bucket(spark, tmp_path):
    """max_bucket_size in the STORE path has the batch path's semantics:
    a bucket larger than the cap generates no candidates (boilerplate
    guard), so an otherwise-duplicate doc is kept."""
    from flux_spark.llm.dedup_store import MinHashDedupStore

    boiler = "exact same boilerplate text repeated in every single doc"
    rows = [(i, boiler) for i in range(1, 7)]
    b1 = spark.createDataFrame(rows, "doc_id long, text string")
    b2 = spark.createDataFrame([(100, boiler)], "doc_id long, text string")

    capped = MinHashDedupStore(spark, tmp_path / "capped", max_bucket_size=5)
    capped.ingest(b1)  # 6 identical docs > cap 5: every bucket dropped
    v = {r.doc_id: r.is_kept for r in capped.ingest(b2).collect()}
    assert v == {100: True}  # store match suppressed by the cap

    uncapped = MinHashDedupStore(spark, tmp_path / "raw", max_bucket_size=None)
    uncapped.ingest(b1)
    v = {r.doc_id: (r.dup_of, r.is_kept) for r in uncapped.ingest(b2).collect()}
    assert v == {100: (1, False)}


def test_int8_topk_stays_jvm_side_and_broadcasts_queries(spark):
    """int8 quantization + scoring is pure Catalyst (transform/aggregate
    higher-order functions): no Python/Arrow eval anywhere in the plan,
    the query side broadcasts, and the corpus is never exchanged before
    scoring (only the final top-k window shuffles rank-input rows)."""
    from flux_spark.llm import similarity

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, -2.0, 0.5]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    plan = executed_plan(similarity.int8_topk(df, df.where("vec_id < 2")))
    assert "PythonEval" not in plan and "ArrowEval" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_containment_uses_inverted_index_merge_join(spark):
    """containment_pairs shares the ngram-jaccard plan shape: the shingle
    equi-join carries the merge hint (both sides corpus-scaled; broadcast
    off cached stats would not survive 100x)."""
    from flux_spark.llm import dedup

    df = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma tok{i + 1}") for i in range(10)],
        "doc_id long, text string",
    )
    plan = executed_plan(dedup.containment_pairs(df))
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_point_in_time_join_is_window_not_range_join(spark, sf):
    """The PIT (feature-store) join must stay in merge-scan form: one
    window over a union — a real range/inequality join would degenerate
    to BroadcastNestedLoop at scale (same guard as events_asof)."""
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["events_point_in_time_join"].fn(spark, sf)
    )
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_binary_hamming_stays_jvm_side(spark):
    """1-bit packing + XOR/popcount scoring is pure Catalyst — no
    Python/Arrow eval; queries broadcast (same guard as int8)."""
    from flux_spark.llm import similarity

    df = spark.createDataFrame(
        [(i, [float(i % 7) - 3.0] * 64) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    plan = executed_plan(
        similarity.binary_hamming_topk(df, df.where("vec_id < 2"))
    )
    assert "PythonEval" not in plan and "ArrowEval" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_interval_overlap_join_is_bucketed_equi_join(spark, sf):
    """The session-window interval join must run as an equi-join on the
    time-cell key (explode + shuffle join), never as a raw range
    theta-join — Spark plans those as BroadcastNestedLoopJoin, which is
    O(sessions x events) at 100 TB."""
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["events_interval_overlap_join"].fn(spark, sf)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the cell fan-out feeding the equi-join
    assert "Generate explode" in plan or "explode" in plan


def test_distribution_drift_ranks_distinct_values_only(spark, sf):
    """KS/TVD must partial-aggregate the raw stream down to distinct
    (event_type, value) rows BEFORE the window sort — the window input
    carrying raw events would global-sort the whole table per type."""
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["events_distribution_drift"].fn(spark, sf)
    )
    # an aggregate must sit BELOW the window in the tree (plan strings
    # print root-first, so "below" = a later occurrence in the string).
    # The only nested-loop join allowed is the 1-row midpoint scalar
    # broadcast (IdentityBroadcastMode), never a row-level join.
    assert plan.rindex("HashAggregate") > plan.index("Window")
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    if "BroadcastNestedLoopJoin" in plan:
        assert "IdentityBroadcastMode" in plan


def test_epoch_shuffle_sorts_per_shard_not_globally(spark, sf):
    """The epoch shuffle's only exchange must be the hash partition on
    (epoch, shard) for the per-shard rank — a single global sort per
    epoch (rangepartitioning on epoch alone) would funnel the corpus
    through one task."""
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_epoch_shuffle"].fn(spark, sf))
    assert "hashpartitioning(epoch" in plan
    assert "rangepartitioning" not in plan


def test_ivf_index_query_partition_prunes_to_probed_buckets(spark, tmp_path):
    """Querying the persisted IVF index must read ONLY the probed
    bucket=… directories: the probed-bucket isin literal has to land in
    the postings scan's PartitionFilters, not a post-scan Filter."""
    from flux_spark.llm import similarity

    e = spark.range(40).selectExpr(
        "id AS vec_id",
        "array(cast(id % 7 as double) + 1.0, cast(id % 3 as double), 1.0)"
        " AS embedding",
    )
    cen = spark.range(4).selectExpr(
        "id AS centroid_id",
        "array(cast(id as double) + 1.0, cast(3 - id as double), 1.0)"
        " AS embedding",
    )
    similarity.build_ivf_index(e, cen, str(tmp_path / "idx"))
    out = similarity.ivf_index_topk(
        spark, str(tmp_path / "idx"), e.where("vec_id < 2"), k=3, nprobe=1
    )
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    plan = executed_plan(out)
    # some FileScan must carry a non-empty bucket PartitionFilter
    pfs = [
        seg[:300]
        for seg in plan.split("PartitionFilters: [")[1:]
        if seg.strip() and not seg.startswith("]")
    ]
    assert any(
        "bucket" in pf and ("IN" in pf or "in(" in pf.lower()) for pf in pfs
    ), plan
    assert out.count() > 0


def test_cdc_merge_reduces_to_one_row_per_key_before_join(spark, sf):
    """MERGE must rank each side down to one row per key BEFORE the
    full-outer key join — the join inputs are per-key states, not raw
    events (a raw-events join would explode at 100 TB)."""
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_cdc_merge"].fn(spark, sf))
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    # both window-rank reductions sit below the outer join
    join_at = plan.lower().index("fullouter")
    assert plan.count("Window", join_at) >= 2


def test_line_dedup_shuffles_fingerprints_and_broadcasts_boiler(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_line_dedup"].fn(spark, sf))
    # the duplicate-count exchange keys on the md5 fingerprint, not the
    # raw line text
    assert "md5(" in plan
    # the boilerplate set reaches the anti-join as a broadcast; the
    # corpus-scaled side is never sort-merge-joined
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rp_topk_projects_corpus_side_no_python(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["emb_rp_topk"].fn(spark, sf))
    # projection is the Arrow kernel (corpus-scaled dim x out_dim pass
    # — never the interpreted fold), never row-at-a-time Python
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 5-query broadcast x corpus
    assert "SortMergeJoin" not in plan
    # partial top-k before the exchange bounds the window shuffle
    assert "WindowGroupLimit" in plan


def test_bloom_dedup_broadcasts_filter_words(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_dedup_bloom"].fn(spark, sf))
    # the packed filter (<= 4163 words) broadcasts into the probe join —
    # the history table is never joined row-vs-row against the batch on
    # anything but the tiny audit (digest) join
    assert plan.count("BroadcastHashJoin") >= 2  # word join + truth audit
    assert "SortMergeJoin" not in plan


def test_association_rules_broadcast_supports(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["orders_association_rules"].fn(spark, sf)
    )
    # both per-item support joins broadcast onto the pair stream
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # the shared basket build is persisted, not rebuilt per quantity
    assert "InMemoryTableScan" in plan


def test_hilbert_layout_zero_exchange(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["events_hilbert_layout"].fn(spark, sf)
    )
    # 10 chained integer-CASE projections: pure codegen, no shuffle, no
    # join, no Python
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(1)" in plan  # the whole query is ONE codegen stage


def test_cms_join_estimate_joins_sketches_not_keys(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["events_cms_join_estimate"].fn(spark, sf)
    )
    # the estimate join is sketch-cell x sketch-cell (<= 256 rows/side);
    # no corpus-scaled sort-merge join anywhere
    assert "SortMergeJoin" not in plan
    # map-side partial aggregation collapses each side before any join
    assert "partial_count" in plan or "HashAggregate" in plan


def test_centroid_langid_model_broadcasts_onto_tokens(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_centroid_langid"].fn(spark, sf))
    # the vocab x langs weight model joins the test-token stream as a
    # broadcast — scoring never shuffles the corpus-scaled token explode
    assert "BroadcastHashJoin" in plan
    # no row-at-a-time Python anywhere in the classifier
    assert "BatchEvalPython" not in plan


def test_dbscan_grid_is_equi_probe_never_point_pairs(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["emb_dbscan_grid"].fn(spark, sf))
    # cell adjacency and point probes are 9-way broadcast equi-joins on
    # cell keys; grid DBSCAN must never degrade to a point-to-point
    # distance theta-join
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_pairs_joins_distinct_names_not_parts(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["part_name_fuzzy_pairs"].fn(spark, sf)
    )
    # the self-join runs on the deduped name table (broadcast), with the
    # noun-block equality in the join keys — never a fact-table self-join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # dedupe partial-aggregates map-side before the exchange
    assert "partial" in plan


def test_bm25_postings_join_broadcasts_side_tables(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_bm25_retrieval"].fn(spark, sf))
    # qterms / df / stats all broadcast; the only corpus-scaled work is
    # the postings probe
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_weighted_sample_is_one_scan_plus_scalar(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_weighted_sample"].fn(spark, sf))
    # inclusion test = per-row filter against a broadcast 1-row total;
    # no Python, no quadratic anything
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_rolling_distinct_merges_registers_not_raw_events(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["events_rolling_distinct_7d"].fn(spark, sf)
    )
    # daily registers partial-aggregate map-side before any window join
    assert "partial_max" in plan or "partial" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_global_running_sum_has_no_single_partition(spark, sf):
    # r9: the global exclusive running sum is two-pass range-partitioned
    # (attach_global_order) — the plan must carry NO Exchange
    # SinglePartition and only PARTITIONED windows (__pid spec).
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_pack_sequences"].fn(spark, sf))
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(__pid" in plan


def test_knn_outliers_global_rank_has_no_single_partition(spark, sf):
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(
        LLM_QUERIES["emb_knn_distance_outliers"].fn(spark, sf)
    )
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(__pid" in plan


def test_rfm_ntiles_have_no_single_partition_window(spark, sf):
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["customer_rfm_scores"].fn(spark, sf))
    assert "SinglePartition" not in plan
    # the three NTILEs are closed-form from two-pass global ranks
    assert "ntile" not in plan


def test_weighted_sample_count_is_scalar_not_window(spark, sf):
    # COUNT(*) OVER () became a broadcast 1-row aggregate; the only
    # SinglePartition left is the final scalar agg (1 row/partition in).
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_weighted_sample"].fn(spark, sf))
    assert "Window" not in plan


def test_copurchase_edge_build_is_basket_half_then_mirrored(spark, sf):
    # r9 ladder fix (sf30: 428 s self-join -> 114 s basket build): the
    # co-purchase half comes from the shared basket machinery — ONE
    # shuffle of the raw (order, part) stream (collect_set dedupes, no
    # DISTINCT shuffle, no self-join), pairs exploded JVM-side from the
    # sorted array (a < b for free) — and the bidirectional edge set is
    # a Union over the persisted half.
    # (both registry callers now checkpoint before returning — r10
    # unpersist fix — so assert on the shared edge builder directly,
    # which keeps the full lineage in one plan)
    from flux_spark.analytics.graph_queries import _copurchase_edges

    edges, half = _copurchase_edges(spark, sf)
    try:
        plan = executed_plan(edges)
        assert "Union" in plan
        assert "collect_set" in plan  # basket build, not lineitem self-join
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    finally:
        half.unpersist()
    spark.catalog.clearCache()


def test_balance_deciles_ntile_has_no_single_partition(spark, sf):
    # r10: the last dimension-sized global NTILE moved onto
    # attach_global_order + ntile_from_rank — no single-partition
    # window survives, and no ntile expression remains in the plan.
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(
        ANALYTICS_QUERIES["customer_balance_deciles"].fn(spark, sf)
    )
    assert "SinglePartition" not in plan
    assert "ntile" not in plan
    assert "windowspecdefinition(__pid" in plan


def test_skew_profile_gini_rank_has_no_single_partition(spark, sf):
    # r10: the exact-Gini rank over distinct keys is two-pass
    # range-partitioned; the hottest key is a TakeOrderedAndProject
    # (per-partition top-1 -> driver merge), never a global sort. The
    # one SinglePartition allowed to remain is the final SCALAR
    # aggregate — exactly one partially-aggregated row per partition
    # crosses it (proved by the partial_percentile on its map side).
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    plan = executed_plan(ANALYTICS_QUERIES["events_skew_profile"].fn(spark, sf))
    assert plan.count("SinglePartition") == 1
    assert "partial_percentile" in plan
    assert "windowspecdefinition(__pid" in plan
    assert "TakeOrderedAndProject" in plan


def test_wordpiece_vocab_join_is_shuffle_not_broadcast(spark, sf):
    # r9 ladder catch: AQE broadcast the recursive-CTE tokenized vocab
    # (size estimate far too low) and died at the 8 GiB cap at sf30.
    # The word join must stay a shuffled hash join at every scale.
    from flux_spark.llm.queries import LLM_QUERIES

    plan = executed_plan(LLM_QUERIES["doc_wordpiece_tokenize"].fn(spark, sf))
    assert "ShuffledHashJoin" in plan


def test_session_owns_periodic_gc_default(spark):
    # r13 (VERDICT r12 #4): shuffle files persist in spark.local.dir
    # until the ContextCleaner's periodic GC; at the 30 min default a
    # long-lived session ENOSPC'd a sf100 wall. The 2 min bound is an
    # ENGINE default owned by get_spark, not a bench-only conf.
    assert spark.conf.get("spark.cleaner.periodicGC.interval") == "2min"


def test_assortativity_moment_pass_reads_half_not_mirrored_union(spark, sf):
    # r13: with x = d(src), y = d(dst) on the HALF edges, the directed
    # sums are k = 2*COUNT, sx = sy = SUM(x+y), sxy = 2*SUM(x*y),
    # sxx = syy = SUM(x^2+y^2) — so the moment aggregation joins degrees
    # onto the half edge set ONCE; the mirrored union feeds only the
    # degree count. Regression guard: disabling the result checkpoint
    # must expose exactly two degree->half broadcast joins and fewer
    # Union occurrences than the mirrored-pairs form (which unioned the
    # edge list again for the x/y join pass).
    import pyspark.sql.classic.dataframe as cdf
    from flux_spark.analytics.graph_queries import ANALYTICS_QUERIES

    orig = cdf.DataFrame.localCheckpoint
    cdf.DataFrame.localCheckpoint = lambda self, eager=True: self
    try:
        df = ANALYTICS_QUERIES["parts_degree_assortativity"].fn(spark, sf)
        plan = executed_plan(df)
    finally:
        cdf.DataFrame.localCheckpoint = orig
        spark.catalog.clearCache()
    assert plan.count("BroadcastHashJoin") == 2
    # deg (unioned) appears once per broadcast side; the moment pass
    # itself reads the un-mirrored half => exactly 2 Unions, not 3
    assert plan.count("Union") == 2
