#!/usr/bin/env python
"""Regenerate EXPLAINS.md: the executed physical plans of representative
queries, as evidence that the plan shapes SCALE.md claims actually hold
(pushdown, broadcast, single-exchange aggs, bucketed zero-shuffle joins).

Usage: python scripts/gen_explains.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    (
        "q3_shipping_priority",
        "dimension joins broadcast, selective filters pushed to the scans",
    ),
    (
        "q1_pricing_summary",
        "column-pruned scan; ONE exchange (partial -> final aggregation)",
    ),
    (
        "events_asof_purchase",
        "as-of join as union + window merge-scan: no inequality join",
    ),
    (
        "doc_dedup_minhash_lsh",
        "LSH candidate generation: co-partitioned band self-join, never O(n^2)",
    ),
    (
        "orders_bucketed_join",
        "write-time bucketing: fact-fact SortMergeJoin with zero exchanges",
    ),
    (
        "events_kmv_sketch",
        "mergeable sketch: map-side partial distinct before the shuffle",
    ),
    (
        "doc_filter_report",
        "rule-based filter audit: pure per-row array expressions — no "
        "Exchange, no Generate, scan-bandwidth at any corpus size",
    ),
    (
        "emb_pq_codes",
        "product quantization encode: the driver-collected codebook ships "
        "inside the Arrow distance kernel, corpus side never shuffles",
    ),
    (
        "emb_pq_adc_topk",
        "PQ asymmetric-distance search: broadcast query LUTs over the "
        "encoded corpus; only the top-k window ranks shuffle",
    ),
    (
        "emb_semantic_dedup",
        "SemDeDup: Arrow-kernel centroid assignment, one cluster_id "
        "shuffle into a grouped pandas verify (within-cluster pairs, no "
        "pair join); verdicts broadcast into the final left join",
    ),
    (
        "events_grouping_sets",
        "explicit GROUPING SETS: one Expand feeding a partial aggregate, "
        "no join",
    ),
    (
        "emb_knn_label_vote",
        "kNN label vote: broadcast queries score against one corpus pass; "
        "neighbor-label lookup broadcasts the tiny top-k list onto a "
        "narrow (id, label) scan — the corpus never shuffles",
    ),
    (
        "doc_source_mixture",
        "mixture report: map-side partial agg to O(strata) rows; the "
        "global-share window runs over the tiny aggregate only",
    ),
    (
        "emb_knn_label_vote_ivf",
        "IVF label propagation (r7): Arrow assign/probe kernels (no K-way "
        "crossJoin), bucketed seed index broadcasts — the corpus never "
        "shuffles its embeddings; only narrow vote rows reach exchanges",
    ),
    (
        "doc_dedup_incremental",
        "incremental dedup (r7): the store side is a parquet scan of "
        "(doc_id, sig, bands) — old text is never re-read; each batch's "
        "verdicts are localCheckpointed, so only their scans show below",
    ),
    (
        "emb_int8_topk",
        "scalar int8 quantization (r8): quantize + integer-dot scoring "
        "stay whole-stage codegen (no Python eval anywhere); queries "
        "broadcast, the corpus is scanned once and never exchanged "
        "before the per-query top-k window",
    ),
    (
        "doc_hybrid_retrieval",
        "hybrid RRF retrieval (r8): tf/df and query-term joins all "
        "broadcast; both ranking channels and the fusion window key on "
        "query_id so the exchanges line up; embeddings never shuffle",
    ),
    (
        "emb_ivf_pq_topk",
        "composed IVF-PQ (late r8, FAISS IVFADC): corpus assignment + "
        "residual encoding are per-row Arrow kernels (scan once, reduce "
        "to 8-byte codes, zero corpus shuffle); the per-(query, probe) "
        "LUT side broadcasts into the bucket join; only the top-k "
        "window shuffles",
    ),
    (
        "doc_chunk_windows",
        "RAG chunk windows (late r8): split/sequence/posexplode/slice "
        "— pure codegen, no Exchange anywhere; output fan-out "
        "~n_tokens/stride per doc at parquet scan bandwidth",
    ),
    (
        "events_skew_profile",
        "key-skew profiler (late r8, two-passed r10): the fact table "
        "reduces map-side to one row per key; the exact-Gini rank is a "
        "two-pass range-partitioned order (no SinglePartition sort) and "
        "the hottest key is a per-partition top-1 TakeOrderedAndProject",
    ),
    (
        "emb_top_component",
        "distributed power iteration (late r8): per pass one corpus "
        "scan -> 64-group partial aggregate; covariance never "
        "materializes and the iterate lives on the driver (only the "
        "result's scan shows below)",
    ),
    (
        "events_interval_overlap_join",
        "interval-overlap join (late r8): sessions explode to the 1 h "
        "time cells they span, probes map to exactly one cell, and the "
        "range join becomes an EQUI-join on the cell key + exact range "
        "filter — never BroadcastNestedLoopJoin (broadcast at this size, "
        "a shuffle join above the broadcast threshold)",
    ),
    (
        "events_distribution_drift",
        "KS/TVD drift report (late r8): the raw stream map-side-combines "
        "to distinct (type, value) rows before the window rank; the "
        "statistics are integer cross-products so the gate is bit-exact",
    ),
    (
        "events_cdc_merge",
        "lakehouse MERGE (late r8): both the snapshot and the changeset "
        "window-rank to ONE row per key before the single full-outer "
        "key-hash join — the exact MERGE INTO shape Delta/Iceberg run",
    ),
    (
        "emb_ivf_index_persist",
        "persisted IVF lifecycle (late r8): postings written "
        "partitionBy(bucket); the probed-bucket set inlines as an isin "
        "literal so the query-time scan partition-prunes to nprobe/K of "
        "the index bytes (the result is localCheckpointed before the "
        "index is removed, so only its scan shows below)",
    ),
    (
        "doc_line_dedup",
        "CCNet boilerplate line removal (r8 s4): lines explode map-side; "
        "the duplicate-count shuffle keys on the 32 B md5 fingerprint, "
        "never the line text; the boilerplate set broadcasts into the "
        "left-anti join under AQE",
    ),
    (
        "emb_rp_topk",
        "JL random projection (r8 s4): the ±1 Rademacher projection is "
        "one narrow Arrow-kernel pass (same-order fold, bit-identical; "
        "no shuffle); queries broadcast and the corpus scans once at "
        "1/4 the float bandwidth in the scoring join",
    ),
    (
        "orders_association_rules",
        "association rules (r8 s4): pair counts reuse the key-co-"
        "partitioned basket build; per-item supports and the grand "
        "total BROADCAST onto the pair stream — one corpus-scaled "
        "shuffle total",
    ),
    (
        "emb_dbscan_grid",
        "grid DBSCAN (r8 s5): density via cell groupBy, adjacency and "
        "point probes are exploded-literal 9-way broadcast equi-joins on "
        "cell keys — no point-to-point distance join anywhere; component "
        "resolution runs on cells, not points",
    ),
    (
        "events_rolling_distinct_7d",
        "rolling HLL distinct (r8 s5): daily registers partial-aggregate "
        "map-side once; every trailing window MAX-merges 256-row "
        "register sets in a range join over the registers; events are "
        "scanned 3x: days, registers and the exact COUNT(DISTINCT) leg",
    ),
    (
        "doc_bm25_retrieval",
        "BM25 retrieval (r8 s5): tf/df/dl/stats side tables broadcast; "
        "the only corpus-scaled work is the query-term postings probe; "
        "quantized-int64 scores make the rank engine-exact",
    ),
    (
        "events_window_funnel",
        "strict 24h window funnel (r8 s5, benched r9): per-user chain of "
        "step equi-joins on user_id — each step joins the PREVIOUS "
        "step's survivors (monotonically shrinking), never a cross of "
        "the raw stream; output is O(users x steps)",
    ),
    (
        "parts_degree_assortativity",
        "degree assortativity (r8 s5, benched r9): co-purchase edges "
        "from the shared basket build (one (order, part) shuffle with "
        "map-side collect_set, JVM-side pair explode — no DISTINCT "
        "shuffle, no self-join; r9 sf30 fix, 428 -> 114 s), degrees "
        "broadcast onto edges, DECIMAL cross-product scalars at the end "
        "(the sums are localCheckpointed; only the projection shows)",
    ),
    (
        "doc_pack_sequences",
        "two-pass global running sum (r9): range-repartition on doc_id, "
        "per-partition partial sums -> broadcast offsets, PARTITIONED "
        "window per range bucket — bit-identical to the global window "
        "with no Exchange SinglePartition anywhere",
    ),
    (
        "customer_balance_deciles",
        "global NTILE(10) via attach_global_order + ntile_from_rank "
        "(r10): the decile rank rides the two-pass range partitioning — "
        "no single-partition WindowExec over the customer dimension",
    ),
    (
        "doc_dedup_minhash_lsh_auto",
        "auto-banded MinHash-LSH (r10): rows-per-band derived from ONE "
        "scalar COUNT pass, inlined as a literal — the banding join "
        "stays the same co-partitioned band self-join as the fixed gate, "
        "with s^4 tighter candidate admission at corpus scale",
    ),
    (
        "ann_cosine_lsh_autocap",
        "occupancy-derived bucket cap (r11): the signature column is "
        "localCheckpointed once, a histogram-sized occupancy aggregate "
        "derives cap = max(4k, min(p99, 64)) on the driver, and the cap "
        "window + multiprobe bucket join read the materialized frame — "
        "the corpus' interpreted signature folds run exactly once",
    ),
    (
        "doc_containment_auto",
        "df-winnowed containment (r11): one shuffle into per-shingle "
        "posting lists; the derived max_doc_freq bound is a size filter "
        "on the list and pairs explode within each rare list (no join) — "
        "candidate volume <= cap x corpus (linear), denominators keep "
        "the full per-doc shingle counts",
    ),
    (
        "doc_dedup_minhash_collapse",
        "collapsing MinHash dedup (r12): one digest-keyed window "
        "collapses exact duplicates BEFORE the LSH bucket join (the "
        "duplicate mass never becomes candidate pairs), the capped "
        "band self-join + verification run over canonicals only, and "
        "the output is one verdict row per document — linear output "
        "where pair enumeration is quadratic in duplicate mass",
    ),
    (
        "emb_semantic_dedup_auto",
        "hierarchical auto-K assignment (r12): the Arrow kernel routes "
        "each vector through ceil(sqrt(K)) proximity-grouped branch "
        "representatives then scores only 2 branches' fine centroids — "
        "ONE narrow corpus pass (no join, no window) feeding the "
        "persisted assignment that the grouped per-cluster verify and "
        "the final left join read; n*~3sqrt(K) where flat scoring is n*K",
    ),
]


def drop_initial_plans(plan: str) -> str:
    """Drop every AQE "== Initial Plan ==" section, nested ones (cached
    relations) too; a section ends at a line no deeper than its header."""
    out, cut = [], None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :"))
        if cut is not None and col > cut:
            continue
        cut = None
        if line.strip() == "+- == Initial Plan ==":
            cut = col
        else:
            out.append(line)
    return "\n".join(out).rstrip()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entry_mod

    from flux_spark.session import get_spark

    spark = get_spark(
        "flux-explains",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # fact-fact shapes at toy scale degrade to broadcast; disable so the
    # plans shown are the ones a fact-sized input produces
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    bcast_off = {"orders_bucketed_join"}

    registry = entry_mod.queries()
    out = [
        "# EXPLAINS — executed physical plans (generated by scripts/gen_explains.py)",
        "",
        f"Source data: `{sf_dir}`. Plans are the AQE **final** plans after one",
        "execution. Regenerate after plan-affecting changes; the assertions",
        "behind these shapes live in `tests/test_plans.py`.",
        "",
    ]
    for name, why in SHOWCASE:
        if name not in bcast_off:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = registry[name](spark, sf_dir)
        # collect() runs df's own plan, so AQE finalizes it; count() and
        # a noop write execute a derived plan and leave df's non-final
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = drop_initial_plans(plan)
        out += [f"## {name}", "", f"*{why}*", "", "```", final, "```", ""]
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAINS.md"),
        "w",
    ) as f:
        f.write("\n".join(out))
    print("wrote EXPLAINS.md")


if __name__ == "__main__":
    main()
