"""A/B variants of the shared basket/pair-count build (guide §1/§2).

The market-basket / association-rules / co-purchase-graph lanes all pay
the same two shuffles: basket_group's collect_set by order key, then the
pair count over ~2 mostly-unique pair rows per basket row. This script
times isolated variants of that build at a given SF so the operator
change is chosen from measurements, not theory.

Usage: python scripts/exp_pairs_ab.py <sf_dir> <variant[,variant...]> [repeat]
Variants:
  base      current pairs_from_basket (map-side partial agg, 2-col key)
  repart    repartition(item_a,item_b) BEFORE groupBy (no map-side agg)
  pack      single packed-long pair key ((a<<32)|b), unpacked after agg
  packrep   pack + repartition on the packed key
  basket    basket_group alone (collect_set shuffle, noop sink)
  scan      distinct (order, part) scan alone
Env: SPARK_GRAFT_INITIAL_PARTITIONS forwards to the session conf.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    variants = sys.argv[2].split(",")
    repeat = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    from bench import force
    from flux_spark.analytics.operators import basket_group, pairs_from_basket
    from flux_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    ipn = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    if ipn:
        extra["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = ipn
    spark = get_spark("exp-pairs-ab", extra_conf=extra)

    def li():
        return spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey"
        )

    def anchors_pairs(grouped):
        anchors = grouped.select(
            "__items", F.posexplode("__items").alias("__pos", "item_a")
        )
        return anchors.select(
            "item_a",
            F.explode(
                F.expr("slice(__items, __pos + 2, size(__items) - __pos - 1)")
            ).alias("item_b"),
        )

    def packed_pairs(grouped):
        # pack after the explode: a generator nested in an expression
        # does not analyze
        return anchors_pairs(grouped).select(
            (
                F.shiftleft(F.col("item_a").cast("long"), 32)
                + F.col("item_b").cast("long")
            ).alias("__pk")
        )

    def build(variant):
        g = basket_group(li(), "l_orderkey", "l_partkey")
        if variant == "scan":
            return li().distinct()
        if variant == "basket":
            return g
        return pair_counts(variant, g).where(F.col("n_keys") >= 2)

    def pair_counts(variant, g):
        if variant == "base":
            return pairs_from_basket(g)
        if variant == "repart":
            p = anchors_pairs(g).repartition("item_a", "item_b")
            return p.groupBy("item_a", "item_b").agg(
                F.count("*").alias("n_keys")
            )
        if variant == "pack":
            p = packed_pairs(g)
            c = p.groupBy("__pk").agg(F.count("*").alias("n_keys"))
            return c.select(
                F.shiftrightunsigned("__pk", 32).alias("item_a"),
                (F.col("__pk") % (1 << 32)).alias("item_b"),
                "n_keys",
            )
        if variant == "packrep":
            p = packed_pairs(g).repartition("__pk")
            c = p.groupBy("__pk").agg(F.count("*").alias("n_keys"))
            return c.select(
                F.shiftrightunsigned("__pk", 32).alias("item_a"),
                (F.col("__pk") % (1 << 32)).alias("item_b"),
                "n_keys",
            )
        raise ValueError(variant)

    for r in range(repeat):
        for v in variants:
            wall = force(spark, lambda: build(v), f"pairs_ab:{v}")
            print(f"[{v}] run={r} ipn={ipn or 'default'} wall={wall:.2f}s", flush=True)
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
