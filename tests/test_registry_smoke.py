"""Full-registry smoke + testdata-contract tests.

Round-2 postmortem: the driver regenerated ``events.parquet`` with a new
physical timestamp encoding (ns-as-int64 -> us TIMESTAMP_NTZ) and two
registry queries silently stopped analyzing — nothing in pytest exercised
them and the driver's 50-query sample skipped both, so the breakage only
surfaced when ``bench.py`` crashed. These tests are the regression net:

* ``test_registry_query_executes`` runs EVERY ``queries()`` entry end-to-end
  (``.count()``) at sf0.001, parametrized, so a type/schema drift in the
  testdata fails locally before the driver sees it.
* ``test_events_ts_contract`` pins the loaded ``events`` schema: whatever
  the on-disk encoding (int64 nanos, us TIMESTAMP_NTZ, or plain TIMESTAMP),
  ``load_table`` must yield ``ts`` as TIMESTAMP so ``unix_micros`` &co keep
  analyzing.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_registry_query_executes(spark, sf_dir, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, sf_dir)
    # Materialize the full plan; any analysis/runtime breakage raises here.
    n = df.count()
    assert n >= 0


# Non-SQL-expressible ops may omit an oracle (the driver then records a
# weaker rows-only check), but each omission must be deliberate — keep this
# list in sync when adding one. Empty since r6: the sketch gate now emits
# exact values + within-accuracy booleans the oracle recomputes, so every
# registry entry is exact-gated (185/185).
NO_ORACLE_BY_DESIGN: set[str] = set()


def test_every_query_has_oracle_or_documented_exception():
    oracles = entry_mod.oracle_sql()
    missing = {q for q in QUERY_NAMES if q not in oracles}
    assert missing == NO_ORACLE_BY_DESIGN, (
        f"undocumented queries without oracle SQL: "
        f"{sorted(missing - NO_ORACLE_BY_DESIGN)}; "
        f"stale exceptions: {sorted(NO_ORACLE_BY_DESIGN - missing)}"
    )


def test_events_ts_contract(spark, sf_dir):
    from flux_spark.analytics.registry import load_table

    df = load_table(spark, sf_dir, "events")
    dtypes = dict(df.dtypes)
    assert dtypes.get("ts") == "timestamp", (
        f"events.ts must load as TIMESTAMP (got {dtypes.get('ts')}); "
        "load_table must normalize whatever encoding the testdata uses"
    )
    # unix_micros is the call that broke in round 2 — assert it analyzes.
    from pyspark.sql import functions as F

    df.select(F.unix_micros("ts")).limit(1).collect()


def test_all_tables_load(spark, sf_dir):
    from flux_spark.analytics.registry import TABLES, load_table

    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        assert len(df.columns) > 0, t


def test_bench_headline_names_resolve():
    """bench.py silently skips headline names missing from the registry
    (`if name not in registry: continue`) — a renamed query would drop
    out of BENCH_r{N} without any error. Pin every headline name to an
    existing registry entry."""
    import bench

    missing = [n for n in bench.ANALYTICS_HEADLINE if n not in QUERY_NAMES]
    assert missing == [], f"bench headline names not in registry: {missing}"


def test_query_persists_release_on_clear_cache(spark, sf_dir, monkeypatch):
    """Unpersist hygiene (VERDICT r13 #8): CacheManager-backed persists
    created inside registry queries must all release on
    spark.catalog.clearCache() — the contract bench.py relies on between
    headline reps, and the bound on storage-memory growth across a
    92-entry wall run. Runs the lanes that persist query-local tables
    (bm25/hybrid tf forced past their size gate, association rules'
    basket build, near-dup signature path) and asserts the persistent-RDD
    registry returns to its baseline."""
    import __spark_entry__ as entry
    import bench

    from flux_spark.llm import similarity_queries, text_queries

    monkeypatch.setattr(text_queries, "PERSIST_MIN_INPUT_BYTES", 0)
    monkeypatch.setattr(similarity_queries, "PERSIST_MIN_INPUT_BYTES", 0)

    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = jsc.getPersistentRDDs().size()

    qs = entry.queries()
    for name in (
        "doc_bm25_retrieval",
        "doc_hybrid_retrieval",
        "orders_association_rules",
        "emb_semantic_dedup_auto",
    ):
        bench.force(spark, lambda: qs[name](spark, sf_dir), name)

    assert jsc.getPersistentRDDs().size() > before  # persists were live
    spark.catalog.clearCache()
    assert jsc.getPersistentRDDs().size() <= before


def test_input_bytes_sizes_uri_paths(spark, sf_dir):
    """A ``scheme://`` path is sized through Hadoop's FileSystem, not
    read as 0 bytes (which would silently turn off the persist gate)."""
    import os

    from flux_spark.analytics.registry import input_bytes

    local = input_bytes(sf_dir, "events")
    assert local == os.path.getsize(f"{sf_dir}/events.parquet") > 0
    uri = "file://" + os.path.abspath(sf_dir)
    assert input_bytes(uri, "events") == local
    with pytest.raises(RuntimeError, match="nosuch.parquet"):
        input_bytes(uri, "nosuch")


def test_run_queries_harness(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """``scripts/run_queries.py`` resolves ``headline`` to the bench
    headline, rejects an unknown name before a session starts, prints one
    line per run plus the TSV table, writes ``--plan`` files, and reports a
    failing query as FAIL with exit code 1 while the sweep goes on."""
    import importlib.util
    import os

    import bench

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "run_queries.py")
    spec = importlib.util.spec_from_file_location("run_queries", path)
    rq = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rq)

    assert rq.resolve("headline", entry_mod.queries()) == bench.ANALYTICS_HEADLINE

    def no_session(*a, **k):
        raise AssertionError("session started before the names were checked")

    monkeypatch.setattr(rq, "get_spark", no_session)
    with pytest.raises(SystemExit, match="no_such_query"):
        rq.main([sf_dir, "q1_pricing_summary,no_such_query"])

    monkeypatch.setattr(rq, "get_spark", lambda *a, **k: spark)
    plan_dir = tmp_path / "plans"
    code = rq.main([sf_dir, "q1_pricing_summary", "--repeat", "2", "--plan", str(plan_dir)])
    out = capsys.readouterr().out
    assert code == 0
    assert [ln.split(" wall=")[0] for ln in out.splitlines() if ln.startswith("[")] == [
        "[q1_pricing_summary] run=0",
        "[q1_pricing_summary] run=1",
    ]
    plan = (plan_dir / "q1_pricing_summary.txt").read_text()
    assert "pre-execution plan" in plan and "Scan parquet" in plan
    header, row = out.splitlines()[-2:]
    assert header.split("\t") == ["name", "min_s", "median_s", *rq.SHAPE_COLUMNS]
    assert row.split("\t")[0] == "q1_pricing_summary" and row.split("\t")[4] == "1"

    def broken(spark, sf_dir):
        raise RuntimeError("boom\nsecond line")

    registry = {**entry_mod.queries(), "q3_shipping_priority": broken}
    monkeypatch.setattr(rq.entry, "queries", lambda: registry)
    code = rq.main([sf_dir, "q3_shipping_priority,q1_pricing_summary"])
    lines = capsys.readouterr().out.splitlines()
    assert code == 1
    assert "FAIL q3_shipping_priority: boom" in lines
    assert any(ln.startswith("[q1_pricing_summary] run=0 wall=") for ln in lines)
    assert lines[-2].split("\t") == ["q3_shipping_priority", "-", "-"]
