"""Structured Streaming surface tests: bounded AvailableNow runs over real
topic logs (fast, deterministic — no wall-clock triggers)."""

import pytest
from pyspark.sql import functions as F

from flux_spark import streaming
from flux_spark.errors import InvalidTopicError


@pytest.fixture()
def filled_store(store, spark):
    store.catalog.create_topic("src", 3)
    rows = [(i, i % 3, f"k{i % 5}", f"v{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "seq long, partition int, key string, value string")
    store.append("src", df, ordering_col="seq")
    return store


def test_stream_topic_requires_topic(store):
    with pytest.raises(InvalidTopicError):
        streaming.stream_topic(store, "nope")


def test_drain_available_now_roundtrip(filled_store):
    src = streaming.stream_topic(filled_store, "src")
    out = streaming.drain_available_now(src)
    assert out.count() == 60
    # per-partition offsets contiguous from 0
    stats = {
        r.partition: (r.lo, r.hi, r.n)
        for r in out.groupBy("partition")
        .agg(F.min("offset").alias("lo"), F.max("offset").alias("hi"), F.count("*").alias("n"))
        .collect()
    }
    assert stats == {0: (0, 19, 20), 1: (0, 19, 20), 2: (0, 19, 20)}


def test_drain_removes_the_checkpoint_it_created(filled_store, tmp_path, monkeypatch):
    """A drain without a caller checkpoint makes a temp one and removes it
    once the query has stopped; the memory-sink table keeps every row."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = streaming.drain_available_now(streaming.stream_topic(filled_store, "src"))
    assert list(tmp_path.glob("flux-drain-ckpt-*")) == []
    assert out.count() == 60
    assert out.select("value").distinct().count() == 60


def test_drain_over_many_segments_starts_no_listing_job(store, spark, tmp_path):
    """A drain over more segment files than Spark's parallel-listing
    threshold (32) must list them on the driver: it runs exactly as many
    Spark jobs as a drain over a handful of segments."""

    def drain_jobs(topic: str, segments: int) -> int:
        store.catalog.create_topic(topic, 1)
        for i in range(segments):
            store.append_rows(topic, [{"value": f"v{i}", "partition": 0}])
        q = (
            streaming.stream_topic(store, topic)
            .writeStream.format("memory")
            .queryName(f"listing_{topic}")
            .option("checkpointLocation", str(tmp_path / f"ckpt-{topic}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        assert spark.table(f"listing_{topic}").count() == segments
        # every micro-batch runs its jobs under job group = the run id
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))

    few = drain_jobs("few", 4)
    many = drain_jobs("many", 40)
    assert few > 0
    assert many == few


def test_stream_partition_pruning(filled_store):
    src = streaming.stream_topic(filled_store, "src", partitions=[1])
    out = streaming.drain_available_now(src)
    assert out.count() == 20
    assert out.select("partition").distinct().collect()[0].partition == 1


def test_windowed_counts_complete_mode(filled_store):
    src = streaming.stream_topic(filled_store, "src")
    agg = streaming.stream_windowed_counts(src, window="1 hour")
    out = streaming.drain_available_now(agg, output_mode="complete")
    rows = out.collect()
    assert sum(r.n_events for r in rows) == 60
    assert all(r.first_offset == 0 for r in rows)  # ingest was one batch/hour


def test_stateful_running_totals(filled_store, spark):
    src = streaming.stream_topic(filled_store, "src").withColumn(
        "value", F.lit(2.5)
    )
    totals = streaming.stateful_running_totals(src, state_timeout_ms=1500)
    out = streaming.drain_available_now(
        totals, output_mode="update", trigger_interval_ms=1000
    )
    got = {r.key: (r.total, r.n) for r in out.collect()}
    assert got == {f"k{i}": (30.0, 12) for i in range(5)}


def test_stream_ingest_and_e2e(filled_store, tmp_path):
    filled_store.catalog.create_topic("sink", 2)
    sink = streaming.end_to_end_pipeline(
        filled_store, "src", "sink", checkpoint_root=str(tmp_path / "ckpt")
    )
    rows = sink.collect()
    assert len(rows) == 60
    parsed = sink.select(
        "offset",
        "partition",
        F.from_json("value", "payload STRING, src_partition INT, src_offset LONG").alias("v"),
    ).collect()
    assert all(r.v.payload.startswith("v") for r in parsed)
    # offsets contiguous per sink partition
    per_part = {}
    for r in parsed:
        per_part.setdefault(r.partition, []).append(r.offset)
    for p, offs in per_part.items():
        assert sorted(offs) == list(range(len(offs)))


def test_incremental_microbatches(filled_store, spark, tmp_path):
    """New appends after a drain show up in the next drain (resume from
    checkpoint = the poll-position analog). Memory sinks can't recover a
    checkpoint, so this uses a parquet sink — the durable-consumer shape."""
    src = streaming.stream_topic(filled_store, "src")
    ckpt = str(tmp_path / "inc-ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        q = (
            src.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir)

    assert drain().count() == 60
    more = spark.createDataFrame(
        [(100 + i, i % 3, None, f"late{i}") for i in range(6)],
        "seq long, partition int, key string, value string",
    )
    filled_store.append("src", more, ordering_col="seq")
    total = drain()
    # checkpoint resume: only the 6 new records were processed, appended
    # onto the previous 60 in the sink
    assert total.count() == 66
    late = sorted(r.value for r in total.collect() if r.value.startswith("late"))
    assert late == [f"late{i}" for i in range(6)]


def test_stream_session_counts(filled_store, spark):
    """Session windows merge per-key events with <30min gaps; the fixture's
    60 records share one ingest timestamp, so each of the 5 keys collapses
    into exactly one session of 12 events."""
    src = streaming.stream_topic(filled_store, "src")
    sess = streaming.stream_session_counts(src, gap="30 minutes")
    out = streaming.drain_available_now(sess, output_mode="complete")
    rows = out.collect()
    assert len(rows) == 5
    assert {r.key for r in rows} == {f"k{i}" for i in range(5)}
    assert all(r.n_events == 12 for r in rows)
    assert all(r.session_end > r.session_start for r in rows)


def test_stream_ingest_replay_is_noop(filled_store, spark, tmp_path):
    """Simulated crash between foreachBatch and checkpoint commit: delete
    the checkpoint's commit marker so Spark re-delivers batch 0 with the
    same batch_id on restart — the sink's batch id, committed with the hwm
    advance (idempotent produce), must make the replay a no-op (no
    duplicate records, hwm unchanged)."""
    import shutil

    filled_store.catalog.create_topic("replay-sink", 2)
    ckpt = tmp_path / "replay-ckpt"
    src = streaming.stream_topic(filled_store, "src")
    q = streaming.stream_ingest(src, filled_store, "replay-sink", str(ckpt))
    q.awaitTermination(120)
    assert filled_store.read("replay-sink").count() == 60
    hwm = filled_store.high_water_marks("replay-sink")

    # drop the streaming engine's commit record for batch 0 -> replay
    shutil.rmtree(ckpt / "commits")
    src2 = streaming.stream_topic(filled_store, "src")
    q2 = streaming.stream_ingest(src2, filled_store, "replay-sink", str(ckpt))
    q2.awaitTermination(120)
    assert filled_store.read("replay-sink").count() == 60
    assert filled_store.high_water_marks("replay-sink") == hwm


def test_stream_stream_join_within_bound(filled_store, spark):
    """Stream-stream equi-key join with a time bound: every src record
    joins the enrich-topic record sharing its key (all timestamps land in
    one ingest instant, so the 1h bound always holds)."""
    enrich = spark.createDataFrame(
        [(i, f"k{i}", f"dim{i}") for i in range(5)],
        "seq long, key string, value string",
    )
    filled_store.catalog.create_topic("dims", 1)
    filled_store.append("dims", enrich, ordering_col="seq")

    l = streaming.stream_topic(filled_store, "src")
    r = streaming.stream_topic(filled_store, "dims")
    joined = streaming.stream_stream_join(l, r, within="1 hour")
    out = streaming.drain_available_now(joined)
    rows = out.collect()
    assert len(rows) == 60  # each src record matches exactly one dim
    assert all(r.r_value == "dim" + r.key[1] for r in rows)


def test_stream_dedup_within_watermark(filled_store):
    # 60 records share 5 routing keys -> dedup on key keeps exactly 5
    src = streaming.stream_topic(filled_store, "src")
    deduped = streaming.stream_dedup(src, ["key"])
    out = streaming.drain_available_now(deduped)
    assert out.count() == 5
    assert {r.key for r in out.select("key").collect()} == {f"k{i}" for i in range(5)}


def test_stream_dedup_on_content_digest(filled_store, spark):
    # dedup on a derived content digest column instead of the routing key
    src = streaming.stream_topic(filled_store, "src").withColumn(
        "digest", F.md5(F.substring("value", 1, 1))  # all values start 'v'
    )
    out = streaming.drain_available_now(streaming.stream_dedup(src, ["digest"]))
    assert out.count() == 1


def test_stateful_offset_progress_detects_replays(filled_store, spark, tmp_path):
    """Replayed (duplicate-offset) records count as replays, fresh ones
    advance the per-key hwm. Source: the src topic streamed twice into one
    input dir so every record arrives exactly twice."""
    dup_dir = str(tmp_path / "dup-src")
    base = filled_store.read("src").select("key", "offset")
    base.unionAll(base).coalesce(2).write.parquet(dup_dir)
    stream = spark.readStream.schema("key string, offset long").parquet(dup_dir)
    out = streaming.drain_available_now(
        streaming.stateful_offset_progress(stream, state_timeout_ms=1500),
        output_mode="update",
        trigger_interval_ms=1000,
    )
    got = {r.key: r for r in out.collect()}
    total = filled_store.read("src").count()
    assert sum(r.n_records for r in got.values()) == 2 * total
    # every record was delivered twice -> half are replays
    assert sum(r.n_replays for r in got.values()) == total
    for r in got.values():
        assert r.hwm >= 0 and r.n_replays * 2 == r.n_records


def test_stream_export_exactly_once_across_restarts(filled_store, spark, tmp_path):
    out = str(tmp_path / "export")
    ckpt = str(tmp_path / "export-ckpt")
    src = streaming.stream_topic(filled_store, "src")
    streaming.stream_export(src, out, ckpt)
    assert spark.read.parquet(out).count() == 60

    # re-running against the same checkpoint with no new data is a no-op
    streaming.stream_export(streaming.stream_topic(filled_store, "src"), out, ckpt)
    assert spark.read.parquet(out).count() == 60

    # new appends export incrementally, old rows never duplicate
    more = spark.createDataFrame(
        [(100 + i, i % 3, f"k{i}", f"late{i}") for i in range(6)],
        "seq long, partition int, key string, value string",
    )
    filled_store.append("src", more, ordering_col="seq")
    streaming.stream_export(streaming.stream_topic(filled_store, "src"), out, ckpt)
    vals = [r.value for r in spark.read.parquet(out).collect()]
    assert len(vals) == 66 and len(set(vals)) == 66


def test_processing_time_trigger_multi_microbatch(filled_store, spark, tmp_path):
    """Continuous poll parity: a ProcessingTime trigger with
    maxFilesPerTrigger=1 rate limiting must deliver the log across
    MULTIPLE microbatches (not one gulp), advance the sink topic's hwm as
    batches land, and pick up records appended while the query runs —
    the reference's long-lived poll loop, expressed as a live stream."""
    import time

    filled_store.catalog.create_topic("ptsink", 3)
    ckpt = tmp_path / "pt-ckpt"
    # 60 src records across 3 partition dirs = 3 parquet files -> >= 3
    # rate-limited microbatches before the live append's files
    src = streaming.stream_topic(filled_store, "src", max_files_per_trigger=1)
    q = streaming.stream_ingest(
        src,
        filled_store,
        "ptsink",
        str(ckpt),
        trigger={"processingTime": "1 seconds"},
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if sum(filled_store.high_water_marks("ptsink").values()) >= 60:
                break
            time.sleep(0.5)
        hwm_mid = filled_store.high_water_marks("ptsink")
        assert sum(hwm_mid.values()) == 60, hwm_mid

        # live append while the query keeps running -> picked up as new
        # microbatch input, offsets continue past the existing tail
        extra = spark.createDataFrame(
            [(100 + i, i % 3, f"k{i}", f"x{i}") for i in range(12)],
            "seq long, partition int, key string, value string",
        )
        filled_store.append("src", extra, ordering_col="seq")
        while time.time() < deadline:
            if sum(filled_store.high_water_marks("ptsink").values()) >= 72:
                break
            time.sleep(0.5)
        assert sum(filled_store.high_water_marks("ptsink").values()) == 72
        # rate limiting forced multi-batch delivery
        data_batches = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
        assert len(data_batches) >= 2, [
            p["numInputRows"] for p in q.recentProgress
        ]
    finally:
        q.stop()
        q.awaitTermination(30)

    # delivered exactly once, per-partition offsets contiguous
    got = filled_store.read("ptsink").select("partition", "offset").collect()
    assert len(got) == 72
    by_part = {}
    for r in got:
        by_part.setdefault(r.partition, []).append(r.offset)
    for p, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs))), f"partition {p}"


def test_late_data_dropped_across_checkpointed_runs(store, spark, tmp_path):
    """Append-mode windowed agg across two AvailableNow runs sharing a
    checkpoint: run 1 persists watermark = max(ts) - 30min; a run-2 row
    landing in a window already closed under that watermark is DROPPED
    (its window's count excludes it), later rows keep flowing, and the
    still-open window is withheld."""
    from datetime import datetime

    def ts(h, m):
        return datetime(2024, 3, 1, h, m)

    store.catalog.create_topic("late", 1)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def append(rows):
        df = spark.createDataFrame(
            rows, "seq long, partition int, timestamp timestamp, "
                  "key string, value string"
        )
        store.append("late", df, ordering_col="seq")

    def export():
        agg = streaming.stream_windowed_counts(
            streaming.stream_topic(store, "late"),
            window="1 hour",
            watermark="30 minutes",
        ).select("window_start", "n_events")
        streaming.stream_export(agg, out, ckpt)

    append([(0, 0, ts(10, 0), "k", "a"),
            (1, 0, ts(10, 10), "k", "b"),
            (2, 0, ts(12, 0), "k", "c")])
    export()  # wm -> 11:30; emits [10,11) with n=2
    append([(3, 0, ts(10, 30), "k", "LATE"),   # window end 11:00 <= wm: drop
            (4, 0, ts(11, 15), "k", "kept"),   # window end 12:00 > wm: keep
            (5, 0, ts(13, 45), "k", "tail")])  # wm -> 13:15
    export()  # closes [11,12) n=1 and [12,13) n=1; [13,14) stays open
    got = {
        r["window_start"].hour: r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {10: 2, 11: 1, 12: 1}, got


def test_left_outer_join_emits_nulls_after_watermark(store, spark):
    """Left row with no partner emits null-padded once BOTH streams'
    watermarks pass its match horizon; a too-recent unmatched left row
    is withheld; matches emit normally."""
    from datetime import datetime

    def ts(h, m):
        return datetime(2024, 5, 1, h, m)

    store.catalog.create_topic("attr", 1)
    rows = [
        (0, 0, ts(10, 0), "k1", "0"),    # left, matched by value 1
        (1, 0, ts(10, 10), "k1", "1"),   # right partner
        (2, 0, ts(10, 0), "k2", "2"),    # left, no partner -> NULL row
        (4, 0, ts(13, 0), "k3", "4"),    # left tail: advances left wm; withheld
        (5, 0, ts(13, 0), "k4", "5"),    # right tail: advances right wm
    ]
    df = spark.createDataFrame(
        rows, "seq long, partition int, timestamp timestamp, key string, value string"
    )
    store.append("attr", df, ordering_col="seq")
    left = streaming.stream_topic(store, "attr").where(
        F.col("value").cast("long") % 2 == 0
    )
    right = streaming.stream_topic(store, "attr").where(
        F.col("value").cast("long") % 2 == 1
    )
    joined = streaming.stream_stream_join(
        left, right, key="key", within="30 minutes",
        watermark="30 minutes", how="leftOuter",
    )
    out = {
        (r["key"], r["value"]): r["r_value"]
        for r in streaming.drain_available_now(joined).collect()
    }
    # wm = min(13:00, 13:00) - 30min = 12:30 > 10:30 horizon of k2's row
    assert out == {("k1", "0"): "1", ("k2", "2"): None}, out


def test_rocksdb_state_store_stateful_gates(spark, sf_dir):
    """The stateful registry gates run green under the RocksDB state
    store provider (stock Spark) — the provider a 100 TB deployment
    flips on when keyed state outgrows executor memory. Results must be
    identical to the HDFS-backed default."""
    from flux_spark.analytics.log_queries import LOG_QUERIES
    from flux_spark.analytics.queries import ANALYTICS_QUERIES

    reg = {**LOG_QUERIES, **ANALYTICS_QUERIES}
    qs = {
        n: q.fn
        for n, q in reg.items()
        if n in ("stream_stateful_totals", "stream_cdc_apply")
    }
    assert len(qs) == 2
    baseline = {
        n: sorted(map(tuple, fn(spark, sf_dir).collect()))
        for n, fn in qs.items()
    }
    # both RocksDB modes must be result-identical to the HDFS default:
    # full-snapshot commits AND changelog checkpointing (r12 — the
    # delta-only commit mode a 100 TB deployment actually runs)
    for changelog in (False, True):
        streaming.use_rocksdb_state_store(
            spark, changelog_checkpointing=changelog
        )
        try:
            assert (
                spark.conf.get(
                    "spark.sql.streaming.stateStore.providerClass"
                )
                == streaming.ROCKSDB_STATE_STORE
            )
            assert spark.conf.get(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled"
            ) == ("true" if changelog else "false")
            for n, fn in qs.items():
                got = sorted(map(tuple, fn(spark, sf_dir).collect()))
                assert got == baseline[n], (n, changelog)
        finally:
            streaming.use_rocksdb_state_store(spark, enabled=False)


def test_rocksdb_changelog_large_state_soak(spark, tmp_path):
    """1M-distinct-key streaming aggregation under RocksDB + changelog
    checkpointing (r12, VERDICT r11 #5): the checkpoint actually
    contains .changelog files (delta-only commits engaged), and a
    RESTART from the same checkpoint recovers the full keyed state —
    the incremental drain emits count=3 for re-sent keys, which is only
    possible if all prior state survived the stop/start cycle."""
    import glob
    import time

    n_keys = 1_000_000
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def add_range(lo, hi):
        spark.range(lo, hi).selectExpr(
            "CAST(id AS STRING) AS key", "id AS value"
        ).write.mode("append").parquet(src)

    def drain():
        """One AvailableNow run; returns {emitted count value: n_rows}
        merged across microbatches (memory sink cannot recover from a
        checkpoint, so the recoverable foreachBatch sink carries the
        restart legs). The assertions below hold under ANY batching:
        counts are monotone per key, and update mode emits a given
        (key, value) pair at most once per drain."""
        hist: dict[int, int] = {}

        def sink(df, _bid):
            for r in df.groupBy("count").agg(
                F.count("*").alias("n")
            ).collect():
                hist[r["count"]] = hist.get(r["count"], 0) + r["n"]

        q = (
            spark.readStream.schema("key string, value long")
            .parquet(src)
            .groupBy("key")
            .count()
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)
        return hist

    streaming.use_rocksdb_state_store(spark, changelog_checkpointing=True)
    try:
        add_range(0, n_keys)
        add_range(0, 1_000)  # keys 0..999 arrive twice in the initial load
        t0 = time.time()
        h1 = drain()
        t_initial = time.time() - t0
        # every re-sent key reaches (and emits) count=2 exactly once; no
        # key exceeds 2; every key emits its count=1 state at least once
        # unless both arrivals landed in one batch
        assert max(h1) == 2 and h1[2] == 1_000, h1
        assert h1[1] >= n_keys - 1_000
        # delta-only commits actually engaged
        assert glob.glob(f"{ckpt}/state/**/*.changelog", recursive=True)
        # restart #1: 1k re-sent keys against the recovered 1M-key state
        add_range(0, 1_000)
        t0 = time.time()
        h2 = drain()
        t_recover = time.time() - t0
        assert h2 == {3: 1_000}, h2  # 2 + 1 — prior state survived
        # restart #2: keys NEVER re-sent before must also have survived
        # both stop/start cycles (breadth spot check deep in the space)
        add_range(500_000, 501_000)
        add_range(n_keys - 1, n_keys)
        h3 = drain()
        assert h3 == {2: 1_001}, h3
        print(
            f"rocksdb-changelog soak: initial {n_keys + 1_000} rows / "
            f"{n_keys} keys in {t_initial:.1f}s; restart + 1k-key "
            f"incremental drain {t_recover:.1f}s"
        )
    finally:
        streaming.use_rocksdb_state_store(spark, enabled=False)
