"""Log storage invariants (FIXTURES.md F1): contiguous per-partition offsets
from 0, no loss, point reads, routing priority."""

import pytest
from pyspark.sql import functions as F

from flux_spark.errors import InvalidTopicError
from flux_spark.murmur2 import partition_for_key


def _mk_records(spark, n, with_key=True, partition=None):
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                partition,
                f"key-{i % 10}" if with_key else None,
                f"value-{i}",
            )
        )
    return spark.createDataFrame(
        rows, "seq long, partition int, key string, value string"
    )


def test_append_assigns_contiguous_offsets(spark, store):
    store.catalog.create_topic("t", 3)
    df = _mk_records(spark, 100)
    stats = store.append("t", df, ordering_col="seq")
    total = sum(last - first + 1 for first, last in stats.values())
    assert total == 100
    got = store.read("t").select("partition", "offset").collect()
    assert len(got) == 100
    by_part = {}
    for r in got:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for p, offs in by_part.items():
        offs.sort()
        assert offs == list(range(len(offs))), f"partition {p} offsets not contiguous"


def test_append_across_batches_continues_offsets(spark, store):
    store.catalog.create_topic("t", 2)
    for _ in range(3):
        store.append("t", _mk_records(spark, 20), ordering_col="seq")
    got = store.read("t").groupBy("partition").agg(
        F.count("*").alias("n"), F.min("offset").alias("lo"), F.max("offset").alias("hi")
    ).collect()
    assert sum(r["n"] for r in got) == 60
    for r in got:
        assert r["lo"] == 0
        assert r["hi"] == r["n"] - 1  # gap-free across appends


def test_key_routing_is_murmur2(spark, store):
    store.catalog.create_topic("t", 3)
    store.append("t", _mk_records(spark, 50, with_key=True), ordering_col="seq")
    got = store.read("t").select("partition", "key").distinct().collect()
    for r in got:
        assert r["partition"] == partition_for_key(r["key"], 3)


def test_explicit_partition_wins(spark, store):
    store.catalog.create_topic("t", 3)
    store.append("t", _mk_records(spark, 10, partition=2), ordering_col="seq")
    parts = {r["partition"] for r in store.read("t").select("partition").collect()}
    assert parts == {2}


def test_invalid_explicit_partition_falls_back_to_key(spark, store):
    # FIXTURES.md F4: invalid partition (-5) -> key hashing
    store.catalog.create_topic("t", 3)
    store.append("t", _mk_records(spark, 10, partition=-5), ordering_col="seq")
    got = store.read("t").select("partition", "key").collect()
    for r in got:
        assert r["partition"] == partition_for_key(r["key"], 3)


def test_unkeyed_round_robin(spark, store):
    store.catalog.create_topic("t", 3)
    store.append("t", _mk_records(spark, 30, with_key=False), ordering_col="seq")
    counts = {
        r["partition"]: r["n"]
        for r in store.read("t").groupBy("partition").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {0: 10, 1: 10, 2: 10}


def test_empty_key_routes_round_robin(spark, store):
    """'' keys behave like missing keys: round-robin, not murmur2-hashed
    (PartitionSelector.java:43-50,79-101 falls through on empty keys)."""
    store.catalog.create_topic("t", 3)
    rows = [(i, "", f"v{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "seq long, key string, value string")
    store.append("t", df, ordering_col="seq")
    counts = {
        r["partition"]: r["n"]
        for r in store.read("t").groupBy("partition").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {0: 10, 1: 10, 2: 10}


def test_read_at_point_fetch(spark, store):
    store.catalog.create_topic("t", 1)
    store.append("t", _mk_records(spark, 25, with_key=False), ordering_col="seq")
    row = store.read_at("t", 0, 7)
    assert row is not None
    assert row["offset"] == 7
    assert row["value"] == "value-7"  # arrival order == offset order in p0
    assert store.read_at("t", 0, 999) is None


def test_offset_range_read(spark, store):
    store.catalog.create_topic("t", 1)
    store.append("t", _mk_records(spark, 50, with_key=False), ordering_col="seq")
    df = store.read("t", partitions=[0], start_offsets={0: 10}, end_offsets={0: 20})
    offs = sorted(r["offset"] for r in df.collect())
    assert offs == list(range(10, 20))


def test_unknown_topic_raises(spark, store):
    with pytest.raises(InvalidTopicError):
        store.append("nonexistenttopic", _mk_records(spark, 1))


def test_recover_hwm_from_data(spark, store):
    store.catalog.create_topic("t", 2)
    store.append("t", _mk_records(spark, 40), ordering_col="seq")
    expected = store.high_water_marks("t")
    # simulate catalog loss
    store.catalog.advance_hwm("t", {})  # no-op, then verify recompute matches
    assert store.recover_hwm_from_data("t") == expected


def test_compact_preserves_records(spark, store):
    store.catalog.create_topic("t", 2)
    for _ in range(4):
        store.append("t", _mk_records(spark, 25), ordering_col="seq")
    before = sorted(
        (r["partition"], r["offset"], r["value"])
        for r in store.read("t").collect()
    )
    store.compact("t")
    after = sorted(
        (r["partition"], r["offset"], r["value"])
        for r in store.read("t").collect()
    )
    assert before == after


def _jobs_and_stages(spark, fn) -> tuple[int, int]:
    """Run ``fn`` under a fresh job group; return how many Spark jobs it
    launched and how many distinct stage ids those jobs hold (AQE runs
    each shuffle map stage as its own job, so a skipped stage counts)."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    return len(jobs), len(stages)


def test_spark_append_job_and_stage_count(spark, store):
    """An ingest is one shuffle: the shuffle-map job plus the write job
    (whose re-listed map stage is skipped) — 2 jobs, 3 stage ids."""
    store.catalog.create_topic("jobs", 3)
    df = _mk_records(spark, 60)
    assert _jobs_and_stages(
        spark, lambda: store.append("jobs", df, ordering_col="seq")
    ) == (2, 3)


@pytest.mark.parametrize(
    "path", ["append", "compact", "truncate_before", "compact_by_key", "mirror_topic"]
)
def test_spark_writes_roll_sorted_segments(spark, tmp_path, path):
    """Every Spark lane that writes segments honours one contract: files
    roll at ``max_records_per_file`` records, each file's offsets ascend,
    and the footer codec is the store's ``compression``."""
    import pyarrow.parquet as pq

    from flux_spark.log import LogStore

    store = LogStore(spark, tmp_path / "wh", max_records_per_file=4)
    # 30 records, 2 partitions; key k<j> lives in partition j % 2 twice,
    # so compact_by_key keeps 8 + 7 records, more than one file each
    df = spark.createDataFrame(
        [(i, (i % 15) % 2, f"k{i % 15}", f"v{i}") for i in range(30)],
        "seq long, partition int, key string, value string",
    )
    target = store
    if path == "mirror_topic":
        store.max_records_per_file = 100_000
        target = LogStore(spark, tmp_path / "mirror", max_records_per_file=4)
    store.catalog.create_topic("seg", 2)
    store.append("seg", df, ordering_col="seq")
    if path == "compact":
        store.compact("seg")
    elif path == "truncate_before":
        store.truncate_before("seg", {0: 2, 1: 3})
    elif path == "compact_by_key":
        store.compact_by_key("seg")
    elif path == "mirror_topic":
        target.mirror_topic(store, "seg")
    files_per_partition = {}
    for p in range(2):
        files = sorted((target.warehouse / "seg" / f"partition={p}").glob("*.parquet"))
        files_per_partition[p] = len(files)
        for fp in files:
            pf = pq.ParquetFile(fp)
            offsets = pf.read(columns=["offset"]).column("offset").to_pylist()
            assert 0 < len(offsets) <= 4, fp.name
            assert offsets == sorted(offsets), fp.name
            for rg in range(pf.metadata.num_row_groups):
                codec = pf.metadata.row_group(rg).column(0).compression
                assert codec.lower() == target.compression, fp.name
    assert all(n > 1 for n in files_per_partition.values()), files_per_partition


def test_timestamp_defaulted(spark, store):
    store.catalog.create_topic("t", 1)
    df = spark.createDataFrame([(0, "v")], "seq long, value string")
    store.append("t", df, ordering_col="seq")
    row = store.read("t").collect()[0]
    assert row["timestamp"] is not None


def test_offsets_for_times(spark, store):
    from pyspark.sql import functions as F

    store.catalog.create_topic("ts", 2)
    df = spark.createDataFrame(
        [(i, i % 2, f"2024-01-01 00:{i:02d}:00", f"v{i}") for i in range(20)],
        "seq long, partition int, timestamp string, value string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    store.append("ts", df, ordering_col="seq")
    # records i=0..19; partition p holds i where i%2==p, offsets 0..9 in order
    found = store.offsets_for_times("ts", "2024-01-01 00:10:00")
    # first record with ts >= 00:10 is i=10 (p0, its 6th record -> offset 5)
    # and i=11 (p1, offset 5)
    assert found == {0: 5, 1: 5}
    assert store.offsets_for_times("ts", "2025-01-01 00:00:00") == {0: None, 1: None}
    assert store.offsets_for_times("ts", "2020-01-01 00:00:00") == {0: 0, 1: 0}


def test_truncate_before_preserves_offsets(spark, store):
    from pyspark.sql import functions as F

    store.catalog.create_topic("ret", 2)
    df = spark.createDataFrame(
        [(i, i % 2, f"v{i}") for i in range(20)],
        "seq long, partition int, value string",
    )
    store.append("ret", df, ordering_col="seq")
    store.truncate_before("ret", {0: 7})  # partition 1 untouched
    rows = store.read("ret").groupBy("partition").agg(
        F.min("offset").alias("lo"), F.max("offset").alias("hi"), F.count("*").alias("n")
    ).collect()
    got = {r.partition: (r.lo, r.hi, r.n) for r in rows}
    assert got == {0: (7, 9, 3), 1: (0, 9, 10)}
    # appends continue from the same hwm (offsets never reused)
    store.append("ret", spark.createDataFrame([(100, 0, "new")], "seq long, partition int, value string"), ordering_col="seq")
    assert store.read_at("ret", 0, 10).value == "new"


def test_compact_by_key_latest_wins_with_gaps_and_tombstones(spark, store):
    store.catalog.create_topic("kc", 2)
    rows = [
        # (seq, partition, key, value)
        (0, 0, "a", "a0"),
        (1, 0, "a", "a1"),       # supersedes a0
        (2, 0, "b", "b0"),
        (3, 0, None, "nk0"),     # null key: kept as-is
        (4, 1, "c", "c0"),
        (5, 1, "c", None),       # tombstone: c removed entirely
        (6, 1, "d", "d0"),
    ]
    df = spark.createDataFrame(
        rows, "seq long, partition int, key string, value string"
    )
    store.append("kc", df, ordering_col="seq")
    store.compact_by_key("kc")
    got = sorted(
        (r["partition"], r["offset"], r["key"], r["value"])
        for r in store.read("kc").collect()
    )
    # p0: a1 keeps ORIGINAL offset 1 (gap at 0), b0 at 2, null-key at 3
    # p1: c fully removed by tombstone, d0 keeps offset 2
    assert got == [
        (0, 1, "a", "a1"),
        (0, 2, "b", "b0"),
        (0, 3, None, "nk0"),
        (1, 2, "d", "d0"),
    ]
    # hwm unchanged: new appends continue past the pre-compaction tail
    res = store.append(
        "kc",
        spark.createDataFrame(
            [(10, 0, "e", "e0")], "seq long, partition int, key string, value string"
        ),
        ordering_col="seq",
    )
    assert res[0] == (4, 4)


def test_compact_by_key_randomized_matches_model(spark, store):
    """Seeded randomized batch vs a driver-side model of the cleaner:
    survivors = latest offset per (partition, key) that isn't tombstoned,
    plus all null-key records."""
    import random

    rng = random.Random(42)
    rows = [
        (
            i,
            rng.randrange(3),
            rng.choice([None, *(f"k{j}" for j in range(8))]),
            rng.choice([None, f"v{i}"]),
        )
        for i in range(400)
    ]
    store.catalog.create_topic("rkc", 3)
    df = spark.createDataFrame(
        rows, "seq long, partition int, key string, value string"
    )
    store.append("rkc", df, ordering_col="seq")
    before = [
        (r["partition"], r["offset"], r["key"], r["value"])
        for r in store.read("rkc").collect()
    ]
    # model over what was actually written (offset order == seq order)
    latest = {}
    nullkey = []
    for p, off, k, v in before:
        if k is None:
            nullkey.append((p, off, k, v))
        else:
            latest[(p, k)] = (p, off, k, v)
    expected = sorted(
        nullkey + [r for r in latest.values() if r[3] is not None]
    )
    store.compact_by_key("rkc")
    got = sorted(
        (r["partition"], r["offset"], r["key"], r["value"])
        for r in store.read("rkc").collect()
    )
    assert got == expected


def test_compression_codecs_roundtrip(spark, tmp_path):
    """B8/B11 analog of CompressionTypeTest.java:11-133: every codec the
    reference supports (none/gzip/snappy/lz4/zstd -> parquet codecs)
    round-trips records identically, and the files really carry the codec."""
    from flux_spark.log import LogStore

    payload = [(i, f"value-{i}" * 20) for i in range(200)]
    results = {}
    for codec in ("uncompressed", "gzip", "snappy", "lz4", "zstd"):
        store = LogStore(
            spark, str(tmp_path / codec), compression=codec
        )
        store.catalog.create_topic("t", 2)
        df = spark.createDataFrame(payload, "seq long, value string")
        store.append("t", df, ordering_col="seq")
        rows = sorted(
            (r["partition"], r["offset"], r["value"])
            for r in store.read("t").collect()
        )
        results[codec] = rows
        # verify codec actually applied to the data pages
        import glob

        import pyarrow.parquet as pq

        f = glob.glob(str(tmp_path / codec / "t" / "partition=*" / "*.parquet"))[0]
        meta = pq.ParquetFile(f).metadata.row_group(0).column(0)
        expect = {
            "uncompressed": "UNCOMPRESSED",
            "gzip": "GZIP",
            "snappy": "SNAPPY",
            # Spark's lz4 parquet codec is Hadoop-framed; pyarrow's enum
            # reports it UNKNOWN but the round-trip read still verifies it
            "lz4": {"LZ4", "LZ4_RAW", "UNKNOWN"},
            "zstd": "ZSTD",
        }[codec]
        got = meta.compression
        assert got in expect if isinstance(expect, set) else got == expect, (
            codec,
            got,
        )
    base = results["uncompressed"]
    assert all(v == base for v in results.values())


def test_append_with_batch_id_is_idempotent(spark, store):
    store.catalog.create_topic("idem", 2)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "seq long, value string"
    )
    first = store.append("idem", df, ordering_col="seq", batch_id="b-1")
    assert sum(hi - lo + 1 for lo, hi in first.values()) == 50
    # retry of the same batch id: no-op, no duplicate records, hwm unchanged
    retry = store.append("idem", df, ordering_col="seq", batch_id="b-1")
    assert retry == {}
    assert store.read("idem").count() == 50
    # a NEW batch id appends normally past the previous tail
    second = store.append("idem", df, ordering_col="seq", batch_id="b-2")
    assert sum(hi - lo + 1 for lo, hi in second.values()) == 50
    assert store.read("idem").count() == 100
    for p, (lo, hi) in second.items():
        assert lo == first[p][1] + 1


@pytest.mark.parametrize("lane", ["append", "append_rows"])
def test_torn_append_retry_is_exactly_once(spark, store, monkeypatch, lane):
    """Driver crash BETWEEN parquet write and hwm advance, then a
    same-batch_id retry: the intent protocol must discard the torn
    attempt's files before re-appending, so rows land exactly once at
    gap-free offsets (ADVICE r3: the old post-write marker left this
    window duplicate-visible). Run on both produce lanes; on
    ``append_rows`` each partition's 20 rows roll into three segments."""
    store.catalog.create_topic("torn", 2)
    if lane == "append":
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "seq long, value string"
        )

        def produce(batch_id):
            return store.append("torn", df, ordering_col="seq", batch_id=batch_id)

    else:
        store.max_records_per_file = 8
        recs = [{"seq": i, "value": f"v{i}"} for i in range(40)]

        def produce(batch_id):
            return store.append_rows("torn", recs, batch_id=batch_id)

    produce("t-0")

    # crash analog: parquet files commit, advance_hwm never runs
    real_advance = store.catalog.advance_hwm

    def boom(*a, **k):
        raise RuntimeError("simulated driver crash before commit")

    monkeypatch.setattr(store.catalog, "advance_hwm", boom)
    with pytest.raises(RuntimeError, match="simulated driver crash"):
        produce("t-1")
    monkeypatch.setattr(store.catalog, "advance_hwm", real_advance)

    # torn files exist above the hwm but are invisible to committed reads
    assert store.read("torn").count() == 40
    assert store.read("torn", include_uncommitted=True).count() == 80
    intent = store.warehouse / "torn" / "_batch_commits" / "t-1.intent"
    assert intent.exists()
    if lane == "append_rows":
        for p in range(2):
            pdir = store.warehouse / "torn" / f"partition={p}"
            assert len(list(pdir.glob("part-fast-*.parquet"))) == 6

    # retry: discards the torn attempt, appends exactly once
    stats = produce("t-1")
    assert sum(hi - lo + 1 for lo, hi in stats.values()) == 40
    assert not intent.exists()
    assert store.read("torn").count() == 80
    assert store.read("torn", include_uncommitted=True).count() == 80
    got = store.read("torn").select("partition", "offset").collect()
    by_part = {}
    for r in got:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for p, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs))), f"partition {p} gap"
    # replay of the now-committed batch is still a no-op
    assert produce("t-1") == {}
    assert store.read("torn").count() == 80


def test_two_stores_cannot_mint_duplicate_offsets(spark, store):
    """Two LogStore instances over ONE warehouse (the two-driver-process
    shape — separate catalog objects, separate threading locks, so only
    the per-topic flock file serializes them) appending concurrently:
    offsets must stay gap-free and every record must land exactly once."""
    import threading

    from flux_spark.log import LogStore

    store.catalog.create_topic("multi", 2)
    other = LogStore(spark, store.warehouse)  # second "process"
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "seq long, value string"
    )
    errors = []

    def run(st):
        try:
            for _ in range(3):
                st.append("multi", df, ordering_col="seq")
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run, args=(s,)) for s in (store, other)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    got = store.read("multi").select("partition", "offset").collect()
    assert len(got) == 180
    by_part = {}
    for r in got:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for p, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs))), f"partition {p} dup/gap"


def test_sql_view_over_topic(spark, store):
    store.catalog.create_topic("sqlt", 2)
    store.append("sqlt", _mk_records(spark, 40), ordering_col="seq")
    name = store.create_view("sqlt")
    got = spark.sql(
        f"SELECT partition, COUNT(*) AS n, MAX(offset) AS hi FROM {name} "
        "GROUP BY partition ORDER BY partition"
    ).collect()
    assert sum(r.n for r in got) == 40
    assert all(r.hi == r.n - 1 for r in got)
    assert "sqlt" in name and name in [
        t.name for t in spark.catalog.listTables()
    ]


def test_wide_topic_64_partitions_contiguous(spark, store):
    """Partition-scaling check: a 64-partition topic ingests one batch and
    every partition's offsets are gap-free from 0 (writer-per-partition
    holds at any width; Kafka-style topics are 10s-1000s of partitions)."""
    store.catalog.create_topic("wide", 64)
    df = spark.createDataFrame(
        [(i, i % 64, f"v{i}") for i in range(6400)],
        "seq long, partition int, value string",
    )
    stats = store.append("wide", df, ordering_col="seq")
    assert len(stats) == 64
    assert all(lo == 0 and hi == 99 for lo, hi in stats.values())
    agg = (
        store.read("wide")
        .groupBy("partition")
        .agg(F.count("*").alias("n"), F.max("offset").alias("hi"))
        .collect()
    )
    assert len(agg) == 64
    assert all(r.n == 100 and r.hi == 99 for r in agg)


def test_concurrent_appends_to_distinct_topics(spark, store):
    """Ingest locks are per-topic: concurrent appends to different topics
    interleave safely and each keeps its own gap-free offsets."""
    import threading

    for t in ("ca", "cb", "cc"):
        store.catalog.create_topic(t, 2)
    errs = []

    def work(t):
        try:
            for _ in range(3):
                df = spark.createDataFrame(
                    [(i, f"{t}-{i}") for i in range(40)],
                    "seq long, value string",
                )
                store.append(t, df, ordering_col="seq")
        except Exception as ex:  # pragma: no cover
            errs.append((t, ex))

    threads = [threading.Thread(target=work, args=(t,)) for t in ("ca", "cb", "cc")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    for t in ("ca", "cb", "cc"):
        rows = store.read(t).groupBy("partition").agg(
            F.count("*").alias("n"), F.max("offset").alias("hi")
        ).collect()
        assert sum(r.n for r in rows) == 120
        for r in rows:
            assert r.hi == r.n - 1


def test_materialize_latest_wins_and_tombstone_deletes(spark, store):
    store.catalog.create_topic("kt", 2)
    rows = [
        # (seq, partition, key, value): k1 updated twice, k2 deleted last,
        # k3 deleted then re-inserted, null-key record ignored
        (0, 0, "k1", "a"),
        (1, 0, "k2", "x"),
        (2, 1, "k3", "m"),
        (3, 0, "k1", "b"),
        (4, 1, "k3", None),
        (5, 0, "k2", None),
        (6, 1, "k3", "n"),
        (7, 0, None, "orphan"),
    ]
    df = spark.createDataFrame(
        rows, "seq long, partition int, key string, value string"
    )
    store.append("kt", df, ordering_col="seq")
    state = {r.key: r.value for r in store.materialize("kt").collect()}
    assert state == {"k1": "b", "k3": "n"}


def test_mirror_topic_incremental_and_offset_preserving(spark, store, tmp_path):
    from flux_spark.log import LogStore

    store.catalog.create_topic("m", 2)
    df = spark.range(20).selectExpr(
        "id as seq", "cast(id % 2 as int) as partition", "cast(id as string) as value"
    )
    store.append("m", df, ordering_col="seq")
    dst = LogStore(spark, tmp_path / "mirror-wh")
    dst.mirror_topic(store, "m")
    # byte-for-byte: same (partition, offset, value) triples
    key = lambda r: (r.partition, r.offset, r.value)
    assert sorted(map(key, dst.read("m").collect())) == sorted(
        map(key, store.read("m").collect())
    )
    # up-to-date refresh is a zero-job no-op
    assert _jobs_and_stages(spark, lambda: dst.mirror_topic(store, "m")) == (0, 0)
    assert dst.read("m").count() == 20
    # new source records mirror incrementally at their original offsets
    more = spark.range(20, 26).selectExpr(
        "id as seq", "cast(id % 2 as int) as partition", "cast(id as string) as value"
    )
    store.append("m", more, ordering_col="seq")
    dst.mirror_topic(store, "m")
    assert sorted(map(key, dst.read("m").collect())) == sorted(
        map(key, store.read("m").collect())
    )
    assert dst.catalog.get_topic("m").next_offset(0) == store.catalog.get_topic("m").next_offset(0)


def test_continuous_rollup_incremental_equals_full(spark, store, tmp_path):
    from flux_spark.rollup import ContinuousRollup

    store.catalog.create_topic("cr", 2)
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id as seq",
        "cast(id % 2 as int) as partition",
        "timestamp '2025-03-01 10:00:00' + make_interval(0,0,0,0,0, cast(id as int), 0) as timestamp",
        "cast(cast(id as double) * 1.5 as string) as value",
    )
    roll = ContinuousRollup(store, "cr", tmp_path / "roll")
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        roll.snapshot()
    store.append("cr", mk(0, 50), ordering_col="seq")
    assert roll.refresh() == 50
    store.append("cr", mk(50, 120), ordering_col="seq")
    assert roll.refresh() == 70
    assert roll.refresh() == 0  # nothing new

    got = {
        (r.bucket, r.partition): (r.n_records, r.total_value)
        for r in roll.snapshot().collect()
    }
    full = {
        (r.bucket, r.partition): (r.n_records, r.total_value)
        for r in store.read("cr")
        .groupBy(
            F.date_trunc("hour", F.col("timestamp")).alias("bucket"),
            "partition",
        )
        .agg(
            F.count("*").alias("n_records"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert got == full


def test_read_hides_torn_append_until_recovered(spark, store):
    """Commit-then-visible: segment files written by a crashed append (hwm
    never advanced) stay invisible to readers until explicitly recovered."""
    store.catalog.create_topic("torn", 1)
    df = spark.range(10).selectExpr(
        "id as seq", "cast(0 as int) as partition", "cast(id as string) as value"
    )
    store.append("torn", df, ordering_col="seq")

    # simulate the torn tail: write record files directly past the hwm,
    # exactly what a death between parquet commit and advance_hwm leaves
    from flux_spark.log import READ_SCHEMA

    import datetime

    now = datetime.datetime(2025, 1, 1)
    tail = spark.createDataFrame(
        [(10 + i, now, None, f"ghost{i}", None, 0) for i in range(3)],
        READ_SCHEMA,
    )
    (
        tail.write.mode("append")
        .partitionBy("partition")
        .parquet(store.topic_path("torn"))
    )

    assert store.read("torn").count() == 10  # committed view
    assert (
        store.read("torn", include_uncommitted=True).count() == 13
    )  # forensic view
    # recovery re-adopts the tail by advancing the hwm over it
    assert store.recover_hwm_from_data("torn") == {0: 13}
    assert store.read("torn").count() == 13


def test_apply_retention_uses_topic_config(spark, store):
    import datetime

    store.catalog.create_topic(
        "ret", 1, configs={"retention.ms": str(3600 * 1000)}
    )
    base = datetime.datetime(2025, 6, 1, 12, 0, 0)
    rows = [
        (i, 0, base + datetime.timedelta(minutes=30 * i), f"v{i}")
        for i in range(6)
    ]  # ts: 12:00 .. 14:30
    df = spark.createDataFrame(
        rows, "seq long, partition int, timestamp timestamp, value string"
    )
    store.append("ret", df, ordering_col="seq")
    # "now" = 15:00, retention 1h -> records older than 14:00 expire
    cuts = store.apply_retention(
        "ret", now=datetime.datetime(2025, 6, 1, 15, 0, 0)
    )
    assert cuts == {0: 4}
    left = sorted(r.value for r in store.read("ret").collect())
    assert left == ["v4", "v5"]  # 14:00 and 14:30 survive, offsets preserved
    offs = sorted(r.offset for r in store.read("ret").collect())
    assert offs == [4, 5]
    # no config -> no-op
    store.catalog.create_topic("noret", 1)
    store.append(
        "noret",
        spark.createDataFrame([(0, 0, "x")], "seq long, partition int, value string"),
        ordering_col="seq",
    )
    assert store.apply_retention("noret") is None


def test_mirror_refuses_mismatched_partition_count(spark, store, tmp_path):
    from flux_spark.errors import ValidationError
    from flux_spark.log import LogStore

    store.catalog.create_topic("mm", 3)
    store.append(
        "mm",
        spark.createDataFrame([(0, 0, "v")], "seq long, partition int, value string"),
        ordering_col="seq",
    )
    dst = LogStore(spark, tmp_path / "mm-wh")
    dst.catalog.create_topic("mm", 2)  # wrong layout
    with pytest.raises(ValidationError, match="partitions"):
        dst.mirror_topic(store, "mm")


def test_append_after_create_partitions_routes_over_new_count(spark, store):
    """Kafka createPartitions semantics: after growing the topic, keyed
    records hash over the NEW partition count and appends to fresh
    partitions start at offset 0; pre-grow data is untouched."""
    from pyspark.sql import functions as F

    from flux_spark.murmur2 import partition_for_key

    store.catalog.create_topic("grow", 2)
    e1 = spark.createDataFrame(
        [(i, f"k-{i}", f"v-{i}") for i in range(40)], "seq long, key string, value string"
    )
    store.append("grow", e1, ordering_col="seq")
    before = {
        (r["partition"], r["offset"]) for r in store.read("grow").collect()
    }
    store.catalog.create_partitions("grow", 5)
    e2 = spark.createDataFrame(
        [(100 + i, f"k-{i}", f"w-{i}") for i in range(40)], "seq long, key string, value string"
    )
    store.append("grow", e2, ordering_col="seq")
    rows = store.read("grow").collect()
    # pre-grow rows still present and unchanged
    assert before <= {(r["partition"], r["offset"]) for r in rows}
    w_rows = [r for r in rows if r["value"].startswith("w-")]
    assert len(w_rows) == 40
    seen_parts = set()
    for r in w_rows:
        assert r["partition"] == partition_for_key(r["key"], 5)
        seen_parts.add(r["partition"])
    assert max(seen_parts) >= 2  # new partitions actually receive data
    # offsets in the new partitions are contiguous from 0
    for p in range(2, 5):
        offs = sorted(r["offset"] for r in rows if r["partition"] == p)
        assert offs == list(range(len(offs)))


def test_maintenance_pass(spark, store):
    """maintenance(): compacts fragmented topics (file count threshold is
    per-partition), enforces retention where configured, rewrites the
    _offsets log, and leaves all data/fetch results intact."""
    import glob

    from flux_spark.consumer import OffsetStore

    store.catalog.create_topic("frag", 2)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "seq long, value string"
    )
    for _ in range(6):  # 6 appends -> 6 files per partition
        store.append("frag", df, ordering_col="seq")
    os_store = OffsetStore(store)
    for i in range(25):
        os_store.commit("g", {("frag", 0): i})

    before_fetch = os_store.fetch("g")
    actions = store.maintenance(min_files_to_compact=4)
    assert actions.get("frag") == "compact"
    assert "_offsets" in actions
    # physically compacted
    for p in (0, 1):
        files = glob.glob(str(store.warehouse / "frag" / f"partition={p}" / "*.parquet"))
        assert len(files) == 1, (p, files)
    assert len(glob.glob(str(store.warehouse / "_offsets" / "*.parquet"))) == 1
    # logically unchanged
    assert store.read("frag").count() == 120
    assert os_store.fetch("g") == before_fetch == {("frag", 0): 24}
    # below threshold -> no action
    assert store.maintenance(min_files_to_compact=4) == {
        "_offsets": "compacted (1 rows kept)"
    }


def test_compact_races_live_appends(spark, store):
    """Maintenance must be safe against live producers: a thread runs
    small-file compaction while another keeps appending. Every record
    survives, offsets stay gap-free, and the reader never sees a torn
    directory (the atomic-swap + per-topic write-lock interplay)."""
    import threading

    store.catalog.create_topic("live", 2)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "seq long, value string"
    )
    store.append("live", df, ordering_col="seq")
    errors = []
    done = threading.Event()

    def producer():
        try:
            for _ in range(4):
                store.append("live", df, ordering_col="seq")
        except Exception as e:  # noqa: BLE001
            errors.append(("producer", e))
        finally:
            done.set()

    def compactor():
        try:
            while not done.is_set():
                store.compact("live")
        except Exception as e:  # noqa: BLE001
            errors.append(("compactor", e))

    threads = [
        threading.Thread(target=producer),
        threading.Thread(target=compactor),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    got = store.read("live").select("partition", "offset").collect()
    assert len(got) == 150
    by_part = {}
    for r in got:
        by_part.setdefault(r.partition, []).append(r.offset)
    for p, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs))), f"partition {p}"


def test_topic_rewrite_crash_recovery(spark, store):
    """A rewrite (compact/truncate) that dies between its two renames
    leaves the topic dir missing and the data in the deterministic
    .swap-backup — the next read or append must restore it instead of
    silently seeing (or resurrecting) an empty topic."""
    import os

    store.catalog.create_topic("cr", 2)
    e = spark.range(100).select(
        F.col("id").alias("seq"),
        F.pmod("id", F.lit(2)).cast("int").alias("partition"),
        F.col("id").cast("string").alias("value"),
    )
    store.append("cr", e, ordering_col="seq")

    # simulate the crash window: first rename done, second never happened
    live = store.topic_path("cr")
    os.replace(live, live + ".swap-backup")
    assert not os.path.isdir(live)

    # read() recovers and sees every record
    assert store.read("cr").count() == 100
    assert os.path.isdir(live)
    assert not os.path.isdir(live + ".swap-backup")

    # crash again; this time an APPEND must recover first (its lock file
    # would otherwise recreate the dir empty and orphan the backup)
    os.replace(live, live + ".swap-backup")
    store.append("cr", e.limit(10), ordering_col="seq")
    assert store.read("cr").count() == 110

    # stale backup (swap completed, cleanup lost): reads keep live data
    # and drop the leftover
    os.makedirs(live + ".swap-backup")
    assert store.read("cr").count() == 110
    assert not os.path.isdir(live + ".swap-backup")


def test_swap_backup_topic_name_reserved(store):
    from flux_spark.errors import ValidationError

    with pytest.raises(ValidationError):
        store.catalog.create_topic("t.swap-backup", 1)


def test_multiprocess_ingest_hammer(spark, store):
    """Four REAL producer processes (separate JVMs, separate catalogs —
    nothing shared but the warehouse directory) hammer one topic
    concurrently. The per-topic flock (C6, log.py) is the only writer
    coordination; under contention every batch must land exactly once
    and per-partition offsets must stay gap-free. This is the strongest
    durability claim short of a multi-driver commit-log coordinator
    (SCALE.md "Known trade-offs")."""
    import os
    import subprocess
    import sys as _sys

    n_children, n_batches, rows = 4, 6, 120
    store.catalog.create_topic("hammer", 3)
    child = os.path.join(os.path.dirname(__file__), "ingest_hammer_child.py")
    procs = [
        subprocess.Popen(
            [_sys.executable, child, store.warehouse, str(i), str(n_batches), str(rows)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for i in range(n_children)
    ]
    fails = []
    for i, p in enumerate(procs):
        out, err = p.communicate(timeout=540)
        if p.returncode != 0:
            fails.append((i, p.returncode, err.decode()[-2000:]))
    assert not fails, fails

    got = store.read("hammer").select("partition", "offset", "value").collect()
    expected = n_children * n_batches * rows
    assert len(got) == expected, (len(got), expected)
    # exactly-once: every (producer, batch, row) value appears once
    values = [r["value"] for r in got]
    assert len(set(values)) == expected
    # per-partition offsets contiguous from 0 with no duplicates
    by_part = {}
    for r in got:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for p_, offs in sorted(by_part.items()):
        assert sorted(offs) == list(range(len(offs))), f"partition {p_} dup/gap"
    # every batch's rows stayed contiguous in one partition run (arrival
    # order within a producer's batch is preserved by the ingest shuffle)
    rows_by_val = {r["value"]: (r["partition"], r["offset"]) for r in got}
    for c in range(n_children):
        for b in range(n_batches):
            parts = {rows_by_val[f"p{c}-b{b}-r{r}"][0] for r in range(rows)}
            assert len(parts) <= 3


def test_concurrent_soak_produce_consume_maintenance(spark, store):
    """The composition proof (VERDICT r10 #7): 2 producer processes, 2
    committing consumer groups, and a maintenance loop (retention +
    small-file compaction + offsets compaction at an aggressive
    threshold) run CONCURRENTLY against one warehouse from separate
    JVMs. Asserts exactly-once landing under compaction swaps, complete
    gap-free delivery to every group, committed offsets draining to the
    high-water marks (zero lag), and that maintenance actually ran
    mid-traffic — the flock + atomic-swap + recovery machinery
    composing, not just passing its per-role tests. Both groups run with
    the driver-poll bound at 0, so every non-empty poll takes the Spark
    lane (the driver lane is soaked by the test below)."""
    import json
    import os
    import subprocess
    import sys as _sys

    n_producers, n_batches, rows = 2, 5, 200
    groups = ["soak-g1", "soak-g2"]
    store.catalog.create_topic("soak", 3)
    ctrl = os.path.join(store.warehouse, "_soak_ctrl")
    os.makedirs(ctrl, exist_ok=True)
    child = os.path.join(os.path.dirname(__file__), "soak_child.py")

    def launch(*args):
        return subprocess.Popen(
            [_sys.executable, child, store.warehouse, ctrl, *map(str, args)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )

    procs = (
        [launch("producer", i, n_batches, rows) for i in range(n_producers)]
        + [launch("consumer", g, n_producers, "spark") for g in groups]
        + [launch("maintenance", n_producers)]
    )
    fails = []
    for i, p in enumerate(procs):
        try:
            out, err = p.communicate(timeout=540)
        except subprocess.TimeoutExpired:
            for q in procs:  # never leak child JVMs on a starved box
                q.kill()
            raise
        if p.returncode != 0:
            fails.append((i, p.returncode, err.decode()[-2000:]))
    assert not fails, fails

    expected = {
        f"p{c}-b{b}-r{r}"
        for c in range(n_producers)
        for b in range(n_batches)
        for r in range(rows)
    }
    # topic landed exactly-once with contiguous offsets (under compaction)
    got = store.read("soak").select("partition", "offset", "value").collect()
    assert {r["value"] for r in got} == expected and len(got) == len(expected)
    by_part = {}
    for r in got:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for p_, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs))), f"partition {p_}"
    # every group saw every record exactly once, offsets gap-free per group
    for g in groups:
        with open(os.path.join(ctrl, f"consumer-{g}.out")) as fh:
            data = json.load(fh)
        assert data["spark_polls"] >= 1 and data["fast_polls"] == 0, (g, data)
        seen = data["seen"]
        assert {v for _, _, v in seen} == expected, g
        per_part = {}
        for part, off, _ in seen:
            per_part.setdefault(part, []).append(off)
        for p_, offs in per_part.items():
            assert sorted(offs) == list(range(len(offs))), (g, p_)
    # lag drained to zero: committed offsets == high-water marks
    from flux_spark.consumer import OffsetStore

    hwm = store.high_water_marks("soak")
    offsets = OffsetStore(store)
    for g in groups:
        committed = offsets.fetch(g)
        for (topic, part), next_off in committed.items():
            assert topic == "soak" and next_off == hwm[part], (g, part)
    # maintenance ran at least once while producers were still writing
    with open(os.path.join(ctrl, "maintenance.out")) as fh:
        maint = json.load(fh)
    assert maint["mid_traffic"] >= 1 and maint["passes"] >= maint["mid_traffic"]


def test_concurrent_soak_fastlane_under_maintenance(spark, store):
    """r13 (VERDICT r12 #7): the ms-class consumer fast poll under
    maintenance contention. One committing group drains EVERY poll via
    the driver-side pyarrow lane (the default driver-poll bound is above
    the soak's 1,200 records) while producers write and an aggressive
    compaction loop swaps segment directories underneath it. The read
    raises when a file it listed is gone (a swap removed it), and the
    child re-polls — safe, because a raising fast poll leaves positions
    where they were.
    Proves that mechanism holds the same exactly-once, gap-free, zero-lag
    bar as the Spark lane — and asserts the polls actually WERE
    fast-lane served, so the test cannot silently degrade into
    re-covering the Spark path."""
    import json
    import os
    import subprocess
    import sys as _sys

    n_producers, n_batches, rows = 2, 4, 150
    store.catalog.create_topic("soak", 3)
    ctrl = os.path.join(store.warehouse, "_soak_ctrl")
    os.makedirs(ctrl, exist_ok=True)
    child = os.path.join(os.path.dirname(__file__), "soak_child.py")

    def launch(*args):
        return subprocess.Popen(
            [_sys.executable, child, store.warehouse, ctrl, *map(str, args)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )

    procs = (
        [launch("producer", i, n_batches, rows) for i in range(n_producers)]
        + [launch("consumer", "soak-fast", n_producers)]
        + [launch("maintenance", n_producers)]
    )
    fails = []
    for i, p in enumerate(procs):
        try:
            out, err = p.communicate(timeout=540)
        except subprocess.TimeoutExpired:
            for q in procs:
                q.kill()
            raise
        if p.returncode != 0:
            fails.append((i, p.returncode, err.decode()[-2000:]))
    assert not fails, fails

    expected = {
        f"p{c}-b{b}-r{r}"
        for c in range(n_producers)
        for b in range(n_batches)
        for r in range(rows)
    }
    with open(os.path.join(ctrl, "consumer-soak-fast.out")) as fh:
        data = json.load(fh)
    seen = data["seen"]
    # every poll that returned records was served by the fast lane
    assert data["fast_polls"] >= 1 and data["spark_polls"] == 0, data
    assert {v for _, _, v in seen} == expected
    per_part = {}
    for part, off, _ in seen:
        per_part.setdefault(part, []).append(off)
    for p_, offs in per_part.items():
        assert sorted(offs) == list(range(len(offs))), p_
    # lag drained to zero through fast-lane commits
    from flux_spark.consumer import OffsetStore

    hwm = store.high_water_marks("soak")
    committed = OffsetStore(store).fetch("soak-fast")
    for (topic, part), next_off in committed.items():
        assert topic == "soak" and next_off == hwm[part], part
    with open(os.path.join(ctrl, "maintenance.out")) as fh:
        maint = json.load(fh)
    assert maint["mid_traffic"] >= 1


def test_route_to_dlq_quarantines_with_reason_and_contiguous_offsets(
    store, spark
):
    """Poison rows (null / oversized value) land in <topic>.dlq with a
    reason header and contiguous offsets; valid rows reach the topic
    untouched; the quarantined payload stays inspectable ('' for NULL)."""
    from pyspark.sql import functions as F

    from flux_spark.producer import route_to_dlq

    store.catalog.create_topic("d", 2)
    store.catalog.create_topic("d.dlq", 1)
    rows = [
        (0, 0, "k0", "ok-0"),
        (1, 1, "k1", None),
        (2, 0, "k2", "x" * 600),
        (3, 1, "k3", "ok-3"),
        (4, 0, "k4", None),
    ]
    df = spark.createDataFrame(
        rows, "seq long, partition int, key string, value string"
    )
    ranges = route_to_dlq(store, "d", df, max_value_bytes=512,
                          ordering_col="seq")
    assert set(ranges) == {"d", "d.dlq"}
    main = {
        r["key"]: r for r in store.read("d").select("key", "value").collect()
    }
    assert set(main) == {"k0", "k3"} and main["k0"]["value"] == "ok-0"
    dlq = sorted(
        store.read("d.dlq")
        .select(
            "offset",
            "key",
            "value",
            F.element_at(
                F.filter("headers", lambda h: h["key"] == F.lit("reason")), 1
            )["value"].cast("string").alias("reason"),
        )
        .collect(),
        key=lambda r: r["offset"],
    )
    assert [r["offset"] for r in dlq] == [0, 1, 2]
    assert [(r["key"], r["reason"]) for r in dlq] == [
        ("k1", "null_value"),
        ("k2", "oversized"),
        ("k4", "null_value"),
    ]
    assert dlq[0]["value"] == "" and dlq[1]["value"] == "x" * 600


def test_read_since_fastpath_matches_spark_read(spark, store):
    """The driver-side pyarrow tail read must return exactly what the
    Spark read path returns on the same offsets, in offset order."""
    store.catalog.create_topic("fast", 3)
    for _ in range(2):  # two appends -> multiple files per partition
        store.append("fast", _mk_records(spark, 60), ordering_col="seq")
    for p in range(3):
        hwm = store.high_water_marks("fast")[p]
        for lo in (0, 7, hwm - 1, hwm, hwm + 5):
            fast = store.read_since("fast", p, lo)
            slow = (
                store.read("fast", partitions=[p],
                           start_offsets={p: lo})
                .orderBy("offset")
                .collect()
            )
            assert [r["offset"] for r in fast] == [
                r["offset"] for r in slow
            ], (p, lo)
            assert [(r["key"], r["value"]) for r in fast] == [
                (r["key"], r["value"]) for r in slow
            ], (p, lo)
    # max_records cap
    capped = store.read_since("fast", 0, 0, max_records=3)
    assert len(capped) == 3
    assert [r["offset"] for r in capped] == [0, 1, 2]


def test_read_since_hides_torn_append(spark, store, monkeypatch):
    """Committed-only visibility: a torn append's files (written above
    the hwm, never committed) must be invisible to the fast path too."""
    import pytest as _pytest

    store.catalog.create_topic("fasttorn", 1)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "seq long, value string"
    )
    store.append("fasttorn", df, ordering_col="seq", batch_id="b0")

    def boom(*a, **k):
        raise RuntimeError("simulated crash")

    real = store.catalog.advance_hwm
    monkeypatch.setattr(store.catalog, "advance_hwm", boom)
    with _pytest.raises(RuntimeError):
        store.append("fasttorn", df, ordering_col="seq", batch_id="b1")
    monkeypatch.setattr(store.catalog, "advance_hwm", real)

    got = store.read_since("fasttorn", 0, 0)
    assert [r["offset"] for r in got] == list(range(10))  # torn tail hidden
    assert store.read("fasttorn", include_uncommitted=True).count() == 20


def test_read_since_opens_only_the_tail_segment(spark, store, monkeypatch):
    """Offset-named fast segments are pruned by name: a tail read inside
    the last flush opens that one file, not every footer in the
    partition; a read from 0 still returns every record in order."""
    import pyarrow.parquet as pq

    store.catalog.create_topic("named", 1)
    for i in range(60):
        store.append_rows(
            "named", [{"value": f"v{i}-{j}", "partition": 0} for j in range(3)]
        )
    hwm = store.high_water_marks("named")[0]
    assert hwm == 180
    opened = []
    base = pq.ParquetFile

    class CountingParquetFile(base):
        def __init__(self, source, *args, **kwargs):
            opened.append(source)
            super().__init__(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", CountingParquetFile)
    for k in (1, 2, 3):
        opened.clear()
        got = store.read_since("named", 0, hwm - k)
        assert [r["offset"] for r in got] == list(range(hwm - k, hwm))
        assert len(opened) == 1, (k, opened)
    got = store.read_since("named", 0, 0)
    assert [r["offset"] for r in got] == list(range(hwm))
    assert [r["value"] for r in got[:4]] == ["v0-0", "v0-1", "v0-2", "v1-0"]


def test_read_since_timestamps_are_utc_aware_on_every_segment_layout(
    spark, store
):
    """Spark-written segments store timestamps as INT96 (read back as a
    zone-less ``timestamp[ns]``), fast segments as ``timestamp[us, UTC]``;
    read_since returns the same UTC-aware instant ``read()`` does for
    both, so rows of one poll compare and sort by timestamp."""
    from datetime import timedelta

    from flux_spark import FluxProducer

    topic = "tz"
    store.catalog.create_topic(topic, 1)
    prod = FluxProducer(store)
    prod.ingest(topic, _mk_records(spark, 2, partition=0), ordering_col="seq")
    prod.send(topic, value="fast", partition=0)
    prod.flush()
    got = store.read_since(topic, 0, 0)
    assert len(got) == 3
    assert all(r["timestamp"].utcoffset() == timedelta(0) for r in got)
    want = {
        r["offset"]: r["timestamp"]
        for r in store.read(topic, partitions=[0]).toArrow().to_pylist()
    }
    assert {r["offset"]: r["timestamp"] for r in got} == want


def _spark_log_start(store, topic) -> dict[int, int]:
    """Log start as one Spark aggregation: min committed offset per
    partition, the hwm for a partition with no committed record."""
    rows = store.read(topic).groupBy("partition").agg(F.min("offset")).collect()
    return {**store.high_water_marks(topic), **{r[0]: r[1] for r in rows}}


def _spark_recovered(store, topic) -> dict[int, int]:
    """Recovered hwm as one Spark aggregation: max(offset) + 1 per
    partition over every record on disk, 0 for a partition with none."""
    rows = (
        store.read(topic, include_uncommitted=True)
        .groupBy("partition")
        .agg(F.max("offset"))
        .collect()
    )
    return {
        **{p: 0 for p in store.high_water_marks(topic)},
        **{r[0]: r[1] + 1 for r in rows},
    }


def _assert_index_matches(spark, store, topic, begins, recovered):
    """``beginning_offsets`` and ``recover_hwm_from_data`` (run on a copy
    of the warehouse, since it advances the hwm) give the Spark
    references and start no Spark job."""
    import shutil

    from flux_spark.log import LogStore

    got = []
    assert _jobs_and_stages(
        spark, lambda: got.append(store.beginning_offsets(topic))
    ) == (0, 0)
    assert got == [begins]
    copy = store.warehouse.parent / f"copy-{topic}"
    shutil.copytree(store.warehouse, copy)
    twin = LogStore(spark, copy)
    got = []
    assert _jobs_and_stages(
        spark, lambda: got.append(twin.recover_hwm_from_data(topic))
    ) == (0, 0)
    assert got == [recovered]


def test_segment_index_reads_offsets_of_a_file_without_statistics(tmp_path):
    """A file whose writer recorded no ``offset`` statistics (and whose
    name carries no range) gets its range from its ``offset`` column: the
    tail read, log start and recovery all see offsets 10-19 in it."""
    import pyarrow.parquet as pq

    from flux_spark.log import LogStore

    store = LogStore(None, tmp_path / "warehouse")  # the index never touches Spark
    store.catalog.create_topic("ns", 1)
    for b in range(3):
        rows = [{"value": f"v{b}-{i}", "partition": 0} for i in range(10)]
        store.append_rows("ns", rows)
    pdir = tmp_path / "warehouse" / "ns" / "partition=0"
    (mid,) = pdir.glob("part-fast-00000000000000000010-*.parquet")
    table = pq.read_table(mid)
    mid.unlink()
    bare = pdir / "part-00000-nostats.parquet"
    pq.write_table(table, bare, write_statistics=False, row_group_size=4)
    assert not pq.read_metadata(bare).row_group(0).column(0).is_stats_set
    assert [r["offset"] for r in store.read_since("ns", 0, 12)] == list(range(12, 30))
    assert store.beginning_offsets("ns") == {0: 0}
    (first,) = pdir.glob("part-fast-00000000000000000000-*.parquet")
    first.unlink()
    assert store.beginning_offsets("ns") == {0: 10}
    (last,) = pdir.glob("part-fast-00000000000000000020-*.parquet")
    last.unlink()
    assert store.recover_hwm_from_data("ns") == {0: 20}


@pytest.mark.parametrize("rewrite", ["truncate", "compact_by_key"])
def test_log_start_and_recovery_after_rewrite(spark, store, rewrite):
    """After ``truncate_before`` (partition 0 to its hwm, partition 1 half
    way) or ``compact_by_key``, the segment index's log start and
    recovered hwm equal the Spark aggregations, and discarding the torn
    tail removes nothing else."""
    topic = "rw"
    store.catalog.create_topic(topic, 3)
    store.append_rows(
        topic, [{"value": f"v{i}", "key": f"k{i % 7}"} for i in range(40)]
    )
    store.append(topic, _mk_records(spark, 30), ordering_col="seq")
    store.append_rows(
        topic, [{"value": f"w{i}", "key": f"k{i % 7}"} for i in range(20)]
    )
    hwm = store.high_water_marks(topic)
    if rewrite == "truncate":
        store.truncate_before(topic, {0: hwm[0], 1: hwm[1] // 2})
    else:
        store.compact_by_key(topic)
    begins, recovered = _spark_log_start(store, topic), _spark_recovered(store, topic)
    if rewrite == "truncate":
        assert begins[0] == hwm[0] and begins[1] == hwm[1] // 2
        assert begins[2] == 0 and recovered[0] == 0
    else:
        assert all(0 < begins[p] < hwm[p] for p in hwm)
        assert recovered == hwm
    _assert_index_matches(spark, store, topic, begins, recovered)
    removed = []
    assert _jobs_and_stages(
        spark, lambda: removed.append(store.discard_uncommitted(topic))
    ) == (0, 0)
    assert removed == [0]


def test_read_since_mixed_segment_layouts_match_spark_read(
    spark, store, monkeypatch
):
    """One partition holding every file layout: offset-named fast
    segments, a Spark-lane append file, a legacy ``part-fast-<uuid>``
    file, an offset-named torn flush above the hwm, and an offset-named
    file of garbage bytes above the hwm. read_since must equal the Spark
    read for every start offset, beginning_offsets and
    recover_hwm_from_data must equal their Spark aggregations (the
    recovery adopts the torn flush and skips the garbage), and
    discard_uncommitted must remove both files above the hwm."""
    import uuid
    from pathlib import Path

    topic = "mixed"
    store.catalog.create_topic(topic, 1)

    def fast(tag, n=4):
        store.append_rows(
            topic,
            [
                {"value": f"{tag}-{j}", "key": f"k{j}", "partition": 0}
                for j in range(n)
            ],
        )

    fast("a")
    fast("b")
    store.append(topic, _mk_records(spark, 10, partition=0), ordering_col="seq")
    fast("c")
    fast("d")
    pdir = Path(store.topic_path(topic)) / "partition=0"
    named = sorted(pdir.glob("part-fast-*.parquet"))
    assert len(named) == 4
    # legacy layout: a committed fast segment without a range in its name
    named[1].rename(pdir / f"part-fast-{uuid.uuid4().hex}.parquet")
    hwm = store.high_water_marks(topic)[0]
    assert hwm == 26

    def boom(*a, **k):
        raise RuntimeError("simulated crash")

    real = store.catalog.advance_hwm
    monkeypatch.setattr(store.catalog, "advance_hwm", boom)
    with pytest.raises(RuntimeError):
        fast("torn")
    monkeypatch.setattr(store.catalog, "advance_hwm", real)
    assert store.high_water_marks(topic)[0] == hwm
    assert any(pdir.glob(f"part-fast-{hwm:020d}-*.parquet"))

    los = (0, 1, hwm // 2, hwm - 1, hwm, hwm + 5)
    # the Spark references are taken before the garbage file lands: a Spark
    # scan cannot read a file that is not Parquet, the segment index skips
    # one named above the hwm or that fails to open
    begins, recovered = _spark_log_start(store, topic), _spark_recovered(store, topic)
    assert begins == {0: 0} and recovered == {0: hwm + 4}
    want = {
        lo: [
            (r["offset"], r["key"], r["value"])
            for r in store.read(topic, partitions=[0], start_offsets={0: lo})
            .orderBy("offset")
            .collect()
        ]
        for lo in los
    }
    garbage = pdir / (
        f"part-fast-{hwm + 50:020d}-{hwm + 59:020d}-{uuid.uuid4().hex}.parquet"
    )
    garbage.write_bytes(b"not a parquet file")
    for lo in los:
        got = [
            (r["offset"], r["key"], r["value"])
            for r in store.read_since(topic, 0, lo)
        ]
        assert got == want[lo], lo
    assert [o for o, _, _ in want[0]] == list(range(hwm))
    _assert_index_matches(spark, store, topic, begins, recovered)

    removed = []
    assert _jobs_and_stages(
        spark, lambda: removed.append(store.discard_uncommitted(topic))
    ) == (0, 0)
    assert removed == [2]
    assert not garbage.exists()
    assert not any(pdir.glob(f"part-fast-{hwm:020d}-*.parquet"))
    assert [r["offset"] for r in store.read_since(topic, 0, 0)] == list(
        range(hwm)
    )


def test_append_rows_fastpath_matches_spark_append(spark, store):
    """The driver-side pyarrow produce must assign identical
    (partition, offset) placement to the Spark plan on a mixed batch:
    explicit partitions (one invalid -> falls through to key), murmur2
    keys, and unkeyed round-robin on the arrival sequence."""
    rows = []
    for i in range(60):
        part = 1 if i % 5 == 0 else (99 if i % 5 == 1 else None)  # 99 invalid
        key = f"k-{i % 7}" if i % 3 == 0 else ("" if i % 3 == 1 else None)
        rows.append((i, part, key, f"v-{i}"))
    df = spark.createDataFrame(
        rows, "seq long, partition int, key string, value string"
    )
    store.catalog.create_topic("spark_path", 3)
    store.append("spark_path", df, ordering_col="seq")
    store.catalog.create_topic("fast_path", 3)
    store.append_rows(
        "fast_path",
        [
            {"seq": s, "partition": p, "key": k, "value": v}
            for s, p, k, v in rows
        ],
    )
    want = sorted(
        (r["partition"], r["offset"], r["key"], r["value"])
        for r in store.read("spark_path").collect()
    )
    got = sorted(
        (r["partition"], r["offset"], r["key"], r["value"])
        for r in store.read("fast_path").collect()
    )
    assert got == want
    # and the fast read path agrees with the fast write path
    for p in range(3):
        fast = store.read_since("fast_path", p, 0)
        assert [r["offset"] for r in fast] == list(range(len(fast)))


def test_append_rows_idempotent_batch_id(spark, store):
    store.catalog.create_topic("fastidem", 2)
    recs = [{"value": f"v{i}", "key": f"k{i}"} for i in range(10)]
    s1 = store.append_rows("fastidem", recs, batch_id="fb-1")
    assert sum(hi - lo + 1 for lo, hi in s1.values()) == 10
    assert store.append_rows("fastidem", recs, batch_id="fb-1") == {}
    assert store.read("fastidem").count() == 10


def test_catalog_keeps_one_batch_id_and_replay_file_keeps_the_window(
    store, monkeypatch
):
    """The catalog holds only a topic's latest committed batch id; the ids
    it displaces go to the topic's replay file, pruned oldest first. Ids
    ``b-0``..``b-11`` sort differently as strings than in commit order, so
    the prune is pinned to commit order."""
    import json

    from flux_spark import catalog as catalog_mod

    monkeypatch.setattr(catalog_mod, "_MAX_COMMITTED_BATCHES", 8)
    store.catalog.create_topic("window", 2)
    recs = [{"value": f"v{i}", "key": f"k{i}"} for i in range(4)]
    ids = [f"b-{i}" for i in range(12)]
    for b in ids:
        assert store.append_rows("window", recs, batch_id=b)
    text = (store.warehouse / "_catalog.json").read_text()
    assert [b for b in ids if f'"{b}"' in text] == ["b-11"]
    assert json.loads(text)["topics"]["window"]["last_batch"] == "b-11"
    replay = json.loads((store.warehouse / ".batches" / "window.json").read_text())
    assert replay["ids"] == ids[3:11]
    for b in ids[-8:]:
        assert store.append_rows("window", recs, batch_id=b) == {}
    assert sum(store.high_water_marks("window").values()) == 12 * 4
    # the oldest id was pruned: it appends again
    assert store.append_rows("window", recs, batch_id="b-0")
    assert sum(store.high_water_marks("window").values()) == 13 * 4


def test_crash_between_replay_write_and_catalog_save(store, monkeypatch):
    """A crash after the displaced id reaches the replay file but before
    the catalog save leaves that id in both places and the new batch
    uncommitted: the retry lands the batch exactly once and the displaced
    id still replays as a no-op."""
    import contextlib

    store.catalog.create_topic("crash", 2)
    recs = [{"value": f"v{i}", "key": f"k{i}"} for i in range(10)]
    store.append_rows("crash", recs, batch_id="c-0")

    real_replay = store.catalog._replay

    class CrashAfterWrite:
        def __init__(self, name):
            self.file = real_replay(name)
            self.read = self.file.read

        @contextlib.contextmanager
        def update(self):
            with self.file.update() as state:
                yield state
            raise RuntimeError("simulated crash before catalog save")

    monkeypatch.setattr(store.catalog, "_replay", CrashAfterWrite)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.append_rows("crash", recs, batch_id="c-1")
    monkeypatch.undo()
    assert "c-0" in store.catalog._replay("crash").read()["ids"]
    assert sum(store.high_water_marks("crash").values()) == 10
    assert store.read("crash", include_uncommitted=True).count() == 20

    stats = store.append_rows("crash", recs, batch_id="c-1")
    assert sum(hi - lo + 1 for lo, hi in stats.values()) == 10
    assert store.append_rows("crash", recs, batch_id="c-0") == {}
    assert store.append_rows("crash", recs, batch_id="c-1") == {}
    assert store.read("crash").count() == 20
    assert store.read("crash", include_uncommitted=True).count() == 20


def test_recreated_topic_does_not_inherit_batch_ids(store):
    """delete_topic then create_topic with the same name: batch ids of the
    deleted topic, latest or displaced, append again."""
    recs = [{"value": "v", "key": "k"}]
    store.catalog.create_topic("again", 1)
    store.append_rows("again", recs, batch_id="r-1")
    store.append_rows("again", recs, batch_id="r-2")
    store.delete_topic("again")
    assert not (store.warehouse / ".batches" / "again.json").exists()
    store.catalog.create_topic("again", 1)
    assert store.append_rows("again", recs, batch_id="r-1") == {0: (0, 0)}
    assert store.append_rows("again", recs, batch_id="r-2") == {0: (1, 1)}


def test_producer_small_flush_takes_fastpath_and_headers_roundtrip(
    spark, store
):
    from flux_spark.producer import FluxProducer

    store.catalog.create_topic("fastprod", 2)
    prod = FluxProducer(store)  # every flush takes append_rows
    prod.send(
        "fastprod",
        value="v0",
        key="a",
        headers=[("h1", b"x"), ("h1", b"y"), ("h2", None)],
    )
    prod.send("fastprod", value="v1")
    prod.send("fastprod", value="v2", partition=1)
    prod.flush()
    got = store.read("fastprod").orderBy("partition", "offset").collect()
    assert len(got) == 3
    hdrs = [r["headers"] for r in got if r["value"] == "v0"][0]
    assert [(h["key"], h["value"]) for h in hdrs] == [
        ("h1", b"x"),
        ("h1", b"y"),
        ("h2", None),
    ]
    # key placement parity with the vectorized path
    from flux_spark.murmur2 import partition_for_key

    for r in got:
        if r["key"]:
            assert r["partition"] == partition_for_key(r["key"], 2)


def test_append_rows_rolls_segments_at_max_records_per_file(store):
    """A flush rolls each partition's rows into offset-named segments of
    at most ``max_records_per_file`` records, the split the Spark writer
    makes with ``maxRecordsPerFile``; read_since skips the ones below its
    start by name and returns what the Spark read does."""
    from flux_spark.log import _FAST_SEGMENT
    from flux_spark.producer import FluxProducer

    store.max_records_per_file = 10
    store.catalog.create_topic("roll", 1)
    prod = FluxProducer(store)
    for i in range(25):
        prod.send("roll", value=f"v{i}", key=f"k{i}")
    assert prod.flush() == {"roll": {0: (0, 24)}}
    pdir = store.warehouse / "roll" / "partition=0"
    names = [f.name for f in pdir.glob("*.parquet")]
    assert sorted(
        tuple(int(x) for x in _FAST_SEGMENT.fullmatch(n).groups()) for n in names
    ) == [(0, 9), (10, 19), (20, 24)]
    want = [
        (r["offset"], r["key"], r["value"])
        for r in store.read("roll").orderBy("offset").collect()
        if r["offset"] >= 12
    ]
    got = [(r["offset"], r["key"], r["value"]) for r in store.read_since("roll", 0, 12)]
    assert got == want and len(got) == 13


def test_naive_timestamp_is_local_time_on_every_flush(store, monkeypatch):
    """A naive ``timestamp`` is process-local time, pyspark's rule for
    ``createDataFrame`` — so the instant stored does not depend on which
    lane wrote it, and Spark-collected timestamps round-trip. A naive
    pandas Timestamp (``toPandas`` output) follows the same rule."""
    import time
    from datetime import datetime, timezone

    import pandas as pd

    from flux_spark.producer import FluxProducer

    store.catalog.create_topic("tz", 1)
    prod = FluxProducer(store)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        ts = datetime(2024, 1, 1, 12)
        prod.send("tz", value="v", timestamp=ts)
        prod.send("tz", value="pd", timestamp=pd.Timestamp(ts))
        prod.flush()
        got = [r["timestamp"] for r in store.read_since("tz", 0, 0)]
        assert got == [ts.astimezone(timezone.utc)] * 2
        assert got[0] == datetime(2024, 1, 1, 17, tzinfo=timezone.utc)
    finally:
        monkeypatch.undo()
        time.tzset()
