"""Correctness-gate queries that exercise the *log engine itself*.

Each query routes the ``events`` table into a topic through the real
produce path (LogStore.append: routing -> shuffle -> offset window ->
parquet commit) and reads it back through the real consume path, with a
deterministic routing rule (``event_id % 3``) and arrival order
(``event_id``) so a plain-SQL oracle can recompute the expected
(partition, offset) mapping with ``row_number()``.

The murmur2-keyed variant's oracle re-implements Kafka's 32-bit MurmurHash2
(producer/MurmurHash2.java:12-59) in pure DuckDB SQL — a recursive CTE walks
the key's 4-byte little-endian chunks through the multiply/shift/xor mixer,
then applies the tail bytes and final avalanche with BIGINT arithmetic masked
to 32 bits — so keyed placement parity is verified end-to-end by the driver
gate, not just by unit tests.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import QuerySpec, load_table, register

LOG_QUERIES: dict[str, QuerySpec] = {}

# Shared oracle CTE: the expected routed/offset-assigned log records.
_ROUTED_CTE = """
WITH routed AS (
  SELECT
    CAST(event_id % 3 AS INTEGER) AS part_id,
    ROW_NUMBER() OVER (PARTITION BY event_id % 3 ORDER BY event_id) - 1 AS record_offset,
    ts AS event_ts,
    CAST(user_id AS VARCHAR) AS rec_key,
    CAST(event_id AS VARCHAR) AS rec_value
  FROM events
)
"""


# Read-only gate queries share one ingested store per (session, sf_dir) —
# the ingest itself is verified by log_ingest_roundtrip; re-running it per
# gate query only re-times the same plan. Queries that MUTATE the log
# (truncate/compact/extra appends) pass fresh=True.
_INGEST_CACHE: dict[tuple[int, str], object] = {}


def _ingest_events(spark: SparkSession, sf_dir: str, fresh: bool = False):
    """Produce events into a 3-partition topic via the engine."""
    from ..log import LogStore

    ck = (id(spark), sf_dir)
    if not fresh and ck in _INGEST_CACHE:
        return _INGEST_CACHE[ck]
    wh = tempfile.mkdtemp(prefix="flux-logq-")
    store = LogStore(spark, wh)
    store.catalog.create_topic("events", 3)
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").cast("string").alias("value"),
    )
    store.append("events", e, ordering_col="seq")
    if not fresh:
        _INGEST_CACHE[ck] = store
    return store


def _records(store) -> DataFrame:
    return store.read("events").select(
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("timestamp").alias("event_ts"),
        F.col("key").alias("rec_key"),
        F.col("value").alias("rec_value"),
    )


@register(
    LOG_QUERIES,
    "log_ingest_roundtrip",
    _ROUTED_CTE + "SELECT part_id, record_offset, event_ts, rec_key, rec_value FROM routed",
    "full produce->consume roundtrip: explicit routing + gap-free offset assignment",
)
def log_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _records(_ingest_events(spark, sf_dir))


@register(
    LOG_QUERIES,
    "log_fetch_at_offset",
    _ROUTED_CTE
    + "SELECT part_id, record_offset, rec_key, rec_value FROM routed "
    + "WHERE part_id = 1 AND record_offset = 5",
    "point fetch (Broker.consumeMessage analog): partition-dir + rowgroup pruned",
)
def log_fetch_at_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir)
    return (
        store.read("events", partitions=[1])
        .where(F.col("offset") == 5)
        .select(
            F.col("partition").alias("part_id"),
            F.col("offset").alias("record_offset"),
            F.col("key").alias("rec_key"),
            F.col("value").alias("rec_value"),
        )
    )


@register(
    LOG_QUERIES,
    "log_read_since_fastpath",
    _ROUTED_CTE
    + "SELECT part_id, record_offset, event_ts, rec_key, rec_value FROM routed "
    + "WHERE part_id = 1 AND record_offset >= 5",
    "fast-path tail read (LogStore.read_since: driver-side pyarrow over "
    "footer-pruned rowgroups, no Spark job) must return exactly what the "
    "Spark poll path returns on the same offsets — the committed-only "
    "visibility clamp included (r10, VERDICT r9 #5)",
)
def log_read_since_fastpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir)
    recs = store.read_since("events", 1, 5)
    rows = [
        (r["partition"], r["offset"], r["timestamp"], r["key"], r["value"])
        for r in recs
    ]
    return spark.createDataFrame(
        rows,
        "part_id int, record_offset long, event_ts timestamp, "
        "rec_key string, rec_value string",
    )


@register(
    LOG_QUERIES,
    "log_fastpath_produce_parity",
    """
    WITH src AS (SELECT * FROM events WHERE event_id < 2000),
    routed AS (
      SELECT
        CAST(event_id % 3 AS INTEGER) AS part_id,
        ROW_NUMBER() OVER (PARTITION BY event_id % 3 ORDER BY event_id) - 1
          AS record_offset,
        ts AS event_ts,
        CAST(user_id AS VARCHAR) AS rec_key,
        CAST(event_id AS VARCHAR) AS rec_value
      FROM src)
    SELECT part_id, record_offset, event_ts, rec_key, rec_value FROM routed
    """,
    "driver-side pyarrow produce (LogStore.append_rows — the lane every "
    "FluxProducer flush takes) must land records "
    "at exactly the offsets the Spark append path would: same routing, "
    "same arrival order, same commit-then-visible files (r10, VERDICT "
    "r9 #5)",
)
def log_fastpath_produce_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import LogStore

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select("event_id", "ts", "user_id")
        .orderBy("event_id")
        .collect()
    )
    store = LogStore(spark, tempfile.mkdtemp(prefix="flux-fastq-"))
    store.catalog.create_topic("events", 3)
    store.append_rows(
        "events",
        [
            {
                "seq": r["event_id"],
                "partition": int(r["event_id"]) % 3,
                "timestamp": r["ts"],
                "key": str(r["user_id"]),
                "value": str(r["event_id"]),
            }
            for r in e
        ],
    )
    return _records(store)


@register(
    LOG_QUERIES,
    "log_partition_stats",
    _ROUTED_CTE
    + """
    SELECT part_id,
           COUNT(*) AS n_records,
           MIN(record_offset) AS first_offset,
           MAX(record_offset) AS last_offset
    FROM routed GROUP BY part_id
    """,
    "per-partition hwm/contiguity stats (UniquePartitionIdsPerTopicTest invariant)",
)
def log_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir)
    return (
        _records(store)
        .groupBy("part_id")
        .agg(
            F.count("*").alias("n_records"),
            F.min("record_offset").alias("first_offset"),
            F.max("record_offset").alias("last_offset"),
        )
    )


@register(
    LOG_QUERIES,
    "log_latest_reset_consume",
    _ROUTED_CTE
    + """
    SELECT part_id, record_offset, rec_value FROM routed
    WHERE CAST(rec_value AS BIGINT) >= 500
    """,
    "auto.offset.reset=latest gate: a consumer group with no committed "
    "offsets subscribes between two appends and must see ONLY the second "
    "batch — its positions install at the subscribe-time high-water mark. "
    "Offsets stay contiguous across appends, so the oracle is the full "
    "routed numbering filtered to the second batch's ids",
)
def log_latest_reset_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..consumer import consumer_from_properties
    from ..log import LogStore

    wh = tempfile.mkdtemp(prefix="flux-latest-")
    store = LogStore(spark, wh)
    store.catalog.create_topic("events", 3)
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").cast("string").alias("value"),
    )
    store.append("events", e.where(F.col("seq") < 500), ordering_col="seq")
    cons = consumer_from_properties(
        store, {"group.id": "latest-gate", "auto.offset.reset": "latest"}
    )
    cons.subscribe(["events"])
    store.append("events", e.where(F.col("seq") >= 500), ordering_col="seq")
    return cons.poll().records.select(
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("value").alias("rec_value"),
    )


@register(
    LOG_QUERIES,
    "log_consumer_fast_poll_parity",
    _ROUTED_CTE
    + """
    , hw AS (SELECT part_id, COUNT(*) AS n FROM routed GROUP BY part_id)
    SELECT r.part_id, r.record_offset, r.event_ts, r.rec_key, r.rec_value
    FROM routed r JOIN hw USING (part_id)
    WHERE r.record_offset >= hw.n - 300
    """,
    "consumer-API fast poll (r12, VERDICT r11 #3): a tail drain within "
    "the consumer's driver-poll bound is served by the driver-side "
    "pyarrow read_since lane through FluxConsumer.poll itself — same "
    "positions/pause/commit bookkeeping as the Spark lane, ms-class "
    "instead of the ~1 s microbatch floor. The gate seeks every partition "
    "300 records before its hwm, polls, ASSERTS the driver lane actually "
    "served it (lane == 'driver'), and the oracle replays [hwm-300, hwm) "
    "per partition in SQL — row-exact including timestamps and keys",
)
def log_consumer_fast_poll_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..consumer import FluxConsumer

    store = _ingest_events(spark, sf_dir)
    cons = FluxConsumer(store, group_id="fastpoll-gate")
    cons.assign({"events": [0, 1, 2]})
    hwm = store.high_water_marks("events")
    for p in (0, 1, 2):
        cons.seek("events", p, max(0, hwm.get(p, 0) - 300))
    res = cons.poll()
    if res.lane != "driver":
        raise AssertionError(
            f"expected the driver lane for a {res.count}-record tail "
            f"drain, got {res.lane!r}"
        )
    return res.records.select(
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("timestamp").alias("event_ts"),
        F.col("key").alias("rec_key"),
        F.col("value").alias("rec_value"),
    )


@register(
    LOG_QUERIES,
    "log_consume_from_offset",
    _ROUTED_CTE
    + """
    SELECT part_id, record_offset, rec_value FROM routed
    WHERE record_offset >= 100
    """,
    "resume-from-committed-offset scan: [start, hwm) per partition",
)
def log_consume_from_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir)
    starts = {p: 100 for p in (0, 1, 2)}
    return store.read("events", partitions=[0, 1, 2], start_offsets=starts).select(
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("value").alias("rec_value"),
    )


# -- murmur2 in pure DuckDB SQL -------------------------------------------
# Kafka's Utils.murmur2 (seed 0x9747b28c, m 0x5bd1e995): 4-byte LE chunks
# mixed sequentially (recursive CTE — the mix is a dependent chain), tail
# bytes xor'd in with fall-through, then the 13/15-bit avalanche. All 32-bit
# unsigned arithmetic is BIGINT masked via % 2^32; >>n is // 2^n on the
# always-nonnegative h. Validated byte-for-byte against murmur2.murmur2 for
# lengths 1..19 (tests/test_properties.py).
_M2_MUL = "1540483477"  # 0x5bd1e995
_M2_P32 = "4294967296"  # 2^32


def _mul32(e: str) -> str:
    return f"(CAST({e} AS BIGINT) * {_M2_MUL}) % {_M2_P32}"


def _xor(a: str, b: str) -> str:
    return f"xor(CAST({a} AS BIGINT), CAST({b} AS BIGINT))"


def _murmur2_oracle_sql() -> str:
    k0 = (
        "(ascii(substr(rec_key, 4*i+1, 1))"
        " + 256 * ascii(substr(rec_key, 4*i+2, 1))"
        " + 65536 * ascii(substr(rec_key, 4*i+3, 1))"
        " + 16777216 * CAST(ascii(substr(rec_key, 4*i+4, 1)) AS BIGINT))"
    )
    km = _mul32(k0)
    k4 = _mul32(_xor(km, f"({km}) // 16777216"))  # k ^= k >>> 24; k *= m
    hnew = _xor(_mul32("h"), k4)  # h *= m; h ^= k
    tail = (
        "CASE WHEN len % 4 = 0 THEN h ELSE "
        + _mul32(
            _xor(
                _xor(
                    _xor(
                        "h",
                        "CASE WHEN len % 4 >= 3 THEN 65536 * "
                        "ascii(substr(rec_key, (len//4)*4 + 3, 1)) ELSE 0 END",
                    ),
                    "CASE WHEN len % 4 >= 2 THEN 256 * "
                    "ascii(substr(rec_key, (len//4)*4 + 2, 1)) ELSE 0 END",
                ),
                "ascii(substr(rec_key, (len//4)*4 + 1, 1))",
            )
        )
        + " END"
    )
    return f"""
WITH RECURSIVE keys AS (
  SELECT CAST(user_id AS VARCHAR) AS rec_key, COUNT(*) AS n_records
  FROM events GROUP BY 1
),
kb AS (
  SELECT rec_key, n_records, strlen(rec_key) AS len, strlen(rec_key)//4 AS n4
  FROM keys
),
mm AS (
  SELECT rec_key, n_records, len, n4, 0 AS i,
         xor(CAST(2538058380 AS BIGINT), CAST(len AS BIGINT)) AS h
  FROM kb
  UNION ALL
  SELECT rec_key, n_records, len, n4, i+1, {hnew} AS h
  FROM mm WHERE i < n4
),
fin AS (SELECT rec_key, n_records, len, h FROM mm WHERE i = n4),
tl  AS (SELECT rec_key, n_records, {tail} AS h FROM fin),
av  AS (SELECT rec_key, n_records, xor(h, h // 8192) AS h FROM tl),
av2 AS (SELECT rec_key, n_records, {_mul32("h")} AS h FROM av),
av3 AS (SELECT rec_key, n_records, xor(h, h // 32768) AS h FROM av2)
SELECT CAST((h % 2147483648) % 5 AS INTEGER) AS part_id, rec_key, n_records
FROM av3
"""


@register(
    LOG_QUERIES,
    "log_key_route_murmur2",
    _murmur2_oracle_sql(),
    "keyed ingest via Kafka-compatible murmur2 routing; oracle recomputes "
    "the full MurmurHash2 mix/tail/avalanche in recursive SQL",
)
def log_key_route_murmur2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import LogStore

    wh = tempfile.mkdtemp(prefix="flux-logq-")
    store = LogStore(spark, wh)
    store.catalog.create_topic("keyed", 5)
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").cast("string").alias("value"),
    )
    store.append("keyed", e, ordering_col="seq")
    return (
        store.read("keyed")
        .groupBy("partition", "key")
        .agg(F.count("*").alias("n_records"))
        .select(
            F.col("partition").alias("part_id"), F.col("key").alias("rec_key"), "n_records"
        )
    )


@register(
    LOG_QUERIES,
    "log_consumer_lag",
    _ROUTED_CTE
    + """
    , hw AS (
      SELECT part_id, MAX(record_offset) + 1 AS hwm
      FROM routed GROUP BY part_id
    ),
    co(part_id, committed) AS (VALUES (0, 100), (1, 150), (2, 200))
    SELECT h.part_id,
           CAST(h.hwm AS BIGINT) AS hwm,
           CAST(c.committed AS BIGINT) AS committed,
           CAST(h.hwm - c.committed AS BIGINT) AS lag
    FROM hw h JOIN co c ON c.part_id = h.part_id
    """,
    "consumer-group lag: committed offsets (the _offsets table, G10) joined "
    "against per-partition high-water marks computed from the log — the "
    "monitoring query every Kafka operator runs; both sides partial-"
    "aggregate before one 3-row join",
)
def log_consumer_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..consumer import OffsetStore

    store = _ingest_events(spark, sf_dir)
    ostore = OffsetStore(store)
    ostore.commit(
        "lag-gate",
        {("events", 0): 100, ("events", 1): 150, ("events", 2): 200},
    )
    hw = (
        store.read("events")
        .groupBy(F.col("partition").alias("part_id"))
        .agg((F.max("offset") + 1).alias("hwm"))
    )
    committed = (
        spark.read.parquet(ostore.path)
        .where((F.col("group_id") == "lag-gate") & (F.col("topic") == "events"))
        .groupBy(F.col("partition").alias("part_id"))
        .agg(
            F.max_by(
                "offset",
                F.struct(F.col("commit_ts"), F.coalesce(F.col("seq"), F.lit(-1))),
            ).alias("committed")
        )
    )
    return hw.join(committed, "part_id").select(
        "part_id",
        "hwm",
        "committed",
        (F.col("hwm") - F.col("committed")).alias("lag"),
    )


@register(
    LOG_QUERIES,
    "log_idempotent_replay",
    _ROUTED_CTE
    + "SELECT part_id, record_offset, rec_key, rec_value FROM routed",
    "exactly-once produce under replay: the same batch appended TWICE "
    "with the same batch_id must land exactly once — the second append "
    "is a committed-marker no-op. The oracle is the single-copy routed "
    "numbering, so any duplicate row or offset gap fails rows+hash. "
    "This is the producer-side half of EOS (the streaming gate "
    "stream_pipeline_envelope covers the consumer-side half)",
)
def log_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import LogStore

    wh = tempfile.mkdtemp(prefix="flux-idem-")
    store = LogStore(spark, wh)
    store.catalog.create_topic("events", 3)
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").cast("string").alias("value"),
    )
    store.append("events", e, ordering_col="seq", batch_id="replay-gate-1")
    # replay: identical call, identical batch id — must be a no-op
    store.append("events", e, ordering_col="seq", batch_id="replay-gate-1")
    return store.read("events").select(
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("key").alias("rec_key"),
        F.col("value").alias("rec_value"),
    )


@register(
    LOG_QUERIES,
    "log_beginning_offsets",
    _ROUTED_CTE
    + """
    , hw AS (
      SELECT part_id, MAX(record_offset) + 1 AS hwm
      FROM routed GROUP BY part_id),
    lo(part_id, log_start) AS (VALUES (0, 50), (1, 60), (2, 70))
    SELECT h.part_id,
           CAST(l.log_start AS BIGINT) AS log_start,
           CAST(h.hwm AS BIGINT) AS hwm,
           CAST(h.hwm - l.log_start AS BIGINT) AS n_readable
    FROM hw h JOIN lo l ON l.part_id = h.part_id
    """,
    "log-start offsets after retention truncation (Kafka "
    "beginningOffsets): partitions truncated below {50,60,70} must "
    "report exactly those as their earliest readable offsets, with "
    "n_readable = hwm - log_start — consumer seek_to_beginning and lag "
    "math both build on this",
)
def log_beginning_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir, fresh=True)
    store.truncate_before("events", {0: 50, 1: 60, 2: 70})
    begins = store.beginning_offsets("events")
    hwm = store.high_water_marks("events")
    rows = [
        (int(p), int(begins[p]), int(hwm[p]), int(hwm[p] - begins[p]))
        for p in sorted(begins)
    ]
    return spark.createDataFrame(
        rows, "part_id int, log_start long, hwm long, n_readable long"
    )


@register(
    LOG_QUERIES,
    "log_sql_view",
    _ROUTED_CTE
    + """
    SELECT rec_key, COUNT(*) AS n_records,
           CAST(MIN(record_offset) AS BIGINT) AS first_offset,
           CAST(MAX(record_offset) AS BIGINT) AS last_offset
    FROM routed
    WHERE part_id = 1
    GROUP BY rec_key
    """,
    "SQL-over-topics: the topic log registered as a temp view and "
    "queried with plain spark.sql — the §7 phase-4 surface. The WHERE "
    "partition=1 predicate written in SQL still prunes to one partition "
    "directory because the view is a bare projection over the scan",
)
def log_sql_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir)
    view = store.create_view("events", "gate_events_view")
    return spark.sql(
        f"""
        SELECT key AS rec_key, COUNT(*) AS n_records,
               MIN(offset) AS first_offset, MAX(offset) AS last_offset
        FROM {view}
        WHERE partition = 1
        GROUP BY key
        """
    )


@register(
    LOG_QUERIES,
    "log_snapshot_read",
    _ROUTED_CTE
    + """
    SELECT part_id, record_offset, rec_key, rec_value FROM routed
    WHERE record_offset < 100
    """,
    "snapshot (time-travel) read: an offset-vector bounded scan "
    "[0, end_offsets) is a CONSISTENT, immutable view of the log no "
    "matter how much is appended afterwards — record a (partition -> "
    "offset) vector once and every later read of that vector returns the "
    "identical dataset. This is the reproducible-training-set primitive: "
    "a data manifest is just the end-offset vector, and it composes with "
    "the md5 split/sampling operators for frozen, re-derivable corpora",
)
def log_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir)
    ends = {p: 100 for p in (0, 1, 2)}
    return store.read(
        "events", partitions=[0, 1, 2], end_offsets=ends
    ).select(
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("key").alias("rec_key"),
        F.col("value").alias("rec_value"),
    )


@register(
    LOG_QUERIES,
    "log_group_lags_all",
    _ROUTED_CTE
    + """
    , hw AS (
      SELECT part_id, MAX(record_offset) + 1 AS hwm
      FROM routed GROUP BY part_id
    ),
    co(group_id, part_id, committed) AS (VALUES
      ('team-a', 0, 120), ('team-a', 1, 80), ('team-a', 2, 250),
      ('team-b', 0, 10),  ('team-b', 1, 10), ('team-b', 2, 10))
    SELECT c.group_id, h.part_id,
           CAST(h.hwm AS BIGINT) AS hwm,
           CAST(c.committed AS BIGINT) AS committed,
           CAST(h.hwm - c.committed AS BIGINT) AS lag
    FROM hw h JOIN co c ON c.part_id = h.part_id
    """,
    "multi-group lag describe (kafka-consumer-groups --describe --all): "
    "every group's latest committed offset per partition vs the log "
    "high-water marks, in one report. team-a commits TWICE per partition "
    "and only the newer commit may surface — exercising the (commit_ts, "
    "seq) latest-wins resolution across groups in a single scan of the "
    "append-only _offsets table",
)
def log_group_lags_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..consumer import OffsetStore

    store = _ingest_events(spark, sf_dir, fresh=True)
    ostore = OffsetStore(store)
    # team-a: stale commit first, then the one that must win
    ostore.commit(
        "team-a", {("events", 0): 5, ("events", 1): 5, ("events", 2): 5}
    )
    ostore.commit(
        "team-a", {("events", 0): 120, ("events", 1): 80, ("events", 2): 250}
    )
    ostore.commit(
        "team-b", {("events", 0): 10, ("events", 1): 10, ("events", 2): 10}
    )
    hw = (
        store.read("events")
        .groupBy(F.col("partition").alias("part_id"))
        .agg((F.max("offset") + 1).alias("hwm"))
    )
    committed = (
        spark.read.parquet(ostore.path)
        .where(F.col("topic") == "events")
        .groupBy("group_id", F.col("partition").alias("part_id"))
        .agg(
            F.max_by(
                "offset",
                F.struct(F.col("commit_ts"), F.coalesce(F.col("seq"), F.lit(-1))),
            ).alias("committed")
        )
    )
    return hw.join(committed, "part_id").select(
        "group_id",
        "part_id",
        "hwm",
        "committed",
        (F.col("hwm") - F.col("committed")).alias("lag"),
    )


# ---------------------------------------------------------------------------
# Consumer-group assignor parity: the Python assignors vs independent SQL math
# ---------------------------------------------------------------------------

_MEMBERS = ["m1", "m2", "m3"]
# FIXTURES.md F2 topic set
_TOPICS = {"Bob": 3, "TestTopic": 5, "Topic": 3, "test-topic": 3}

_FIXTURE_CTE = """
WITH members(member_id, mi) AS (VALUES ('m1', 0), ('m2', 1), ('m3', 2)),
topics(topic, np) AS (VALUES ('Bob', 3), ('TestTopic', 5), ('Topic', 3), ('test-topic', 3)),
parts AS (SELECT topic, np, CAST(unnest(range(0, np)) AS INTEGER) AS part_id FROM topics)
"""


def _assignment_df(spark: SparkSession, assignment) -> DataFrame:
    rows = [
        (m, t, p)
        for m, tps in assignment.items()
        for t, parts in tps.items()
        for p in parts
    ]
    return spark.createDataFrame(rows, "member_id string, topic string, part_id int")


@register(
    LOG_QUERIES,
    "group_assign_range",
    _FIXTURE_CTE
    + """
    SELECT m.member_id, p.topic, p.part_id
    FROM parts p
    JOIN members m
      ON p.part_id >= m.mi * (p.np // 3) + LEAST(m.mi, p.np % 3)
     AND p.part_id <  m.mi * (p.np // 3) + LEAST(m.mi, p.np % 3)
                      + (p.np // 3) + CASE WHEN m.mi < p.np % 3 THEN 1 ELSE 0 END
    """,
    "RangeAssignor parity vs independent SQL derivation (floor(P/M)+remainder blocks)",
)
def group_assign_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..assignors import range_assign

    return _assignment_df(spark, range_assign(_MEMBERS, _TOPICS))


@register(
    LOG_QUERIES,
    "group_assign_roundrobin",
    _FIXTURE_CTE
    + """
    , universe AS (
      SELECT topic, part_id,
             ROW_NUMBER() OVER (ORDER BY topic, part_id) - 1 AS rn
      FROM parts
    )
    SELECT m.member_id, u.topic, u.part_id
    FROM universe u JOIN members m ON m.mi = u.rn % 3
    """,
    "RoundRobinAssignor parity: sorted (topic,partition) dealt cyclically",
)
def group_assign_roundrobin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..assignors import round_robin_assign

    return _assignment_df(spark, round_robin_assign(_MEMBERS, _TOPICS))


@register(
    LOG_QUERIES,
    "stream_windowed_counts",
    _ROUTED_CTE
    + """
    SELECT
      time_bucket(INTERVAL 1 HOUR, event_ts) AS window_start,
      part_id AS partition,
      COUNT(*) AS n_events,
      MIN(record_offset) AS first_offset,
      MAX(record_offset) AS last_offset
    FROM routed
    GROUP BY 1, 2
    """,
    "Structured Streaming windowed aggregation over the topic log "
    "(readStream -> watermark -> tumbling window, AvailableNow drain)",
)
def stream_windowed_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import drain_available_now, stream_topic, stream_windowed_counts

    store = _ingest_events(spark, sf_dir)
    src = stream_topic(store, "events")
    agg = stream_windowed_counts(src, window="1 hour", watermark="30 minutes")
    return drain_available_now(agg, output_mode="complete")


@register(
    LOG_QUERIES,
    "stream_session_windows",
    _ROUTED_CTE
    + """
    , ordered AS (
      SELECT rec_key, rec_value, event_ts, record_offset,
             CASE WHEN LAG(event_ts) OVER w IS NULL
                   OR epoch_us(event_ts) - epoch_us(LAG(event_ts) OVER w)
                      >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM routed
      WINDOW w AS (PARTITION BY rec_key ORDER BY event_ts, rec_value)
    ),
    sess AS (
      SELECT rec_key, event_ts, record_offset,
             CAST(SUM(new_s) OVER (PARTITION BY rec_key
                                   ORDER BY event_ts, rec_value
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM ordered
    )
    SELECT MIN(event_ts) AS session_start,
           MAX(event_ts) + INTERVAL 30 MINUTE AS session_end,
           rec_key,
           COUNT(*) AS n_events,
           MIN(record_offset) AS first_offset,
           MAX(record_offset) AS last_offset
    FROM sess GROUP BY rec_key, sid
    """,
    "Structured Streaming session_window aggregation over the topic log "
    "(dynamic-gap windows merged per key, complete-mode AvailableNow "
    "drain) — oracle re-derives the merged sessions with lag + cumulative "
    "sum; boundary rule: a gap of exactly 30min starts a NEW session "
    "(adjacent [t, t+gap) windows do not overlap, so they do not merge)",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import (
        drain_available_now,
        stream_session_counts,
        stream_topic,
    )

    store = _ingest_events(spark, sf_dir)
    src = stream_topic(store, "events")
    sess = stream_session_counts(src, gap="30 minutes", watermark="8760 hours")
    out = drain_available_now(sess, output_mode="complete")
    return out.select(
        "session_start",
        "session_end",
        F.col("key").alias("rec_key"),
        "n_events",
        "first_offset",
        "last_offset",
    )


@register(
    LOG_QUERIES,
    "log_headers_roundtrip",
    _ROUTED_CTE
    + """
    SELECT part_id, record_offset,
           'etype' AS hkey,
           (SELECT event_type FROM events e
            WHERE CAST(e.event_id AS VARCHAR) = routed.rec_value) AS hval,
           1 AS hpos
    FROM routed
    UNION ALL
    SELECT part_id, record_offset, 'uid' AS hkey, rec_key AS hval, 2 AS hpos
    FROM routed
    """,
    "headers ordered-multimap round-trip through the log (Headers.java:8-96 "
    "semantics as a typed ARRAY<STRUCT<key,BINARY>> column): each record "
    "carries two headers; read back, posexplode, decode — order and "
    "duplicates preserved end-to-end",
)
def log_headers_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import LogStore

    wh = tempfile.mkdtemp(prefix="flux-logq-")
    store = LogStore(spark, wh)
    store.catalog.create_topic("events", 3)
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").cast("string").alias("value"),
        F.array(
            F.struct(
                F.lit("etype").alias("key"),
                F.encode("event_type", "UTF-8").alias("value"),
            ),
            F.struct(
                F.lit("uid").alias("key"),
                F.encode(F.col("user_id").cast("string"), "UTF-8").alias(
                    "value"
                ),
            ),
        ).alias("headers"),
    )
    store.append("events", e, ordering_col="seq")
    r = store.read("events")
    return r.select(
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.posexplode("headers").alias("__pos", "__h"),
    ).select(
        "part_id",
        "record_offset",
        F.col("__h.key").alias("hkey"),
        F.decode(F.col("__h.value"), "UTF-8").alias("hval"),
        (F.col("__pos") + 1).cast("int").alias("hpos"),
    )


@register(
    LOG_QUERIES,
    "stream_interval_join",
    _ROUTED_CTE
    + """
    SELECT a.rec_key,
           a.rec_value AS value_a,
           b.rec_value AS value_b,
           epoch_us(b.event_ts) - epoch_us(a.event_ts) AS gap_us
    FROM routed a JOIN routed b
      ON a.rec_key = b.rec_key
     AND b.event_ts >= a.event_ts
     AND b.event_ts < a.event_ts + INTERVAL 30 MINUTE
     AND a.rec_value < b.rec_value
    """,
    "stream-stream self-join over the topic: per-key pairs whose event "
    "times fall within a 30-minute forward interval (append-mode inner "
    "join; the time bound is what lets Spark GC buffered join state once "
    "the other side's watermark passes — without it state grows forever)",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import drain_available_now, stream_topic

    store = _ingest_events(spark, sf_dir)
    a = stream_topic(store, "events").select(
        F.col("key").alias("rec_key"),
        F.col("value").alias("value_a"),
        F.col("timestamp").alias("ts_a"),
    )
    b = stream_topic(store, "events").select(
        F.col("key").alias("b_key"),
        F.col("value").alias("value_b"),
        F.col("timestamp").alias("ts_b"),
    )
    aw = a.withWatermark("ts_a", "8760 hours")
    bw = b.withWatermark("ts_b", "8760 hours")
    # The join condition carries ONLY the equi-key + the two time bounds:
    # StreamingJoinHelper derives state-eviction watermarks from the join
    # condition, and a non-time conjunct there (value_a < value_b) makes it
    # log a scary ERROR-level [INTERNAL_ERROR] "Cannot evaluate expression"
    # stack while probing which conjuncts bound time. The value predicate
    # moves AFTER the sink (a pre-sink .where gets pushed back into the
    # join condition by PushPredicateThroughJoin, re-triggering the log):
    # same inner-join result, state eviction still driven by the time
    # bounds alone; the only cost is the symmetric (a,b)/(b,a) pairs
    # passing through the sink before the batch-side filter drops them.
    joined = aw.join(
        bw,
        (F.col("rec_key") == F.col("b_key"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") < F.col("ts_a") + F.expr("INTERVAL 30 MINUTES")),
    )
    out = drain_available_now(joined, output_mode="append").where(
        F.col("value_a") < F.col("value_b")
    )
    return out.select(
        "rec_key",
        "value_a",
        "value_b",
        (F.unix_micros("ts_b") - F.unix_micros("ts_a")).alias("gap_us"),
    )


@register(
    LOG_QUERIES,
    "stream_dedup_pairs",
    _ROUTED_CTE
    + "SELECT DISTINCT rec_key, rec_value FROM routed",
    "streaming dedup via dropDuplicatesWithinWatermark over a topic whose "
    "every record was produced twice (two appends): exactly one survivor "
    "per (key, value) with state bounded by the watermark horizon",
)
def stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import drain_available_now, stream_dedup, stream_topic

    store = _ingest_events(spark, sf_dir, fresh=True)
    # produce the same records a second time -> duplicate (key, value)s at
    # fresh offsets, the at-least-once redelivery shape
    again = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").cast("string").alias("value"),
    )
    store.append("events", again, ordering_col="seq")
    src = stream_topic(store, "events")
    deduped = stream_dedup(
        src, key_cols=["key", "value"], watermark="8760 hours"
    )
    out = drain_available_now(deduped, output_mode="append")
    return out.select(
        F.col("key").alias("rec_key"), F.col("value").alias("rec_value")
    )


@register(
    LOG_QUERIES,
    "stream_stateful_totals",
    _ROUTED_CTE
    + """
    SELECT rec_key AS key,
           CAST(SUM(CAST(rec_value AS BIGINT)) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM routed GROUP BY rec_key
    """,
    "custom stateful streaming operator (applyInPandasWithState) gated "
    "exactly: per-key running totals of the numeric record values over an "
    "AvailableNow drain. The values are integers, so the Arrow-batch "
    "float64 sums are order-independent below 2^53 and match the oracle's "
    "integer sum bit-for-bit",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import (
        drain_available_now,
        stateful_running_totals,
        stream_topic,
    )

    store = _ingest_events(spark, sf_dir)
    src = stream_topic(store, "events")
    # spaced trigger: stateful queries never self-terminate under
    # AvailableNow (back-to-back empty batches service the timeouts), so
    # the drain stops them in the idle gap between processing-time
    # triggers — a clean stop that can't interrupt a state commit
    out = drain_available_now(
        stateful_running_totals(src, state_timeout_ms=1500),
        output_mode="update",
        trigger_interval_ms=1000,
    )
    return out.select("key", "total", "n")


@register(
    LOG_QUERIES,
    "stream_static_enrich",
    _ROUTED_CTE
    + """
    , dim AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS rec_key,
             'seg' || CAST(user_id % 4 AS VARCHAR) AS segment
      FROM events
    )
    SELECT r.part_id, r.record_offset, r.rec_key, r.rec_value, d.segment
    FROM routed r JOIN dim d USING (rec_key)
    """,
    "stream-static enrichment: every streamed record joins its broadcast "
    "dimension row (user -> segment) per microbatch — stateless, no "
    "watermark, zero shuffle of the stream side",
)
def stream_static_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import (
        drain_available_now,
        stream_static_enrich,
        stream_topic,
    )

    store = _ingest_events(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("key"))
        .distinct()
        .withColumn(
            "segment",
            F.concat(F.lit("seg"), (F.col("key").cast("bigint") % 4).cast("string")),
        )
    )
    src = stream_topic(store, "events")
    out = drain_available_now(
        stream_static_enrich(src, dim), output_mode="append"
    )
    return out.select(
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("key").alias("rec_key"),
        F.col("value").alias("rec_value"),
        "segment",
    )


@register(
    LOG_QUERIES,
    "stream_pipeline_envelope",
    _ROUTED_CTE
    + """
    SELECT rec_key,
           to_json(struct_pack(payload := rec_value,
                               src_partition := part_id,
                               src_offset := record_offset)) AS envelope,
           event_ts
    FROM routed
    """,
    "end-to-end continuous pipeline gate: source topic -> readStream -> "
    "JSON provenance envelope -> foreachBatch produce into a sink topic "
    "(the engine's own exactly-once ingest path) -> read back. The sink "
    "must hold exactly one enveloped record per source record — the "
    "oracle rebuilds the envelope from the routed offset numbering, so "
    "a duplicate or lost microbatch fails the value hash",
)
def stream_pipeline_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import end_to_end_pipeline

    store = _ingest_events(spark, sf_dir, fresh=True)
    store.catalog.create_topic("events_enriched", 3)
    out = end_to_end_pipeline(store, "events", "events_enriched")
    return out.select(
        F.col("key").alias("rec_key"),
        F.col("value").alias("envelope"),
        F.col("timestamp").alias("event_ts"),
    )


@register(
    LOG_QUERIES,
    "log_offsets_for_times",
    _ROUTED_CTE
    + """
    SELECT part_id,
           MIN(record_offset) AS first_offset
    FROM routed
    WHERE event_ts >= TIMESTAMP '2024-01-16 00:00:00'
    GROUP BY part_id
    """,
    "offsetsForTimes analog: earliest offset at/after a timestamp per "
    "partition (timestamp predicate prunes rowgroups via parquet stats)",
)
def log_offsets_for_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir)
    got = store.offsets_for_times("events", "2024-01-16 00:00:00")
    rows = [(int(p), int(o)) for p, o in got.items() if o is not None]
    return spark.createDataFrame(rows, "part_id int, first_offset long")


@register(
    LOG_QUERIES,
    "log_truncate_retention",
    _ROUTED_CTE
    + """
    SELECT part_id,
           COUNT(*) AS n_records,
           MIN(record_offset) AS first_offset,
           MAX(record_offset) AS last_offset
    FROM routed
    WHERE record_offset >= 1000
    GROUP BY part_id
    """,
    "retention truncate: records below the per-partition watermark dropped, "
    "surviving offsets preserved so consumer positions stay valid",
)
def log_truncate_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir, fresh=True)
    store.truncate_before("events", {0: 1000, 1: 1000, 2: 1000})
    return (
        _records(store)
        .groupBy("part_id")
        .agg(
            F.count("*").alias("n_records"),
            F.min("record_offset").alias("first_offset"),
            F.max("record_offset").alias("last_offset"),
        )
    )


@register(
    LOG_QUERIES,
    "log_compact_roundtrip",
    _ROUTED_CTE + "SELECT part_id, record_offset, rec_key, rec_value FROM routed",
    "OPTIMIZE-style small-file compaction preserves every (partition, "
    "offset, key, value) exactly (maintenance job, SURVEY.md §7 phase 4)",
)
def log_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir, fresh=True)
    store.compact("events")
    return _records(store).select("part_id", "record_offset", "rec_key", "rec_value")


@register(
    LOG_QUERIES,
    "log_compact_by_key",
    _ROUTED_CTE
    + """
    SELECT part_id, record_offset, rec_key, rec_value
    FROM (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY part_id, rec_key
                                ORDER BY record_offset DESC) AS rn
      FROM routed)
    WHERE rn = 1
    """,
    "Kafka-style key compaction: latest record per (partition, key) "
    "retained with its ORIGINAL offset (gaps appear, consumer positions "
    "stay valid) — the cleaner the reference never implemented",
)
def log_compact_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ingest_events(spark, sf_dir, fresh=True)
    store.compact_by_key("events")
    return _records(store).select(
        "part_id", "record_offset", "rec_key", "rec_value"
    )


@register(
    LOG_QUERIES,
    "group_assign_sticky",
    _FIXTURE_CTE
    + """
    , universe AS (
      SELECT topic, part_id,
             ROW_NUMBER() OVER (ORDER BY topic, part_id) - 1 AS rn
      FROM parts
    ),
    phase1 AS (
      SELECT 'm1' AS member_id, topic, part_id FROM universe WHERE rn < 5
    ),
    rest AS (
      SELECT topic, part_id,
             ROW_NUMBER() OVER (ORDER BY topic, part_id) - 1 AS rn
      FROM universe WHERE rn >= 5
    )
    SELECT member_id, topic, part_id FROM phase1
    UNION ALL
    SELECT CASE WHEN rn % 2 = 0 THEN 'm2' ELSE 'm3' END AS member_id,
           topic, part_id
    FROM rest
    """,
    "StickyAssignor rebalance after m2/m3 join a group where m1 held every "
    "partition: phase 1 lets m1 keep its first ceil(14/3)=5 previous "
    "partitions (sorted), phase 2's min-heap deals the remaining nine to "
    "the empty members alternately — the oracle derives both phases in "
    "SQL; generic stickiness properties live in tests/test_assignors.py",
)
def group_assign_sticky(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..assignors import sticky_assign

    previous = {
        "m1": {t: list(range(n)) for t, n in _TOPICS.items()},
        "m2": {},
        "m3": {},
    }
    return _assignment_df(
        spark, sticky_assign(_MEMBERS, _TOPICS, previous=previous)
    )


# ---------------------------------------------------------------------------
# external source/sink connectors (sources.py)
# ---------------------------------------------------------------------------

_EVENTS_COLS_SQL = "SELECT event_id, ts, user_id, event_type, value FROM events"


def _format_roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    from .. import sources

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = tempfile.mkdtemp(prefix=f"flux-src-{fmt}-")
    return sources.roundtrip(e, path, fmt)


@register(
    LOG_QUERIES,
    "source_csv_roundtrip",
    _EVENTS_COLS_SQL,
    "CSV connector losslessness: events written through the csv sink and "
    "read back through the csv source (explicit schema, microsecond "
    "timestamp format, shortest-round-trip doubles) must equal the "
    "parquet original row-for-row",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "csv")


@register(
    LOG_QUERIES,
    "source_json_roundtrip",
    _EVENTS_COLS_SQL,
    "JSON-lines connector losslessness: same contract as the csv "
    "round-trip through the json source/sink pair",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "json")


@register(
    LOG_QUERIES,
    "source_orc_roundtrip",
    _EVENTS_COLS_SQL,
    "ORC connector losslessness: columnar round-trip preserves types "
    "natively (no text-format timestamp plumbing) and keeps predicate "
    "pushdown + column pruning on the read side",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "orc")


@register(
    LOG_QUERIES,
    "source_partition_backfill",
    """
    SELECT event_id, event_type,
           CASE WHEN event_type = 'click' THEN value * 2 ELSE value END
             AS value
    FROM events
    """,
    "dynamic-partition backfill: events exported Hive-partitioned by "
    "event_type; ONE partition ('click') is reprocessed and overwritten "
    "via partitionOverwriteMode=dynamic while every other partition's "
    "files are untouched — the surgical how-a-100TB-table-reprocesses-"
    "one-bad-day primitive. The read-back must equal untouched+reprocessed",
)
def source_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import sources

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    path = tempfile.mkdtemp(prefix="flux-backfill-")
    sources.write_sink(
        e, path, "parquet", mode="overwrite", partition_by=["event_type"]
    )
    fixed = e.where(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 2
    )
    sources.overwrite_partitions(fixed, path, ["event_type"])
    return sources.read_source(spark, path, "parquet").select(
        "event_id", "event_type", "value"
    )


@register(
    LOG_QUERIES,
    "log_table_materialize",
    """
    WITH keyed AS (
      SELECT
        CAST(user_id % 3 AS INTEGER) AS part_id,
        ROW_NUMBER() OVER (PARTITION BY user_id % 3 ORDER BY event_id) - 1
          AS record_offset,
        CAST(user_id AS VARCHAR) AS rec_key,
        CASE WHEN event_id % 17 = 0 THEN NULL
             ELSE CAST(event_id AS VARCHAR) END AS rec_value
      FROM events
    ),
    latest AS (
      SELECT rec_key, rec_value, part_id, record_offset,
             ROW_NUMBER() OVER (PARTITION BY rec_key
                                ORDER BY record_offset DESC, part_id DESC)
               AS rn
      FROM keyed
    )
    SELECT rec_key AS key, rec_value AS value,
           part_id AS partition, CAST(record_offset AS BIGINT) AS offset
    FROM latest WHERE rn = 1 AND rec_value IS NOT NULL
    """,
    "KTable-style changelog materialization: a key-routed topic with "
    "periodic tombstones snapshots to current-state (latest record per "
    "key wins; a key whose latest record is a tombstone leaves the "
    "table). Read-side view — the log keeps history; compact_by_key is "
    "the storage-side twin",
)
def log_table_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import LogStore

    wh = tempfile.mkdtemp(prefix="flux-ktable-")
    store = LogStore(spark, wh)
    store.catalog.create_topic("state", 3)
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.pmod(F.col("user_id"), F.lit(3)).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.when(
            F.col("event_id") % 17 == 0, F.lit(None).cast("string")
        ).otherwise(F.col("event_id").cast("string")).alias("value"),
    )
    store.append("state", e, ordering_col="seq")
    return store.materialize("state")


@register(
    LOG_QUERIES,
    "source_schema_evolution",
    """
    SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, event_type, value
    FROM events WHERE event_id % 2 = 1
    """,
    "schema-evolution read: a v1 export (event_id, event_type) and a "
    "widened v2 export (+ value) land in the same dataset; mergeSchema "
    "reads both generations as one table, v1 rows null-padded — the "
    "additive-column contract a long-lived 100 TB dataset relies on",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import sources

    e = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="flux-evolve-")
    v1 = e.where(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    v2 = e.where(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value"
    )
    sources.write_sink(v1, f"{base}/gen=1", "parquet")
    sources.write_sink(v2, f"{base}/gen=2", "parquet")
    merged = sources.read_source(
        spark, base, "parquet", mergeSchema="true", recursiveFileLookup="true"
    )
    return merged.select("event_id", "event_type", "value")


@register(
    LOG_QUERIES,
    "log_pattern_subscribe",
    """
    WITH split AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 'metrics_a'
                  ELSE 'metrics_b' END AS topic,
             ROW_NUMBER() OVER (PARTITION BY event_id % 2
                                ORDER BY event_id) - 1 AS record_offset,
             CAST(event_id AS VARCHAR) AS rec_value
      FROM events)
    SELECT topic, record_offset, rec_value FROM split
    """,
    "regex topic subscription (Kafka subscribe(Pattern) parity): events "
    "split across metrics_a / metrics_b plus a decoy audit topic; "
    "subscribe_pattern('metrics_.*') polls exactly the matching topics' "
    "full logs and nothing from the decoy",
)
def log_pattern_subscribe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..consumer import FluxConsumer
    from ..log import LogStore

    wh = tempfile.mkdtemp(prefix="flux-pattern-")
    store = LogStore(spark, wh)
    for t in ("metrics_a", "metrics_b", "audit"):
        store.catalog.create_topic(t, 1)
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.lit(0).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").cast("string").alias("value"),
    )
    store.append("metrics_a", e.where(F.col("seq") % 2 == 0), ordering_col="seq")
    store.append("metrics_b", e.where(F.col("seq") % 2 == 1), ordering_col="seq")
    store.append("audit", e.limit(10), ordering_col="seq")
    consumer = FluxConsumer(store, group_id="pattern-gate")
    consumer.subscribe_pattern(r"metrics_.*")
    return consumer.poll().records.select(
        "topic",
        F.col("offset").alias("record_offset"),
        F.col("value").alias("rec_value"),
    )


@register(
    LOG_QUERIES,
    "log_mirror_topic",
    _ROUTED_CTE
    + "SELECT part_id, record_offset, event_ts, rec_key, rec_value FROM routed",
    "topic mirroring (MirrorMaker / cross-cluster replication analog): "
    "records copied to a second store byte-for-byte with their original "
    "(partition, offset), so committed consumer positions stay valid; "
    "the gate mirrors twice — the second refresh must be an incremental "
    "no-op — and reads the mirror",
)
def log_mirror_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import LogStore

    src = _ingest_events(spark, sf_dir)
    dst = LogStore(spark, tempfile.mkdtemp(prefix="flux-mirror-"))
    dst.mirror_topic(src, "events")
    dst.mirror_topic(src, "events")  # incremental refresh: nothing new
    return dst.read("events").select(
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("timestamp").alias("event_ts"),
        F.col("key").alias("rec_key"),
        F.col("value").alias("rec_value"),
    )


@register(
    LOG_QUERIES,
    "log_continuous_rollup",
    """
    WITH routed AS (
      SELECT CAST(user_id % 3 AS INTEGER) AS part_id, ts, value
      FROM events
    )
    SELECT date_trunc('hour', ts) AS bucket,
           part_id AS partition,
           COUNT(*) AS n_records,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM routed GROUP BY 1, 2
    """,
    "incrementally-maintained continuous rollup (hypertable continuous "
    "aggregate): the topic is produced in two batches with a refresh "
    "after each — each refresh reads only records past the committed "
    "offset and SUM/COUNT-merges into the stored table, and the result "
    "must equal the oracle's full recompute",
)
def log_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import LogStore
    from ..rollup import ContinuousRollup

    wh = tempfile.mkdtemp(prefix="flux-rollup-")
    store = LogStore(spark, wh)
    store.catalog.create_topic("vals", 3)
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.pmod(F.col("user_id"), F.lit(3)).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("value").cast("string").alias("value"),
    )
    roll = ContinuousRollup(store, "vals", f"{wh}/rollup-table")
    store.append("vals", e.where(F.col("seq") % 2 == 0), ordering_col="seq")
    roll.refresh()
    store.append("vals", e.where(F.col("seq") % 2 == 1), ordering_col="seq")
    roll.refresh()
    roll.refresh()  # no new data: must be a no-op
    return roll.snapshot().select(
        "bucket", "partition", "n_records", "total_value"
    )



# registry aggregation: admin/maintenance/lifecycle gates register into
# the same LOG_QUERIES dict (pure move, VERDICT r6 #7); the import sits
# at the tail so the helpers above exist when the module binds them
from . import log_admin_queries  # noqa: E402,F401


@register(
    LOG_QUERIES,
    "stream_late_data_drop",
    """
    WITH ev AS (SELECT event_id, ts, user_id FROM events),
    a AS (SELECT ts,
                 ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS off
          FROM ev WHERE event_id % 4 != 3),
    na AS (SELECT COUNT(*) AS n FROM a),
    b AS (SELECT ts,
                 (SELECT n FROM na)
                 + ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS off
          FROM ev WHERE event_id % 4 = 3),
    wm1 AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM a),
    wm2 AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM ev),
    kept AS (
      SELECT ts, off FROM a
      UNION ALL
      SELECT ts, off FROM b
      WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
            > (SELECT w FROM wm1)
    ),
    agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(off) AS first_offset,
             MAX(off) AS last_offset
      FROM kept GROUP BY 1)
    SELECT window_start, n_events, first_offset, last_offset
    FROM agg
    WHERE window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm2)
    """,
    "watermark LATE-DATA DROP, gated end-to-end: two append-mode "
    "AvailableNow drains share one checkpoint — run 1 ingests 3/4 of "
    "events and persists watermark = max(ts)-30min; run 2 appends the "
    "held-back quarter, so rows whose 1h window closed under the run-1 "
    "watermark are DROPPED by the engine and windows still open at the "
    "final watermark are withheld; the oracle re-derives both watermark "
    "epochs, the drop rule and the append-mode emission rule "
    "symbolically",
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import LogStore
    from ..streaming import (
        stream_export,
        stream_topic,
        stream_windowed_counts,
    )

    wh = tempfile.mkdtemp(prefix="flux-late-")
    ckpt = tempfile.mkdtemp(prefix="flux-late-ckpt-")
    out = tempfile.mkdtemp(prefix="flux-late-out-")
    store = LogStore(spark, wh)
    store.catalog.create_topic("ev_late", 1)
    base = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.lit(0).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").cast("string").alias("value"),
    )
    store.append("ev_late", base.where(F.col("seq") % 4 != 3),
                 ordering_col="seq")

    def agg():
        return stream_windowed_counts(
            stream_topic(store, "ev_late"),
            window="1 hour",
            watermark="30 minutes",
        ).select("window_start", "n_events", "first_offset", "last_offset")

    # append-mode file sink: checkpoint-recoverable (memory sinks are
    # not), and the _spark_metadata manifest makes the two runs' output
    # exactly-once under one reader
    stream_export(agg(), out, ckpt)
    store.append("ev_late", base.where(F.col("seq") % 4 == 3),
                 ordering_col="seq")
    stream_export(agg(), out, ckpt)
    return spark.read.parquet(out)


@register(
    LOG_QUERIES,
    "stream_left_outer_join",
    _ROUTED_CTE
    + """
    , evens AS (SELECT rec_key, rec_value, event_ts FROM routed
                WHERE CAST(rec_value AS BIGINT) % 2 = 0),
    odds AS (SELECT rec_key, rec_value, event_ts FROM routed
             WHERE CAST(rec_value AS BIGINT) % 2 = 1),
    wm AS (
      -- the GLOBAL watermark is the min over both input streams'
      -- (max event time - delay), each tracked at ms precision
      SELECT make_timestamp((least(
               (SELECT epoch_us(MAX(event_ts)) FROM evens),
               (SELECT epoch_us(MAX(event_ts)) FROM odds)) // 1000) * 1000)
             - INTERVAL 30 MINUTE AS w),
    matches AS (
      SELECT a.rec_key, a.rec_value AS value_a, b.rec_value AS value_b,
             epoch_us(b.event_ts) - epoch_us(a.event_ts) AS gap_us
      FROM evens a JOIN odds b
        ON a.rec_key = b.rec_key
       AND b.event_ts >= a.event_ts
       AND b.event_ts <= a.event_ts + INTERVAL 30 MINUTE),
    unmatched AS (
      SELECT a.rec_key, a.rec_value AS value_a,
             CAST(NULL AS VARCHAR) AS value_b,
             CAST(NULL AS BIGINT) AS gap_us
      FROM evens a
      WHERE NOT EXISTS (
        SELECT 1 FROM odds b
        WHERE b.rec_key = a.rec_key
          AND b.event_ts >= a.event_ts
          AND b.event_ts <= a.event_ts + INTERVAL 30 MINUTE)
        AND a.event_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm))
    SELECT rec_key, value_a, value_b, gap_us FROM matches
    UNION ALL
    SELECT rec_key, value_a, value_b, gap_us FROM unmatched
    """,
    "stream-stream LEFT OUTER join with watermark-driven NULL emission: "
    "even-id records left-join odd-id records of the same key within a "
    "forward 30-minute interval; a left row with no partner emits "
    "null-padded ONLY once the watermark passes its horizon (state "
    "eviction = no future match possible), and too-recent unmatched "
    "rows are withheld — the oracle re-derives matches, the eviction "
    "cutoff, and the withheld set symbolically",
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import drain_available_now, stream_topic

    store = _ingest_events(spark, sf_dir)
    a = stream_topic(store, "events").where(
        F.col("value").cast("long") % 2 == 0
    ).select(
        F.col("key").alias("rec_key"),
        F.col("value").alias("value_a"),
        F.col("timestamp").alias("ts_a"),
    )
    b = stream_topic(store, "events").where(
        F.col("value").cast("long") % 2 == 1
    ).select(
        F.col("key").alias("b_key"),
        F.col("value").alias("value_b"),
        F.col("timestamp").alias("ts_b"),
    )
    aw = a.withWatermark("ts_a", "30 minutes")
    bw = b.withWatermark("ts_b", "30 minutes")
    joined = aw.join(
        bw,
        (F.col("rec_key") == F.col("b_key"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 30 MINUTES")),
        how="leftOuter",
    )
    out = drain_available_now(joined, output_mode="append")
    return out.select(
        "rec_key",
        "value_a",
        "value_b",
        (F.unix_micros("ts_b") - F.unix_micros("ts_a")).alias("gap_us"),
    )


@register(
    LOG_QUERIES,
    "log_dlq_route",
    """
    WITH base AS (
      SELECT event_id, user_id,
        CASE WHEN event_id % 13 = 0 THEN NULL
             WHEN event_id % 17 = 0 THEN repeat('x', 600)
             ELSE CAST(event_id AS VARCHAR) END AS value
      FROM events),
    flagged AS (
      SELECT event_id, user_id, value,
        CASE WHEN value IS NULL THEN 'null_value'
             WHEN length(value) > 512 THEN 'oversized' END AS reason
      FROM base),
    main AS (
      SELECT 'ev' AS stream,
        CAST(event_id % 3 AS INTEGER) AS part_id,
        ROW_NUMBER() OVER (PARTITION BY event_id % 3 ORDER BY event_id) - 1
          AS record_offset,
        CAST(user_id AS VARCHAR) AS rec_key,
        CAST(NULL AS VARCHAR) AS reason
      FROM flagged WHERE reason IS NULL),
    dlq AS (
      SELECT 'ev.dlq' AS stream,
        CAST(0 AS INTEGER) AS part_id,
        ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS record_offset,
        CAST(user_id AS VARCHAR) AS rec_key,
        reason
      FROM flagged WHERE reason IS NOT NULL)
    SELECT * FROM main UNION ALL SELECT * FROM dlq
    """,
    "dead-letter-queue ingest (Kafka Connect errors.tolerance=all): a "
    "batch with deterministic poison rows (every 13th value NULL, every "
    "17th oversized past the 512 B limit) routes valid records to the "
    "topic and quarantines the rest in <topic>.dlq with a reason header "
    "— offsets on BOTH streams must be contiguous and in arrival order, "
    "which the oracle re-derives symbolically. The batch is classified "
    "once (persisted split, one scan at 100 TB, not one per sink)",
)
def log_dlq_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import LogStore
    from ..producer import route_to_dlq

    wh = tempfile.mkdtemp(prefix="flux-dlq-")
    store = LogStore(spark, wh)
    store.catalog.create_topic("ev", 3)
    store.catalog.create_topic("ev.dlq", 1)
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("int").alias("partition"),
        F.col("user_id").cast("string").alias("key"),
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("string"))
        .when(F.col("event_id") % 17 == 0, F.lit("x" * 600))
        .otherwise(F.col("event_id").cast("string"))
        .alias("value"),
    )
    route_to_dlq(store, "ev", e, max_value_bytes=512, ordering_col="seq")
    main = store.read("ev").select(
        F.lit("ev").alias("stream"),
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("key").alias("rec_key"),
        F.lit(None).cast("string").alias("reason"),
    )
    dlq = store.read("ev.dlq").select(
        F.lit("ev.dlq").alias("stream"),
        F.col("partition").alias("part_id"),
        F.col("offset").alias("record_offset"),
        F.col("key").alias("rec_key"),
        F.element_at(
            F.filter("headers", lambda h: h["key"] == F.lit("reason")), 1
        )["value"]
        .cast("string")
        .alias("reason"),
    )
    return main.unionByName(dlq)


@register(
    LOG_QUERIES,
    "stream_hll_registers",
    _ROUTED_CTE
    + """
    , h AS (
      SELECT part_id,
        CAST(('0x' || substring(md5(rec_key), 1, 15)) AS BIGINT) AS hv
      FROM routed),
    reg AS (
      SELECT part_id, hv >> 52 AS bucket,
        strpos(lpad(bin(hv & 4503599627370495), 52, '0'), '1') AS pos
      FROM h)
    SELECT part_id, CAST(bucket AS BIGINT) AS bucket,
      CAST(MAX(CASE WHEN pos = 0 THEN 53 ELSE pos END) AS BIGINT) AS max_rho
    FROM reg GROUP BY 1, 2
    """,
    "STREAMING HyperLogLog register build: readStream over the topic "
    "log, per-(partition, bucket) MAX(rho) as a streaming aggregate — "
    "each micro-batch folds into the running registers (MAX is the HLL "
    "merge, so the streaming state IS the sketch: 256 rows/partition "
    "regardless of stream length), complete-mode AvailableNow drain. "
    "Oracle recomputes the registers batch-side from the same md5 "
    "construction — a lost or double-merged micro-batch fails the hash. "
    "The streaming twin of events_hll_registers / the rolling-window "
    "merge family.",
)
def stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import drain_available_now, stream_topic

    store = _ingest_events(spark, sf_dir)
    src = stream_topic(store, "events")
    hv = F.conv(F.substring(F.md5(F.col("key")), 1, 15), 16, 10).cast(
        "bigint"
    )
    pos = F.instr(
        F.lpad(F.bin(hv.bitwiseAND(F.lit(4503599627370495))), 52, "0"), "1"
    )
    reg = src.select(
        F.col("partition").alias("part_id"),
        F.shiftright(hv, 52).cast("bigint").alias("bucket"),
        F.when(pos == 0, 53).otherwise(pos).alias("rho"),
    )
    agg = reg.groupBy("part_id", "bucket").agg(
        F.max("rho").cast("bigint").alias("max_rho")
    )
    return drain_available_now(agg, output_mode="complete")


@register(
    LOG_QUERIES,
    "stream_quantile_registers",
    _ROUTED_CTE
    + """
    , reg AS (
      SELECT part_id,
        CAST(EXTRACT(hour FROM event_ts) * 60
             + EXTRACT(minute FROM event_ts) AS BIGINT) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM routed GROUP BY 1, 2),
    stats AS (
      SELECT part_id, bin, n,
        CAST(SUM(n) OVER (PARTITION BY part_id ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        CAST(SUM(n) OVER (PARTITION BY part_id) AS BIGINT) AS tot
      FROM reg)
    SELECT part_id,
      CAST(MAX(tot) AS BIGINT) AS n_events,
      CAST(COUNT(*) AS BIGINT) AS n_bins,
      CAST(SUM(bin * n) AS BIGINT) AS register_dot,
      CAST(MIN(CASE WHEN cum >= CAST(ceil(0.5 * CAST(tot AS DOUBLE))
               AS BIGINT) THEN bin END) AS BIGINT) AS p50_minute,
      CAST(MIN(CASE WHEN cum >= CAST(ceil(0.9 * CAST(tot AS DOUBLE))
               AS BIGINT) THEN bin END) AS BIGINT) AS p90_minute,
      CAST(MIN(CASE WHEN cum >= CAST(ceil(0.99 * CAST(tot AS DOUBLE))
               AS BIGINT) THEN bin END) AS BIGINT) AS p99_minute
    FROM stats GROUP BY part_id
    """,
    "STREAMING quantile registers: readStream over the topic log folds "
    "each micro-batch into per-(partition, minute-of-day) COUNT "
    "registers (SUM-mergeable — the additive twin of the MAX-mergeable "
    "stream_hll_registers; state is <= 1440 rows/partition at any "
    "stream length), complete-mode AvailableNow drain, then p50/p90/p99 "
    "rank-located from the drained registers in exact integer "
    "arithmetic + a bit-exact register dot-product checksum. Oracle "
    "recomputes registers and quantiles batch-side — a lost or "
    "double-counted micro-batch fails the hash.",
)
def stream_quantile_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import drain_available_now, stream_topic

    store = _ingest_events(spark, sf_dir)
    src = stream_topic(store, "events")
    reg = src.groupBy(
        F.col("partition").alias("part_id"),
        (F.hour("timestamp") * 60 + F.minute("timestamp"))
        .cast("bigint")
        .alias("bin"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    drained = drain_available_now(reg, output_mode="complete")
    wc = Window.partitionBy("part_id").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wp = Window.partitionBy("part_id")
    stats = drained.select(
        "part_id",
        "bin",
        "n",
        F.sum("n").over(wc).cast("bigint").alias("cum"),
        F.sum("n").over(wp).cast("bigint").alias("tot"),
    )

    def pq(p: float, alias: str):
        thresh = F.ceil(F.lit(p) * F.col("tot").cast("double")).cast(
            "bigint"
        )
        return (
            F.min(F.when(F.col("cum") >= thresh, F.col("bin")))
            .cast("bigint")
            .alias(alias)
        )

    return stats.groupBy("part_id").agg(
        F.max("tot").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_bins"),
        F.sum(F.col("bin") * F.col("n")).cast("bigint").alias("register_dot"),
        pq(0.5, "p50_minute"),
        pq(0.9, "p90_minute"),
        pq(0.99, "p99_minute"),
    )


@register(
    LOG_QUERIES,
    "stream_windowed_topk",
    _ROUTED_CTE
    + """
    , wc AS (
      SELECT time_bucket(INTERVAL 1 HOUR, event_ts) AS window_start,
             rec_key, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM routed GROUP BY 1, 2)
    SELECT window_start, rec_key, n_events, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
              ORDER BY n_events DESC, rec_key) AS rnk FROM wc)
    WHERE rnk <= 3
    """,
    "streaming trending-keys: readStream tumbling 1 h windowed counts "
    "per key (streaming state = live windows x keys, GC'd by the "
    "watermark at scale), complete-mode AvailableNow drain, then top-3 "
    "keys per window ranked from the drained aggregate with "
    "deterministic ties — the 'what is hot right now' leaderboard over "
    "the topic log. Oracle re-derives windows + ranks batch-side.",
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import drain_available_now, stream_topic

    store = _ingest_events(spark, sf_dir)
    src = stream_topic(store, "events")
    agg = src.groupBy(
        F.window("timestamp", "1 hour").alias("w"), F.col("key")
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    drained = drain_available_now(agg, output_mode="complete").select(
        F.col("w.start").alias("window_start"),
        F.col("key").alias("rec_key"),
        "n_events",
    )
    wr = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("rec_key")
    )
    return (
        drained.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 3)
        .select(
            "window_start",
            "rec_key",
            "n_events",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
