"""Parquet-backed topic log: the storage engine.

Replaces the reference's Partition/Log/LogSegment/IndexEntries stack
(server/internal/storage/Partition.java:8-65, Log.java:18-115,
LogSegment.java:28-434, IndexEntries.java:17-54) with immutable Parquet files
under ``warehouse/<topic>/partition=<p>/``:

* **LogSegment -> parquet file**: files are immutable once committed, like a
  rolled segment (LogSegment.java:381-388); "segment roll" is
  ``maxRecordsPerFile`` on the writer (Log.java:65-72 analog).
* **IndexEntries -> rowgroup stats**: the offset->byte index
  (IndexEntries.java:17-54) becomes Parquet rowgroup min/max statistics on the
  sorted ``offset`` column — Catalyst predicate pushdown gives the same
  skip-scan for free (README.md:198's "costly full table scans" avoidance).
* **Partition dir -> partition pruning**: Hive-style ``partition=<p>`` dirs
  mean a (topic, partition, offset) point read prunes to one directory and
  then to one rowgroup.
* **LogSegment name -> offset-named fast segment**: the reference names each
  segment by its start offset (``{topic}_partition{p}_{startOffset}.log``,
  LogSegment.java:72-78). A fast-lane file carries its whole range,
  ``part-fast-<first:020d>-<last:020d>-<uuid>.parquet``; Spark-named files
  give theirs by footer. Every driver-side read of the layout goes through
  one segment index, ``LogStore._segments``, and starts no Spark job.

Offset assignment (the one genuinely stateful primitive, SURVEY.md §4):
per-(topic, partition) offsets are contiguous from 0 across appends. The
reference serializes writers with a fair per-partition ReentrantLock
(commons/utils/PartitionWriteManager.java:17-84); here each *ingest batch* is
the unit of serialization — a per-topic driver lock orders batches, and within
a batch ``row_number() OVER (PARTITION BY partition ORDER BY arrival)`` plus
the catalog high-water mark assigns gap-free offsets. The shuffle implied by
the window is the same shuffle needed to co-locate each log partition's rows
into one write task, so ordering costs no extra stage.

Durability: the reference acks before fsync and can drop batches after 3
retries (FluxProducer.java:229-233, LogSegment.java:165-218); Spark's
file-commit protocol gives committed-write durability — a deliberate upgrade
(SURVEY.md §7 risk 4).

Scale notes (100 TB design point): one shuffle per ingest batch, hash-
partitioned on the log partition id. Every Spark lane (append, mirror and
the rewrites) writes segments through one writer, ``_write_segments``:
offset-sorted files rolled at ``maxRecordsPerFile``. ``compact()``,
``compact_by_key()`` and ``truncate_before()`` are one locked
rewrite-and-swap (``_rewrite``) that differ only in their filter;
``compact()`` is the OPTIMIZE-style job that rewrites small files into
large offset-sorted ones to keep listing + pruning cheap.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import uuid
from collections import namedtuple
from pathlib import Path

from pyspark.sql import DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .catalog import Catalog, atomic_dir_swap, lock_and_recover
from .errors import InvalidTopicError, ValidationError
from .routing import assign_partitions
from .schema import RECORD_ARROW_SCHEMA, RECORD_SCHEMA, STORED_FILE_SCHEMA

# stored columns + the Hive-style partition-dir column
READ_SCHEMA = StructType(
    STORED_FILE_SCHEMA.fields + [StructField("partition", IntegerType(), False)]
)

_ARRIVAL = "__arrival"

# fast-lane segment name; zero padding makes name order equal offset order
_FAST_SEGMENT = re.compile(r"part-fast-(\d{20})-(\d{20})-[0-9a-f]{32}\.parquet")


def _offset_stats(pf) -> list[tuple[int, int, int]]:
    """``(row group, min, max)`` of the ``offset`` column for each non-empty
    row group of the open file ``pf``: its footer statistics, or the column
    itself where the writer recorded no min/max."""
    import pyarrow.compute as pc

    spans = []
    for g in range(pf.metadata.num_row_groups):
        rg = pf.metadata.row_group(g)
        cols = map(rg.column, range(rg.num_columns))
        st = next(c for c in cols if c.path_in_schema == "offset").statistics
        if st is not None and st.has_min_max:
            spans.append((g, st.min, st.max))
        elif rg.num_rows:
            mm = pc.min_max(pf.read_row_group(g, columns=["offset"])["offset"])
            spans.append((g, mm["min"].as_py(), mm["max"].as_py()))
    return spans


# a segment-index entry: offset range (None: unreadable), open footer (None:
# not opened), (row group, min, max) of the row groups overlapping the range
_Segment = namedtuple("_Segment", "path first last pf groups", defaults=(None, ()))


def _conform(chunk, arrow_type):
    """One column chunk of a segment in RECORD_SCHEMA's Arrow type. Fast
    segments' headers differ only in field nullability, which a cast
    refuses and a zero-copy view takes; Spark-lane timestamps carry no
    zone (INT96 holds a UTC instant) and are cast."""
    if chunk.type == arrow_type:
        return chunk
    if arrow_type.equals(RECORD_ARROW_SCHEMA.field("headers").type):
        return chunk.view(arrow_type)
    return chunk.cast(arrow_type)


class LogStore:
    """Topic-log storage over a warehouse directory."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str | os.PathLike,
        max_records_per_file: int = 1_000_000,
        compression: str = "zstd",
    ):
        self.spark = spark
        self.warehouse = Path(warehouse)
        self.catalog = Catalog(warehouse)
        self.max_records_per_file = max_records_per_file
        self.compression = compression
        self._ingest_locks: dict[str, threading.Lock] = {}
        self._locks_guard = threading.Lock()
        self._txn_log = None

    # -- transactions (txn.py; Kafka EOS analog) -----------------------
    @property
    def txn_log(self):
        if self._txn_log is None:
            from .txn import TxnLog

            self._txn_log = TxnLog(self.warehouse)
        return self._txn_log

    def init_transactions(self, transactional_id: str):
        """InitProducerId: fence prior incarnations of this transactional
        id (aborting their in-flight transaction) and return a
        :class:`~flux_spark.txn.TransactionalSession` at the new epoch."""
        from .txn import TransactionalSession

        epoch = self.txn_log.init_id(transactional_id)
        # recovery sweep: offsets of committed txns that never reached the
        # offsets table (crash between commit marker and apply)
        self.apply_txn_offsets()
        return TransactionalSession(self, transactional_id, epoch)

    def apply_txn_offsets(self) -> int:
        """Apply consumer offsets bound to COMMITTED transactions
        (sendOffsetsToTransaction) to the ``_offsets`` table, then mark
        them applied in the txn log. Idempotent and crash-safe: the txn
        log entry is the durable record until the apply succeeds (and
        ``forget_committed`` refuses to GC it before then), so a crash
        anywhere between the commit marker and the offsets write is
        healed by the next call — offsets land at least once, and the
        latest-wins resolution of the offsets table makes re-application
        harmless. Returns the number of transactions applied."""
        pending = self.txn_log.pending_committed_offsets()
        if not pending:
            return 0
        from .consumer import OffsetStore

        os_ = OffsetStore(self)
        for key, rows in pending:
            by_group: dict[str, dict[tuple[str, int], int]] = {}
            for g, t, p, off in rows:
                by_group.setdefault(g, {})[(t, int(p))] = int(off)
            for g, offs in by_group.items():
                os_.commit(g, offs, metadata=f"txn:{key}")
            self.txn_log.mark_offsets_applied(key)
        return len(pending)

    # ------------------------------------------------------------------
    def topic_path(self, topic: str) -> str:
        return str(self.warehouse / topic)

    def _ingest_lock(self, topic: str) -> threading.Lock:
        with self._locks_guard:
            return self._ingest_locks.setdefault(topic, threading.Lock())

    def _recover_swap(self, topic: str) -> bool:
        """Restore a topic directory stranded by a rewrite (compact /
        truncate) that crashed between its two renames. Writers get this
        inside :meth:`_write_lock`; readers call it directly (guarded by
        the warehouse swap flock only), which is safe because nothing on
        the read path recreates the live directory."""
        from .catalog import recover_dir_swap

        return recover_dir_swap(
            Path(self.topic_path(topic)), self.warehouse / ".swap.lock"
        )

    @contextlib.contextmanager
    def _write_lock(self, topic: str):
        """Single-writer-per-topic guard, now across PROCESSES too: the
        in-process threading.Lock serializes this store's threads, then a
        per-topic flock file serializes other driver processes sharing the
        warehouse. Without the file lock, two processes could both read
        hwm=N and mint duplicate offsets (VERDICT r3 "What's missing" #2).
        flock auto-releases on process death, so a crashed writer never
        wedges the topic.

        The lock file lives OUTSIDE the topic directory (``.locks/``):
        when it lived inside, (a) acquiring it could recreate a topic dir
        that a rewrite had just renamed away — the rewrite's second
        rename then failed and a later recovery deleted the real data as
        a "stale backup" — and (b) a successful swap renamed the lock
        file away with the directory, so the holder kept flocking an
        unlinked inode while new writers locked a fresh one, silently
        breaking mutual exclusion."""
        with self._ingest_lock(topic), lock_and_recover(
            self.warehouse / ".locks" / f"{topic}.lock",
            Path(self.topic_path(topic)),
            self.warehouse / ".swap.lock",
        ):
            yield

    # -- write path (S1-S6, §3.1) --------------------------------------
    def _produce_batch(self, topic: str, batch_id: str | None, write):
        """The batch-commit protocol both produce lanes share: under the
        write lock, skip a replayed ``batch_id``, drop a crashed attempt's
        files if its intent is left over, run ``write(meta)`` against the
        hwm read under the lock, then advance the hwm (marking the batch)
        and remove the intent. ``write`` routes, offsets and writes the
        lane's files and returns ``{partition: (first, last)}``."""
        self.catalog.get_topic(topic)  # raises InvalidTopicError
        with self._write_lock(topic):
            intent = None
            if batch_id is not None:
                if self.catalog.batch_committed(topic, batch_id):
                    return {}
                intent = (
                    self.warehouse / topic / "_batch_commits" / f"{batch_id}.intent"
                )
                if intent.exists():
                    # prior attempt crashed between data write and commit:
                    # its files sit entirely above the hwm — drop them so
                    # this retry cannot double-write the same offsets
                    self.discard_uncommitted(topic)
                intent.parent.mkdir(parents=True, exist_ok=True)
                intent.touch()
            stats = write(self.catalog.get_topic(topic))  # hwm under the lock
            # advanced even for an empty batch so its batch_id is marked;
            # an empty batch without one (an up-to-date mirror) saves nothing
            if stats or batch_id is not None:
                self.catalog.advance_hwm(
                    topic,
                    {p: last + 1 for p, (_, last) in stats.items()},
                    batch_id=batch_id,
                )
            if intent is not None:
                intent.unlink(missing_ok=True)
            return stats

    def _write_segments(self, df: DataFrame, path, mode: str) -> None:
        """The one Spark segment writer. ``df`` arrives hash-partitioned on
        ``partition``, so each ``partition=<p>`` dir is written by one task,
        in offset order, rolling a file every ``max_records_per_file``
        records. The sort leads with ``partition``: a partitioned write
        requires that order, and given ``offset`` alone the planner adds
        its own sort on ``partition`` and drops the offset sort."""
        (
            df.sortWithinPartitions("partition", "offset")
            .write.mode(mode)
            .option("maxRecordsPerFile", self.max_records_per_file)
            .option("compression", self.compression)
            .partitionBy("partition")
            .parquet(str(path))
        )

    def _observed_write(
        self, topic: str, df: DataFrame, n: int
    ) -> dict[int, tuple[int, int]]:
        """Append ``df`` to the topic's segments and return the written
        ``{partition: (first, last)}`` offsets. The ranges are collected
        DURING the write via the Observation API, so the write stays one
        job over the data (no persist + second stats pass); 2 aggregates
        per partition, fine for realistic topic widths (Kafka-style
        10s-1000s)."""
        obs = Observation()
        aggs = []
        for p in range(n):
            on_p = F.when(F.col("partition") == p, F.col("offset"))
            aggs += [F.min(on_p).alias(f"min_{p}"), F.max(on_p).alias(f"max_{p}")]
        self._write_segments(df.observe(obs, *aggs), self.topic_path(topic), "append")
        vals = obs.get
        return {
            p: (int(vals[f"min_{p}"]), int(vals[f"max_{p}"]))
            for p in range(n)
            if vals.get(f"min_{p}") is not None
        }

    def append(
        self,
        topic: str,
        df: DataFrame,
        ordering_col: str | None = None,
        batch_id: str | None = None,
    ) -> dict[int, tuple[int, int]]:
        """Append a batch of records to a topic log.

        ``df`` must contain ``value``; ``key``/``partition``/``timestamp``/
        ``headers`` are optional and defaulted like ProducerRecord
        (ProducerRecord.java:19-89; timestamp -> now, ProducerRecord.java:47-50).
        ``ordering_col`` is a column whose ascending order defines arrival
        order (and round-robin sequence) deterministically; without it,
        arrival order is the DataFrame's incidental order.

        ``batch_id`` makes the append idempotent — exactly-once under
        driver crash-retry, in both crash positions (the reference instead
        silently DROPS a batch after 3 retries, FluxProducer.java:229-233):

        * the batch id is recorded as the topic's latest inside the SAME
          atomic catalog save that advances the hwm
          (``Catalog.advance_hwm``), so "committed" and "marked" cannot
          diverge; the id it displaces moves to the topic's replay file
          (the last 4,096), so a replay of a recently committed batch is
          detected and is a no-op returning ``{}``;
        * an *intent* file is created before the data write and removed
          after the commit; a retry that finds a leftover intent knows the
          prior attempt died mid-write and discards that attempt's
          uncommitted files (all fully above the hwm, since the hwm never
          advanced) before re-appending — no duplicate rows at the same
          offsets.

        Returns ``{partition: (first_offset, last_offset)}`` for the batch.
        """

        def write(meta) -> dict[int, tuple[int, int]]:
            n = meta.num_partitions
            work = df
            if "value" not in work.columns:
                raise ValueError("record batch must have a 'value' column")
            work = work.withColumn(
                _ARRIVAL,
                F.col(ordering_col).cast("long")
                if ordering_col
                else F.monotonically_increasing_id(),
            )
            if "timestamp" in work.columns:
                work = work.withColumn(
                    "timestamp",
                    F.coalesce(
                        F.col("timestamp").cast("timestamp"), F.current_timestamp()
                    ),
                )
            else:
                work = work.withColumn("timestamp", F.current_timestamp())
            if "key" not in work.columns:
                work = work.withColumn("key", F.lit(None).cast("string"))
            if "headers" not in work.columns:
                work = work.withColumn(
                    "headers", F.lit(None).cast(RECORD_SCHEMA["headers"].dataType)
                )
            work = work.withColumn("value", F.col("value").cast("string"))

            work = assign_partitions(
                work, n, ordering_col=_ARRIVAL if ordering_col else None
            )

            # One shuffle: co-locate each log partition into (at most) one
            # task, which both preserves per-partition arrival order and
            # writes each partition dir from a single writer (C6 analog).
            work = work.repartition(n, "partition")

            hwm_map = F.create_map(
                *[
                    x
                    for p in range(n)
                    for x in (F.lit(p), F.lit(meta.next_offset(p)))
                ]
            )
            w = Window.partitionBy("partition").orderBy(_ARRIVAL)
            work = work.withColumn(
                "offset",
                (F.row_number().over(w) - F.lit(1) + F.element_at(hwm_map, F.col("partition"))).cast(
                    "long"
                ),
            )

            out = work.select(
                "partition",
                "offset",
                "timestamp",
                F.col("key").cast("string").alias("key"),
                "value",
                "headers",
            )
            return self._observed_write(topic, out, n)

        return self._produce_batch(topic, batch_id, write)

    def append_rows(
        self,
        topic: str,
        rows: list[dict],
        batch_id: str | None = None,
    ) -> dict[int, tuple[int, int]]:
        """Driver-side append of rows the caller already holds — the
        produce-side twin of :meth:`read_since`. Shipping driver-held rows
        through :meth:`append` adds a ``createDataFrame``, a shuffle and a
        write job (~1 s floor) and takes no work off the driver, so this
        path routes, offsets, and writes entirely on the driver with
        pyarrow, no JVM round trip. Each touched partition's rows roll
        into segments of at most ``max_records_per_file`` records, each
        named by its own offset range.

        Semantics are IDENTICAL to :meth:`append` and oracle-gated against
        it (``log_fastpath_produce_parity``):

        * routing priority explicit-valid -> murmur2(key) -> round-robin
          on the arrival sequence (PartitionSelector.java:22-51), with the
          same Python murmur2 the pandas UDF vectorizes;
        * gap-free per-partition offsets continuing from the catalog hwm,
          assigned in arrival order under the same cross-process write
          lock;
        * commit-then-visible: files land first, the hwm advances last, so
          a crash between the two leaves an invisible torn tail that
          :meth:`read`/:meth:`read_since` both clamp away;
        * ``batch_id`` idempotency via the same intent-file protocol.

        ``rows``: list of dicts in arrival order — ``value`` required;
        ``partition``/``timestamp``/``key``/``headers`` optional;
        ``seq`` (optional) is the explicit arrival sequence used for
        round-robin placement (FluxProducer passes its global counter so
        placement matches the Spark path bit-for-bit). Headers are
        ``[(key, value-bytes), ...]`` pairs. A naive ``timestamp`` is
        local time, as pyspark reads it.

        At 100 TB this path is still correct but the wrong tool — it
        serializes through the driver. :meth:`append` remains the bulk
        path for DataFrames; ``FluxProducer.flush`` always takes this one.
        """
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as pq

        from .murmur2 import partition_for_key

        def write(meta) -> dict[int, tuple[int, int]]:
            n = meta.num_partitions
            now = datetime.now(timezone.utc)
            routed: dict[int, list[tuple]] = {}
            for i, row in enumerate(rows):
                value = row.get("value")
                if value is None:
                    raise ValueError("record batch must have a 'value' column")
                key = row.get("key")
                p = row.get("partition")
                if p is not None and 0 <= int(p) < n:
                    part = int(p)
                elif key is not None and len(key) > 0:
                    part = partition_for_key(key, n)
                else:
                    part = int(row.get("seq", i)) % n
                ts = row.get("timestamp")
                if hasattr(ts, "to_pydatetime"):
                    # pandas refuses astimezone on a naive Timestamp
                    ts = ts.to_pydatetime()
                # naive -> local time, pyspark's rule, so collected Spark
                # timestamps round-trip
                ts = now if ts is None else ts.astimezone(timezone.utc)
                headers = row.get("headers")
                if headers is not None:
                    headers = [
                        {"key": k, "value": v} for k, v in headers
                    ]
                routed.setdefault(part, []).append(
                    (ts, key, str(value), headers)
                )

            arrow_schema = pa.schema(
                [
                    ("offset", pa.int64()),
                    ("timestamp", pa.timestamp("us", tz="UTC")),
                    ("key", pa.string()),
                    ("value", pa.string()),
                    (
                        "headers",
                        pa.list_(
                            pa.struct(
                                [
                                    ("key", pa.string()),
                                    ("value", pa.binary()),
                                ]
                            )
                        ),
                    ),
                ]
            )
            codec = "none" if self.compression == "uncompressed" else self.compression
            stats: dict[int, tuple[int, int]] = {}
            for part, recs in routed.items():
                first = meta.next_offset(part)
                # segment roll; <= 0 means no limit, as for maxRecordsPerFile
                step = self.max_records_per_file
                if step <= 0:
                    step = len(recs)
                pdir = Path(self.topic_path(topic)) / f"partition={part}"
                pdir.mkdir(parents=True, exist_ok=True)
                for lo in range(0, len(recs), step):
                    chunk = recs[lo : lo + step]
                    start = first + lo
                    last = start + len(chunk) - 1
                    table = pa.table(
                        {
                            "offset": list(range(start, last + 1)),
                            "timestamp": [r[0] for r in chunk],
                            "key": [r[1] for r in chunk],
                            "value": [r[2] for r in chunk],
                            "headers": [r[3] for r in chunk],
                        },
                        schema=arrow_schema,
                    )
                    name = f"part-fast-{start:020d}-{last:020d}-{uuid.uuid4().hex}"
                    pq.write_table(
                        table, pdir / f"{name}.parquet", compression=codec
                    )
                stats[part] = (first, first + len(recs) - 1)
            return stats

        return self._produce_batch(topic, batch_id, write)

    # -- read path (S8, S10, §3.2) -------------------------------------
    def read(
        self,
        topic: str,
        partitions: list[int] | None = None,
        start_offsets: dict[int, int] | None = None,
        end_offsets: dict[int, int] | None = None,
        include_uncommitted: bool = False,
        read_committed: bool = False,
    ) -> DataFrame:
        """Batch scan of a topic log as the canonical RECORD_SCHEMA.

        Offset bounds are per-partition ``[start, end)``. All predicates are
        plain column comparisons -> pushed to the parquet scan (partition-dir
        pruning on ``partition``, rowgroup skipping on ``offset``).

        Only COMMITTED records are visible: ``end_offsets`` defaults to the
        catalog high-water marks, so rows from a torn append (segment files
        written, hwm never advanced because the driver died in between) are
        invisible until recovered — the read-side half of the
        commit-then-visible contract (vs the reference's ack-before-fsync,
        LogSegment.java:165-218). ``include_uncommitted=True`` bypasses the
        clamp for forensic reads; ``recover_hwm_from_data`` re-adopts a
        torn tail by advancing the hwm over it.

        ``read_committed=True`` is Kafka's ``isolation.level=read_committed``:
        offset ranges belonging to non-committed transactions (in-flight or
        aborted, per the warehouse transaction log) are hidden. The ranges
        are driver-side metadata, so they compile to pushed-down offset
        predicates — no join, no extra pass (txn.py module docstring).
        """
        meta = self.catalog.get_topic(topic)
        self._recover_swap(topic)
        if end_offsets is None and not include_uncommitted:
            end_offsets = {p: meta.next_offset(p) for p in meta.partition_ids()}
        df = (
            self.spark.read.schema(READ_SCHEMA)
            .option("basePath", self.topic_path(topic))
            .parquet(self.topic_path(topic))
        )
        if partitions is not None:
            df = df.where(F.col("partition").isin([int(p) for p in partitions]))
        if start_offsets:
            cond = None
            for p in partitions if partitions is not None else meta.partition_ids():
                lo = start_offsets.get(p, 0)
                hi = (end_offsets or {}).get(p)
                c = (F.col("partition") == p) & (F.col("offset") >= lo)
                if hi is not None:
                    c = c & (F.col("offset") < hi)
                cond = c if cond is None else (cond | c)
            if cond is not None:
                df = df.where(cond)
        elif end_offsets:
            cond = None
            for p, hi in end_offsets.items():
                c = (F.col("partition") == p) & (F.col("offset") < hi)
                cond = c if cond is None else (cond | c)
            df = df.where(cond)
        if read_committed:
            for p, first, last in self.txn_log.non_committed_ranges(topic):
                df = df.where(
                    ~(
                        (F.col("partition") == p)
                        & (F.col("offset") >= first)
                        & (F.col("offset") <= last)
                    )
                )
        return df.select(
            F.lit(topic).alias("topic"),
            F.col("partition"),
            "offset",
            "timestamp",
            "key",
            "value",
            "headers",
        )

    def read_at(self, topic: str, partition: int, offset: int) -> Row | None:
        """Point fetch — Broker.consumeMessage (Broker.java:437-443) /
        LogSegment.getRecordFromSegmentAtOffset (LogSegment.java:278-339).

        The index-seek becomes a pruned scan: partition-dir pruning + rowgroup
        min/max skipping on ``offset``. Unlike the reference (which only
        searches the active segment, Log.java:109-115), this reads the whole
        partition history.
        """
        rows = (
            self.read(topic, partitions=[partition])
            .where(F.col("offset") == int(offset))
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def _segments(self, topic: str, p: int, lo=0, hi=float("inf"), open_named=True):
        """The segment index (the reference's segment names and
        IndexEntries, LogSegment.java:72-78, IndexEntries.java:17-54): list
        partition ``p``'s dir once and yield a :class:`_Segment` per file
        holding an offset in ``[lo, hi)``. A fast segment's name gives its
        range, so one outside is skipped unopened, and with
        ``open_named=False`` one inside is yielded unopened. Other files'
        ranges come from their footers. A file that fails to open is
        yielded without a range; one gone by then raises
        ``FileNotFoundError`` (a swap after the listing). A missing dir is
        listed again under the swap guard, which a swap holds across its
        renames; still missing, it holds nothing."""
        import pyarrow.parquet as pq

        pdir = f"{self.topic_path(topic)}/partition={p}"
        try:
            names = os.listdir(pdir)
        except FileNotFoundError:  # nothing written yet, or mid-swap
            from .catalog import file_lock

            self._recover_swap(topic)
            with file_lock(self.warehouse / ".swap.lock"):
                if not os.path.isdir(pdir):
                    return
                names = os.listdir(pdir)
        for name in names:
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            named = _FAST_SEGMENT.fullmatch(name)
            if named and (int(named[2]) < lo or int(named[1]) >= hi):
                continue
            path = f"{pdir}/{name}"
            if named and not open_named:
                yield _Segment(path, int(named[1]), int(named[2]))
                continue
            try:
                # INT96 (Spark-lane) timestamps hold microseconds
                pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
                spans = _offset_stats(pf)
            except FileNotFoundError:
                raise
            except Exception:  # torn or foreign bytes: no readable range
                yield _Segment(path, None, None)
                continue
            groups = tuple(s for s in spans if s[2] >= lo and s[1] < hi)
            if groups:
                first, last = min(s[1] for s in spans), max(s[2] for s in spans)
                yield _Segment(path, first, last, pf, groups)

    def read_ranges(
        self, topic: str, ranges: dict[int, tuple[int, int]]
    ) -> "pyarrow.Table":
        """Driver-side read of ``[start, end)`` of each partition in
        ``ranges`` (``{partition: (start, end)}``): one ``pyarrow.Table`` in
        RECORD_SCHEMA's Arrow schema, partitions ascending, offsets
        ascending within each — the millisecond twin of
        ``read(start_offsets=..., end_offsets=...)``.

        The ends are the visibility clamp and no catalog read happens here,
        so pass ends at or below a high-water mark just read (a poll plan's
        are). The files come from :meth:`_segments`; only row groups that
        overlap the range are read, and only a file whose kept row groups
        straddle a bound is filtered row by row. A file that fails to open
        is skipped (an in-flight file lies above the hwm), and one a swap
        removed after the listing raises, so a read never comes up short."""
        import pyarrow as pa
        import pyarrow.compute as pc

        stored = list(RECORD_ARROW_SCHEMA)[2:]  # the columns a segment holds
        chunks: dict[str, list] = {name: [] for name in RECORD_ARROW_SCHEMA.names}
        for p, (lo, hi) in sorted(ranges.items()):
            if hi <= lo:
                continue
            pieces = []
            for seg in self._segments(topic, p, lo, hi):
                if seg.pf is None:
                    continue
                kept = [g for g, _, _ in seg.groups]
                piece = seg.pf.read_row_groups(kept, use_threads=False)
                if not all(lo <= a and b < hi for _, a, b in seg.groups):
                    off = pc.field("offset")
                    piece = piece.filter((off >= lo) & (off < hi))
                if piece.num_rows:
                    pieces.append(piece)
            # every writer sorts a file by offset and files hold disjoint
            # ranges, so ordering the files orders the partition
            pieces.sort(key=lambda t: t["offset"][0].as_py())
            for piece in pieces:
                for field in stored:
                    chunks[field.name] += [
                        _conform(c, field.type) for c in piece[field.name].chunks
                    ]
            n = sum(t.num_rows for t in pieces)
            if n:
                chunks["partition"].append(pa.repeat(pa.scalar(p, pa.int32()), n))
        total = sum(len(c) for c in chunks["partition"])
        chunks["topic"] = [pa.repeat(pa.scalar(topic, pa.string()), total)]
        return pa.Table.from_arrays(
            [pa.chunked_array(chunks[f.name], f.type) for f in RECORD_ARROW_SCHEMA],
            schema=RECORD_ARROW_SCHEMA,
        )

    def read_since(
        self,
        topic: str,
        partition: int,
        offset: int,
        max_records: int | None = None,
    ) -> list[dict]:
        """Tail read of one partition from ``offset`` up to the catalog
        high-water mark, at most ``max_records`` records: the
        one-partition wrapper of :meth:`read_ranges` with ``read()``'s
        visibility contract (the hwm is the end, so a torn append's tail
        stays hidden). The equivalence is oracle-gated
        (``log_read_since_fastpath``) and measured as the second latency
        row of bench.py.

        Returns ``list[dict]`` in ascending offset order with the
        RECORD_SCHEMA fields (topic, partition, offset, timestamp, key,
        value, headers) — plain Python, no DataFrame, because the point of
        the fast path is to never touch the JVM. Timestamps are UTC-aware
        ``datetime`` values whichever lane wrote the segment.
        """
        p = int(partition)
        hwm = self.catalog.get_topic(topic).next_offset(p)
        table = self.read_ranges(topic, {p: (int(offset), hwm)})
        if max_records is not None:
            table = table.slice(0, max_records)
        return table.to_pylist()

    def high_water_marks(self, topic: str) -> dict[int, int]:
        """Next-offset-to-assign per partition, from the catalog."""
        meta = self.catalog.get_topic(topic)
        return {p: meta.next_offset(p) for p in meta.partition_ids()}

    def beginning_offsets(self, topic: str) -> dict[int, int]:
        """Kafka ``beginningOffsets`` analog: earliest readable offset per
        partition. 0 for untouched partitions; after retention truncation
        or key compaction the first survivor's offset; an empty (fully
        truncated) partition reports its high-water mark — beginning ==
        end means nothing to read, matching Kafka's log-start-offset
        semantics. From the segment index, no Spark job: the smallest
        first offset of a file starting below the hwm (a file wholly above
        it is a torn, uncommitted tail)."""
        meta = self.catalog.get_topic(topic)
        out = {}
        for p in meta.partition_ids():
            hwm = meta.next_offset(p)
            segs = self._segments(topic, p, 0, hwm, open_named=False)
            out[p] = min((s.first for s in segs if s.first is not None), default=hwm)
        return out

    def discard_uncommitted(self, topic: str) -> int:
        """Crash recovery, discard flavor: delete data files lying entirely
        ABOVE the committed high-water mark — the leftovers of an append
        that wrote its parquet files but died before ``advance_hwm`` — and
        files that cannot be opened. The complement of
        :meth:`recover_hwm_from_data` (which ADOPTS the torn tail instead).
        Used by the idempotent-produce retry path so a re-append cannot
        double-write offsets the torn attempt already wrote.

        Metadata-only, through the segment index (names, else footers).
        Only call while holding the topic write lock (the retry path does).

        Returns the number of files removed.
        """
        meta = self.catalog.get_topic(topic)
        removed = 0
        for p in meta.partition_ids():
            hwm = meta.next_offset(p)
            for seg in self._segments(topic, p, hwm, open_named=False):
                if seg.first is None or seg.first >= hwm:
                    Path(seg.path).unlink(missing_ok=True)
                    removed += 1
        return removed

    def recover_hwm_from_data(self, topic: str) -> dict[int, int]:
        """Rebuild the high-water marks from the files on disk (crash
        recovery for a lost catalog, or re-adopting a torn append's tail):
        max(offset)+1 per partition over every segment whose footer opens,
        no Spark job. A crash can leave a partial fast segment under a
        valid name, so a file that cannot be opened is skipped
        (:meth:`discard_uncommitted` removes it)."""
        meta = self.catalog.get_topic(topic)
        recovered = {}
        for p in meta.partition_ids():
            lasts = [s.last for s in self._segments(topic, p) if s.last is not None]
            recovered[p] = max(lasts, default=-1) + 1
        self.catalog.advance_hwm(topic, recovered)
        return recovered

    def offsets_for_times(self, topic: str, ts) -> dict[int, int | None]:
        """Per-partition earliest offset whose record timestamp >= ``ts`` —
        the Kafka ``offsetsForTimes`` analog the reference lacks. One
        aggregation pass; the timestamp predicate prunes rowgroups via
        parquet min/max stats. None for partitions with no such record."""
        meta = self.catalog.get_topic(topic)
        rows = (
            self.read(topic)
            .where(F.col("timestamp") >= F.lit(ts).cast("timestamp"))
            .groupBy("partition")
            .agg(F.min("offset").alias("first_offset"))
            .collect()
        )
        out: dict[int, int | None] = {p: None for p in meta.partition_ids()}
        out.update({int(r["partition"]): int(r["first_offset"]) for r in rows})
        return out

    def truncate_before(self, topic: str, min_offsets: dict[int, int]) -> None:
        """Retention: drop records below ``min_offsets[partition]`` (offsets
        of retained records are preserved — consumers' positions stay
        valid). Implemented as a filtered rewrite + atomic directory swap,
        like compact(); at warehouse scale the same operation would drop
        whole files below the watermark first and rewrite only the
        boundary file.

        Runs as :meth:`_rewrite`, under the topic write lock for the
        whole read-rewrite-swap."""
        keep = None
        for p, lo in min_offsets.items():
            c = (F.col("partition") == int(p)) & (F.col("offset") >= int(lo))
            keep = c if keep is None else (keep | c)
        untouched = ~F.col("partition").isin([int(p) for p in min_offsets])
        cond = untouched if keep is None else (keep | untouched)
        self._rewrite(topic, "trunc", lambda df: df.where(cond))

    def create_view(self, topic: str, view_name: str | None = None) -> str:
        """Register the topic log as a temp view for ``spark.sql`` access
        (SURVEY.md §7 phase 4: SQL/DataFrame views over topics). The view
        is a plain projection over the parquet scan, so predicates written
        in SQL still push down to partition dirs and rowgroup stats."""
        name = view_name or f"topic_{topic}".replace("-", "_")
        self.read(topic).createOrReplaceTempView(name)
        return name

    def create_all_views(self) -> list[str]:
        """Register every catalog topic as a temp view."""
        return [self.create_view(t) for t in self.catalog.list_topics()]

    # -- maintenance (SURVEY.md §7 phase 4 "batch indexing") ------------
    def apply_retention(self, topic: str, now=None) -> dict[int, int] | None:
        """Enforce the topic's ``retention.ms`` config (Kafka's time-based
        retention, LogCleaner analog): drop every record older than
        ``now - retention.ms`` via the offsets-for-times + truncate
        composition. Returns the per-partition cut offsets, or None if the
        topic has no retention config. ``now`` defaults to the current
        time; pass a timestamp for deterministic tests/replays.
        """
        import datetime

        meta = self.catalog.get_topic(topic)
        ret_ms = meta.configs.get("retention.ms")
        if ret_ms is None:
            return None
        now = now or datetime.datetime.now(datetime.timezone.utc)
        cutoff = now - datetime.timedelta(milliseconds=int(ret_ms))
        offs = self.offsets_for_times(topic, cutoff)
        hwm = self.high_water_marks(topic)
        # partitions whose records are ALL older than the cutoff truncate
        # to their hwm (everything expires)
        cuts = {
            p: (o if o is not None else hwm.get(p, 0))
            for p, o in offs.items()
        }
        self.truncate_before(topic, cuts)
        return cuts

    def maintenance(self, min_files_to_compact: int = 16) -> dict[str, str]:
        """One housekeeping pass over the warehouse — the cron-job entry
        point a deployment schedules (Kafka's LogCleaner thread analog):

        * per topic: enforce ``retention.ms`` if configured, then rewrite
          any partition whose file count reached ``min_files_to_compact``
          (small-file compaction; threshold is per-PARTITION since files
          accrue per partition per append);
        * the ``_offsets`` commit log: latest-wins rewrite
          (:meth:`OffsetStore.compact`) so long-lived groups don't
          accumulate one tiny file per poll loop forever.

        Returns {subject: action} for observability. Safe to run while
        producers are live — every rewrite takes the topic write lock and
        swaps directories atomically. One caveat mirrors Kafka's cleaner:
        a concurrent batch READ whose lazy scan lists files just before a
        swap and executes just after may fail transiently with a missing-
        file error; re-running the read succeeds (crash recovery is
        lossless, see catalog.atomic_dir_swap). Offsets-log reads are not
        affected — fetch()/groups() hold the offsets flock end-to-end.
        """
        actions: dict[str, str] = {}
        for topic in self.catalog.list_topics():
            if self.apply_retention(topic) is not None:
                actions[topic] = "retention"
            meta = self.catalog.get_topic(topic)
            n_files = max(
                (
                    sum(1 for _ in self._segments(topic, p, open_named=False))
                    for p in meta.partition_ids()
                ),
                default=0,
            )
            if n_files >= min_files_to_compact:
                self.compact(topic)
                actions[topic] = (
                    actions.get(topic, "") + "+compact"
                ).lstrip("+")
        if (self.warehouse / "_offsets").is_dir():
            from .consumer import OffsetStore

            kept = OffsetStore(self).compact()
            actions["_offsets"] = f"compacted ({kept} rows kept)"
        return actions

    def _rewrite(self, topic: str, label: str, transform) -> None:
        """The one maintenance rewrite-and-swap: write
        ``transform(committed records)`` to a temp dir (``.<label>-...``)
        through :meth:`_write_segments`, then swap it in for the topic dir
        atomically.

        Holds the topic write lock for the WHOLE read-rewrite-swap (not
        just the swap): an append committing between the rewrite's
        snapshot and the directory swap would otherwise be silently
        erased by the swap (caught by
        tests/test_log.py::test_compact_races_live_appends). Producers
        block for the rewrite window — the Kafka-cleaner trade; at
        warehouse scale the cleaner rewrites partition-by-partition to
        shrink each window."""
        with self._write_lock(topic):
            n = self.catalog.get_topic(topic).num_partitions
            tmp = self.warehouse / f".{label}-{topic}-{uuid.uuid4().hex[:8]}"
            df = transform(self.read(topic).drop("topic"))
            self._write_segments(df.repartition(n, "partition"), tmp, "overwrite")
            atomic_dir_swap(
                Path(self.topic_path(topic)), tmp, self.warehouse / ".swap.lock"
            )

    def compact(self, topic: str) -> None:
        """Rewrite each partition's many small segment files into few large
        offset-sorted ones of up to ``max_records_per_file`` records
        (small-file compaction / OPTIMIZE), as one :meth:`_rewrite`.

        Keeps rowgroup-stat pruning effective as segment counts grow; the
        poll-latency mitigation from SURVEY.md §7 risk 2.
        """
        self._rewrite(topic, "compact", lambda df: df)

    def compact_by_key(self, topic: str) -> None:
        """Kafka-style log compaction: per (partition, key) retain only the
        record with the highest offset; records whose retained value is
        NULL (tombstones) are then removed entirely; null-key records are
        kept as-is (Kafka rejects them in compacted topics — keeping them
        is the lossless choice). Offsets of survivors are preserved, so
        compaction creates offset gaps exactly like Kafka's cleaner and
        consumer positions remain valid.

        One shuffle keyed on (partition, key) — at warehouse scale the
        cleaner would run per-partition over only the dirty ratio, but the
        plan shape (window max-offset per key, no driver loop) is the one
        that scales. Runs as :meth:`_rewrite`, so a concurrent append can't
        land between snapshot and swap and be erased."""

        def latest_per_key(df: DataFrame) -> DataFrame:
            w = Window.partitionBy("partition", "key").orderBy(F.col("offset").desc())
            keyed = (
                df.where(F.col("key").isNotNull())
                .withColumn("__rn", F.row_number().over(w))
                .where((F.col("__rn") == 1) & F.col("value").isNotNull())
                .drop("__rn")
            )
            return df.where(F.col("key").isNull()).unionByName(keyed)

        self._rewrite(topic, "kcompact", latest_per_key)

    def describe_topic(self, topic: str) -> DataFrame:
        """AdminClient.describeTopics analog: one row per partition with
        record count, earliest/latest committed offsets, the committed
        high-water mark, and the record timestamp range. Empty partitions
        appear with zero counts (the dashboard/monitoring contract). One
        partial-aggregated scan plus a catalog lookup."""
        meta = self.catalog.get_topic(topic)
        hwm_rows = [
            (p, meta.next_offset(p)) for p in meta.partition_ids()
        ]
        hwm_df = self.spark.createDataFrame(
            hwm_rows, "partition int, hwm long"
        )
        stats = (
            self.read(topic)
            .groupBy("partition")
            .agg(
                F.count("*").alias("n_records"),
                F.min("offset").alias("first_offset"),
                F.max("offset").alias("last_offset"),
                F.min("timestamp").alias("first_ts"),
                F.max("timestamp").alias("last_ts"),
            )
        )
        return (
            hwm_df.join(stats, "partition", "left")
            .select(
                "partition",
                F.coalesce("n_records", F.lit(0)).alias("n_records"),
                "first_offset",
                "last_offset",
                "hwm",
                "first_ts",
                "last_ts",
            )
        )

    def mirror_topic(self, src_store: "LogStore", topic: str) -> None:
        """Mirror a topic from another store byte-for-byte (the
        MirrorMaker / cross-cluster replication analog): records keep
        their exact (partition, offset, timestamp, key, value, headers),
        so consumer positions committed against the source remain valid
        against the mirror.

        Bypasses append's routing/offset assignment on purpose — a mirror
        must not re-route. One partition-pruned scan + partitioned write,
        committed through the produce protocol (:meth:`_produce_batch`);
        incremental refresh copies only offsets past the mirror's hwm, so
        repeated invocations are cheap and idempotent.
        """
        meta = src_store.catalog.get_topic(topic)
        if not self.catalog.topic_exists(topic):
            self.catalog.create_topic(
                topic, meta.num_partitions, meta.replication_factor
            )
        elif (
            self.catalog.get_topic(topic).num_partitions
            != meta.num_partitions
        ):
            # a mismatched layout would scatter offsets across the wrong
            # partition dirs — refuse rather than corrupt
            raise ValidationError(
                f"mirror target {topic!r} has "
                f"{self.catalog.get_topic(topic).num_partitions} partitions, "
                f"source has {meta.num_partitions}"
            )
        n = meta.num_partitions

        def write(have) -> dict[int, tuple[int, int]]:
            starts = {p: have.next_offset(p) for p in range(n)}
            # hwm comparison is catalog-only: an up-to-date mirror refresh
            # costs zero jobs (and Observation can't report on empty jobs)
            if all(meta.next_offset(p) <= starts[p] for p in range(n)):
                return {}
            fresh = src_store.read(topic, start_offsets=starts).drop("topic")
            return self._observed_write(topic, fresh.repartition(n, "partition"), n)

        self._produce_batch(topic, None, write)

    def materialize(self, topic: str) -> DataFrame:
        """KTable-style snapshot of a keyed changelog topic: the current
        value per key — latest record wins, keys whose latest record is a
        tombstone (NULL value) drop out of the table. Read-side only; the
        log keeps its full history (compact_by_key is the storage-side
        twin that rewrites segments).

        Ordering is (offset within the key's partition, partition as a
        deterministic tie-break) — with key routing a key lives in one
        partition, so this is exactly Kafka Streams' per-key update order.
        One shuffle keyed on the record key; at scale the window's partial
        max folds map-side and the scan prunes to (key, value, partition,
        offset)."""
        df = self.read(topic).where(F.col("key").isNotNull())
        w = Window.partitionBy("key").orderBy(
            F.col("offset").desc(), F.col("partition").desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & F.col("value").isNotNull())
            .select("key", "value", "partition", "offset")
        )

    def delete_topic(self, topic: str, drop_data: bool = True) -> None:
        if not self.catalog.topic_exists(topic):
            raise InvalidTopicError(f"topic {topic!r} does not exist")
        self.catalog.delete_topic(topic, drop_data=drop_data)
