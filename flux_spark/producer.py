"""Producer facade: the reference's whole client pipeline, Spark-first.

FluxProducer (producer/FluxProducer.java) + RecordAccumulator
(producer/RecordAccumulator.java) + RecordBatch/BufferPool collapse into a
driver-side row buffer. A flush hands each topic's buffered rows to
:meth:`LogStore.append_rows` in one call, the way the reference hands a
batch to the broker: route -> assign offsets -> parquet segments, all on the
driver, where the rows already are (a Spark job would add a Python->JVM
transfer, a shuffle and a job floor and take no work off it).
Per-batch semantics that the log subsumes:

* batching/linger (RecordAccumulator.java:278-318)   -> explicit/auto flush
* retries + in-flight caps (FluxProducer.java:146-239) -> ``batch_id``
  intent + commit protocol (non-lossy, an upgrade over retry-drop)
* batch compression (RecordBatch.java:120-137)        -> parquet codec
* buffer pool (BufferPool.java:64-160)                -> Python row buffer

``send`` mirrors ProducerRecord defaulting (ProducerRecord.java:19-89):
topic+value required, key/partition/timestamp optional. The producer keeps a
global arrival sequence so that unkeyed records round-robin exactly like
PartitionSelector.java:20,50 and offsets follow send order.

For bulk ingest of an existing DataFrame use :meth:`ingest` — it never
collects rows to the driver and scales to arbitrarily large inputs.
"""

from __future__ import annotations

import itertools
import threading
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import InvalidTopicError
from .log import LogStore


class FluxProducer:
    def __init__(self, store: LogStore, batch_size: int = 100_000):
        self.store = store
        self.batch_size = batch_size
        self._buffers: dict[str, list[dict]] = {}
        self._seq = itertools.count()
        self._lock = threading.Lock()

    # -- row-at-a-time API (FluxProducer.send, FluxProducer.java:82-103) --
    def send(
        self,
        topic: str,
        value: str,
        key: str | None = None,
        partition: int | None = None,
        timestamp: datetime | None = None,
        headers: list[tuple[str, bytes | None]] | None = None,
    ) -> None:
        """``headers`` is an ordered list of (key, value-bytes) pairs —
        repeated keys allowed, the reference's multimap semantics
        (commons/headers/Headers.java:8-96)."""
        if not self.store.catalog.topic_exists(topic):
            raise InvalidTopicError(f"topic {topic!r} does not exist")
        if value is None:
            raise ValueError("value is required")
        with self._lock:
            self._buffers.setdefault(topic, []).append(
                {
                    "seq": next(self._seq),
                    "partition": partition,
                    "timestamp": timestamp,
                    "key": key,
                    "value": str(value),
                    "headers": headers,
                }
            )
            full = len(self._buffers[topic]) >= self.batch_size
        if full:
            self.flush(topic)

    def flush(self, topic: str | None = None) -> dict[str, dict[int, tuple[int, int]]]:
        """Drain buffered records into the log (scheduled-flush analog,
        FluxProducer.java:62-64,110-245). Returns per-topic offset ranges."""
        with self._lock:
            topics = [topic] if topic else list(self._buffers)
            drained = {t: self._buffers.pop(t, []) for t in topics}
        return {
            t: self.store.append_rows(t, rows) for t, rows in drained.items() if rows
        }

    # -- bulk API (the Spark-native path) ---------------------------------
    def ingest(
        self, topic: str, df: DataFrame, ordering_col: str | None = None
    ) -> dict[int, tuple[int, int]]:
        """Append a whole DataFrame as one produce batch (S2/S3: the
        reference's multi-record produce, Broker.java:383-419 — but as a
        single distributed plan instead of a loop of single appends)."""
        return self.store.append(topic, df, ordering_col=ordering_col)

    def close(self) -> None:
        self.flush()


# -- Kafka-style properties factory (commons/header/Properties.java, -----
# -- ProducerConfig.java:22-30) ------------------------------------------

# keys the engine maps onto real knobs
_PROPERTY_MAP = {
    "batch.size": ("batch_size", int),
    "compression.type": ("compression", str),
    "max.records.per.file": ("max_records_per_file", int),
}
# reference knobs Spark's runtime subsumes (accepted, validated, ignored —
# retries/in-flight/buffering are the task scheduler + file-commit
# protocol's job, SURVEY.md §2.3)
_SUBSUMED_PROPERTIES = {
    "linger.ms",
    "buffer.memory",
    "max.block.ms",
    "retries",
    "delivery.timeout.ms",
    "max.in.flight.requests",
    "max.request.size",
    "bootstrap.servers",
}


def producer_from_properties(
    store_or_spark,
    properties: dict[str, str],
    warehouse: str | None = None,
) -> FluxProducer:
    """Build a producer from a Kafka-style string-properties map
    (Properties.java:6-44, ProducerConfig.java:22-30) so reference users
    can carry their config dicts over. Mapped: ``batch.size`` (autoflush
    row count), ``compression.type`` (parquet codec; same id set as
    CompressionType.java), ``max.records.per.file`` (segment roll analog).
    Reference knobs Spark subsumes are accepted and ignored; unknown keys
    raise, mirroring config validation (BrokerConfigValidator.java).
    """
    unknown = (
        set(properties) - set(_PROPERTY_MAP) - _SUBSUMED_PROPERTIES
    )
    if unknown:
        raise ValueError(f"unknown producer properties: {sorted(unknown)}")
    kwargs = {}
    for k, (name, conv) in _PROPERTY_MAP.items():
        if k in properties:
            kwargs[name] = conv(properties[k])
    if isinstance(store_or_spark, LogStore):
        store = store_or_spark
        if "compression" in kwargs:
            store.compression = kwargs["compression"]
        if "max_records_per_file" in kwargs:
            store.max_records_per_file = kwargs["max_records_per_file"]
    else:
        if warehouse is None:
            raise ValueError("warehouse required when passing a SparkSession")
        store = LogStore(
            store_or_spark,
            warehouse,
            max_records_per_file=kwargs.get("max_records_per_file", 1_000_000),
            compression=kwargs.get("compression", "zstd"),
        )
    return FluxProducer(store, batch_size=kwargs.get("batch_size", 100_000))


def route_to_dlq(
    store: LogStore,
    topic: str,
    df: DataFrame,
    max_value_bytes: int = 512,
    dlq_topic: str | None = None,
    ordering_col: str | None = None,
) -> dict[str, dict[int, tuple[int, int]]]:
    """Validate-and-split ingest with a dead-letter queue (the Kafka
    Connect ``errors.tolerance=all`` + ``errors.deadletterqueue.*``
    pattern): rows that fail validation — NULL value, or value longer
    than ``max_value_bytes`` — are appended to ``<topic>.dlq`` instead
    of poisoning the batch, each carrying a ``reason`` header; valid
    rows append to ``topic`` unchanged. Returns the per-topic offset
    ranges from both appends.

    The input is classified ONCE (persisted across the two appends, so
    at 100 TB the batch is scanned a single time, not per sink); DLQ
    records keep the original key/ordering and store ``coalesce(value,
    '')`` so the quarantined payload stays inspectable. The DLQ topic
    must exist (create it alongside the main topic — a DLQ that
    auto-appears hides misconfiguration).
    """
    dlq_topic = dlq_topic or f"{topic}.dlq"
    reason = F.when(F.col("value").isNull(), F.lit("null_value")).when(
        F.length("value") > max_value_bytes, F.lit("oversized")
    )
    flagged = df.withColumn("__reason", reason).persist()
    try:
        valid = flagged.where(F.col("__reason").isNull()).drop("__reason")
        bad = flagged.where(F.col("__reason").isNotNull())
        cols = [
            F.lit(0).cast("int").alias("partition"),
            F.coalesce(F.col("value"), F.lit("")).alias("value"),
            F.array(
                F.struct(
                    F.lit("reason").alias("key"),
                    F.col("__reason").alias("value"),
                )
            ).alias("headers"),
        ]
        if "key" in df.columns:
            cols.insert(1, F.col("key"))
        if ordering_col:
            cols.append(F.col(ordering_col))
        ranges = {
            topic: store.append(topic, valid, ordering_col=ordering_col),
            dlq_topic: store.append(
                dlq_topic, bad.select(*cols), ordering_col=ordering_col
            ),
        }
        return ranges
    finally:
        flagged.unpersist()
