"""Continuous rollup: incrementally-maintained time aggregates over a topic.

The hypertable/continuous-aggregate capability (the reference has no
analytics at all — SURVEY.md §2.7): a rollup table of per-(hour, partition)
record counts and exact decimal value sums that is refreshed INCREMENTALLY —
each refresh reads only records past the last committed offset (via the
same OffsetStore consumers use), partial-aggregates them, and merges into
the stored table. A refresh therefore costs O(new data + rollup size), not
O(topic history): the property that makes per-minute refreshes viable when
the topic is 100 TB deep.

The merge is SUM/COUNT register addition — the same mergeable-summary
discipline as the sketch registers (COVERAGE.md) — so results after any
refresh schedule equal a full recompute, which is exactly what the gate
query's oracle asserts.
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import atomic_dir_swap, lock_and_recover, recover_dir_swap
from .consumer import FluxConsumer
from .log import LogStore


class ContinuousRollup:
    """Incrementally-maintained hourly rollup of a topic's numeric values.

    ``refresh()`` is idempotent-per-offset: positions advance through the
    group's committed offsets, so a crashed refresh re-reads only its own
    uncommitted window. ``snapshot()`` returns the current rollup table.
    """

    def __init__(
        self,
        store: LogStore,
        topic: str,
        path: str | os.PathLike,
        group_id: str = "_rollup",
    ) -> None:
        self.store = store
        self.topic = topic
        self.path = Path(path)
        self.consumer = FluxConsumer(store, group_id=group_id)
        meta = store.catalog.get_topic(topic)
        self.consumer.assign({topic: list(range(meta.num_partitions))})

    def _partial(self, records: DataFrame) -> DataFrame:
        return records.groupBy(
            F.date_trunc("hour", F.col("timestamp")).alias("bucket"),
            F.col("partition"),
        ).agg(
            F.count("*").alias("n_records"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("__sum"),
        )

    def refresh(self) -> int:
        """Fold all records past the committed offsets into the rollup.
        Returns the number of new records absorbed.

        Serialized by a flock on the rollup path: two concurrent
        refreshes (threads OR processes) could otherwise interleave
        poll -> swap -> commit such that the last offset commit doesn't
        match the last table swap, double-folding a window on the next
        refresh. Single-maintainer is the normal deployment (Kafka
        Streams' one-task-per-store rule); the lock makes violations
        safe instead of silently corrupting."""
        with lock_and_recover(
            self.path.parent / f".{self.path.name}.lock",
            self.path,
            self.store.warehouse / ".swap.lock",
        ):
            return self._refresh_locked()

    def _refresh_locked(self) -> int:
        res = self.consumer.poll()
        if res.count == 0:
            return 0
        fresh = self._partial(res.records)
        if self.path.exists():
            # the running sum is STORED as decimal — no double roundtrip,
            # so any refresh schedule is bit-equal to a full recompute
            prev = self.store.spark.read.parquet(str(self.path)).select(
                "bucket",
                "partition",
                "n_records",
                F.col("sum_dec").cast("decimal(25,6)").alias("__sum"),
            )
            merged = (
                prev.unionByName(fresh)
                .groupBy("bucket", "partition")
                .agg(
                    F.sum("n_records").alias("n_records"),
                    F.sum("__sum").alias("__sum"),
                )
            )
        else:
            merged = fresh
        out = merged.select(
            "bucket",
            "partition",
            F.col("n_records").cast("long").alias("n_records"),
            F.col("__sum").cast("decimal(25,6)").alias("sum_dec"),
            F.col("__sum").cast("double").alias("total_value"),
        )
        tmp = self.path.parent / f".rollup-{uuid.uuid4().hex[:8]}"
        out.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        if self.path.exists():
            atomic_dir_swap(
                self.path, tmp, self.store.warehouse / ".swap.lock"
            )
        else:
            os.replace(tmp, self.path)
        # commit only after the rollup swap: a crash in between re-reads
        # the same window next refresh and rebuilds from the old table
        self.consumer.commit_offsets()
        return res.count

    def snapshot(self) -> DataFrame:
        recover_dir_swap(self.path, self.store.warehouse / ".swap.lock")
        if not self.path.exists():
            raise FileNotFoundError(
                f"rollup at {self.path} has never been refreshed"
            )
        return self.store.spark.read.parquet(str(self.path))
