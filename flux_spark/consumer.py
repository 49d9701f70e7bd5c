"""Consumer facade: subscribe / poll / commit over topic logs.

Mirrors consumer/FluxConsumer.java:52-179 (subscribe -> join+sync+install
assignment; poll -> fetch from current offset; READ_COMPLETION ends polling
-> ``PollResult.should_continue``), and *implements* what the reference only
stubbed: offset commit/fetch (offset.proto:8-66 has no Java impl,
FluxConsumer.commitOffsets is empty at FluxConsumer.java:181-184). Committed
offsets live in an append-only ``_offsets`` parquet log under the warehouse,
written and read on the driver with pyarrow — latest-wins per (group, topic,
partition) on (commit time, seq), so commits are blind appends at any scale.

A poll reads ``[position, hwm)`` of each assigned (topic, partition), on
the driver for a few thousand records or as one Spark scan above that;
both prune to partition dirs + offset ranges, so poll cost tracks the
amount of *new* data, not log size (the reference's index-seek property,
README.md:198).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .coordinator import GroupCoordinator
from .errors import RebalanceInProgressError, UnknownMemberError
from .log import LogStore
from .schema import RECORD_SCHEMA

_OFFSETS_SCHEMA = StructType(
    [
        StructField("group_id", StringType(), False),
        StructField("topic", StringType(), False),
        StructField("partition", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("commit_ts", DoubleType(), False),
        StructField("seq", LongType(), True),
        StructField("metadata", StringType(), True),
    ]
)


class OffsetStore:
    """G10 — the ``_offsets`` table (group_id, topic, partition, offset).

    A commit is a few rows, so all table I/O runs on the driver with
    pyarrow and starts no Spark job. Format contract (``spark.read.parquet``
    readers such as the lag monitors rely on it; older Spark-written files
    meet it too): a flat directory of parquet files with ``_OFFSETS_SCHEMA``
    columns, each published by renaming a dot-prefixed temp file (which
    both readers skip) — atomic, no fsync, like the fast-lane segments.

    Latest-wins resolution orders by (commit_ts, seq): ``seq`` is a
    store-local monotonic counter that breaks ties when two commits land
    within one wall-clock tick (or under clock skew), so fetch() cannot
    return a stale offset for same-store commit races.
    """

    def __init__(self, store: LogStore):
        self.store = store
        self.path = str(store.warehouse / "_offsets")
        self._seq = itertools.count()
        self._seq_lock = threading.Lock()

    def _recover(self) -> bool:
        """Restore an ``_offsets`` directory stranded by a compact/delete
        rewrite that crashed between its two renames. Must run before any
        read (which would silently see zero commits) and before any
        commit (whose append would recreate the path empty, making a
        later recovery discard the backup as stale)."""
        from .catalog import recover_dir_swap

        return recover_dir_swap(
            Path(self.path), self.store.warehouse / ".swap.lock"
        )

    @staticmethod
    def _write(directory: str | Path, rows: list[dict]) -> None:
        """One ``part-commit-<uuid>.parquet`` file holding ``rows``,
        published by an atomic rename from a dot-prefixed temp name."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(_OFFSETS_SCHEMA))
        name = f"part-commit-{uuid.uuid4().hex}.parquet"
        os.makedirs(directory, exist_ok=True)
        tmp = os.path.join(directory, f".{name}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(directory, name))

    def _read(self, filter=None) -> list[dict]:
        """Every commit row (matching ``filter``, a pyarrow expression)."""
        import pyarrow.dataset as ds

        if not os.path.isdir(self.path):
            return []
        dataset = ds.dataset(
            self.path, schema=to_arrow_schema(_OFFSETS_SCHEMA), format="parquet"
        )
        return dataset.to_table(filter=filter).to_pylist()

    @staticmethod
    def _latest(rows: list[dict]) -> list[dict]:
        """The winning row per (group_id, topic, partition): greatest
        (commit_ts, seq), a missing seq counting as -1."""
        best = {}
        for r in sorted(
            rows, key=lambda r: (r["commit_ts"], -1 if r["seq"] is None else r["seq"])
        ):
            best[(r["group_id"], r["topic"], r["partition"])] = r
        return list(best.values())

    @contextlib.contextmanager
    def _locked(self, rewrite: bool = False):
        """Hold the offsets flock with crash recovery run inside it; a
        ``rewrite`` takes the in-process seq lock first. The flock keeps a
        commit from appending into, and a fetch from listing, a directory
        a rewrite is swapping out. Recovery runs INSIDE the lock: a
        committer that merely checked before blocking could append into a
        directory a dying rewrite had renamed away, recreating it with one
        row and making the next recovery discard every older commit as a
        stale backup."""
        from .catalog import file_lock

        with self._seq_lock if rewrite else contextlib.nullcontext():
            with file_lock(self.store.warehouse / ".offsets.lock"):
                self._recover()
                yield

    def _swap_in(self, rows: list[dict]) -> None:
        """Make ``rows`` the whole ``_offsets`` log: write them to a temp
        directory and ``atomic_dir_swap`` it in (under ``_locked(True)``)."""
        from .catalog import atomic_dir_swap

        tmp = self.store.warehouse / f".offsets-rewrite-{uuid.uuid4().hex[:8]}"
        self._write(tmp, rows)
        atomic_dir_swap(Path(self.path), tmp, self.store.warehouse / ".swap.lock")

    def commit(
        self, group_id: str, offsets: dict[tuple[str, int], int], metadata: str | None = None
    ) -> None:
        if not offsets:
            return
        now = time.time()
        with self._seq_lock:
            seq = next(self._seq)
        rows = [
            dict(zip(_OFFSETS_SCHEMA.names, (group_id, t, int(p), int(off), now, seq, metadata)))
            for (t, p), off in offsets.items()
        ]
        with self._locked():
            self._write(self.path, rows)

    def compact(self) -> int:
        """Latest-wins rewrite of the ``_offsets`` log: keep only the
        winning commit row per (group, topic, partition) and atomically
        swap the directory (same pattern as ``LogStore.compact``,
        serialized against concurrent commits by the same warehouse flock
        + in-process seq lock). Long-lived groups commit one tiny file per
        poll loop forever (VERDICT r3 anti-pattern audit #1); running this
        from a maintenance hook keeps ``fetch()`` an O(#groups) scan
        instead of an O(#commits-ever) one. Returns the number of rows
        kept (0 = nothing to compact)."""
        with self._locked(rewrite=True):
            winners = self._latest(self._read())
            if winners:
                self._swap_in(winners)
            return len(winners)

    def fetch(self, group_id: str) -> dict[tuple[str, int], int]:
        """Latest committed offset per (topic, partition) for the group.

        Held under the offsets flock end-to-end (recover + read): without
        it a concurrent compact/delete swap could delete part files
        between listing and read."""
        import pyarrow.dataset as ds

        with self._locked():
            rows = self._read(ds.field("group_id") == group_id)
        return {(r["topic"], r["partition"]): r["offset"] for r in self._latest(rows)}

    # -- admin surface (Kafka AdminClient / kafka-consumer-groups parity) --

    def groups(self) -> list[str]:
        """Kafka AdminClient.listConsumerGroups over the durable offsets
        log: every group id with at least one committed offset. (The
        in-memory ``GroupCoordinator.list_groups`` covers live-membership
        groups; this covers the broker-durable view, like listing groups
        from ``__consumer_offsets``.)"""
        with self._locked():
            return sorted({r["group_id"] for r in self._read()})

    def delete_group(self, group_id: str) -> int:
        """Kafka AdminClient.deleteConsumerGroups analog: drop every
        committed offset for ``group_id``. Same atomic rewrite-and-swap
        as :meth:`compact` (under the warehouse flock + seq lock, so a
        concurrent commit can't land in the directory being swapped out),
        which also compacts the surviving groups' rows. Returns the number
        of the group's commit rows removed."""
        with self._locked(rewrite=True):
            rows = self._read()
            keep = [r for r in rows if r["group_id"] != group_id]
            if len(keep) == len(rows):
                return 0
            self._swap_in(self._latest(keep))
            return len(rows) - len(keep)

    def reset_offsets(
        self,
        group_id: str,
        topic: str,
        to="latest",
        partitions: list[int] | None = None,
        shift_by: int | None = None,
    ) -> dict[tuple[str, int], int]:
        """``kafka-consumer-groups --reset-offsets`` analog. ``to`` is
        ``"earliest"`` (log-start offsets, i.e. post-retention
        beginnings), ``"latest"`` (high-water marks), an int (absolute
        ``--to-offset``), or a timestamp (first offset with record time
        >= ts per partition, Kafka's ``--to-datetime``; partitions with
        no such record reset to latest, matching the CLI). Alternatively
        pass ``shift_by`` for ``--shift-by N``: each partition's current
        committed offset (log start when none) moves by N. Absolute and
        shifted targets are clamped into [log start, hwm] like the CLI.
        The computed targets are committed for the group and returned."""
        hwm = self.store.high_water_marks(topic)
        # beginning_offsets scans the log for per-partition minimums; only
        # the earliest / absolute / shift paths need it
        begins: dict[int, int] | None = None

        def clamp(p: int, o: int) -> int:
            return max(begins.get(p, 0), min(int(o), hwm[p]))

        if shift_by is not None:
            begins = self.store.beginning_offsets(topic)
            cur = self.fetch(group_id)
            targets = {
                p: clamp(p, cur.get((topic, p), begins.get(p, 0)) + shift_by)
                for p in hwm
            }
            label = f"shift:{shift_by}"
        elif to == "earliest":
            begins = self.store.beginning_offsets(topic)
            targets = begins
            label = "reset:earliest"
        elif to == "latest":
            targets = hwm
            label = "reset:latest"
        elif isinstance(to, int):
            begins = self.store.beginning_offsets(topic)
            targets = {p: clamp(p, to) for p in hwm}
            label = f"reset:{to}"
        else:
            by_ts = self.store.offsets_for_times(topic, to)
            targets = {
                p: (off if off is not None else hwm[p])
                for p, off in by_ts.items()
            }
            label = f"reset:{to}"
        if partitions is not None:
            want = set(partitions)
            targets = {p: o for p, o in targets.items() if p in want}
        offsets = {(topic, int(p)): int(o) for p, o in targets.items()}
        self.commit(group_id, offsets, metadata=label)
        return offsets


# Polls of at most this many new records are read on the driver; bigger
# ones run one Spark scan, the only lane that reads a backlog larger than
# the driver can hold. Poll latency in ms, accessor included (``.records``
# = a noop write): 4 vCPUs, ``local[2]``, keyed 3-partition topic written
# in 2,500-record flushes, lanes interleaved, median of 5 runs (a second
# set of 7 at 2.5k / 5k / 10k gave the same order):
#
#   records | .rows driver | .rows Spark | .records driver | .records Spark
#     2,500 |           52 |         341 |             143 |            258
#     5,000 |           90 |         339 |             185 |            218
#    10,000 |          211 |         529 |             345 |            311
#    25,000 |          520 |         838 |             695 |            318
#   250,000 |        4,714 |       5,287 |           6,010 |            667
#
# The bound is the largest size where the driver lane wins on both.
_DRIVER_POLL_MAX_RECORDS = 5_000
_RECORD_ARROW_SCHEMA = to_arrow_schema(RECORD_SCHEMA)


class PollResult:
    """consumer/PollResult.java:5 — records + end-of-log signal, one
    shape whichever lane served the poll: ``rows`` (dicts, the shape
    ``LogStore.read_since`` returns), ``records`` (a RECORD_SCHEMA
    DataFrame), ``count``, ``should_continue`` (``count > 0``) and
    ``lane`` (``"driver"`` or ``"spark"``). The accessor the lane does not
    hold is built lazily: ``records`` from one Arrow table of the rows,
    ``rows`` through ``records.toArrow()``. Lane parity is oracle-gated
    (``log_consumer_fast_poll_parity``)."""

    def __init__(
        self,
        lane: str,
        count: int,
        rows: "list[dict] | None" = None,
        records: DataFrame | None = None,
        spark=None,
    ):
        self.lane = lane
        self.count = count
        self.should_continue = count > 0
        self._dicts = rows
        self._df = records
        self._spark = spark

    @property
    def rows(self) -> list[dict]:
        if self._dicts is None:
            self._dicts = self._df.toArrow().to_pylist()
        return self._dicts

    @property
    def records(self) -> DataFrame:
        if self._df is None:
            import pyarrow as pa

            self._df = self._spark.createDataFrame(
                pa.Table.from_pylist(self._dicts, schema=_RECORD_ARROW_SCHEMA)
            )
        return self._df

    def __repr__(self) -> str:
        return (
            f"PollResult(lane={self.lane!r}, count={self.count}, "
            f"should_continue={self.should_continue})"
        )

    def __eq__(self, other) -> bool:  # never starts a Spark job
        if not isinstance(other, PollResult):
            return NotImplemented
        return (self.lane, self.count) == (other.lane, other.count) and (
            self._dicts == other._dicts
            if self.lane == "driver"
            else self._df is other._df
        )

    __hash__ = None  # mutable value object


@dataclass
class RebalanceEvent:
    """What a cooperative resync did (KIP-429's listener callbacks as a
    record): partitions this member kept serving without a pause or
    rewind, partitions revoked to other members, and partitions newly
    acquired (installed from the group's committed offsets)."""

    generation: int
    retained: list[tuple[str, int]]
    revoked: list[tuple[str, int]]
    added: list[tuple[str, int]]
    lost_all: bool = False  # eviction path: everything re-installed


class FluxConsumer:
    def __init__(
        self,
        store: LogStore,
        group_id: str = "default",
        coordinator: GroupCoordinator | None = None,
        protocols: tuple[str, ...] = ("range", "roundrobin"),
        member_id: str | None = None,
        auto_offset_reset: str = "earliest",
        session_timeout_s: float | None = None,
        rebalance_protocol: str = "eager",
    ):
        if auto_offset_reset not in ("earliest", "latest"):
            raise ValueError(
                f"auto_offset_reset must be 'earliest' or 'latest', "
                f"got {auto_offset_reset!r}"
            )
        if rebalance_protocol not in ("eager", "cooperative"):
            raise ValueError(
                f"rebalance_protocol must be 'eager' or 'cooperative', "
                f"got {rebalance_protocol!r}"
            )
        self.store = store
        self.group_id = group_id
        self.coordinator = coordinator or GroupCoordinator()
        self.protocols = list(protocols)
        self.member_id = member_id
        self.auto_offset_reset = auto_offset_reset
        # per-member session timeout carried in the join request (Kafka's
        # JoinGroup session_timeout_ms); None -> coordinator default. For
        # poll-loop consumers this is effectively max.poll.interval.ms:
        # poll()/commit_offsets() heartbeat, so the timeout only bites a
        # member that stalls BETWEEN polls longer than this.
        self.session_timeout_s = session_timeout_s
        # KIP-429 in-process: under "cooperative", a generation bump no
        # longer raises from poll(); the consumer resyncs transparently,
        # keeps serving retained partitions from their IN-MEMORY positions
        # (no pause, no rewind to the last commit), and installs only the
        # newly acquired ones from the group's committed offsets. The
        # two-round revoke/rejoin dance of the real protocol collapses to
        # one round here because the in-process coordinator is a single
        # consistent view. Pair with protocols=("sticky",) — cooperative
        # resync only pays off when the assignor minimizes movement.
        self.rebalance_protocol = rebalance_protocol
        self.last_rebalance: RebalanceEvent | None = None
        self.offset_store = OffsetStore(store)
        # generation this member last synced on; None until subscribe()
        # (manual assign() keeps it None -> no group liveness protocol)
        self._generation: int | None = None
        # (topic, partition) -> next offset to read
        self._positions: dict[tuple[str, int], int] = {}
        self._assignment: dict[str, list[int]] = {}
        self._topics: list[str] = []
        # paused partitions are skipped by poll() but keep their position
        self._paused: set[tuple[str, int]] = set()

    # -- G11: subscribe (FluxConsumer.java:52-133) ----------------------
    def subscribe(self, topics: list[str]) -> dict[str, list[int]]:
        self._topics = list(topics)
        join = self.coordinator.join_group(
            self.group_id,
            self.member_id,
            self.protocols,
            self._topics,
            session_timeout_s=self.session_timeout_s,
        )
        self.member_id = join.member_id
        self._generation = join.generation
        tps = {
            t: self.store.catalog.get_topic(t).num_partitions for t in self._topics
        }
        self._assignment = self.coordinator.sync_group(
            self.group_id, self.member_id, tps
        )
        self._install_positions()
        return self._assignment

    def subscribe_pattern(self, pattern: str) -> dict[str, list[int]]:
        """Kafka's ``subscribe(Pattern)``: subscribe to every existing
        topic whose name matches the regex (full match, like the Java
        client). Resolution happens against the catalog at call time;
        re-invoke to pick up topics created later (the Java client's
        metadata-refresh behavior, made explicit)."""
        import re

        rx = re.compile(pattern)
        topics = sorted(
            t for t in self.store.catalog.list_topics() if rx.fullmatch(t)
        )
        return self.subscribe(topics)

    def assign(self, assignment: dict[str, list[int]]) -> None:
        """Manual assignment (bypasses the coordinator)."""
        self._assignment = {t: sorted(ps) for t, ps in assignment.items()}
        self._topics = sorted(assignment)
        self._generation = None  # no group protocol for manual assignment
        self._install_positions()

    def _ensure_live(self) -> None:
        """Poll-driven liveness (Kafka ties consumer liveness to poll
        activity — ``max.poll.interval.ms``; the reference polls in a loop,
        FluxConsumer.java:136-179): every ``poll()``/``commit_offsets()``
        heartbeats this member, so an actively consuming member is never
        evicted however long its Spark jobs run. If the member HAS been
        evicted (it stalled between polls past the session timeout), or the
        group generation moved beyond the one it synced on (another member
        joined/left), raise :class:`RebalanceInProgressError` rather than
        serve data from a stale assignment — partitions this member thinks
        it owns may already belong to someone else (the reference's
        REBALANCING status, GroupCoordinatorServiceImpl.java:46-148)."""
        if self._generation is None or self.member_id is None:
            return  # manual assign() or never subscribed
        try:
            self.coordinator.heartbeat(self.group_id, self.member_id)
        except UnknownMemberError as e:
            if self.rebalance_protocol == "cooperative":
                # fenced member: Kafka's cooperative client fires
                # onPartitionsLost and rejoins in the background — every
                # partition re-installs from committed offsets (at-least-
                # once: uncommitted progress is re-read, never skipped)
                self._cooperative_resync(lost_all=True)
                return
            raise RebalanceInProgressError(
                f"member {self.member_id!r} was evicted from group "
                f"{self.group_id!r} (session timed out between polls); "
                f"call subscribe() to rejoin"
            ) from e
        g = self.coordinator.describe(self.group_id)
        if g.generation != self._generation:
            if self.rebalance_protocol == "cooperative":
                # ONE generation bump = exactly one rebalance since this
                # member synced, so a partition present in both its old
                # and new assignment cannot have had an intermediate
                # owner — retaining the in-memory position is safe.
                # Across MULTIPLE bumps (this member slept through 2+
                # rebalances) a partition may have been reassigned away
                # and back, with the interim owner consuming/committing
                # past our in-memory position; KIP-429 closes that via
                # revoke-before-reassign, which a multi-bump collapse
                # cannot honor — so treat it as lost-all and reinstall
                # every partition from committed offsets (at-least-once:
                # replay, never skip or regress a commit). (ADVICE r7)
                self._cooperative_resync(
                    lost_all=g.generation - self._generation > 1
                )
                return
            raise RebalanceInProgressError(
                f"group {self.group_id!r} rebalanced to generation "
                f"{g.generation} (member {self.member_id!r} synced on "
                f"{self._generation}); call subscribe() to re-sync"
            )

    def _cooperative_resync(self, lost_all: bool) -> None:
        """Transparent rejoin+resync on a generation bump (KIP-429 made
        in-process). Retained partitions keep their in-memory positions —
        they never pause and never rewind to the last commit; revoked
        ones are dropped (their uncommitted progress belongs to the new
        owner's replay window); added ones install from the group's
        committed offsets inside subscribe(). On the eviction path
        (``lost_all``) nothing is retained: other members may have
        owned and committed past this member's in-memory positions."""
        old_pos = dict(self._positions)
        old_assign = {t: set(ps) for t, ps in self._assignment.items()}
        self.subscribe(self._topics)  # rejoin (no generation bump) + sync
        retained: list[tuple[str, int]] = []
        added: list[tuple[str, int]] = []
        for t, ps in self._assignment.items():
            for p in ps:
                if not lost_all and p in old_assign.get(t, set()):
                    self._positions[(t, p)] = old_pos[(t, p)]
                    retained.append((t, p))
                else:
                    added.append((t, p))
        new_assign = {t: set(ps) for t, ps in self._assignment.items()}
        revoked = sorted(
            (t, p)
            for t, ps in old_assign.items()
            for p in ps
            if p not in new_assign.get(t, set())
        )
        # paused state survives only for retained partitions
        self._paused = {tp for tp in self._paused if tp in set(retained)}
        self.last_rebalance = RebalanceEvent(
            generation=self._generation,
            retained=sorted(retained),
            revoked=revoked,
            added=sorted(added),
            lost_all=lost_all,
        )

    def _install_positions(self) -> None:
        committed = self.offset_store.fetch(self.group_id)
        self._positions = {}
        for t, parts in self._assignment.items():
            hwm = (
                self.store.high_water_marks(t)
                if self.auto_offset_reset == "latest"
                and any((t, p) not in committed for p in parts)
                else {}
            )
            for p in parts:
                if (t, p) in committed:
                    self._positions[(t, p)] = committed[(t, p)]
                elif self.auto_offset_reset == "latest":
                    # Kafka auto.offset.reset=latest: no committed offset
                    # -> start at the end of the log, only new data.
                    self._positions[(t, p)] = hwm.get(p, 0)
                else:
                    self._positions[(t, p)] = 0

    def assignment(self) -> dict[str, list[int]]:
        return dict(self._assignment)

    # -- S10: poll (FluxConsumer.java:136-179) --------------------------
    def poll(self, max_records_per_partition: int | None = None) -> PollResult:
        """Fetch all records in ``[position, hwm)`` for every assigned
        partition; advance positions; signal end-of-log when nothing new.

        The read plan (positions, pause, pagination) comes from catalog
        metadata and is shared by both lanes. At most
        ``_DRIVER_POLL_MAX_RECORDS`` new records (an empty poll included)
        are read on the driver, one ``LogStore.read_since`` per partition
        with ``read()``'s visibility contract; more run one Spark scan.
        The Spark lane advances positions at plan time; the driver lane
        only once its read delivered every planned record, so a driver
        poll that raises leaves positions where they were and a plain
        re-poll is safe."""
        self._ensure_live()
        plan: list[tuple[str, dict[int, int], dict[int, int]]] = []
        new_positions = dict(self._positions)
        total_new = 0
        for t, parts in self._assignment.items():
            hwm = self.store.high_water_marks(t)
            starts: dict[int, int] = {}
            ends: dict[int, int] = {}
            for p in parts:
                if (t, p) in self._paused:
                    continue
                pos = self._positions[(t, p)]
                end = hwm.get(p, 0)
                if max_records_per_partition is not None:
                    end = min(end, pos + max_records_per_partition)
                if end > pos:
                    starts[p] = pos
                    ends[p] = end
                    new_positions[(t, p)] = end
                    total_new += end - pos
            if starts:
                plan.append((t, starts, ends))
        if total_new <= _DRIVER_POLL_MAX_RECORDS:
            rows: list[dict] = []
            for t, starts, ends in plan:
                for p in sorted(starts):
                    rows.extend(
                        self.store.read_since(
                            t, p, starts[p], max_records=ends[p] - starts[p]
                        )
                    )
            if len(rows) != total_new:
                # An under-delivering read (pruning bug, a file removed
                # by a compaction swap between planning and read) must
                # not skip records silently. The Spark lane surfaces
                # such failures at action time — make the driver lane
                # equally loud, before positions move.
                raise RuntimeError(
                    f"fast poll under-delivered: planned {total_new} "
                    f"records, read {len(rows)}; positions not advanced "
                    "— re-poll"
                )
            self._positions = new_positions
            return PollResult("driver", total_new, rows=rows, spark=self.store.spark)
        self._positions = new_positions
        frames = [
            self.store.read(
                t, partitions=sorted(starts), start_offsets=starts, end_offsets=ends
            )
            for t, starts, ends in plan
        ]
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return PollResult("spark", total_new, records=df)

    # -- seek / position / commit ---------------------------------------
    def seek(self, topic: str, partition: int, offset: int) -> None:
        self._positions[(topic, partition)] = int(offset)

    def position(self, topic: str, partition: int) -> int:
        return self._positions.get((topic, partition), 0)

    def seek_to_beginning(self, topic: str) -> None:
        """Kafka ``seekToBeginning``: position every assigned partition of
        ``topic`` at its earliest readable offset (the log-start offset —
        0, or the first survivor after retention truncation)."""
        begins = self.store.beginning_offsets(topic)
        for (t, p) in list(self._positions):
            if t == topic:
                self._positions[(t, p)] = begins.get(p, 0)

    def seek_to_end(self, topic: str) -> None:
        """Kafka ``seekToEnd``: position at the high-water mark — only
        records produced after this call will be polled."""
        hwm = self.store.high_water_marks(topic)
        for (t, p) in list(self._positions):
            if t == topic:
                self._positions[(t, p)] = hwm.get(p, 0)

    # -- pause / resume (Kafka flow control) -----------------------------
    def pause(self, topic: str, partitions: list[int] | None = None) -> None:
        """Stop fetching from the given partitions (all assigned ones of
        ``topic`` if unspecified) without losing position or assignment —
        Kafka's flow-control primitive for slow downstreams."""
        parts = partitions if partitions is not None else self._assignment.get(topic, [])
        for p in parts:
            self._paused.add((topic, p))

    def resume(self, topic: str, partitions: list[int] | None = None) -> None:
        parts = partitions if partitions is not None else self._assignment.get(topic, [])
        for p in parts:
            self._paused.discard((topic, p))

    def paused(self) -> set[tuple[str, int]]:
        return set(self._paused)

    def seek_to_timestamp(self, topic: str, ts) -> None:
        """Position every assigned partition of ``topic`` at the earliest
        offset whose record timestamp >= ``ts`` (the Kafka offsetsForTimes +
        seek composition the reference lacks). Partitions with no such
        record seek to their high-water mark (nothing to replay)."""
        offs = self.store.offsets_for_times(topic, ts)
        hwm = self.store.high_water_marks(topic)
        for (t, p) in list(self._positions):
            if t == topic:
                o = offs.get(p)
                self._positions[(t, p)] = int(o) if o is not None else hwm.get(p, 0)

    def commit_offsets(self, metadata: str | None = None) -> None:
        self._ensure_live()
        self.offset_store.commit(self.group_id, self._positions, metadata)

    def committed(self) -> dict[tuple[str, int], int]:
        return self.offset_store.fetch(self.group_id)

    def heartbeat(self) -> None:
        self.coordinator.heartbeat(self.group_id, self.member_id)

    def unsubscribe(self) -> None:
        if self.member_id:
            self.coordinator.leave_group(self.group_id, self.member_id)
        self._assignment = {}
        self._positions = {}
        self._generation = None

    def close(self) -> None:
        """Kafka ``Consumer.close()`` parity: leave the group cleanly so
        the coordinator rebalances immediately instead of waiting out the
        session timeout. Safe to call twice; does NOT auto-commit (commit
        explicitly before closing, as with enable.auto.commit=false)."""
        self.unsubscribe()


# -- Kafka-style properties factory (Properties.java:6-44 parity) ------------

# keys that map onto real FluxConsumer knobs
_CONSUMER_PROPERTY_MAP = {
    "group.id": ("group_id", str),
    # Kafka static membership: group.instance.id IS a unique per-member
    # identity, so it is the correct source for member_id. (client.id is a
    # shared app label — mapping it here would fold two members with the
    # same client.id into one "rejoining" member and hand both the same
    # partition slice; it is subsumed/ignored below instead.)
    "group.instance.id": ("member_id", str),
    "auto.offset.reset": ("auto_offset_reset", str),
    # liveness here is poll-driven (poll()/commit_offsets() heartbeat), so
    # Kafka's max.poll.interval.ms IS the session timeout: the longest a
    # member may stall between polls before eviction. session.timeout.ms
    # stays subsumed — there is no background heartbeat thread to time out.
    "max.poll.interval.ms": ("session_timeout_s", lambda v: float(v) / 1000.0),
}
# reference/Kafka knobs Spark's runtime subsumes (accepted, validated,
# ignored — fetch sizing and heartbeat cadence are the scheduler's and the
# file-commit protocol's job, SURVEY.md §2.3/§2.6)
_SUBSUMED_CONSUMER_PROPERTIES = {
    "bootstrap.servers",
    "client.id",  # shared non-unique app label; NOT a member identity
    "enable.auto.commit",
    "auto.commit.interval.ms",
    "fetch.min.bytes",
    "fetch.max.bytes",
    "max.poll.records",
    "session.timeout.ms",
    "heartbeat.interval.ms",
}


def consumer_from_properties(
    store: LogStore,
    properties: dict[str, str],
    coordinator: GroupCoordinator | None = None,
) -> FluxConsumer:
    """Build a consumer from a Kafka-style string-properties map — the twin
    of :func:`flux_spark.producer.producer_from_properties`, so reference
    users (FluxConsumer.java:52-133 takes config-driven construction via
    Properties.java:6-44) can carry their config dicts over.

    Mapped: ``group.id``, ``group.instance.id`` (static membership ->
    member id; unique per member by Kafka contract), ``auto.offset.reset``
    (``earliest``/``latest``), ``partition.assignment.strategy`` (comma list
    of ``range``/``roundrobin``/``sticky``, Kafka class names accepted).
    Subsumed knobs (including ``client.id``, a shared app label that is NOT
    a member identity) are accepted and ignored; unknown keys raise,
    mirroring config validation (BrokerConfigValidator.java).
    """
    known = (
        set(_CONSUMER_PROPERTY_MAP)
        | _SUBSUMED_CONSUMER_PROPERTIES
        | {"partition.assignment.strategy"}
    )
    unknown = set(properties) - known
    if unknown:
        raise ValueError(f"unknown consumer properties: {sorted(unknown)}")
    kwargs = {}
    for k, (name, conv) in _CONSUMER_PROPERTY_MAP.items():
        if k in properties:
            kwargs[name] = conv(properties[k])
    if "partition.assignment.strategy" in properties:
        protocols = []
        for s in properties["partition.assignment.strategy"].split(","):
            s = s.strip()
            # accept Kafka's assignor class names as aliases
            name = {
                "org.apache.kafka.clients.consumer.RangeAssignor": "range",
                "org.apache.kafka.clients.consumer.RoundRobinAssignor": "roundrobin",
                "org.apache.kafka.clients.consumer.StickyAssignor": "sticky",
            }.get(s, s.lower())
            if name not in ("range", "roundrobin", "sticky"):
                raise ValueError(f"unknown assignment strategy: {s!r}")
            protocols.append(name)
        kwargs["protocols"] = tuple(protocols)
    return FluxConsumer(store, coordinator=coordinator, **kwargs)
