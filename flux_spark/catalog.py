"""Topic catalog: the engine's metadata plane.

Replaces the reference's broker/controller metadata stack
(metadata/InMemoryTopicMetadataRepository.java:24-79,
metadata/snapshots/ClusterSnapshot.java) with a driver-side catalog persisted
as JSON in the warehouse. Topic validation mirrors Broker.java:340-353:
non-empty unique name, partitions >= 1, 0 <= replication_factor <= 3.

Scale note: catalog state is O(#topics x #partitions) — per topic its
config, its hwm map and the ONE latest committed batch id — so a JSON file
with atomic replace is appropriate; on a real cluster this would live in a
metastore / Delta commit log, and the high-water-mark map would be updated
by the same transaction that commits data files. The idempotent-produce
replay window (older batch ids, FIFO-capped) lives in one file per topic
under ``.batches/``, read only by :meth:`Catalog.batch_committed`, so hwm
readers never parse it. The catalog, the replay files and the txn log
(txn.py) are each a :class:`LockedJson`: writes are serialized by a
per-process RLock AND a warehouse-level ``flock`` file lock, so two DRIVER
PROCESSES sharing one warehouse cannot interleave a read-modify-write (the
lock auto-releases on process death — no stale-lock recovery needed).
Ingest is additionally single-writer per topic
(PartitionWriteManager.java:17-84 analog) via LogStore's per-topic thread +
file locks.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import tempfile
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from .errors import (
    IncompatibleWarehouseError,
    InvalidTopicError,
    TopicExistsError,
    ValidationError,
)

_CATALOG_FILE = "_catalog.json"
_CATALOG_LOCK_FILE = ".catalog.lock"
# Warehouse storage-format generation; code refuses any warehouse whose
# catalog declares another (or no) format, so writers of two layouts never
# share one. 2: the per-topic writer lock moved from <topic>/.ingest.lock to
# .locks/<topic>.lock — format-1 and format-2 writers would lock different
# files and could mint duplicate offsets. 3: the catalog keeps only each
# topic's latest committed batch id and the replay window moved to
# .batches/<topic>.json — a format-2 writer would miss displaced ids and
# re-append a replayed batch.
_WAREHOUSE_FORMAT = 3
_TOPIC_NAME_RE = re.compile(r"^[A-Za-z0-9._-]+$")
# committed-batch ids kept per topic in its replay file (beside the latest
# one in the catalog) for idempotent-produce replay detection; FIFO-pruned.
# 4096 in-flight retried batches per topic is far beyond any real
# producer's replay window.
_MAX_COMMITTED_BATCHES = 4096


@contextlib.contextmanager
def file_lock(path: Path):
    """Advisory inter-process exclusive lock (``flock``). Blocks until
    acquired; the kernel releases it automatically if the holder dies, so
    there is no stale-lock state to recover. Reentrant per-process usage is
    prevented by the callers' threading locks, which are always taken
    first."""
    import fcntl

    path.parent.mkdir(parents=True, exist_ok=True)
    fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        # closing the fd releases the flock
        os.close(fd)


_SWAP_BACKUP_SUFFIX = ".swap-backup"


def _swap_backup_path(live: Path) -> Path:
    return live.parent / (live.name + _SWAP_BACKUP_SUFFIX)


def atomic_dir_swap(live: Path, tmp: Path, guard: Path) -> None:
    """Replace directory ``live`` with freshly-written ``tmp``.

    POSIX rename cannot atomically replace a non-empty directory, so every
    rewrite (compact / truncate / offsets compaction / rollup refresh) is
    two renames — and a process dying between them used to leave NO live
    directory, with the data stranded in a uuid-named backup nothing could
    find: readers silently saw an empty store, and a subsequent append
    would resurrect the path empty, turning the crash into data loss.

    Fix: the backup name is DETERMINISTIC (``<name>.swap-backup`` beside
    ``live``), and both renames happen under the warehouse-level ``guard``
    flock that :func:`recover_dir_swap` also takes — so a reader either
    waits out an in-flight swap or finds the marker and restores it.
    Callers must additionally hold whatever lock serializes writers of
    ``live`` (the topic write lock / offsets lock), as before.
    """
    import shutil

    live, tmp = Path(live), Path(tmp)
    backup = _swap_backup_path(live)
    with file_lock(guard):
        if backup.exists():
            # previous swap completed its second rename but died before
            # cleanup; the backup is stale
            shutil.rmtree(backup)
        os.replace(live, backup)
        os.replace(tmp, live)
        shutil.rmtree(backup, ignore_errors=True)


def recover_dir_swap(live: Path, guard: Path) -> bool:
    """Finish a :func:`atomic_dir_swap` interrupted between its renames:
    if ``live`` is missing but its deterministic backup exists, restore
    the backup (the interrupted rewrite's effect is lost — maintenance
    rewrites are idempotent and simply run again). If both exist, the
    swap completed and only cleanup was lost — drop the stale backup.
    Cheap when nothing is wrong (one ``exists`` check, no lock). Returns
    True iff a restore happened."""
    import shutil

    live = Path(live)
    backup = _swap_backup_path(live)
    if not backup.exists():
        return False
    with file_lock(guard):
        # re-check under the lock: an in-flight swap holds `guard` across
        # both renames, so by the time we get here it either finished
        # (live exists, backup gone or stale) or died mid-way
        if not backup.exists():
            return False
        if live.exists():
            shutil.rmtree(backup, ignore_errors=True)
            return False
        os.replace(backup, live)
        return True


@contextlib.contextmanager
def lock_and_recover(lock: Path, live: Path, guard: Path):
    """Hold the flock ``lock`` that serializes writers of directory
    ``live``, with :func:`recover_dir_swap` run INSIDE it. A holder that
    merely checked before blocking could act on a ``live`` that a dying
    swap had renamed away meanwhile: a writer would recreate it with only
    its own rows (the next recovery then discards the real data as a
    stale backup), a reader would see no data, and a rollup refresh
    would take it for never-written and replace the accumulated history.
    Callers take their in-process lock first (flock conflicts between two
    fds of one process too)."""
    with file_lock(lock):
        recover_dir_swap(live, guard)
        yield


class LockedJson:
    """A JSON state file under a thread RLock plus a warehouse flock, read
    whole and replaced atomically. ``read()`` needs no lock: a reader sees
    either the old or the new file, never a torn one. ``lock`` is None
    for a file only ever updated inside another LockedJson's update,
    whose locks already serialize it."""

    def __init__(self, path: Path, lock: Path | None, empty):
        self.path = Path(path)
        self._flock = lock
        self._empty = empty
        self._lock = threading.RLock()

    def read(self) -> dict:
        """The parsed state, or ``empty()`` if there is no file."""
        try:
            with open(self.path) as f:
                return json.load(f)
        except FileNotFoundError:
            return self._empty()

    @contextlib.contextmanager
    def update(self):
        """Take both locks and yield the state; a clean exit writes it back
        with one (C-encoder) ``json.dumps`` and an atomic ``os.replace``."""
        # file_lock is looked up at call time, so a wrapper installed on
        # this module (the benchmark's lock timer) sees every acquire
        flock = file_lock(self._flock) if self._flock else contextlib.nullcontext()
        with self._lock, flock:
            state = self.read()
            yield state
            self.path.parent.mkdir(parents=True, exist_ok=True)
            fd, tmp = tempfile.mkstemp(
                dir=self.path.parent, prefix=f".{self.path.stem}-"
            )
            try:
                with os.fdopen(fd, "w") as f:
                    f.write(json.dumps(state))
                os.replace(tmp, self.path)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)


@dataclass
class TopicMetadata:
    """FluxTopic + PartitionMetadata analog (commons/FluxTopic.java:7-16)."""

    name: str
    num_partitions: int
    replication_factor: int = 1
    created_at: float = 0.0
    # next offset to assign, per partition id (the high-water mark).
    hwm: dict[int, int] = field(default_factory=dict)
    # Kafka-style per-topic configs (e.g. "retention.ms"); free-form strings
    configs: dict[str, str] = field(default_factory=dict)

    def partition_ids(self) -> list[int]:
        # Partitions are 0-indexed per topic (Broker.java:105-110).
        return list(range(self.num_partitions))

    def next_offset(self, partition: int) -> int:
        return self.hwm.get(partition, 0)


class Catalog:
    def __init__(self, warehouse: str | os.PathLike):
        self.warehouse = Path(warehouse)
        self.warehouse.mkdir(parents=True, exist_ok=True)
        self._file = LockedJson(
            self.warehouse / _CATALOG_FILE,
            self.warehouse / _CATALOG_LOCK_FILE,
            lambda: {"topics": {}, "format": _WAREHOUSE_FORMAT},
        )

    # -- persistence -------------------------------------------------------
    def _checked(self, state: dict) -> dict:
        fmt = state.get("format")
        if fmt != _WAREHOUSE_FORMAT:
            raise IncompatibleWarehouseError(
                f"warehouse {self.warehouse} declares storage format {fmt}; "
                f"this engine writes format {_WAREHOUSE_FORMAT} (metadata "
                f"layout changed — mixed-version writers cannot safely share "
                f"a warehouse; migrate or upgrade all writers)"
            )
        return state

    def _load(self) -> dict:
        return self._checked(self._file.read())

    @contextlib.contextmanager
    def _update(self):
        """Locked read-modify-write of the catalog; a clean exit saves."""
        with self._file.update() as state:
            yield self._checked(state)

    def _replay(self, name: str) -> LockedJson:
        """The topic's replay window: batch ids displaced from the
        catalog, oldest first. Only written inside :meth:`_update`, whose
        locks serialize it — a flock of its own on ``.catalog.lock``
        would deadlock against the one this process already holds."""
        return LockedJson(
            self.warehouse / ".batches" / f"{name}.json", None, lambda: {"ids": []}
        )

    @staticmethod
    def _topic(state: dict, name: str) -> dict:
        if name not in state["topics"]:
            raise InvalidTopicError(f"topic {name!r} does not exist")
        return state["topics"][name]

    @staticmethod
    def _to_meta(name: str, raw: dict) -> TopicMetadata:
        return TopicMetadata(
            name=name,
            num_partitions=raw["num_partitions"],
            replication_factor=raw.get("replication_factor", 1),
            created_at=raw.get("created_at", 0.0),
            hwm={int(k): v for k, v in raw.get("hwm", {}).items()},
            configs=dict(raw.get("configs", {})),
        )

    # -- DDL (A1-A3) -------------------------------------------------------
    def create_topic(
        self,
        name: str,
        num_partitions: int,
        replication_factor: int = 1,
        configs: dict[str, str] | None = None,
    ) -> TopicMetadata:
        """Validated create — Broker.createTopics (Broker.java:87-116)."""
        if not name or not name.strip():
            raise ValidationError("topic name must be non-empty")
        if not _TOPIC_NAME_RE.match(name):
            raise ValidationError(f"invalid topic name {name!r}")
        if name.endswith(_SWAP_BACKUP_SUFFIX):
            raise ValidationError(
                f"topic name {name!r} collides with the reserved "
                f"'{_SWAP_BACKUP_SUFFIX}' crash-recovery suffix"
            )
        if num_partitions < 1:
            raise ValidationError("num_partitions must be >= 1")
        if not (0 <= replication_factor <= 3):
            raise ValidationError("replication_factor must be in [0, 3]")
        with self._update() as state:
            if name in state["topics"]:
                raise TopicExistsError(f"topic {name!r} already exists")
            # a deleted topic's replay ids must not replay against this one
            self._replay(name).path.unlink(missing_ok=True)
            state["topics"][name] = {
                "num_partitions": num_partitions,
                "replication_factor": replication_factor,
                "created_at": time.time(),
                "hwm": {},
                "configs": {str(k): str(v) for k, v in (configs or {}).items()},
            }
            # Eagerly create partition dirs like Partition.java:14-19 does
            # for log/index files.
            for p in range(num_partitions):
                (self.warehouse / name / f"partition={p}").mkdir(
                    parents=True, exist_ok=True
                )
            return self._to_meta(name, state["topics"][name])

    def delete_topic(self, name: str, drop_data: bool = False) -> None:
        """InMemoryTopicMetadataRepository.deleteTopic (44-49); the reference
        does no disk GC — data drop is opt-in here."""
        with self._update() as state:
            self._topic(state, name)
            del state["topics"][name]
        self._replay(name).path.unlink(missing_ok=True)
        if drop_data:
            import shutil

            # serialize against an in-flight rewrite of this topic: take
            # the topic write lock (so no compactor is mid-swap) and the
            # swap guard (so no recovery interleaves). Without these, the
            # rmtree could delete a compactor's mid-swap backup out from
            # under it — or the compactor's second rename could resurrect
            # the "deleted" topic from its tmp directory.
            with file_lock(self.warehouse / ".locks" / f"{name}.lock"), file_lock(
                self.warehouse / ".swap.lock"
            ):
                shutil.rmtree(self.warehouse / name, ignore_errors=True)
                # a crash-recovery backup for this topic is now orphaned
                # data from a deleted namespace — drop it too, or a
                # re-created topic of the same name could "recover" the
                # old contents
                shutil.rmtree(
                    _swap_backup_path(self.warehouse / name),
                    ignore_errors=True,
                )

    def topic_exists(self, name: str) -> bool:
        return name in self._load()["topics"]

    def get_topic(self, name: str) -> TopicMetadata:
        return self._to_meta(name, self._topic(self._load(), name))

    def list_topics(self) -> list[str]:
        """getActiveTopics (InMemoryTopicMetadataRepository.java:57-63)."""
        return sorted(self._load()["topics"].keys())

    def partitions_for(self, name: str) -> list[int]:
        return self.get_topic(name).partition_ids()

    def create_partitions(self, name: str, new_total: int) -> TopicMetadata:
        """Kafka AdminClient.createPartitions analog: grow a topic to
        ``new_total`` partitions. Only increases are allowed (like Kafka —
        shrinking would orphan data). Existing partitions and their
        offsets are untouched; new partitions start empty at offset 0.

        Same caveat as Kafka: key->partition placement is hash(key) %
        num_partitions, so records keyed AFTER the grow may land on a
        different partition than records with the same key produced
        before it. Per-key ordering is only guaranteed within each epoch;
        compaction/materialization handle cross-partition keys by design
        (latest-wins is offset+partition based, not placement based).
        """
        if new_total < 1:
            raise ValidationError("new_total must be >= 1")
        with self._update() as state:
            cur = self._topic(state, name)["num_partitions"]
            if new_total <= cur:
                raise ValidationError(
                    f"new_total ({new_total}) must exceed current partition "
                    f"count ({cur}); Kafka topics cannot shrink"
                )
            state["topics"][name]["num_partitions"] = new_total
            for p in range(cur, new_total):
                (self.warehouse / name / f"partition={p}").mkdir(
                    parents=True, exist_ok=True
                )
            return self._to_meta(name, state["topics"][name])

    def set_topic_config(self, name: str, key: str, value: str) -> None:
        """Kafka alterConfigs analog: set one per-topic config entry
        (e.g. ``retention.ms``). Consumed by maintenance jobs like
        ``LogStore.apply_retention``."""
        with self._update() as state:
            self._topic(state, name).setdefault("configs", {})[str(key)] = str(
                value
            )

    # -- hwm maintenance (called by LogStore under the ingest lock) --------
    def advance_hwm(
        self,
        name: str,
        new_next_offsets: dict[int, int],
        batch_id: str | None = None,
    ) -> None:
        """Advance the high-water marks; with ``batch_id``, record the
        batch as the topic's latest committed one IN THE SAME atomic
        catalog save — this is the commit point of the idempotent-produce
        protocol (LogStore.append). A crash before this save leaves
        neither the hwm advance nor the batch marker; a crash after leaves
        both. The id it displaces is appended to the topic's replay file
        first, under the catalog lock: a crash between the two writes
        leaves that id in both places (harmless) and the new batch
        uncommitted, so its retry takes the intent path."""
        with self._update() as state:
            topic = self._topic(state, name)
            hwm = topic.setdefault("hwm", {})
            for p, nxt in new_next_offsets.items():
                hwm[str(p)] = max(int(hwm.get(str(p), 0)), int(nxt))
            if batch_id is not None:
                prev = topic.get("last_batch")
                if prev is not None:
                    with self._replay(name).update() as replay:
                        replay["ids"].append(prev)
                        del replay["ids"][:-_MAX_COMMITTED_BATCHES]  # FIFO
                topic["last_batch"] = str(batch_id)

    def batch_committed(self, name: str, batch_id: str) -> bool:
        """True iff ``batch_id`` was committed to ``name`` by a prior
        :meth:`advance_hwm` (the replay-detection read of the idempotent
        produce protocol): the latest id, else one in the replay file."""
        batch_id = str(batch_id)
        if self._topic(self._load(), name).get("last_batch") == batch_id:
            return True
        return batch_id in self._replay(name).read()["ids"]
