"""Transactions: Kafka-style exactly-once produce with read-committed reads.

The reference has no transactions (its producer can even DROP a batch after
3 retries, FluxProducer.java:229-233); this module adds the Kafka EOS
protocol surface the reference's design points toward, re-expressed for
Spark's commit model:

* **Transactional id + epoch fencing** — ``LogStore.init_transactions(tid)``
  is InitProducerId: it bumps the id's epoch, aborts any in-flight
  transaction from the previous incarnation, and returns a session whose
  every operation re-checks the epoch (a "zombie" pre-fence session raises
  :class:`ProducerFencedError` instead of corrupting the log).
* **Transactional append** — records written inside a transaction go through
  the normal produce path (`LogStore.append`), occupy real offsets, and
  advance the high-water mark immediately — exactly like Kafka, where
  aborted records still consume offsets and are skipped, not erased.
  The (topic, partition, first_offset, last_offset) ranges of each append
  are recorded in the transaction log.
* **Commit / abort markers** — a driver-side transaction log
  (``warehouse/_txns.json``, a ``LockedJson`` like the catalog) plays the
  role of Kafka's __transaction_state topic + per-segment aborted-txn index.
* **read_committed** — ``LogStore.read(topic, read_committed=True)`` hides
  every offset range belonging to a transaction that is not committed
  (in-flight or aborted). The exclusion list is driver-side metadata of
  size O(#non-committed transactional appends) — tiny relative to data —
  so it compiles to plain offset-range predicates that push down to the
  parquet scan (rowgroup min/max skipping), never a join. At 100 TB this
  is the same shape as Kafka's aborted-transaction index lookup: metadata
  consulted once per scan, zero extra passes over data.

Scale note: the transaction log grows with the number of *aborted/in-flight*
transactions only as far as readers care; ``TxnLog.forget_committed`` drops
committed entries (their ranges are never consulted), mirroring Kafka's
LSO advancing past completed transactions.
"""

from __future__ import annotations

import os
from pathlib import Path

from .catalog import LockedJson
from .errors import FluxError

_TXN_FILE = "_txns.json"


class ProducerFencedError(FluxError):
    """A newer session with the same transactional id was initialized;
    this producer is a zombie and must stop (Kafka's ProducerFencedException
    analog)."""


class InvalidTransactionStateError(FluxError):
    """Operation illegal in the transaction's current state (e.g. send
    outside begin, double commit of an aborted transaction)."""


class TxnLog:
    """Persistent transaction state, one JSON file per warehouse.

    Shape::

        {"ids": {tid: {"epoch": N, "seq": K}},
         "txns": {"tid#k": {"status": "ongoing|committed|aborted",
                             "ranges": [[topic, partition, first, last], ...]}}}
    """

    def __init__(self, warehouse: str | os.PathLike):
        self.warehouse = Path(warehouse)
        self.warehouse.mkdir(parents=True, exist_ok=True)
        self._file = LockedJson(
            self.warehouse / _TXN_FILE,
            self.warehouse / ".txns.lock",
            lambda: {"ids": {}, "txns": {}},
        )

    def _load(self) -> dict:
        return self._file.read()

    # -- InitProducerId ------------------------------------------------
    def init_id(self, tid: str) -> int:
        """Bump the transactional id's epoch; abort its in-flight txn
        (zombie fencing — the old incarnation's unfinished work becomes
        permanently invisible to read_committed)."""
        with self._file.update() as state:
            ent = state["ids"].setdefault(tid, {"epoch": 0, "seq": 0})
            ent["epoch"] += 1
            for key, txn in state["txns"].items():
                if key.startswith(f"{tid}#") and txn["status"] == "ongoing":
                    txn["status"] = "aborted"
            return ent["epoch"]

    def current_epoch(self, tid: str) -> int:
        return self._load()["ids"].get(tid, {}).get("epoch", 0)

    # -- per-transaction lifecycle -------------------------------------
    def begin(self, tid: str, epoch: int) -> str:
        with self._file.update() as state:
            self._check_epoch(state, tid, epoch)
            ent = state["ids"][tid]
            for key, txn in state["txns"].items():
                if key.startswith(f"{tid}#") and txn["status"] == "ongoing":
                    raise InvalidTransactionStateError(
                        f"transactional id {tid!r} already has an ongoing "
                        f"transaction ({key})"
                    )
            ent["seq"] += 1
            key = f"{tid}#{ent['seq']}"
            state["txns"][key] = {"status": "ongoing", "ranges": []}
            return key

    def add_ranges(
        self, tid: str, epoch: int, key: str, ranges: list[tuple[str, int, int, int]]
    ) -> None:
        with self._file.update() as state:
            self._check_epoch(state, tid, epoch)
            txn = self._ongoing(state, key)
            txn["ranges"].extend([list(r) for r in ranges])

    def add_offsets(
        self,
        tid: str,
        epoch: int,
        key: str,
        group_id: str,
        offsets: dict[tuple[str, int], int],
    ) -> None:
        """Attach consumer-group offsets to an ongoing transaction
        (sendOffsetsToTransaction): they become durable txn metadata now
        and are applied to the offsets table only when the transaction
        commits. Re-sending for the same (group, topic, partition)
        overwrites — last call wins, like Kafka."""
        with self._file.update() as state:
            self._check_epoch(state, tid, epoch)
            txn = self._ongoing(state, key)
            rows = txn.setdefault("offsets", [])
            index = {
                (r[0], r[1], int(r[2])): i
                for i, r in enumerate(rows)
            }
            for (t, p), off in offsets.items():
                k = (group_id, t, int(p))
                row = [group_id, t, int(p), int(off)]
                if k in index:
                    rows[index[k]] = row
                else:
                    rows.append(row)

    def pending_committed_offsets(self) -> list[tuple[str, list]]:
        """(txn key, offset rows) for committed transactions whose
        offsets have not been applied to the offsets table yet — the
        recovery worklist for a crash between the commit marker and the
        offsets-table write."""
        state = self._load()
        return [
            (key, txn["offsets"])
            for key, txn in state["txns"].items()
            if txn["status"] == "committed"
            and txn.get("offsets")
            and not txn.get("offsets_applied")
        ]

    def mark_offsets_applied(self, key: str) -> None:
        with self._file.update() as state:
            txn = state["txns"].get(key)
            if txn is not None and not txn.get("offsets_applied"):
                txn["offsets_applied"] = True

    def finish(self, tid: str, epoch: int, key: str, status: str) -> None:
        assert status in ("committed", "aborted")
        with self._file.update() as state:
            self._check_epoch(state, tid, epoch)
            txn = state["txns"].get(key)
            if txn is None:
                raise InvalidTransactionStateError(f"unknown transaction {key!r}")
            if txn["status"] == status:  # idempotent re-finish
                return
            if txn["status"] != "ongoing":
                raise InvalidTransactionStateError(
                    f"transaction {key} is already {txn['status']}"
                )
            txn["status"] = status

    def _check_epoch(self, state: dict, tid: str, epoch: int) -> None:
        cur = state["ids"].get(tid, {}).get("epoch", 0)
        if epoch != cur:
            raise ProducerFencedError(
                f"transactional id {tid!r}: session epoch {epoch} fenced by "
                f"newer epoch {cur}"
            )

    @staticmethod
    def _ongoing(state: dict, key: str) -> dict:
        txn = state["txns"].get(key)
        if txn is None or txn["status"] != "ongoing":
            raise InvalidTransactionStateError(
                f"transaction {key!r} is not ongoing"
            )
        return txn

    # -- reader side ---------------------------------------------------
    def non_committed_ranges(self, topic: str) -> list[tuple[int, int, int]]:
        """(partition, first, last) offset ranges a read_committed scan of
        ``topic`` must hide: every range of every non-committed txn."""
        state = self._load()
        out: list[tuple[int, int, int]] = []
        for txn in state["txns"].values():
            if txn["status"] == "committed":
                continue
            for t, p, first, last in txn["ranges"]:
                if t == topic:
                    out.append((int(p), int(first), int(last)))
        return out

    def forget_committed(self) -> int:
        """GC committed transactions (their ranges are never consulted);
        returns the number dropped. Kafka analog: LSO moving past completed
        transactions lets the aborted-txn index stay small."""
        with self._file.update() as state:
            done = [
                k
                for k, t in state["txns"].items()
                if t["status"] == "committed"
                # never GC a committed txn whose offsets haven't reached
                # the offsets table — it is the recovery record
                and (not t.get("offsets") or t.get("offsets_applied"))
            ]
            for k in done:
                del state["txns"][k]
            return len(done)


class TransactionalSession:
    """One incarnation of a transactional producer id.

    Usage::

        session = store.init_transactions("order-loader")
        session.begin()
        session.send("orders", df1)
        session.send("audit", df2)     # atomic across topics
        session.commit()               # or session.abort()
    """

    def __init__(self, store, tid: str, epoch: int):
        self._store = store
        self.transactional_id = tid
        self.epoch = epoch
        self._current: str | None = None

    def begin(self) -> None:
        self._current = self._store.txn_log.begin(self.transactional_id, self.epoch)

    def send(
        self, topic: str, df, ordering_col: str | None = None
    ) -> dict[int, tuple[int, int]]:
        if self._current is None:
            raise InvalidTransactionStateError("send outside begin()")
        # Fencing is checked before AND after the append: the pre-check
        # rejects cheaply, the post-check (inside add_ranges) guarantees a
        # zombie fenced mid-append still fails before its txn could commit.
        self._store.txn_log._check_epoch(
            self._store.txn_log._load(), self.transactional_id, self.epoch
        )
        stats = self._store.append(topic, df, ordering_col=ordering_col)
        ranges = [(topic, p, first, last) for p, (first, last) in stats.items()]
        self._store.txn_log.add_ranges(
            self.transactional_id, self.epoch, self._current, ranges
        )
        return stats

    def send_offsets_to_transaction(
        self, group_id: str, offsets: dict[tuple[str, int], int]
    ) -> None:
        """Kafka's sendOffsetsToTransaction: bind consumer progress to
        this transaction's fate. The offsets reach the ``_offsets`` table
        only if the transaction commits — an aborted attempt leaves the
        group's resume position untouched, so the consume-transform-
        produce loop re-reads exactly the batch whose output was hidden.
        This is the EOS pipeline primitive: output records and input
        progress succeed or fail as one unit."""
        if self._current is None:
            raise InvalidTransactionStateError("send_offsets outside begin()")
        self._store.txn_log.add_offsets(
            self.transactional_id,
            self.epoch,
            self._current,
            group_id,
            offsets,
        )

    def commit(self) -> None:
        if self._current is None:
            raise InvalidTransactionStateError("commit outside begin()")
        self._store.txn_log.finish(
            self.transactional_id, self.epoch, self._current, "committed"
        )
        self._current = None
        # apply any txn-bound consumer offsets now that the commit marker
        # is durable; a crash before this line is healed by the
        # pending_committed_offsets recovery sweep (LogStore init /
        # explicit apply_txn_offsets) — the txn log entry is retained
        # until applied
        self._store.apply_txn_offsets()

    def abort(self) -> None:
        if self._current is None:
            raise InvalidTransactionStateError("abort outside begin()")
        self._store.txn_log.finish(
            self.transactional_id, self.epoch, self._current, "aborted"
        )
        self._current = None
