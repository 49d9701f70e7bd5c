"""The workloads: ``log_tail`` and ``lake_queries``.

Each workload runs fixed-size units of work (an episode, a pass) on fresh
state, at least three and more while the run's seconds last, checks every
output, and returns its end-to-end figures. The first unit of a run primes the JVM (class loading,
JIT, code generation, Python workers) and is checked but not timed. Units
are repeated, never enlarged, so the figures of one unit do not depend on
how fast the units before it ran.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from spans import Tracer
from stats import median, min_samples_for, percentile

TAIL_PARTITIONS = 3
SMALL_BATCH = 10  # records per ordinary round trip
BURST_BATCH = 2_500  # above fast_path_max (2,000): Spark append + Spark poll
# One episode on a fresh warehouse: 70 round trips, the last a burst, one
# commit half way (about Kafka's 5 s auto-commit interval at this round-trip
# rate), then a fresh group's catch-up poll and a streaming drain of the
# topic. One untimed episode primes the JVM; at least three timed episodes
# follow (207 small round trips; a p95 needs 200 for ten samples beyond it,
# and each phase's median needs more than two episodes to drop a slow one).
EPISODE_RTS = 70
MIN_EPISODES = 3
MAX_POLLS = 50  # polls per round trip before it counts as failed
_HASH_MOD = 2_147_483_647  # row hashes are summed modulo this prime

# A fixed subset of the registry, sized so that a run fits the benchmark's
# time budget: the rolling-distinct, bucketed-join and basket/pair-build
# lanes on the Catalyst side, the grid-kernel (auto-K, LSH, IVF) consumers
# on the Python-worker side.
ANALYTICS = [
    "q1_pricing_summary",
    "events_rolling_distinct_7d",
    "orders_bucketed_join",
    "orders_association_rules",
]
LLM = [
    "emb_near_dup_lsh_auto",
    "emb_knn_label_vote_ivf_auto",
]
# passes a run times at least: the first pass after the priming one is still
# warming up, so a per-query median needs three
MIN_PASSES = 3
HERE = os.path.dirname(os.path.abspath(__file__))
# the repository's sf0.01 test tables the queries above read (lineitem,
# orders, events, embeddings), kept with the benchmark
LAKE_DIR = os.path.join(HERE, "lake")
EXPECTED_LAKE = os.path.join(HERE, "expected_lake.json")


@dataclass
class Ctx:
    """State of one benchmark run."""

    work: str  # scratch directory inside the checkout
    seed: int
    seconds: float
    cores: int
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # layer counters taken outside any span (file counts)
    notes: dict = field(default_factory=dict)

    def op(self, ok: bool, what: str) -> None:
        """Count one operation; a failed or wrong one is recorded."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def span(self, name: str, spark_label: bool = False):
        if self.tracer is None:
            return _NullSpan()
        return self.tracer.span(name, spark_label)

    def unchecked(self):
        """Block in which the tracer records nothing (output checks)."""
        return _Suspend(self.tracer)

    def note(self, key: str, value: float) -> None:
        if self.tracer is not None:
            self.notes.setdefault(key, []).append(value)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


class _Suspend:
    def __init__(self, tracer):
        self.tracer = tracer

    def __enter__(self):
        if self.tracer is not None:
            self.tracer.active = False

    def __exit__(self, *exc):
        if self.tracer is not None:
            self.tracer.active = True
        return False


def _count_files(directory: str) -> int:
    if not os.path.isdir(directory):
        return 0
    return sum(
        1
        for _root, _dirs, files in os.walk(directory)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _row_hash(df):
    """Order-independent (rows, hash-sum) aggregates over every column."""
    from pyspark.sql import functions as F

    cols = [
        F.to_json(F.struct(F.col(f"`{f.name}`"))) if "map<" in f.dataType.simpleString()
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD))).alias("hash"),
    ]


def warm_up(ctx: Ctx, spark, rep: int) -> None:
    """Part of the timed set-up, the same on every workload: one fast-lane
    round trip on a throwaway warehouse (driver-side produce and poll) and
    one small Spark job with a shuffle (task launch and code generation)."""
    from pyspark.sql import functions as F

    from flux_spark import FluxConsumer, FluxProducer, LogStore

    store = LogStore(spark, ctx.path(f"warm{rep}"))
    store.catalog.create_topic("warm", TAIL_PARTITIONS)
    prod = FluxProducer(store)
    cons = FluxConsumer(store, "warm")
    cons.subscribe(["warm"])
    for i in range(SMALL_BATCH):
        prod.send("warm", value=f"w{i}", key=f"key-{i}")
    prod.flush()
    if cons.poll().count != SMALL_BATCH:
        raise RuntimeError("warm-up poll did not return the records just sent")
    rows = spark.range(1_000).groupBy((F.col("id") % 3).alias("k")).agg(F.sum("id").alias("s")).collect()
    if sum(r["s"] for r in rows) != 1_000 * 999 // 2:
        raise RuntimeError("warm-up Spark job returned a wrong sum")


# -- log_tail ----------------------------------------------------------------


class LogTail:
    def __init__(self):
        self.small_ms: list[float] = []
        self.burst_ms: list[float] = []
        self.commit_ms: list[float] = []
        self.ingest_rps: list[float] = []  # burst: first send to flush return
        self.loop_s = 0.0  # round trips and commits of the timed episodes
        # per timed episode: the small round trips' summed time, the catch-up
        # and the drain (the burst and the commit are in burst_ms, commit_ms)
        self.small_s: list[float] = []
        self.catchup_s: list[float] = []
        self.drain_s: list[float] = []
        self.records = 0  # records delivered by the timed round trips
        self.sent = 0  # records in one episode's topic

    def prime(self, ctx: Ctx, spark) -> None:
        self._episode(ctx, spark, 0, timed=False)

    def measure(self, ctx: Ctx, spark) -> None:
        t0 = time.perf_counter()
        episode = 1
        while episode <= MIN_EPISODES or time.perf_counter() - t0 < ctx.seconds:
            self._episode(ctx, spark, episode, timed=True)
            episode += 1

    def _episode(self, ctx: Ctx, spark, episode: int, timed: bool) -> None:
        from flux_spark import FluxConsumer, FluxProducer, LogStore
        from flux_spark.murmur2 import partition_for_key

        sizes = [BURST_BATCH if rt == EPISODE_RTS - 1 else SMALL_BATCH for rt in range(EPISODE_RTS)]
        batches = gen.tail_batches(ctx.seed * 1_000 + episode, sizes)
        warehouse = ctx.path(f"tail{episode}")
        store = LogStore(spark, warehouse)
        topic = "tail"
        store.catalog.create_topic(topic, TAIL_PARTITIONS)
        prod = FluxProducer(store)
        cons = FluxConsumer(store, f"tail-group-{episode}")
        cons.subscribe([topic])
        next_offset = dict.fromkeys(range(TAIL_PARTITIONS), 0)
        small, burst, commit, ingest = [], [], [], []
        records = 0

        for rt, batch in enumerate(batches):
            if ctx.tracer is not None:
                ctx.tracer.rt = episode * EPISODE_RTS + rt
            got: list[dict] = []
            polls = 0
            t = time.perf_counter()
            with ctx.span("tail.round_trip"):
                for key, value in batch:
                    prod.send(topic, value=value, key=key)
                prod.flush()
                flushed = time.perf_counter()
                while len(got) < len(batch) and polls < MAX_POLLS:
                    polls += 1
                    with ctx.span("tail.poll"):
                        res = cons.poll()
                        if res.rows is not None:
                            rows = res.rows
                        else:
                            rows = [
                                r.asDict()
                                for r in res.records.select("partition", "offset", "key", "value").collect()
                            ]
                    got.extend(rows)
            ms = (time.perf_counter() - t) * 1000.0
            with ctx.unchecked():
                ok = _check_delivery(batch, got, next_offset, partition_for_key)
            ctx.op(ok, f"log_tail episode {episode} round trip {rt}: delivery check failed")
            if len(batch) > SMALL_BATCH:
                burst.append(ms)
                ingest.append(len(batch) / (flushed - t))
            else:
                small.append(ms)
            records += len(got) if ok else 0
            if rt == EPISODE_RTS // 2:
                t = time.perf_counter()
                cons.commit_offsets()
                commit.append((time.perf_counter() - t) * 1000.0)
                # the episode's only commit: the offsets table holds exactly
                # the delivered positions
                rows = pq.read_table(os.path.join(warehouse, "_offsets")).to_pylist()
                committed = {(r["topic"], r["partition"]): r["offset"] for r in rows}
                ctx.op(
                    len(rows) == TAIL_PARTITIONS
                    and committed == {(topic, p): o for p, o in next_offset.items()},
                    f"log_tail episode {episode}: commit {committed} != {next_offset}",
                )
        if ctx.tracer is not None:
            ctx.tracer.rt = None
        files = [
            _count_files(os.path.join(warehouse, topic, f"partition={p}")) for p in range(TAIL_PARTITIONS)
        ]
        sent = self.sent = sum(sizes)
        catchup_s, drain_s = self._read_back(ctx, spark, store, topic, sent, episode)
        if timed:
            loop_s = (sum(small) + sum(burst) + sum(commit)) / 1000.0
            self.small_ms += small
            self.burst_ms += burst
            self.commit_ms += commit
            self.ingest_rps += ingest
            self.small_s.append(sum(small) / 1000.0)
            self.catchup_s.append(catchup_s)
            self.drain_s.append(drain_s)
            self.loop_s += loop_s
            self.records += records
            ctx.note("segment_files_per_partition", sum(files) / len(files))
            ctx.note("offsets_files", _count_files(os.path.join(warehouse, "_offsets")))
        # the next episode starts on a clean scratch directory (the traced
        # run first reads the footers its file counters need)
        if ctx.tracer is not None:
            ctx.tracer.count_useful_files()
        shutil.rmtree(warehouse)
        shutil.rmtree(ctx.path(f"drain{episode}"), ignore_errors=True)

    def _read_back(self, ctx: Ctx, spark, store, topic, sent: int, episode) -> tuple[float, float]:
        """A fresh group's catch-up poll (Spark lane, forced through the noop
        sink) and a streaming drain of the whole topic; returns their times.
        Every record was already checked on delivery, so the two reads must
        return all of them: the same count and (key, value) hash sum, and
        offsets 0..hwm-1 in each partition."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from flux_spark import FluxConsumer, streaming

        obs = Observation()
        t0 = time.perf_counter()
        with ctx.span("tail.catchup"):
            cons = FluxConsumer(store, f"catchup-{episode}")
            cons.subscribe([topic])
            res = cons.poll()
            per_part = []
            for p in range(TAIL_PARTITIONS):
                off = F.when(F.col("partition") == p, F.col("offset"))
                per_part += [
                    F.count(off).alias(f"n{p}"),
                    F.min(off).alias(f"lo{p}"),
                    F.max(off).alias(f"hi{p}"),
                    F.sum(off).alias(f"sum{p}"),
                ]
            records = res.records
            checked = records.observe(obs, *_row_hash(records.select("key", "value")), *per_part)
            with ctx.span("log.read.scan", spark_label=True):
                checked.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        drained = streaming.drain_available_now(
            streaming.stream_topic(store, topic), checkpoint=ctx.path(f"drain{episode}")
        )
        t2 = time.perf_counter()

        ctx.note("drain_files", _count_files(store.topic_path(topic)))
        with ctx.unchecked():
            got = obs.get
            hwm = store.catalog.get_topic(topic).hwm
            ctx.op(got["rows"] == sent, f"log_tail episode {episode}: catch-up read {got['rows']} of {sent}")
            gap_free = sum(hwm.values()) == sent and all(
                got[f"n{p}"] == n and got[f"lo{p}"] == 0 and got[f"hi{p}"] == n - 1
                and got[f"sum{p}"] == n * (n - 1) // 2
                for p, n in hwm.items()
            )
            ctx.op(gap_free, f"log_tail episode {episode}: offsets not 0..hwm-1 per partition ({hwm})")
            d = drained.agg(*_row_hash(drained.select("key", "value"))).first()
            ctx.op(
                (d["rows"], d["hash"]) == (got["rows"], got["hash"]),
                f"log_tail episode {episode}: drain (rows, hash) {d['rows']}, {d['hash']}"
                f" != catch-up {got['rows']}, {got['hash']}",
            )
        return t1 - t0, t2 - t1

    def end_to_end(self, ctx: Ctx) -> dict:
        # MIN_EPISODES guarantees the sample a p95 needs
        assert len(self.small_ms) >= min_samples_for(95.0)
        return {
            "tail_p50_ms": (median(self.small_ms), "ms"),
            "tail_p95_ms": (percentile(self.small_ms, 95.0), "ms"),
            "burst_p50_ms": (median(self.burst_ms), "ms"),
            "tail_records_per_s": (self.records / self.loop_s, "1/s"),
            "commit_p50_ms": (median(self.commit_ms), "ms"),
            "ingest_records_per_s": (median(self.ingest_rps), "1/s"),
            "catchup_records_per_s": (self.sent / median(self.catchup_s), "1/s"),
            "stream_records_per_s": (self.sent / median(self.drain_s), "1/s"),
            "small_samples": (len(self.small_ms), "count"),
            # an episode's time, phase by phase: the median of each phase
            # over the run's episodes, so one slow Spark job in one episode
            # does not set the figure
            "unit_s": (
                median(self.small_s)
                + (median(self.burst_ms) + median(self.commit_ms)) / 1000.0
                + median(self.catchup_s)
                + median(self.drain_s),
                "s",
            ),
            "op_p50_ms": (median(self.small_ms), "ms"),
        }


def _check_delivery(batch, got, next_offset, partition_for_key) -> bool:
    """Exactly-once, gap-free, in send order, on the key's partition."""
    if len(got) != len(batch):
        return False
    sent: dict[int, list[tuple[str, str]]] = {}
    for key, value in batch:
        sent.setdefault(partition_for_key(key, TAIL_PARTITIONS), []).append((key, value))
    recv: dict[int, list[dict]] = {}
    for r in got:
        recv.setdefault(int(r["partition"]), []).append(r)
    if set(sent) != set(recv):
        return False
    for p, rows in recv.items():
        rows.sort(key=lambda r: r["offset"])
        first = next_offset[p]
        if [r["offset"] for r in rows] != list(range(first, first + len(rows))):
            return False
        if [(r["key"], r["value"]) for r in rows] != sent[p]:
            return False
        next_offset[p] = first + len(rows)
    return True


# -- lake_queries --------------------------------------------------------------


class LakeQueries:
    def __init__(self, capture: bool = False):
        self.capture = capture  # record outputs instead of checking them
        self.query_s: dict[str, list[float]] = {}
        self.pass_s: dict[str, list[float]] = {"analytics": [], "llm": []}
        self.records = 0  # no log records
        self.captured: dict = {}

    def prime(self, ctx: Ctx, spark) -> None:
        self.expected = _load_expected()
        self.order = [("analytics", q) for q in ANALYTICS] + [("llm", q) for q in LLM]
        self.rng = random.Random(ctx.seed)
        self.rng.shuffle(self.order)
        self._pass(ctx, spark, timed=False)

    def measure(self, ctx: Ctx, spark) -> None:
        t0 = time.perf_counter()
        npass = 0
        while npass < MIN_PASSES or time.perf_counter() - t0 < ctx.seconds:
            self.rng.shuffle(self.order)
            self._pass(ctx, spark, timed=True)
            npass += 1

    def _pass(self, ctx: Ctx, spark, timed: bool) -> None:
        from pyspark.sql import Observation

        reg = _registries()
        totals = {"analytics": 0.0, "llm": 0.0}
        for lst, q in self.order:
            spark.catalog.clearCache()
            obs = Observation()
            t = time.perf_counter()
            with ctx.span(f"{lst}.{q}", spark_label=True):
                df = reg[lst][q].fn(spark, LAKE_DIR)
                df.observe(obs, *_row_hash(df)).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t
            got = {"rows": int(obs.get["rows"]), "hash": int(obs.get["hash"] or 0)}
            self.captured[q] = got
            ctx.op(
                self.capture or self.expected.get(q) == got,
                f"lake_queries {q}: {got} != expected {self.expected.get(q)}",
            )
            if timed:
                totals[lst] += dt
                self.query_s.setdefault(q, []).append(dt)
        if timed:
            for lst, s in totals.items():
                self.pass_s[lst].append(s)

    def end_to_end(self, ctx: Ctx) -> dict:
        per_query = [median(v) for v in self.query_s.values()]
        return {
            "analytics_s": (median(self.pass_s["analytics"]), "s"),
            "llm_s": (median(self.pass_s["llm"]), "s"),
            "passes": (len(self.pass_s["llm"]), "count"),
            "unit_s": (median(self.pass_s["analytics"]) + median(self.pass_s["llm"]), "s"),
            "op_p50_ms": (median(per_query) * 1000.0, "ms"),
        }


def _registries() -> dict:
    from flux_spark.analytics.queries import ANALYTICS_QUERIES
    from flux_spark.llm.queries import LLM_QUERIES

    return {"analytics": ANALYTICS_QUERIES, "llm": LLM_QUERIES}


def _load_expected() -> dict:
    if not os.path.exists(EXPECTED_LAKE):
        return {}
    with open(EXPECTED_LAKE) as f:
        return json.load(f)

