"""Span recorder for the traced run.

Wrappers go on the public functions of each ``flux_spark`` module, from the
benchmark's side only: nothing under ``flux_spark/`` changes. A span holds
name, start, end, parent and (on ``log_tail``) the round-trip id. Spans stay
in memory and are written out when the run ends.

Spans that can launch Spark jobs also set ``spark.job.description`` to the
span name for their duration, so the event-log reader can attribute each
task to the layer that caused it.
"""

from __future__ import annotations

import bisect
import functools
import json
import time
from collections import Counter
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    rt: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span and counter store plus the wrappers that fill it."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counters: Counter = Counter()
        self.rt: int | None = None  # current round trip, set by the workload
        self.active = True  # output checks run with recording off
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._opened_files: list[str] = []  # footers opened by the current read_since
        self._tail_reads: list[tuple[Span, list[str], list[int]]] = []

    # -- spans -------------------------------------------------------------
    def _open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, time.time(), 0.0, parent, self.rt)
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()

    def span(self, name: str, spark_label: bool = False):
        """Context manager recording one span around a block."""
        return _SpanCM(self, name, spark_label)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def self_ms(self) -> dict[int, float]:
        """Per span: its duration minus the part its children cover."""
        kids = self.children()
        out = {}
        for sp in self.spans:
            covered = _union_length(
                [(max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.id, [])]
            )
            out[sp.id] = max(0.0, (sp.end - sp.start) - covered) * 1000.0
        return out

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")

    # -- wrappers ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, spark_label: bool = False, on_exit=None):
        """Replace ``owner.attr`` by a function that records a span around
        each call. ``on_exit(span, args, kwargs, result)`` may add attrs."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with _SpanCM(tracer, name, spark_label) as sp:
                result = orig(*args, **kwargs)
                if on_exit is not None:
                    on_exit(sp, args, kwargs, result)
                return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def install_flux(self) -> None:
        """Wrap the public functions of every measured flux_spark module."""
        import importlib

        import pyarrow.parquet as pq

        from flux_spark.consumer import FluxConsumer
        from flux_spark.log import LogStore
        from flux_spark.producer import FluxProducer

        # the package re-exports a function named murmur2: go by module path
        catalog, murmur2, streaming = (
            importlib.import_module(f"flux_spark.{m}") for m in ("catalog", "murmur2", "streaming")
        )

        self.wrap(FluxProducer, "send", "producer.send")
        self.wrap(FluxProducer, "flush", "producer.flush", spark_label=True)
        for fn in ("topic_exists", "get_topic", "advance_hwm"):
            self.wrap(catalog.Catalog, fn, f"catalog.{fn}")
        self.wrap(LogStore, "high_water_marks", "catalog.high_water_marks")
        self.patch(catalog, "file_lock", _timed_lock(self, catalog.file_lock))
        # append_rows imports partition_for_key from the module at call time
        self.wrap(murmur2, "partition_for_key", "murmur2.partition_for_key")
        self.wrap(LogStore, "append_rows", "log.append_rows")
        self.wrap(LogStore, "append", "log.append", spark_label=True)
        self.wrap(LogStore, "read", "log.read")
        self.wrap(LogStore, "read_since", "log.read_since", on_exit=self._read_since_exit)
        self.wrap(FluxConsumer, "poll", "consumer.poll", spark_label=True, on_exit=_poll_exit)
        self.wrap(FluxConsumer, "commit_offsets", "consumer.commit_offsets", spark_label=True)
        self.wrap(streaming, "drain_available_now", "streaming.drain", spark_label=True)
        # read_since opens footers through pq.ParquetFile (looked up at call
        # time); count them to derive files opened and useful per call
        self.patch(pq, "ParquetFile", _counting_parquet_file(self, pq.ParquetFile))

    def _read_since_exit(self, sp: Span, args, kwargs, result) -> None:
        opened, self._opened_files = self._opened_files, []
        sp.attrs["files_opened"] = len(opened)
        sp.attrs["records"] = len(result)
        self._tail_reads.append((sp, opened, [r["offset"] for r in result]))

    def count_useful_files(self) -> None:
        """Set ``files_useful`` on every ``log.read_since`` span: the opened
        files whose offset range holds a record the call returned. Run after
        the measurement (segment files never change once written), so the
        footer re-reads stay out of the spans."""
        import pyarrow.parquet as pq

        ranges: dict[str, tuple[int, int] | None] = {}
        for sp, opened, offsets in self._tail_reads:
            offsets.sort()
            useful = 0
            for path in opened:
                if path not in ranges:
                    ranges[path] = offset_range(pq.read_metadata(path))
                useful += _holds_any(ranges[path], offsets)
            sp.attrs["files_useful"] = useful
        self._tail_reads = []


class _SpanCM:
    def __init__(self, tracer: Tracer, name: str, spark_label: bool):
        self.tracer, self.name, self.spark_label = tracer, name, spark_label
        self.sc = None
        self.prev = None

    def __enter__(self) -> Span:
        if self.spark_label:
            from pyspark import SparkContext

            self.sc = SparkContext._active_spark_context
            if self.sc is not None:
                self.prev = self.sc.getLocalProperty("spark.job.description")
                self.sc.setLocalProperty("spark.job.description", self.name)
                self.tracer.counters["trace.labelled"] += 1
        self.sp = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc) -> bool:
        self.tracer._close(self.sp)
        if self.sc is not None:
            self.sc.setLocalProperty("spark.job.description", self.prev)
        return False


def _poll_exit(sp: Span, args, kwargs, result) -> None:
    sp.attrs["lane"] = "fast" if result.rows is not None else "spark"
    sp.attrs["records"] = result.count


def _timed_lock(tracer: Tracer, orig):
    """``file_lock`` twin that adds the time spent acquiring to a counter."""

    class _Lock:
        def __init__(self, path):
            self.cm = orig(path)

        def __enter__(self):
            t0 = time.perf_counter()
            out = self.cm.__enter__()
            if tracer.active:
                tracer.counters["catalog.file_lock.wait_ms"] += (time.perf_counter() - t0) * 1000.0
                tracer.counters["catalog.file_lock.acquires"] += 1
            return out

        def __exit__(self, *exc):
            return self.cm.__exit__(*exc)

    return _Lock


def _counting_parquet_file(tracer: Tracer, base):
    class CountingParquetFile(base):
        def __init__(self, source, *args, **kwargs):
            super().__init__(source, *args, **kwargs)
            if tracer._stack and tracer._stack[-1].name == "log.read_since":
                tracer._opened_files.append(source)

    return CountingParquetFile


def offset_range(md) -> tuple[int, int] | None:
    """(min, max) of the ``offset`` column over a file's row groups, from
    its footer metadata; None when a row group has no statistics."""
    lo = hi = None
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        st = None
        for ci in range(rgm.num_columns):
            col = rgm.column(ci)
            if col.path_in_schema == "offset":
                st = col.statistics
                break
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _holds_any(rng: tuple[int, int] | None, sorted_offsets: list[int]) -> bool:
    if rng is None:
        return False
    i = bisect.bisect_left(sorted_offsets, rng[0])
    return i < len(sorted_offsets) and sorted_offsets[i] <= rng[1]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def wrapper_cost_us(calls: int = 20_000) -> float:
    """Measured cost of one span wrapper around an empty function, in µs:
    multiplied by the span count it estimates the tracing overhead."""

    class _Box:
        @staticmethod
        def noop():
            return None

    tracer = Tracer()
    t0 = time.perf_counter()
    for _ in range(calls):
        _Box.noop()
    bare = time.perf_counter() - t0
    tracer.wrap(_Box, "noop", "calibrate")
    t0 = time.perf_counter()
    for _ in range(calls):
        _Box.noop()
    wrapped = time.perf_counter() - t0
    tracer.uninstall()
    return max(0.0, wrapped - bare) / calls * 1e6
