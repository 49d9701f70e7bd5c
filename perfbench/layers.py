"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Every metric is computed on every workload; a layer a workload does not
use reads 0. Times are milliseconds, ``_p50`` a median over calls.
"""

from __future__ import annotations

import eventlog
from stats import median

_CATALOG_READS = ("catalog.topic_exists", "catalog.get_topic", "catalog.high_water_marks")
_SPARK_MODULES = ("producer", "log", "consumer", "streaming", "analytics", "llm")


def _p50(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(ctx, wl, event_dir, t_start, t_end, wrapper_us, label_us) -> dict:
    tr = ctx.tracer
    spans = tr.spans
    kids = tr.children()
    by = {}
    for sp in spans:
        by.setdefault(sp.name, []).append(sp)

    def ms(name):
        return [sp.ms for sp in by.get(name, [])]

    def per_rt_sum(name):
        sums: dict[int, float] = {}
        for sp in by.get(name, []):
            if sp.rt is not None:
                sums[sp.rt] = sums.get(sp.rt, 0.0) + sp.ms
        return _p50(sums.values())

    out: dict[str, tuple[float, str]] = {}
    records = wl.records

    # producer
    flushes = by.get("producer.flush", [])
    fast_flushes = sum(
        1 for sp in flushes if any(c.name == "log.append_rows" for c in kids.get(sp.id, []))
    )
    out["producer.send.ms"] = (per_rt_sum("producer.send"), "ms")
    out["producer.flush.ms_p50"] = (_p50(ms("producer.flush")), "ms")
    out["producer.flush.fast_lane_ratio"] = (_ratio(fast_flushes, len(flushes)), "ratio")

    # catalog
    reads = sum(len(by.get(n, [])) for n in _CATALOG_READS)
    out["catalog.calls_per_record"] = (_ratio(reads, records), "count")
    out["catalog.advance_hwm.ms_p50"] = (_p50(ms("catalog.advance_hwm")), "ms")
    out["catalog.file_lock.wait_ms"] = (
        _ratio(tr.counters["catalog.file_lock.wait_ms"], tr.counters["catalog.file_lock.acquires"]),
        "ms",
    )

    # murmur2
    out["murmur2.partition_for_key.calls"] = (len(by.get("murmur2.partition_for_key", [])), "count")
    out["murmur2.partition_for_key.ms"] = (per_rt_sum("murmur2.partition_for_key"), "ms")

    # log
    tr.count_useful_files()
    rs = by.get("log.read_since", [])
    opened = sum(sp.attrs.get("files_opened", 0) for sp in rs)
    useful = sum(sp.attrs.get("files_useful", 0) for sp in rs)
    out["log.append_rows.ms_p50"] = (_p50(ms("log.append_rows")), "ms")
    out["log.read_since.ms_p50"] = (_p50(ms("log.read_since")), "ms")
    out["log.read_since.files_opened_per_call"] = (_ratio(opened, len(rs)), "count")
    out["log.read_since.useful_file_ratio"] = (_ratio(useful, opened), "ratio")
    seg = ctx.notes.get("segment_files_per_partition", [])
    out["log.segment_files_per_partition"] = (_ratio(sum(seg), len(seg)), "count")
    out["log.append.ms"] = (_p50(ms("log.append")), "ms")

    # consumer
    polls = by.get("tail.poll", [])
    lanes = {"fast": [], "spark": []}
    for sp in polls:
        inner = [c for c in kids.get(sp.id, []) if c.name == "consumer.poll"]
        if inner and inner[0].attrs.get("records"):
            lanes[inner[0].attrs["lane"]].append(sp.ms)
    all_polls = by.get("consumer.poll", [])
    fast_polls = sum(1 for sp in all_polls if sp.attrs.get("lane") == "fast")
    out["consumer.poll.fast_ms_p50"] = (_p50(lanes["fast"]), "ms")
    out["consumer.poll.spark_ms_p50"] = (_p50(lanes["spark"]), "ms")
    out["consumer.poll.fast_lane_ratio"] = (_ratio(fast_polls, len(all_polls)), "ratio")
    out["consumer.commit_offsets.ms_p50"] = (_p50(ms("consumer.commit_offsets")), "ms")
    offs = ctx.notes.get("offsets_files", [])
    out["consumer.offsets_files"] = (_ratio(sum(offs), len(offs)), "count")

    # streaming
    out["streaming.drain.ms"] = (_p50(ms("streaming.drain")), "ms")
    drains = ctx.notes.get("drain_files", [])
    out["streaming.files_listed"] = (_ratio(sum(drains), len(drains)), "count")

    # Spark totals from the event log
    log = eventlog.parse(eventlog.log_files(event_dir))
    per_span = eventlog.attribute(log, spans)
    n_append = len(by.get("log.append", []))
    app = per_span.get("log.append", {})
    out["log.append.write_tasks"] = (_ratio(app.get("tasks", 0), n_append), "count")
    out["log.append.shuffle_write_bytes"] = (_ratio(app.get("shuffle_write_bytes", 0), n_append), "bytes")
    scan = per_span.get("log.read.scan", {})
    out["log.read.scan_tasks"] = (_ratio(scan.get("tasks", 0), len(by.get("log.read.scan", []))), "count")
    drain_windows = [(sp.start, sp.end) for sp in by.get("streaming.drain", [])]
    batches = sum(
        1
        for pr in log.progress
        if sum(s.get("numInputRows", 0) for s in pr.get("sources", [])) > 0
        and _in_windows(pr.get("timestamp"), drain_windows)
    )
    out["streaming.drain.batches"] = (_ratio(batches, len(drain_windows)), "count")

    modules: dict[str, dict] = {}
    for label, totals in per_span.items():
        mod = label.split(".")[0]
        agg = modules.setdefault(mod, dict.fromkeys(totals, 0))
        for k, v in totals.items():
            agg[k] += v
    for mod in _SPARK_MODULES:
        t = modules.get(mod, {})
        out[f"{mod}.jobs"] = (t.get("jobs", 0), "count")
        out[f"{mod}.tasks"] = (t.get("tasks", 0), "count")
        out[f"{mod}.exec_run_ms"] = (t.get("exec_run_ms", 0), "ms")
        out[f"{mod}.gc_ms"] = (t.get("gc_ms", 0), "ms")
        out[f"{mod}.shuffle_write_bytes"] = (t.get("shuffle_write_bytes", 0), "bytes")
        out[f"{mod}.spill_bytes"] = (t.get("spill_bytes", 0), "bytes")
    llm = modules.get("llm", {})
    out["llm.py_start_ms"] = (llm.get("py_start_ms", 0), "ms")
    out["llm.py_run_ms"] = (llm.get("py_run_ms", 0), "ms")
    out["llm.bytes_to_python"] = (llm.get("bytes_to_python", 0), "bytes")
    for lst in ("analytics", "llm"):
        for sp in spans:
            if sp.name.startswith(lst + ".") and sp.name.count(".") == 1 and sp.parent is None:
                out[f"{sp.name}.s"] = (sp.ms / 1000.0, "s")

    # self time per module and timed unit (episode or pass): where the
    # time of a unit goes once nested calls are subtracted
    units = len(wl.small_s) if hasattr(wl, "small_s") else len(wl.pass_s["llm"])
    self_ms: dict[str, float] = {}
    for sp_id, ms_ in tr.self_ms().items():
        mod = spans[sp_id].name.split(".")[0]
        self_ms[mod] = self_ms.get(mod, 0.0) + ms_
    for mod, total in self_ms.items():
        out[f"{mod}.self_ms_per_unit"] = (total / units, "ms")

    wall_s = t_end - t_start
    in_run = [t for t in log.tasks if t_start <= t[0] <= t_end]
    busy = sum(run_ms for _launch, run_ms in in_run)
    out["exec_busy_ratio"] = (busy / (wall_s * 1000.0 * ctx.cores), "ratio")
    out["spark.jobs"] = (sum(1 for j in log.jobs if t_start <= j.submit_s <= t_end), "count")
    out["spark.tasks"] = (len(in_run), "count")
    out["spark.exec_run_ms"] = (busy, "ms")

    cost_ms = (len(spans) * wrapper_us + tr.counters["trace.labelled"] * label_us) / 1000.0
    out["trace.spans"] = (len(spans), "count")
    out["trace.overhead_est_pct"] = (100.0 * cost_ms / (wall_s * 1000.0), "%")
    return out


def _in_windows(ts: str | None, windows) -> bool:
    if not ts:
        return False
    from datetime import datetime, timezone

    t = datetime.strptime(ts.rstrip("Z")[:26], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()
    return any(lo <= t <= hi for lo, hi in windows)
