"""Reader for Spark's own event log (``spark.eventLog.enabled=true``).

The log is written uncompressed (``spark.eventLog.compress=false``: Spark 4
would use zstd, and no zstd module is installed) and parsed with stdlib
``json``. Each task is attributed to the span that caused its job: by the
``spark.job.description`` the traced wrapper set around the call, or, for
jobs whose description Spark overwrote (streaming micro-batches), by the
innermost span whose interval holds the job's submission time.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

TASK_FIELDS = (
    "tasks",
    "exec_run_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "py_start_ms",
    "py_run_ms",
    "bytes_to_python",
)
_PY_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "bytes_to_python",
}


@dataclass
class Job:
    id: int
    submit_s: float
    description: str | None
    stage_ids: list[int]
    totals: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0))


@dataclass
class EventLog:
    jobs: list[Job]
    # (launch_s, exec_run_ms) of every finished task
    tasks: list[tuple[float, float]]
    # streaming QueryProgressEvent payloads
    progress: list[dict]


def log_files(event_dir: str) -> list[str]:
    """Every event-log file under ``event_dir`` (Spark 4 writes rolling
    ``eventlog_v2_*/events_*`` directories; plain files are accepted too)."""
    out = []
    for root, _dirs, files in os.walk(event_dir):
        for name in files:
            if name.startswith(("events_", "local-", "app-")) and not name.endswith(".crc"):
                out.append(os.path.join(root, name))
    return sorted(out)


def parse(paths: list[str]) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    tasks: list[tuple[float, float]] = []
    progress: list[dict] = []
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        id=ev["Job ID"],
                        submit_s=ev.get("Submission Time", 0) / 1000.0,
                        description=props.get("spark.job.description"),
                        stage_ids=list(ev.get("Stage IDs", [])),
                    )
                    jobs[job.id] = job
                    for sid in job.stage_ids:
                        stage_job[sid] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    info, metrics = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    run_ms = metrics.get("Executor Run Time", 0)
                    tasks.append((info.get("Launch Time", 0) / 1000.0, run_ms))
                    if job is None:
                        continue
                    t = job.totals
                    t["tasks"] += 1
                    t["exec_run_ms"] += run_ms
                    t["gc_ms"] += metrics.get("JVM GC Time", 0)
                    t["shuffle_write_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in info.get("Accumulables", []):
                        key = _PY_ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            t[key] += int(acc.get("Update") or 0)
                elif kind and kind.endswith("QueryProgressEvent"):
                    progress.append(ev.get("progress") or {})
    return EventLog(sorted(jobs.values(), key=lambda j: j.id), tasks, progress)


def attribute(log: EventLog, spans) -> dict[str, dict]:
    """Per span name: ``jobs`` plus the summed task totals of its jobs.

    ``spans`` are objects with ``name``, ``start`` and ``end`` (epoch
    seconds). Jobs matching no span are left out."""
    names = {sp.name for sp in spans}
    ordered = sorted(spans, key=lambda sp: sp.start)
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(("jobs",) + TASK_FIELDS, 0))
    for job in log.jobs:
        label = job.description if job.description in names else _innermost(ordered, job.submit_s)
        if label is None:
            continue
        agg = out[label]
        agg["jobs"] += 1
        for k, v in job.totals.items():
            agg[k] += v
    return dict(out)


def _innermost(ordered_spans, t: float) -> str | None:
    best = None
    for sp in ordered_spans:
        if sp.start > t:
            break
        if sp.end >= t and (best is None or sp.start >= best.start):
            best = sp
    return None if best is None else best.name

