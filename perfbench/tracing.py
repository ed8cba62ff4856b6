"""Spans, layer counters and Spark event-log attribution for traced runs.

Op spans are recorded by the workloads around each user-facing call.
Layer counters come from wrappers installed over the engine's public
functions *as the calling module sees them* (``compaction`` imports
``file_stats_rows`` by name, so the wrapper replaces that module's
binding). Wrappers count only while an op span is open, so the
benchmark's own checks never pollute them.

Spark execution metrics come from the event log (enabled, uncompressed,
only in traced runs). Jobs are attributed to op spans by submission
time, not by job group: the engine runs units on pool threads, which do
not inherit the caller's job group.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# Ops whose Spark execution is attributed (span names the workloads use).
SPARK_OPS = ("compact", "cluster", "merge", "merge_skewed", "batch", "maint", "expire")
SPARK_FIELDS = (
    "jobs", "tasks", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "python_s",
    "task_skew", "driver_s",
)
PYTHON_TIME_METRIC = "time to run Python workers"


class Recorder:
    """Op spans (always) and layer counters (only while wrappers are on)."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._open = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        self._open += 1
        try:
            yield
        finally:
            self._open -= 1
            self.spans.append((name, t0, time.time()))

    def add(self, key: str, value: float) -> None:
        if self._open:
            with self._lock:
                self.counters[key] += value


def _wrap(rec: Recorder, fn, time_key: str, count_key: str, count):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        result = fn(*args, **kwargs)
        rec.add(time_key, time.perf_counter() - t0)
        rec.add(count_key, count(args, result))
        return result

    return wrapper


@contextmanager
def layer_wrappers(rec: Recorder):
    """Install the per-layer wrappers for the duration of the block."""
    from feature_engineering_poc_spark.lakehouse import (
        clustering, compaction, expire, generator, merge,
    )
    from feature_engineering_poc_spark.lakehouse.lineage import LineageLog
    from feature_engineering_poc_spark.lakehouse.metadata import TokenTable

    def one(args, result):
        return 1

    def n_files(args, result):
        return len(args[1])

    targets = [
        (compaction, "pack_bins", "binpack.s", "binpack.bins", lambda a, r: len(r)),
        (compaction, "file_stats_rows", "stats.s", "stats.files", n_files),
        (clustering, "file_stats_rows", "stats.s", "stats.files", n_files),
        (merge, "file_stats_rows", "stats.s", "stats.files", n_files),
        (expire, "file_stats_df", "stats.s", "stats.files", n_files),
        (generator, "file_stats_df", "stats.s", "stats.files", n_files),
        (TokenTable, "commit", "metadata.commit_s", "metadata.commits", one),
        (TokenTable, "commit_delta", "metadata.commit_s", "metadata.commits", one),
        (TokenTable, "manifest_records", "metadata.plan_s", "metadata.plans", one),
        (LineageLog, "mark_unit_done", "lineage.s", "lineage.appends", one),
        (LineageLog, "log_event", "lineage.s", "lineage.appends", one),
    ]
    saved = [(owner, name, getattr(owner, name)) for owner, name, *_ in targets]
    try:
        for owner, name, tkey, ckey, count in targets:
            setattr(owner, name, _wrap(rec, getattr(owner, name), tkey, ckey, count))
        yield
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)


def read_event_log(log_dir: Path) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs, tasks by job id) from the uncompressed event log(s) in ``log_dir``.

    A job is ``{"id", "t0", "t1"}`` in epoch seconds; a task is
    ``{"dur", "cpu_ns", "gc_ms", "shuffle", "spill", "py_ms"}``.
    """
    starts: dict[int, float] = {}
    ends: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for path in sorted(log_dir.iterdir()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    starts[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    py_ms = sum(
                        float(a.get("Update", 0))
                        for a in info.get("Accumulables", [])
                        if a.get("Name") == PYTHON_TIME_METRIC
                    )
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    tasks[jid].append({
                        "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "py_ms": py_ms,
                    })
    jobs = [
        {"id": j, "t0": t0, "t1": ends.get(j, t0)} for j, t0 in sorted(starts.items())
    ]
    return jobs, tasks


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_spark_metrics(
    spans: list[tuple[str, float, float]], jobs: list[dict], tasks: dict[int, list[dict]]
) -> dict[str, float]:
    """``<op>.spark.<field>`` and ``<op>.driver_s``: each field computed
    per span instance, then the median over the instances of that op."""
    per_op: dict[str, list[dict]] = defaultdict(list)
    for name, t0, t1 in spans:
        if name not in SPARK_OPS:
            continue
        mine = [j for j in jobs if t0 <= j["t0"] <= t1]
        ts = [t for j in mine for t in tasks.get(j["id"], [])]
        overlap = [(max(j["t0"], t0), min(j["t1"], t1)) for j in jobs if j["t1"] >= t0 and j["t0"] <= t1]
        durs = sorted(t["dur"] for t in ts)
        med = statistics.median(durs) if durs else 0.0
        per_op[name].append({
            "jobs": len(mine),
            "tasks": len(ts),
            "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
            "shuffle_bytes": sum(t["shuffle"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "python_s": sum(t["py_ms"] for t in ts) / 1e3,
            # task durations are whole milliseconds; a 1 ms floor keeps
            # the ratio finite for sub-millisecond tasks
            "task_skew": (durs[-1] / max(med, 0.001)) if durs else 0.0,
            "driver_s": (t1 - t0) - _covered(overlap),
        })
    out: dict[str, float] = {}
    for op in SPARK_OPS:
        for field in SPARK_FIELDS:
            key = f"{op}.driver_s" if field == "driver_s" else f"{op}.spark.{field}"
            vals = [inst[field] for inst in per_op.get(op, [])]
            out[key] = float(statistics.median(vals)) if vals else 0.0
    return out

