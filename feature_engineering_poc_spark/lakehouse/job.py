"""The exactly-once protocol every rewriting maintenance op runs under.

compact, cluster and merge share one job shape, and this module owns it:

1. REPLAY — before any planning, a ``job_tag`` whose lineage log records
   a 'committed' event returns that result; a tag already stamped into
   a published snapshot (crash between the VERSION swap and the lineage
   append) repairs the log and returns. Neither touches the table.
2. UNITS — resumable work units run on a thread pool, or in order under
   the ``_fail_after_units`` crash hook so the crash point is exact.
   Units an earlier run completed are skipped and counted as
   ``units_resumed``.
3. PHASES — every Spark job carries the job group
   ``"<job_tag>:<unit>:<phase>"`` (unit ``-`` on the driver thread).
   Pool threads do not inherit the caller's group, so each worker sets
   its own. Wall seconds per phase go into the summary and the
   'committed' event as ``phases = {name: {"s", "units"}}``.
4. COMMIT — the manifest delta is assembled from ALL completed lineage
   units (resumed ones included) and committed atomically with the
   ``job_tag`` stamped into the snapshot summary.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import SparkSession

from .lineage import LineageLog
from .metadata import TokenTable

logger = logging.getLogger(__name__)

# The local property ``SparkContext.setJobGroup`` writes. PySpark has no
# clearJobGroup, so groups are set and restored through the property.
_JOB_GROUP = "spark.jobGroup.id"


class MaintenanceJob:
    """One run of a maintenance op under ``job_tag`` against ``parent``."""

    def __init__(self, spark: SparkSession, table: TokenTable, job_tag: str,
                 parent: int, fail_after_units: int | None = None):
        self.spark = spark
        self.table = table
        self.job_tag = job_tag
        self.parent = parent
        self.fail_after_units = fail_after_units
        self.log = LineageLog(table.root, job_tag)
        self.done: dict[str, dict] = {}  # units completed by earlier runs
        self.phases: dict[str, dict] = {}

    def replay(self) -> dict | None:
        """This job's recorded result if it already committed, else None
        (and ``done`` then holds the units an earlier run completed)."""
        prior = self.log.committed()
        if prior is not None:
            logger.info("job %s already committed; replay is a no-op", self.job_tag)
            return {k: v for k, v in prior.items()
                    if k not in ("event", "job_id", "timestamp_ms")}
        published = self.table.snapshot_for_job(self.job_tag)
        if published is not None:
            # re-committing would union the same manifest rows a second
            # time (duplicate files on scan) — repair the log instead
            logger.info("job %s already published; repairing lineage", self.job_tag)
            summary = {"snapshot_id": published["snapshot_id"], **published["summary"]}
            self.log.log_event("committed", **summary)
            return summary
        self.done = self.log.completed_units()
        return None

    @contextmanager
    def _group(self, unit: str, phase: str):
        """Tag the Spark jobs this thread submits; restore on exit."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_JOB_GROUP)
        sc.setLocalProperty(_JOB_GROUP, f"{self.job_tag}:{unit}:{phase}")
        try:
            yield
        finally:
            sc.setLocalProperty(_JOB_GROUP, prev)

    @contextmanager
    def phase(self, name: str, units: int = 0):
        """A driver-thread phase: job group ``<job_tag>:-:<name>`` + wall time."""
        t0 = time.perf_counter()
        try:
            with self._group("-", name):
                yield
        finally:
            rec = self.phases.setdefault(name, {"s": 0.0, "units": 0})
            rec["s"] = round(rec["s"] + time.perf_counter() - t0, 3)
            rec["units"] += units

    def run_units(self, work: list[tuple[str, Callable[[], None]]], phase: str) -> None:
        """Run ``(unit, fn)`` items concurrently (Spark interleaves the
        jobs; lineage appends are thread-safe), or in order under the
        crash hook, raising after ``fail_after_units`` items."""

        def run(unit: str, fn: Callable[[], None]) -> None:
            with self._group(unit, phase):
                fn()

        with self.phase(phase, units=len(work)):
            if self.fail_after_units is not None:
                for i, (unit, fn) in enumerate(work, 1):
                    run(unit, fn)
                    if i >= self.fail_after_units:
                        raise RuntimeError(f"injected failure after {i} units (test hook)")
            elif work:
                with ThreadPoolExecutor(max_workers=min(8, len(work))) as ex:
                    for f in [ex.submit(run, unit, fn) for unit, fn in work]:
                        f.result()

    def commit(self, operation: str,
               summarize: Callable[[list[dict], list[str], list[dict]], dict]) -> dict:
        """Commit ``parent − files_in + new_manifest_rows`` over every
        completed unit; ``summarize(records, removed, new_rows)`` gives
        the op's summary fields."""
        records = list(self.log.completed_units().values())
        removed = [f for rec in records for f in rec["files_in"]]
        new_rows = [row for rec in records for row in rec["new_manifest_rows"]]
        summary = {**summarize(records, removed, new_rows),
                   "units_resumed": len(self.done), "job_tag": self.job_tag}
        with self.phase("commit"):
            sid = self.table.commit_delta(self.spark, removed, new_rows, operation=operation,
                                          summary=summary, parent_id=self.parent)
        result = {"snapshot_id": sid, **summary, "phases": self.phases}
        self.log.log_event("committed", **result)
        return result
