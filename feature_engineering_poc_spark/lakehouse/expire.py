"""Snapshot expiry + orphan-file GC + manifest rewrite (north_rule ops #4-5).

All three touch only metadata and run on the driver: no Spark job and
no Python worker below the small-table thresholds.

- ``expire_snapshots``: delete data files reachable ONLY from expired
  snapshots: expired − retained over each manifest's ``file_path``
  column (pyarrow), both sides scheme-normalised as in ``commit_delta``,
  so ``/x`` and ``file:///x`` are one file. A file reachable from ANY
  retained snapshot is never deleted (tested). Retention precedent:
  ``retentionDurationCheck.enabled=false`` (SparkSessionManager.scala:59).
- ``remove_orphans``: listed − referenced, with an mtime grace window
  so in-flight writers are never raced.
- ``rewrite_manifests``: ``manifest_records`` → ``file_stats_rows`` →
  ``commit_delta``; fresh footer stats, same data files.

Scale: merge and compaction planning already hold a snapshot's whole
manifest on the driver, and expiry always collected its doomed list
there; 10^7 paths as an Arrow string column is about 1 GB. Deletes fan
out over the executors past 10k files (``fs.delete_files``).
"""

from __future__ import annotations

import time

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from . import fs as fslayer
from .metadata import TokenTable, _strip_scheme, list_parquet_files
# file_stats_df stays bound here because perfbench/tracing.py wraps it by name.
from .stats import file_stats_df, file_stats_rows  # noqa: F401


def _referenced(table: TokenTable, snapshot_ids) -> set[str]:
    """Scheme-normalised data-file paths of the given snapshots' manifests."""
    return {
        _strip_scheme(p)
        for sid in snapshot_ids
        for f in table._manifest_files(sid)
        for p in pq.read_table(f, columns=["file_path"]).column(0).to_pylist()
    }


def expire_snapshots(
    spark: SparkSession,
    table: TokenTable,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Expire snapshots; retains at least the current snapshot."""
    if keep_last is None and older_than_ms is None:
        raise ValueError("pass keep_last and/or older_than_ms")
    snaps = table.snapshots()
    current = table.current_snapshot_id()
    retained_ids = {current}
    ordered = sorted((s["snapshot_id"] for s in snaps), reverse=True)
    if keep_last is not None:
        retained_ids |= set(ordered[: max(keep_last, 1)])
    if older_than_ms is not None:
        retained_ids |= {
            s["snapshot_id"] for s in snaps if s["timestamp_ms"] >= older_than_ms
        }
    expired_ids = [s["snapshot_id"] for s in snaps if s["snapshot_id"] not in retained_ids]
    if not expired_ids:
        return {"expired_snapshots": [], "deleted_files": 0}

    doomed = sorted(_referenced(table, expired_ids) - _referenced(table, retained_ids))
    if not dry_run:
        # fs layer: driver loop for planning-sized lists, distributed
        # foreachPartition fan-out past the threshold (fs.py) — an
        # expired snapshot of a 10^12-seq table dooms millions of files
        fslayer.delete_files(doomed, spark=spark)
        for sid in expired_ids:
            snap = table.snapshot(sid)
            if snap.get("manifest"):
                mdir = table.root / snap["manifest"]
                if mdir.is_dir():
                    for p in mdir.rglob("*"):
                        p.unlink()
                    mdir.rmdir()
            table.snapshot_path(sid).unlink(missing_ok=True)
    return {"expired_snapshots": expired_ids, "deleted_files": len(doomed),
            "retained_snapshots": sorted(retained_ids)}


def remove_orphans(
    spark: SparkSession,
    table: TokenTable,
    grace_period_ms: int = 24 * 3600 * 1000,
    dry_run: bool = False,
) -> dict:
    """Delete data files no snapshot references, respecting a grace window.

    Listing is driver-side ``rglob`` (local FS); on object storage a
    listing job would feed the same set difference.
    """
    snaps = table.snapshots()
    refs = _referenced(table, [s["snapshot_id"] for s in snaps])
    listed = list_parquet_files(table.data_dir)
    cutoff = time.time() - grace_period_ms / 1000.0

    def _old_enough(p) -> bool:
        mtime = fslayer.file_mtime(p)
        return mtime is not None and mtime < cutoff

    orphans = [f for f in listed if _strip_scheme(f) not in refs and _old_enough(f)]
    # Manifest dirs from commit attempts that crashed before publishing
    # (commit() writes manifests to unique paths before the CAS): any
    # metadata/manifest-* dir no snapshot references is debris.
    live_manifests = {s["manifest"] for s in snaps if s.get("manifest")}
    orphan_manifests = [
        d
        for d in sorted(table.meta_dir.glob("manifest-*"))
        if d.is_dir()
        and f"metadata/{d.name}" not in live_manifests
        and _old_enough(d)
    ]
    if not dry_run:
        fslayer.delete_files(orphans, spark=spark)
        for d in orphan_manifests:
            for p in sorted(d.rglob("*"), reverse=True):
                p.unlink()
            d.rmdir()
    return {"orphans_deleted": len(orphans), "files_listed": len(listed),
            "orphan_manifests_deleted": len(orphan_manifests)}


def rewrite_manifests(spark: SparkSession, table: TokenTable) -> dict:
    """Recompute per-file stats from parquet footers; new snapshot,
    same data files."""
    parent = table.current_snapshot_id()
    live = table.manifest_records(spark, parent)
    fresh = file_stats_rows(spark, [(r["file_path"], r["partition"]) for r in live])
    removed = [r["file_path"] for r in live]
    sid = table.commit_delta(spark, removed, fresh, operation="rewrite-manifests",
                             summary={"files": len(live)}, parent_id=parent)
    return {"snapshot_id": sid, "files": len(live)}
