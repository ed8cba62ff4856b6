"""Snapshot expiry safety, orphan GC grace window, manifest rewrite."""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest

from feature_engineering_poc_spark.lakehouse import (
    assert_scan_equivalent,
    scan_fingerprint,
    write_token_table,
)
from feature_engineering_poc_spark.lakehouse.compaction import compact
from feature_engineering_poc_spark.lakehouse.expire import (
    expire_snapshots,
    remove_orphans,
    rewrite_manifests,
)


@pytest.fixture()
def table(spark, tmp_path):
    t = write_token_table(spark, tmp_path / "t", n_rows=1500, files_per_source=4, max_tok=64)
    compact(spark, t, target_file_bytes=64 * 1024 * 1024)  # snapshot 2
    return t


def test_expire_deletes_only_unreachable(spark, table):
    fp = scan_fingerprint(table.scan(spark))
    pre_files = set(table.data_files(spark))  # current snapshot's files
    old_files = set(table.data_files(spark, 1))

    result = expire_snapshots(spark, table, keep_last=1)
    assert result["expired_snapshots"] == [0, 1]
    assert result["deleted_files"] > 0

    # safety: every file of the retained snapshot still exists
    for f in pre_files:
        assert Path(f).exists(), f"retained file deleted: {f}"
    # the compacted-away originals are gone
    for f in old_files - pre_files:
        assert not Path(f).exists(), f"expired-only file survived: {f}"
    # current scan still exact
    post = scan_fingerprint(table.scan(spark))
    assert (post.row_count, post.xor_hash) == (fp.row_count, fp.xor_hash)
    # expired metadata removed
    assert not table.snapshot_path(1).exists()


def test_expire_dry_run_deletes_nothing(spark, table):
    files = set(table.data_files(spark, 1)) | set(table.data_files(spark))
    r = expire_snapshots(spark, table, keep_last=1, dry_run=True)
    assert r["deleted_files"] > 0
    for f in files:
        assert Path(f).exists()


def test_expire_requires_policy(spark, table):
    with pytest.raises(ValueError):
        expire_snapshots(spark, table)


def test_remove_orphans_respects_grace_and_references(spark, table):
    # plant an orphan (old mtime) and a fresh one (inside grace window)
    old_orphan = table.data_dir / "junk_old.parquet"
    new_orphan = table.data_dir / "junk_new.parquet"
    ref_file = table.data_files(spark)[0]
    for p in (old_orphan, new_orphan):
        p.write_bytes(b"PAR1junk")
    os.utime(old_orphan, (time.time() - 90000, time.time() - 90000))

    r = remove_orphans(spark, table, grace_period_ms=3600 * 1000)
    assert r["orphans_deleted"] == 1
    assert not old_orphan.exists()
    assert new_orphan.exists()  # grace window protected
    assert Path(ref_file).exists()  # referenced file untouched
    new_orphan.unlink()


def test_rewrite_manifests_same_files_fresh_stats(spark, table):
    pre_sid = table.current_snapshot_id()
    pre_files = set(table.data_files(spark))
    r = rewrite_manifests(spark, table)
    assert r["snapshot_id"] == pre_sid + 1
    assert set(table.data_files(spark)) == pre_files
    assert_scan_equivalent(table.scan(spark, pre_sid), table.scan(spark))
    m = table.manifest_df(spark)
    assert m.filter("record_count is null or file_bytes is null").count() == 0


def test_rewrite_manifests_distributed_side_matches_driver_side(spark, table, monkeypatch):
    """Both sides of SMALL_STATS_FILES and SMALL_MANIFEST_ROWS publish the
    same manifest rows."""
    from feature_engineering_poc_spark.lakehouse import metadata, stats

    def rows():
        return sorted(table.manifest_records(spark), key=lambda r: r["file_path"])

    rewrite_manifests(spark, table)
    driver_rows = rows()
    monkeypatch.setattr(stats, "SMALL_STATS_FILES", 0)
    monkeypatch.setattr(metadata, "SMALL_MANIFEST_ROWS", 0)
    r = rewrite_manifests(spark, table)
    # the Spark manifest write leaves its _SUCCESS marker; pyarrow's does not
    assert (table.root / table.snapshot(r["snapshot_id"])["manifest"] / "_SUCCESS").exists()
    monkeypatch.undo()
    assert rows() == driver_rows
    assert r["files"] == len(driver_rows) > 0
