"""The shared maintenance-job protocol (lakehouse/job.py): every Spark job
an op submits carries a ``"<job_tag>:<unit>:<phase>"`` job group, and the
returned summary and the lineage 'committed' event carry per-phase
timings."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from feature_engineering_poc_spark.lakehouse import write_token_table
from feature_engineering_poc_spark.lakehouse.clustering import cluster
from feature_engineering_poc_spark.lakehouse.compaction import compact
from feature_engineering_poc_spark.lakehouse.expire import (
    expire_snapshots,
    remove_orphans,
    rewrite_manifests,
)
from feature_engineering_poc_spark.lakehouse.generator import token_dataframe
from feature_engineering_poc_spark.lakehouse.lineage import LineageLog
from feature_engineering_poc_spark.lakehouse.merge import merge_into


def _merge_source(spark, table):
    updates = table.scan(spark).filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0).select(
        "doc_id",
        F.array(F.lit(1)).cast("array<int>").alias("tokens"),
        F.lit(1).cast("int").alias("n_tok"),
        "source",
        F.lit("upsert").alias("_op"),
    )
    inserts = token_dataframe(spark, 50, seed=5, max_tok=16, id_offset=9_000_000)
    return updates.unionByName(inserts.withColumn("_op", F.lit("upsert")))


def _ungrouped_job_ids(spark) -> set[int]:
    """Ids of jobs without a job group, once the status store has seen
    every job submitted so far: the listener bus delivers events in
    order, so it has caught up when a sentinel job submitted now shows."""
    sc = spark.sparkContext
    sentinel = f"sentinel-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", sentinel)
    try:
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.time() < deadline, "status tracker never saw the sentinel job"
        time.sleep(0.05)
    return set(tracker.getJobIdsForGroup(None))


@pytest.mark.parametrize("op", ["compact", "cluster", "merge_fast", "merge_per_unit"])
def test_every_job_grouped_and_phases_recorded(spark, tmp_path, monkeypatch, op):
    t = write_token_table(spark, tmp_path / "t", n_rows=1000, files_per_source=4, max_tok=64)
    # the fast merge rewrites every unit in one driver-thread job ("-")
    units = {"-"} if op == "merge_fast" else {r["partition"] for r in t.manifest_records(spark)}
    if op == "merge_per_unit":
        monkeypatch.setenv("FEPOC_MERGE_BROADCAST_CAP", "0")
    src = _merge_source(spark, t) if op.startswith("merge") else None
    before = _ungrouped_job_ids(spark)

    if op == "compact":
        r = compact(spark, t, target_file_bytes=64 * 1024 * 1024)
    elif op == "cluster":
        r = cluster(spark, t, curve="zorder")
    else:
        r = merge_into(spark, t, src)

    assert _ungrouped_job_ids(spark) - before == set()
    assert r["snapshot_id"] == 2
    assert r["phases"] and r["phases"]["rewrite"]["units"] > 0
    assert LineageLog(t.root, r["job_tag"]).committed()["phases"] == r["phases"]
    tracker = spark.sparkContext.statusTracker()
    rewrite_jobs = [
        j for u in units for j in tracker.getJobIdsForGroup(f"{r['job_tag']}:{u}:rewrite")
    ]
    assert rewrite_jobs


def test_metadata_ops_submit_no_spark_job(spark, tmp_path):
    """Expiry, orphan GC and manifest rewrite of a small table run on the
    driver: no Spark job, grouped or not."""
    t = write_token_table(spark, tmp_path / "t", n_rows=1000, files_per_source=4, max_tok=64)
    compact(spark, t, target_file_bytes=64 * 1024 * 1024)
    (t.data_dir / "junk.parquet").write_bytes(b"PAR1junk")
    # no group on this thread: any job the ops submit lands in group None
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    before = _ungrouped_job_ids(spark)

    e = expire_snapshots(spark, t, keep_last=1)
    o = remove_orphans(spark, t, grace_period_ms=0)
    m = rewrite_manifests(spark, t)

    assert _ungrouped_job_ids(spark) == before
    assert e["deleted_files"] > 0 and o["orphans_deleted"] == 1 and m["files"] > 0
