"""Bin-packing small-file compaction (north_rule operator #1).

Shape of the job, scale-first:

1. PLAN (driver, metadata only): filter the manifest to
   smaller-than-threshold files, FFD-bin-pack per partition
   (plans/binpack.py). No data rows are read for planning.
2. EXECUTE (cluster, one Spark job per partition unit): read exactly
   the binned files, ``repartitionByRange(n_bins, doc_id)`` +
   ``sortWithinPartitions`` so output files hold tight, disjoint
   doc_id ranges (maximum min/max pruning power), write to a
   DETERMINISTICALLY-NAMED directory with mode=overwrite (idempotent
   rerun), stamp per-file footer stats (stats.py — footer reads only).
   Compaction within a partition needs NO shuffle beyond the one range
   repartition; nothing crosses partitions.
3. CHECKPOINT: a lineage record per completed partition carries the
   unit's new manifest rows + metrics; a resumed job skips completed
   units entirely (lineage.py).
4. COMMIT (atomic): new manifest = old manifest − compacted files +
   new files; CAS snapshot swap. Readers pinned to the old snapshot
   still resolve the old files (they are not deleted until
   snapshot expiry — expire.py).

Replay, unit execution, job groups, phase timings and the commit are
the shared maintenance-job protocol (job.py).

Reference precedent: Delta ``optimizeWrite``/``autoCompact`` knobs the
reference enables but delegates (SparkSessionManager.scala:73-74); here
the mechanism is explicit and from scratch.
"""

from __future__ import annotations

from collections import defaultdict
from functools import partial

from pyspark.sql import SparkSession

from ..plans.binpack import pack_bins
from .job import MaintenanceJob
from .metadata import MANIFEST_SCHEMA, TOKEN_SCHEMA, TokenTable, list_parquet_files
from .stats import file_stats_rows

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _rewrite_bins_distributed(
    spark: SparkSession, bin_specs: list[dict]
) -> list[dict]:
    """Execute bin rewrites as ONE shuffle-free Spark job.

    Each task receives bin specs, reads the bin's files with pyarrow
    (vectorized C++, no per-row Python), sorts the bin by doc_id for
    locality, writes exactly one target-size output file, and returns
    its manifest row (footer stats computed in-task — no second pass).

    Compaction within a partition is embarrassingly parallel across
    bins: no shuffle, no range-sampling pass, parallelism = number of
    bins (at 100 TB: hundreds of thousands).
    """
    import json as _json

    import pandas as pd

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from feature_engineering_poc_spark.lakehouse import fs as fslayer

        cols = ["doc_id", "tokens", "n_tok", "source"]
        for pdf in batches:
            out = []
            for spec_json in pdf["spec"]:
                spec = _json.loads(spec_json)
                # fs layer: inputs/outputs may be local paths or
                # file://-or-object-store URIs (fs.py)
                tbl = pa.concat_tables(
                    [fslayer.read_parquet(f, columns=cols) for f in spec["files"]]
                )
                tbl = tbl.take(pc.sort_indices(tbl.column("doc_id")))
                # zstd: compacted files are cold data — trade CPU (which
                # scales with executors) for bytes (which cost forever)
                n_bytes = fslayer.write_parquet(tbl, spec["out"], compression="zstd")
                doc = tbl.column("doc_id")
                ntk = tbl.column("n_tok")
                out.append(
                    {
                        "file_path": spec["out"],
                        "partition": spec["partition"],
                        "record_count": tbl.num_rows,
                        "file_bytes": n_bytes,
                        "min_doc_id": pc.min(doc).as_py(),
                        "max_doc_id": pc.max(doc).as_py(),
                        "min_n_tok": pc.min(ntk).as_py(),
                        "max_n_tok": pc.max(ntk).as_py(),
                        "min_zkey": None,
                        "max_zkey": None,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in MANIFEST_SCHEMA.fields])

    # Slices = 4×parallelism (capped by bin count): several bins ride
    # one task, cutting per-task launch/Arrow overhead ~an order of
    # magnitude vs task-per-bin while keeping 4 waves for balance.
    # parallelize (not repartition): no round-robin shuffle, no barrier.
    n_slices = max(1, min(len(bin_specs), spark.sparkContext.defaultParallelism * 4))
    rdd = spark.sparkContext.parallelize(
        [(_json.dumps(s),) for s in bin_specs], n_slices
    )
    specs_df = spark.createDataFrame(rdd, "spec string")
    return [r.asDict() for r in specs_df.mapInPandas(kernel, MANIFEST_SCHEMA).collect()]


def compact(
    spark: SparkSession,
    table: TokenTable,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    small_file_threshold: int | None = None,
    job_id: str | None = None,
    mode: str = "binpack",
    partitions: list[str] | None = None,
    units_per_job: int = 64,
    _fail_after_units: int | None = None,
) -> dict:
    """Compact small files; returns a summary dict (snapshot_id=None if no-op).

    ``mode="binpack"`` (default, Iceberg-binpack semantics): zero
    shuffle — each FFD bin becomes one task that rewrites its files
    into one sorted output file. ``mode="sort"``: per-partition global
    sort via ``repartitionByRange(doc_id)`` (use when the table needs
    re-sorting, not just file-size repair; clustering.py is the
    dedicated re-sort op).

    Binpack execution GROUPS partition units: up to ``units_per_job``
    partitions' bins ride in ONE Spark job (bins are independent tasks,
    so grouping loses no parallelism). This bounds the per-job driver
    submission overhead — the constant serial term — at 1/64th of a
    job per partition, while lineage checkpoints stay per-partition
    (a crash redoes only the in-flight chunks of deterministic,
    mode=overwrite outputs). A table with 10^5 small partitions
    compacts in ~1.5k jobs instead of 10^5.

    A ``job_id`` that already committed returns its recorded result —
    replays are no-ops (idempotent under foreachBatch-style reruns).

    ``_fail_after_units`` is a test hook that injects a crash after N
    completed units to exercise checkpoint resume (forces the
    sequential one-unit-per-job path so the crash point is exact).
    """
    parent = table.current_snapshot_id()
    threshold = small_file_threshold or int(target_file_bytes * 0.75)
    job = MaintenanceJob(spark, table, job_id or f"compact-snap{parent}", parent,
                         _fail_after_units)
    prior = job.replay()
    if prior is not None:
        return prior

    # PLAN — metadata only, DRIVER-SIDE for small manifests (pyarrow
    # footer reads, zero Spark jobs; distributed collect above
    # SMALL_MANIFEST_ROWS) — same driver planning Iceberg's
    # rewriteDataFiles does.
    with job.phase("plan"):
        by_part: dict[str, list] = defaultdict(list)
        for r in table.manifest_records(spark, parent):
            if r["file_bytes"] < threshold and (
                partitions is None or r["partition"] in partitions
            ):
                by_part[r["partition"]].append(
                    (r["file_path"], r["file_bytes"], r["record_count"])
                )
        units = []  # (partition, bins)
        for part in sorted(by_part):
            bins = pack_bins(by_part[part], part, target_file_bytes)
            if len(by_part[part]) > len(bins):  # merging actually reduces file count
                units.append((part, bins))
    if not units:
        return {"snapshot_id": None, "units": 0, "files_in": 0, "files_out": 0, "rows": 0}
    pending = [(part, bins) for part, bins in units if part not in job.done]
    out_root = table.new_data_dir(job.job_tag)

    def mark_done(part: str, bins, new_rows: list[dict]) -> None:
        files = [f for b in bins for f in b.files]
        job.log.mark_unit_done(
            part,
            files_in=files,
            new_manifest_rows=new_rows,
            metrics={
                "files_rewritten": len(files),
                "files_written": len(new_rows),
                "bytes_compacted": sum(b.bytes for b in bins),
                "rows": sum(b.rows for b in bins),
            },
        )

    def binpack_chunk(chunk) -> None:
        specs = [
            {"files": b.files, "partition": part,
             "out": str(out_root / part / f"bin-{i:05d}.parquet")}
            for part, bins in chunk
            for i, b in enumerate(bins)
        ]
        stats_by_part: dict[str, list[dict]] = defaultdict(list)
        for s in _rewrite_bins_distributed(spark, specs):
            stats_by_part[s["partition"]].append(s)
        for part, bins in chunk:
            mark_done(part, bins, stats_by_part[part])

    def sort_unit(part: str, bins) -> None:
        # global per-partition re-sort (one range shuffle)
        files = [f for b in bins for f in b.files]
        rows = sum(b.rows for b in bins)
        n_out = len(bins)
        out_dir = out_root / part
        (
            spark.read.schema(TOKEN_SCHEMA).parquet(*files)
            .repartitionByRange(n_out, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max(1, (rows + n_out - 1) // n_out + 1))
            .parquet(str(out_dir))
        )
        new_files = list_parquet_files(out_dir)
        mark_done(part, bins, file_stats_rows(spark, [(f, part) for f in new_files]))

    # EXECUTE. Binpack: pending units GROUPED into chunks of
    # ``units_per_job`` — all of a chunk's bins ride one Spark job
    # (bins are independent tasks; grouping adds parallelism within the
    # job and slashes per-job driver overhead). Lineage checkpoints stay
    # per-partition; chunks run on the job's unit pool. The crash hook
    # needs an exact crash point, so its chunks hold one unit. Sort mode
    # runs one unit per job (each partition needs its own range shuffle).
    if mode == "binpack":
        size = 1 if _fail_after_units is not None else units_per_job
        chunks = [pending[i : i + size] for i in range(0, len(pending), size)]
        work = [(chunk[0][0], partial(binpack_chunk, chunk)) for chunk in chunks]
    else:
        work = [(part, partial(sort_unit, part, bins)) for part, bins in pending]
    job.run_units(work, "rewrite")

    # COMMIT — manifest delta assembled from lineage (covers resumed units)
    return job.commit("compact", lambda done, removed, new_rows: {
        "files_compacted": len(removed),
        "files_written": len(new_rows),
        "rows_rewritten": sum(rec["metrics"]["rows"] for rec in done),
        "bytes_compacted": sum(rec["metrics"]["bytes_compacted"] for rec in done),
        "units": len(units),
    })
