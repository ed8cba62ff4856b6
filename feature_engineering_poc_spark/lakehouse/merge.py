"""MERGE INTO over doc_id — copy-on-write, file-scoped (north_rule op #6).

Semantics (SQL MERGE): source rows carry an optional ``_op`` column in
{"upsert", "delete"} (absent → all upsert).

- matched + upsert  → update the target row's tokens/n_tok in place
  (``source`` is the partition column and is immutable under update,
  like Iceberg identity-partition best practice; updates never move a
  row across partitions)
- matched + delete  → remove the row
- not-matched + upsert → insert (routed to its own source partition)
- not-matched + delete → no-op
- duplicate source keys → error (SQL MERGE cardinality rule), or
  ``duplicate_policy="last"`` dedupe via salted two-phase aggregation
  (skew.py) keyed on a ``_seq`` ordering column when present.

Scale shape:

1. PRUNE (metadata): manifest min/max doc_id overlap vs the source key
   range → candidate files. No data read.
2. PROBE (one column-pruned job): read ONLY doc_id + input_file_name
   from candidates, inner-join source keys → the exact touched-file
   set + the matched-keys DataFrame (stays distributed; only the
   distinct file list is collected, as in Iceberg driver planning).
3. REWRITE per partition unit (resumable, lineage-checkpointed): read
   touched files, LEFT join the unit's OWN slice of the effective
   source on doc_id (the probe join assigns every matched key to the
   partition unit whose files hold it, so each unit broadcasts ONLY
   its rows — per-unit volume is bounded by that unit's matched rows
   at ANY total source size; AQE skew-join covers the shuffle
   fallback for a unit whose slice exceeds the heap-aware cap —
   key-level skew was already defused by the salted dedupe), apply
   update/delete, stream straight to sorted parquet — ZERO shuffle on
   the broadcast path (coalesce + in-task sort; no persist, no range
   sampling, no exchange — the join output crosses the memory bus
   exactly once).

   Why per-unit KEY assignment and not a min/max doc_id range filter:
   the table layout hash-distributes doc_ids across a partition's
   files (generator.write_token_table repartitions round-robin), so
   every file's [min_doc_id, max_doc_id] envelope spans nearly the
   whole key range and a range filter would keep ~everything. The
   probe join already knows the exact file (hence unit) of every
   matched key; carrying that through bounds each unit's join side
   exactly, independent of physical layout.
4. INSERT unit: source anti-join matched keys → ONE partitionBy write.
5. COMMIT: manifest − touched files + rewritten + inserted; atomic
   snapshot swap. Old snapshots untouched (snapshot isolation).

Replay, unit execution, job groups, phase timings and the commit are
the shared maintenance-job protocol (job.py).

Serial driver cost (the Amdahl S term that caps scaling efficiency) is
exactly THREE blocking aggregations before the rewrite fan-out:

- one combined agg over the persisted source (key range + row count +
  duplicate detection — previously four separate jobs);
- one grouped collect over the persisted probe join (touched-file set
  AND per-op matched counts in the same result — previously two);
- one tiny grouped agg over the persisted EFFECTIVE source (matched
  rows only, delete payloads dropped, tagged with their rewrite unit)
  whose materialization replaces a full-source shuffle join in every
  rewrite unit and yields an exact PER-UNIT broadcast-size estimate.

The insert path is a single ``partitionBy`` write whose row count comes
from the parquet footers the manifest needs anyway (previously a
count job + a distinct-partitions job + one write per partition).
"""

from __future__ import annotations

import logging
import os
from collections import defaultdict
from functools import partial
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .job import MaintenanceJob
from .metadata import TOKEN_SCHEMA, TokenTable, empty_df, list_parquet_files
from .skew import salted_latest_by_key
from .stats import file_stats_rows

# Target bytes per insert-path output task; sizes the insert write's
# fan-out from the source volume estimate.
INSERT_TARGET_BYTES = 128 * 1024 * 1024


class DuplicateSourceKeys(ValueError):
    pass


logger = logging.getLogger(__name__)


def _parse_size(s: str) -> int:
    """'48g'/'2gb'/'512m'/'1024k'/bytes → bytes (Spark size-string set).

    Two-letter suffixes must match before single-letter ones: '2gb'
    previously fell into the trailing-'b' branch and raised on
    float('2g'), silently dropping the maxResultSize clamp in
    ``_broadcast_cap``."""
    s = s.strip().lower()
    for suffix, mult in (
        ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    ):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def _broadcast_cap(spark: SparkSession) -> int:
    """Per-rewrite-unit broadcast cap, derived from the LIVE JVM heap.

    ``FEPOC_MERGE_BROADCAST_CAP`` overrides. Otherwise: heap/16 — up to
    8 rewrite units broadcast concurrently (job.py's unit pool),
    and the in-heap hash relation costs ~2× the raw estimate, so worst
    case ≈ heap/2 of broadcast residency. Clamped to 80% of
    ``spark.driver.maxResultSize`` when one is set (broadcast relations
    are built through driver collection) and floored at 64 MB.
    """
    env = os.environ.get("FEPOC_MERGE_BROADCAST_CAP")
    if env is not None:
        return int(env)
    try:
        heap = int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        )
    except Exception:  # non-JVM-introspectable session (e.g. Connect)
        return 256 * 1024 * 1024
    cap = max(64 * 1024 * 1024, heap // 16)
    try:
        mrs = _parse_size(spark.conf.get("spark.driver.maxResultSize", "1g"))
        if mrs > 0:  # 0 = unlimited
            cap = min(cap, int(mrs * 0.8))
    except Exception:
        logger.warning(
            "could not parse spark.driver.maxResultSize; broadcast cap "
            "not clamped to the driver collection limit", exc_info=True
        )
    return cap


def _prepare_source(
    source_df: DataFrame, duplicate_policy: str, salt: int = 16
) -> DataFrame:
    """Normalise source columns; dedupe under policy="last".

    Under policy="error" the duplicate CHECK is deferred to the caller's
    combined profile aggregation (count vs count_distinct) so it shares
    a job with the key-range/size probe instead of running its own.
    """
    cols = set(source_df.columns)
    if "_op" not in cols:
        source_df = source_df.withColumn("_op", F.lit("upsert"))
    if "_seq" not in source_df.columns:
        source_df = source_df.withColumn("_seq", F.lit(0).cast("long"))
    source_df = source_df.select("doc_id", "tokens", "n_tok", "source", "_op", "_seq")
    if duplicate_policy == "last":
        # salted two-phase agg — hot duplicate keys fan out before the
        # final per-key reduce (skew.py)
        return salted_latest_by_key(source_df, key="doc_id", order_col="_seq", salt=salt)
    if duplicate_policy != "error":
        raise ValueError(f"unknown duplicate_policy: {duplicate_policy}")
    return source_df


def _apply_merge(target_df: DataFrame, src_side) -> DataFrame:
    """LEFT-join the (aliased s_*) source side onto target rows and
    apply MERGE semantics: deletes drop, upserts replace tokens/n_tok,
    unmatched rows pass through. Shared by the per-unit and the
    whole-source-broadcast rewrite paths — the join shape is identical,
    only the source side's extent differs."""
    joined = target_df.alias("t").join(
        src_side, F.col("t.doc_id") == F.col("s_doc_id"), "left"
    )
    return (
        joined.filter((F.col("s_op").isNull()) | (F.col("s_op") != "delete"))
        .select(
            F.col("t.doc_id").alias("doc_id"),
            F.coalesce(
                F.when(F.col("s_op") == "upsert", F.col("s_tokens")), F.col("t.tokens")
            ).alias("tokens"),
            F.coalesce(
                F.when(F.col("s_op") == "upsert", F.col("s_n_tok")), F.col("t.n_tok")
            ).alias("n_tok"),
            F.col("t.source").alias("source"),
        )
    )


def _rewrite_all_broadcast(spark, src, pending, out_root, log) -> None:
    """Small-source rewrite: ALL pending units in ONE Spark job.

    The whole prepared source (< one broadcast cap by the caller's
    estimate) is broadcast once; every touched file across every
    partition unit streams through the same left join, deletes drop,
    and ``partitionBy`` routes each surviving row back to its partition
    dir (`source` is immutable under update, so the row's own column IS
    its partition). One footer-stats pass covers all outputs; lineage
    then records the same per-partition units the per-unit path would,
    so resume/commit assembly are shape-identical.
    """
    files_all = [f for _, fs in pending for f in fs]
    target_all = spark.read.schema(TOKEN_SCHEMA).parquet(*files_all)
    src_side = F.broadcast(
        src.select(
            F.col("doc_id").alias("s_doc_id"),
            F.when(F.col("_op") == "upsert", F.col("tokens")).alias("s_tokens"),
            F.when(F.col("_op") == "upsert", F.col("n_tok")).alias("s_n_tok"),
            F.col("_op").alias("s_op"),
        )
    )
    rewritten = _apply_merge(target_all, src_side)
    out_dir = out_root / "_rewrite"
    # coalesce propagates upstream: collapsing to files/2 tasks would
    # also run the scan+join+encode on that few cores. Halve the file
    # count only once it exceeds the core count; below that, one task
    # per input file keeps the single job fully parallel.
    n_out = max(
        min(len(files_all), spark.sparkContext.defaultParallelism),
        len(files_all) // 2,
    )
    (
        rewritten.withColumn("_part", F.col("source"))
        .coalesce(n_out)
        .sortWithinPartitions("_part", "doc_id")
        .write.mode("overwrite")
        .partitionBy("_part")
        .parquet(str(out_dir))
    )
    pairs = []
    for d in sorted(out_dir.glob("_part=*")):
        part_val = unquote(d.name.split("=", 1)[1])
        pairs.extend((f, part_val) for f in list_parquet_files(d))
    stats_all = file_stats_rows(spark, pairs)
    by_unit: dict[str, list[dict]] = defaultdict(list)
    for s in stats_all:
        by_unit[s["partition"]].append(s)
    for part, files_p in pending:
        new_rows = by_unit.get(part, [])  # empty = every row deleted
        log.mark_unit_done(
            f"rewrite:{part}",
            files_in=files_p,
            new_manifest_rows=new_rows,
            metrics={"files_rewritten": len(files_p), "files_written": len(new_rows)},
        )


def merge_into(
    spark: SparkSession,
    table: TokenTable,
    source_df: DataFrame,
    duplicate_policy: str = "error",
    salt: int = 16,
    job_id: str | None = None,
    max_touched_files: int = 100_000,
    _fail_after_units: int | None = None,
) -> dict:
    """``salt`` controls the fan-out of the two-phase dedupe when
    ``duplicate_policy="last"`` (key-level source skew is defused
    there; the downstream joins see unique keys).

    ``job_id`` names a RESUMABLE, IDEMPOTENT job: a job_id whose lineage
    log already records a commit returns that commit's result without
    touching the table (exactly-once under foreachBatch replay).

    ``max_touched_files`` caps the driver-side exactly-touched file
    list; a merge touching more files than that falls back to a
    partition-granular rewrite set (all candidate files) so pathological
    full-table merges can't blow up driver memory on ``collect_set``.
    """
    parent = table.current_snapshot_id()
    src = _prepare_source(source_df, duplicate_policy, salt)
    # Persist the prepared source only when it adds real work over the
    # caller's DataFrame: the "last"-policy dedupe is a shuffle worth
    # caching, but under policy="error" the preparation is a trivial
    # projection — if the caller already persisted the input (the
    # common ingest shape), re-caching it here would burn a full
    # serialize+spill pass of the token payload inside the merge.
    own_persist = (
        duplicate_policy == "last"
        or source_df.storageLevel.useMemory is False
        and source_df.storageLevel.useDisk is False
    )
    if own_persist:
        src = src.persist()
    job = MaintenanceJob(spark, table, job_id or f"merge-snap{parent}", parent,
                         _fail_after_units)
    try:
        return _merge(spark, table, src, job, duplicate_policy, max_touched_files)
    finally:
        if own_persist:
            src.unpersist()


def _merge(spark, table, src, job, duplicate_policy, max_touched_files):
    # a replayed job (e.g. a foreachBatch batch rerun after a crash
    # between table commit and the stream checkpoint write) is a no-op
    prior = job.replay()
    if prior is not None:
        return prior

    # 1. PROFILE + PRUNE — ONE agg over the persisted source yields the
    # key range (manifest pruning), the row count + avg token length
    # (broadcast-size estimate), and — under policy="error" — the
    # distinct-key count (SQL MERGE cardinality check). Collapsing these
    # into one job is most of the merge's serial-term reduction.
    aggs = [
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.count("*").alias("n"),
        # token volume → whole-source broadcast-size estimate (decides
        # the small-source fast path; same formula as unit_bytes below)
        F.sum(F.coalesce(F.col("n_tok"), F.lit(0))).alias("tok"),
    ]
    if duplicate_policy == "error":
        aggs.append(F.countDistinct("doc_id").alias("nd"))
    with job.phase("profile"):
        prof = src.agg(*aggs).collect()[0]
        if prof.lo is None:  # empty source
            return {"snapshot_id": None, "rows_updated": 0, "rows_deleted": 0,
                    "rows_inserted": 0}
        if duplicate_policy == "error" and prof.nd != prof.n:
            # rare failure path — only here do we spend a job finding an example
            ex = src.groupBy("doc_id").count().filter(F.col("count") > 1).limit(1).collect()
            raise DuplicateSourceKeys(
                f"source has duplicate doc_id (e.g. {ex[0]['doc_id']}); "
                "pass duplicate_policy='last' to dedupe"
            )
    # Candidate pruning over DRIVER-SIDE manifest records (pyarrow footer
    # path for small manifests — no Spark job; distributed collect above
    # SMALL_MANIFEST_ROWS, see metadata.manifest_records).
    with job.phase("plan"):
        cand_rows = [
            r for r in table.manifest_records(spark, job.parent)
            if r["max_doc_id"] is not None and r["min_doc_id"] is not None
            and r["max_doc_id"] >= prof.lo and r["min_doc_id"] <= prof.hi
        ]
    cand_by_part: dict[str, list[str]] = defaultdict(list)
    for r in cand_rows:
        cand_by_part[r["partition"]].append(r["file_path"])
    cand_files = [r["file_path"] for r in cand_rows]

    # 2. PROBE — column-pruned scan of candidates (doc_id only) joined
    # to the source keys. ONE grouped collect returns both the
    # exactly-touched file set (collect_set per op — file lists are
    # driver-planning-sized, as in Iceberg) and the per-op matched-row
    # counts (countDistinct dedupes a key probed in >1 file).
    # Source keys are UNIQUE here (dup policy above), so the probe join
    # is a plain equi-join; AQE skew-join covers residual
    # partition-level skew.
    # Small-source FAST PATH: when the ENTIRE prepared source fits one
    # broadcast cap, per-unit machinery is pure overhead — unit tagging
    # (probe ⋈ file_units), the grouped eff_src materialization + agg,
    # and one broadcast build + write job + stats pass PER partition
    # unit are fixed driver-side jobs that amortize at 10^8-row merges
    # but dominate a small one (and the streaming foreachBatch sink
    # issues exactly such merges every microbatch). The fast path
    # broadcasts the whole effective source once and rewrites ALL
    # touched files in ONE job (partitionBy routes each row back to its
    # partition dir). Large sources keep the per-unit key-assigned
    # broadcast path — per-unit volume stays bounded at any scale.
    est_src_bytes = int((prof.tok or 0) * 4 + prof.n * 64)
    broadcast_cap = _broadcast_cap(spark)
    fast = (
        est_src_bytes < broadcast_cap
        and job.fail_after_units is None  # crash hook needs per-unit jobs
        # dynamic-partition routing can't represent a null partition
        and all(p != "__HIVE_DEFAULT_PARTITION__" for p in cand_by_part)
    )

    if cand_files:
        # the source key range also pushes into the probe scan: file
        # pruning is manifest-level, but [lo, hi] reaches the parquet
        # row-group stats too (a streaming batch with a narrow/monotone
        # key range skips most row groups of a wide candidate file)
        probe = (
            spark.read.schema(TOKEN_SCHEMA)
            .parquet(*cand_files)
            .where((F.col("doc_id") >= prof.lo) & (F.col("doc_id") <= prof.hi))
            .select("doc_id", _probe_file_path().alias("file_path"))
        )
        src_keys = src.select("doc_id", "_op")
        if fast:
            # the whole key set fits a broadcast → probe joins map-side
            # (no file_units tagging: the single rewrite job needs no
            # per-unit source assignment)
            matched = probe.join(F.broadcast(src_keys), "doc_id").persist()
        else:
            # file → partition-unit lookup from the manifest rows
            # already in hand (driver-planning-sized, like Iceberg's
            # file lists); the broadcast join tags every matched key
            # with the rewrite unit whose file holds it, which is what
            # lets each rewrite unit later join ONLY its own slice of
            # the effective source.
            file_units = F.broadcast(
                spark.createDataFrame(
                    [(_norm(r["file_path"]), r["partition"]) for r in cand_rows],
                    "file_path string, _unit string",
                )
            )
            matched = (
                probe.join(file_units, "file_path")
                .join(src_keys, "doc_id")
                .persist()
            )
    else:
        matched = empty_df(spark, T.StructType.fromDDL(
            "file_path string, doc_id string, _unit string, _op string"
        )).persist()
    with job.phase("probe"):
        probe_rows = (
            matched.groupBy("_op")
            .agg(
                F.countDistinct("doc_id").alias("n"),
                # slice executor-side so at most cap+1 paths ever reach
                # the driver, however many files the merge touches
                F.slice(
                    F.collect_set("file_path"), 1, max_touched_files + 1
                ).alias("files"),
            )
            .collect()
        )
    op_counts = {r._op: r.n for r in probe_rows}
    if any(len(r.files) > max_touched_files for r in probe_rows):
        # partition-granular fallback: rewrite every candidate file in
        # place of the (too large to plan file-exactly) touched set —
        # same results, bounded driver memory
        logger.warning(
            "merge touches >%d files; falling back to partition-granular "
            "rewrite over %d candidate files", max_touched_files, len(cand_files)
        )
        touched_files = set(cand_files)
    else:
        touched_files = {f for r in probe_rows for f in r.files}

    metrics = {
        "rows_updated": int(op_counts.get("upsert", 0)),
        "rows_deleted": int(op_counts.get("delete", 0)),
        "rows_inserted": 0,
    }
    out_root = table.new_data_dir(job.job_tag)
    touched_norm = {_norm(t) for t in touched_files}

    # 3. REWRITE touched files — resumable per-partition units.
    pending = []
    for part in sorted(cand_by_part):
        files_p = [f for f in cand_by_part[part] if _norm(f) in touched_norm]
        if files_p and f"rewrite:{part}" not in job.done:
            pending.append((part, files_p))

    eff_src = None
    if fast:
        # FAST: one broadcast of the whole prepared source (insert keys
        # ride along — they match no target row in the left join), ONE
        # job over every pending unit's files, partitionBy routing back
        # to per-partition dirs, one footer-stats pass. Lineage still
        # records one unit per partition (commit assembly unchanged); a
        # crash redoes the single job.
        units_broadcast = len(pending)
        if pending:
            with job.phase("rewrite", units=len(pending)):
                _rewrite_all_broadcast(spark, src, pending, out_root, job.log)
    else:
        # EFFECTIVE rewrite source: only rows whose key matched a target
        # row (inserts never join the rewrite), each tagged with the
        # rewrite unit that holds it, and delete rows shed their payload
        # (only the op matters). One join shuffle HERE replaces a
        # full-source shuffle join in EVERY rewrite unit, and because
        # each unit later filters to its OWN `_unit` slice, the per-unit
        # broadcast volume is bounded by that unit's matched rows at ANY
        # source scale — this is the fix for the 64M-row
        # broadcast→shuffle plan flip (BENCH/BASELINE.md merge deep-run
        # analysis). The distinct() guards against a key probed in more
        # than one unit (a malformed table with duplicate doc_ids must
        # not fan out target rows through the inner join).
        eff_src = (
            src.join(matched.select("doc_id", "_unit").distinct(), "doc_id")
            .select(
                "doc_id",
                F.when(F.col("_op") == "upsert", F.col("tokens")).alias("tokens"),
                F.when(F.col("_op") == "upsert", F.col("n_tok")).alias("n_tok"),
                "_op",
                "_unit",
            )
            .persist()
        )
        # exact PER-UNIT size estimates from the materialized rewrite
        # side, not a guess — same single blocking agg as before, grouped.
        with job.phase("eff_src"):
            eff_rows = (
                eff_src.groupBy("_unit")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.coalesce("n_tok", F.lit(0))).alias("tok"),
                )
                .collect()
            )
        unit_bytes = {r._unit: int((r.tok or 0) * 4 + r.n * 64) for r in eff_rows}
        file_rows = {r["file_path"]: r["record_count"] for r in cand_rows}
        units_broadcast = sum(
            1 for p, _ in pending if unit_bytes.get(p, 0) < broadcast_cap
        )

        def run_rewrite_unit(part: str, files_p: list[str]) -> None:
            target_p = spark.read.schema(TOKEN_SCHEMA).parquet(*files_p)
            # this unit's OWN slice of the effective source — a
            # cache-local filter on the persisted eff_src, never the
            # whole thing
            src_side = eff_src.filter(F.col("_unit") == part).select(
                F.col("doc_id").alias("s_doc_id"),
                F.col("tokens").alias("s_tokens"),
                F.col("n_tok").alias("s_n_tok"),
                F.col("_op").alias("s_op"),
            )
            is_bcast = unit_bytes.get(part, 0) < broadcast_cap
            if is_bcast:
                src_side = F.broadcast(src_side)
            rewritten = _apply_merge(target_p, src_side)
            out_dir = out_root / part
            n_out = max(1, len(files_p) // 2)  # merged output ≈ input volume
            if is_bcast:
                # ONE pass, ZERO shuffle: the broadcast join streams each
                # scan split straight through coalesce into a small
                # in-task sort and the parquet encoder. The previous shape
                # (persist → range sampling job → range shuffle → write)
                # materialized the full joined unit into the block cache
                # and then moved it again through a shuffle — three extra
                # full-data trips over the memory bus that showed up as
                # the residual Amdahl serial term in the 64M deep run
                # (BENCH/BASELINE.md r5 analysis). Range layout bought
                # nothing here: the table's files are round-robin
                # distributed, so pre- and post-merge envelopes span the
                # full key range either way; re-clustering is
                # clustering.py's job.
                writer = rewritten.coalesce(n_out).sortWithinPartitions("doc_id").write
            else:
                # shuffle fallback (unit slice over the broadcast cap):
                # keep the sort-merge join's AQE-sized partitions —
                # coalescing to n_out tasks here would concentrate the
                # very units that were too big to broadcast onto the
                # fewest tasks (spill risk, defeats AQE skew splitting).
                # File sizes are bounded via maxRecordsPerFile from the
                # manifest row counts instead.
                rows_unit = sum(file_rows.get(f, 0) for f in files_p)
                writer = (
                    rewritten.sortWithinPartitions("doc_id")
                    .write.option(
                        "maxRecordsPerFile",
                        max(1, (rows_unit + n_out - 1) // max(1, n_out) + 1),
                    )
                )
            writer.mode("overwrite").parquet(str(out_dir))
            new_files = list_parquet_files(out_dir)
            stats = file_stats_rows(spark, [(f, part) for f in new_files])
            job.log.mark_unit_done(
                f"rewrite:{part}",
                files_in=files_p,
                new_manifest_rows=stats,
                metrics={"files_rewritten": len(files_p), "files_written": len(new_files)},
            )

        job.run_units(
            [(p, partial(run_rewrite_unit, p, fs)) for p, fs in pending], "rewrite"
        )

    # 4. INSERT unit — not-matched upserts, ONE partitionBy write (the
    # per-source routing happens inside the job, not in a driver loop).
    # ``source`` is kept as a data column (scan() reads explicit file
    # lists, which don't recover Hive-style dir values); the duplicated
    # ``_part`` column only names the output directory. Row counts come
    # from the footer-stats pass the manifest needs anyway — no count()
    # job, and no second action over the repartitionByRange plan (its
    # sampling pass would re-execute it).
    if "insert" not in job.done:
        with job.phase("insert", units=1):
            anti_keys = matched.select("doc_id")
            if fast:
                # matched keys fit the broadcast cap by the fast-path
                # condition → the anti-join needs no shuffle either
                anti_keys = F.broadcast(anti_keys)
            inserts = (
                src.filter(F.col("_op") == "upsert")
                .join(anti_keys, "doc_id", "left_anti")
                .select("doc_id", "tokens", "n_tok", "source")
            )
            ins_dir = out_root / "_inserts"
            # output-task count derived from the SOURCE volume estimate (an
            # upper bound on insert volume), not a constant tied to the
            # local core count: a microbatch-sized merge writes one file
            # per partition instead of defaultParallelism/2 shards, while a
            # 10^8-row merge fans out to one task per ~target-file-size.
            n_out = max(1, min(
                4 * spark.sparkContext.defaultParallelism,
                (est_src_bytes + INSERT_TARGET_BYTES - 1) // INSERT_TARGET_BYTES,
            ))
            # hash repartition, not repartitionByRange: range sampling is a
            # second action over the anti-join (forcing a persist of the
            # full insert payload to keep it single-execution); a hash
            # exchange needs neither — one shuffle, one pass, no cache.
            (
                inserts.withColumn("_part", F.col("source"))
                .repartition(n_out, "source", "doc_id")
                .sortWithinPartitions("source", "doc_id")
                .write.mode("overwrite")
                .partitionBy("_part")
                .parquet(str(ins_dir))
            )
            pairs = []
            for d in sorted(ins_dir.glob("_part=*")):
                part_val = unquote(d.name.split("=", 1)[1])
                if part_val == "__HIVE_DEFAULT_PARTITION__":
                    # a null `source` would otherwise be read back as the
                    # literal marker string and silently diverge from the
                    # row's actual (null) column — refuse to fabricate it
                    raise ValueError(
                        "merge source contains rows with null `source` "
                        "(partition column); inserts must carry a partition value"
                    )
                pairs.extend((f, part_val) for f in list_parquet_files(d))
            stats = file_stats_rows(spark, pairs)
            n_ins = sum(s["record_count"] for s in stats)
            job.log.mark_unit_done("insert", files_in=[], new_manifest_rows=stats,
                                   metrics={"rows_inserted": n_ins})
    matched.unpersist()
    if eff_src is not None:
        eff_src.unpersist()

    # 5. COMMIT — assemble from lineage (covers resumed units).
    def summarize(done, removed, new_rows) -> dict:
        totals = {k: v + sum(rec["metrics"].get(k, 0) for rec in done)
                  for k, v in metrics.items()}
        return {**totals, "files_rewritten": len(removed), "files_written": len(new_rows),
                "candidate_files": len(cand_files), "touched_files": len(touched_files),
                "broadcast_cap": broadcast_cap, "units_broadcast": units_broadcast}

    return job.commit("merge", summarize)


def _norm(p: str) -> str:
    return p.removeprefix("file://").removeprefix("file:")


def _probe_file_path() -> F.Column:
    """``input_file_name()`` as a raw filesystem path.

    The function returns a percent-encoded URI (Hadoop Path), while
    manifest rows store raw paths; joining them as strings silently
    matches NOTHING for a table root containing a space, '%', or
    non-ASCII character — updates/deletes would be skipped and the same
    keys re-inserted as duplicates. Decode the probe side so both join
    keys share one canonical encoding. ``url_decode`` is
    x-www-form-urlencoded (it would turn a literal '+' into a space),
    so '+' is pre-escaped to its percent form first.
    """
    raw = F.regexp_replace(F.input_file_name(), "^file:(//)?", "")
    return F.url_decode(F.regexp_replace(raw, r"\+", "%2B"))
