"""The two maintenance workloads: a nightly rewrite pass and a
closed-loop microbatch-ingest loop.

Each run builds one master table from the seed, then measures one or
more repetitions ("reps"): nightly runs passes until ``--seconds`` of
pass time is spent, ingest runs one loop. A rep clones the master (hard
links), stages its MERGE sources as parquet and fingerprints the
starting snapshot (a warm-up scan); with the master build this is the
run's set-up time. It then runs the measured operations, each timed in
wall and CPU seconds, and checks the result outside them.
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from contextlib import ExitStack
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_engineering_poc_spark.lakehouse import TokenTable, write_token_table
from feature_engineering_poc_spark.lakehouse.clustering import cluster, prune_files
from feature_engineering_poc_spark.lakehouse.compaction import compact
from feature_engineering_poc_spark.lakehouse.expire import (
    expire_snapshots, remove_orphans, rewrite_manifests,
)
from feature_engineering_poc_spark.lakehouse.generator import (
    SOURCES_SKEWED, VOCAB, token_dataframe,
)
from feature_engineering_poc_spark.lakehouse.merge import merge_into

import oracle
import tables
from tracing import Recorder, layer_wrappers

MAX_TOK = 256


@dataclass(frozen=True)
class NightlySize:
    rows: int = 60_000
    files_per_source: int = 32
    target_file_bytes: int = 4 << 20
    max_reps: int = 4


@dataclass(frozen=True)
class IngestSize:
    rows: int = 20_000
    files_per_source: int = 4
    target_file_bytes: int = 2 << 20
    appends: int = 1500  # new doc_ids per batch
    window: int = 3000  # upserts/deletes draw from the last `window` ids
    upsert_pct: int = 10
    delete_pct: int = 5
    dup_pct: int = 5  # appended keys sent twice in the same batch
    hot_every: int = 4  # every 4th batch also carries one hot key ...
    hot_rows: int = 2000  # ... repeated this many times
    maint_every: int = 6  # compact + expire after every 6th batch
    min_batches: int = 12
    staged_batches: int = 16


class RepFailed(Exception):
    """An operation raised; the rep's table state is no longer usable."""


@dataclass
class RepResult:
    setup_s: float
    values: dict[str, float] = field(default_factory=dict)
    batch_cpu: list[float] = field(default_factory=list)  # per pass or microbatch
    batch_wall: list[float] = field(default_factory=list)
    spans: list[tuple[str, float, float]] = field(default_factory=list)


class Run:
    """State shared by one benchmark run: session, seed, failure counts."""

    def __init__(self, spark: SparkSession, work: Path, seed: int, seconds: int, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rec = Recorder()
        self.build_s = 0.0  # master table build, the shared part of set-up
        # summaries returned by the engine in traced reps, per op name
        self.summaries: dict[str, list[dict]] = {}
        self._t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"perfbench [{time.perf_counter() - self._t0:7.2f}s] {msg}", file=sys.stderr)

    def op(self, names: str | tuple[str, ...], fn, *args, **kwargs):
        """Call one user-facing operation under its span(s); returns
        (result, wall seconds, CPU seconds). An exception counts as a
        failure."""
        names = (names,) if isinstance(names, str) else names
        self.attempted += 1
        t0, c0 = time.perf_counter(), tables.work_cpu_s()
        try:
            with ExitStack() as stack:
                for n in names:
                    stack.enter_context(self.rec.span(n))
                result = fn(*args, **kwargs)
        except Exception as e:
            self.failed += 1
            self.failures.append(f"{names[-1]}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            raise RepFailed(names[-1]) from e
        return result, time.perf_counter() - t0, tables.work_cpu_s() - c0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def keep_summary(self, name: str, summary: dict) -> None:
        self.summaries.setdefault(name, []).append(summary)

    def draw_seed(self, rep: int) -> int:
        return self.seed * 7919 + rep * 104729 + 17


# ------------------------------------------------------------ shared steps
def _read(spark: SparkSession, path: Path) -> DataFrame:
    return spark.read.parquet(str(path))


def _canonical(spark: SparkSession, seed: int, n: int, id_offset: int) -> DataFrame:
    """Generator rows for ids [id_offset, id_offset+n) with their ``id``:
    every source row the benchmark stages reuses the doc's generated
    ``source`` so an update never asks to move a row across partitions."""
    return token_dataframe(spark, n, seed=seed, max_tok=MAX_TOK, id_offset=id_offset).withColumn(
        "id", F.substring("doc_id", 4, 12).cast("long")
    )


def _shift_tokens(k) -> F.Column:
    return F.transform("tokens", lambda t: F.pmod(t + k, F.lit(VOCAB)).cast("int"))


def _predicates(seed: int, max_id: int) -> list[dict]:
    """The fixed read set: 64 ``n_tok`` bands and 64 narrow doc_id ranges."""
    rng = random.Random(seed)
    preds = []
    for _ in range(64):
        lo = rng.randint(8, MAX_TOK - 32)
        preds.append({"n_tok_range": (lo, lo + rng.randint(4, 24))})
    for _ in range(64):
        a = rng.randrange(0, max_id)
        preds.append({"doc_id_range": (f"doc{a:012d}", f"doc{a + rng.randint(50, 400):012d}")})
    return preds


def _pruned(spark: SparkSession, table: TokenTable, preds: list[dict]) -> list[dict[str, int]]:
    """Per predicate, {file path: bytes} that manifest pruning keeps.

    ``prune_files`` builds plain column comparisons, so it is applied to
    the manifest crossed with a table of predicate bounds: one query per
    predicate kind instead of one per predicate. Both inputs are built in
    the JVM (a parquet scan and literals), so no Python worker runs."""
    kept: list[dict[str, int]] = [{} for _ in preds]
    for kind in ("n_tok_range", "doc_id_range"):
        bounds = spark.range(1).select(F.inline(F.array(*[
            F.struct(F.lit(i).alias("_p"), F.lit(p[kind][0]).alias("_lo"), F.lit(p[kind][1]).alias("_hi"))
            for i, p in enumerate(preds) if kind in p
        ])))
        md = table.manifest_df(spark).crossJoin(bounds)
        pruned = prune_files(md, **{kind: (F.col("_lo"), F.col("_hi"))})
        for r in pruned.select("_p", "file_path", "file_bytes").collect():
            kept[r._p][r.file_path] = r.file_bytes
    return kept


def _pred_col(p: dict) -> F.Column:
    if "n_tok_range" in p:
        lo, hi = p["n_tok_range"]
        return (F.col("n_tok") >= lo) & (F.col("n_tok") <= hi)
    lo, hi = p["doc_id_range"]
    return (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)


def read_checks(run: Run, table: TokenTable, preds: list[dict], check_sound: bool) -> float:
    """Share of live bytes the predicate set opens; optionally verify
    that pruning never drops a file holding a matching row."""
    live = {r["file_path"]: r["file_bytes"] for r in tables.manifest_rows(table.root)}
    kept = _pruned(run.spark, table, preds)
    frac = sum(sum(k.values()) for k in kept) / (len(preds) * sum(live.values()))
    if check_sound:
        flags = [F.max(_pred_col(p).cast("int")).alias(f"p{i}") for i, p in enumerate(preds)]
        rows = (
            table.scan(run.spark, files=list(live))
            .groupBy(F.input_file_name().alias("f"))
            .agg(*flags)
            .collect()
        )
        kept_norm = [{tables.norm_path(f) for f in k} for k in kept]
        missed = [
            (tables.norm_path(r.f), i)
            for r in rows
            for i in range(len(preds))
            if r[f"p{i}"] and tables.norm_path(r.f) not in kept_norm[i]
        ]
        run.check("prune_sound", not missed, f"pruning dropped matching files: {missed[:3]}")
    return frac


def _timed_scans(run: Run, table: TokenTable, n: int = 8) -> tuple[tuple[int, int], float]:
    """Fingerprint of the current snapshot, scanned once untimed and then
    ``n`` times (a reader re-opening the table); returns the fingerprint
    and the CPU seconds per timed scan. The ``n`` scans are timed as one
    block: one scan is a few dozen /proc clock ticks, spread over a dozen
    processes, so timing each alone would mostly measure tick rounding."""
    fps = {tables.fingerprint(table.scan(run.spark))}
    c0 = tables.work_cpu_s()
    for _ in range(n):
        with run.rec.span("scan"):
            fps.add(tables.fingerprint(table.scan(run.spark)))
    cpu = (tables.work_cpu_s() - c0) / n
    run.log(f"scan: {cpu:.3f} cpu-s per scan")
    run.check("scan_repeatable", len(fps) == 1, f"fingerprints differ across scans: {fps}")
    return fps.pop(), cpu


def _new_bytes(root: Path, seen: dict[str, int]) -> int:
    """Bytes of data files that appeared since ``seen`` (updated in place)."""
    now = tables.data_files(root)
    fresh = {p: s for p, s in now.items() if p not in seen}
    seen.update(fresh)
    return sum(fresh.values())


def _rows_rewritten(before: list[dict], after: list[dict]) -> int:
    kept = {r["file_path"] for r in after}
    return sum(r["record_count"] for r in before if r["file_path"] not in kept)


def _merge_layer_summary(r: dict, before: list[dict], after: list[dict]) -> dict:
    changed = r["rows_updated"] + r["rows_deleted"]
    return {
        "touched_files": r["touched_files"],
        "candidate_files": r["candidate_files"],
        "units_broadcast": r["units_broadcast"],
        "rows_rewritten_per_changed": _rows_rewritten(before, after) / max(1, changed),
    }


# --------------------------------------------------------------- nightly
def nightly(run: Run, size: NightlySize = NightlySize()) -> list[RepResult]:
    spark, n = run.spark, size.rows
    master = run.work / "master"
    t0 = time.perf_counter()
    write_token_table(
        spark, master, n_rows=n, files_per_source=size.files_per_source,
        seed=run.seed, max_tok=MAX_TOK,
    )
    run.build_s = time.perf_counter() - t0
    run.log("nightly master built")
    start_rows = TokenTable(master).scan(spark).persist()
    preds = _predicates(run.seed, n + n // 10)
    master_sig = tables.tree_signature(master)
    reps: list[RepResult] = []
    t_measure = 0.0
    while not reps or (t_measure < run.seconds and len(reps) < size.max_reps):
        rep = len(reps)
        try:
            with layer_wrappers(run.rec) if run.trace else ExitStack():
                res = _nightly_rep(run, size, master, start_rows, preds, rep, run.trace)
        except RepFailed:
            break
        t_measure += res.batch_wall[0]
        reps.append(res)
    start_rows.unpersist()
    run.check("master_unchanged", tables.tree_signature(master) == master_sig,
              "a rep modified the master table")
    run.log("nightly done")
    return reps


def _stage_nightly(run: Run, n: int, rep: int, d: Path) -> tuple[Path, Path]:
    spark, seed, draw = run.spark, run.seed, run.draw_seed(rep)
    base = _canonical(spark, seed, n, 0)
    h = F.pmod(F.xxhash64("doc_id", F.lit(draw)), F.lit(100))
    seq0 = F.lit(0).cast("long").alias("_seq")
    updates = base.filter(h < 10).select(
        "doc_id", _shift_tokens(F.lit(rep + 1)).alias("tokens"), "n_tok", "source",
        F.lit("upsert").alias("_op"), seq0,
    )
    deletes = base.filter((h >= 10) & (h < 15)).select(
        "doc_id", "tokens", "n_tok", "source", F.lit("delete").alias("_op"), seq0,
    )
    inserts = _canonical(spark, seed, n // 10, n).select(
        "doc_id", "tokens", "n_tok", "source", F.lit("upsert").alias("_op"), seq0,
    )
    # hot key: one existing doc_id repeated rows/10 times (ordered by
    # _seq, so "last" keeps the highest), plus rows/20 cold inserts. The
    # hot doc is a short doc from the low end of the largest partition,
    # so after z-ordering it sits in the same file for every seed and
    # the rewrite it forces has the same size.
    start = random.Random(draw).randrange(n // 8)
    hot_doc = (
        _canonical(spark, seed, 200, start)
        .filter((F.col("source") == SOURCES_SKEWED[0][0]) & (F.col("n_tok") <= 16))
        .orderBy("id")
        .limit(1)
        .select("doc_id", "source")
    )
    hot = (
        spark.range(n // 10)
        .crossJoin(hot_doc)
        .select(
            "doc_id", F.array(F.pmod("id", F.lit(VOCAB)).cast("int")).alias("tokens"),
            F.lit(1).alias("n_tok"), "source", F.lit("upsert").alias("_op"),
            F.col("id").alias("_seq"),
        )
    )
    cold = _canonical(spark, seed, n // 20, n + n // 10).select(
        "doc_id", "tokens", "n_tok", "source", F.lit("upsert").alias("_op"), seq0,
    )
    # both sources in one write, one directory each
    stage = d / "sources"
    (
        updates.unionByName(deletes).unionByName(inserts).withColumn("src", F.lit(1))
        .unionByName(hot.unionByName(cold).withColumn("src", F.lit(2)))
        .write.partitionBy("src")
        .parquet(str(stage))
    )
    return stage / "src=1", stage / "src=2"


def _nightly_rep(run, size, master, start_rows, preds, rep, traced) -> RepResult:
    spark = run.spark
    d = run.work / f"rep{rep}"
    t0 = time.perf_counter()
    tables.clone_table(master, d / "table")
    s1, s2 = _stage_nightly(run, size.rows, rep, d)
    table = TokenTable(d / "table")
    pinned = table.current_snapshot_id()
    fp0 = tables.fingerprint(table.scan(spark))  # warm-up scan
    res = RepResult(setup_s=time.perf_counter() - t0)
    run.log(f"rep {rep} set up in {res.setup_s:.2f}s")
    span0 = len(run.rec.spans)

    root = table.root
    live0 = sum(r["file_bytes"] for r in tables.manifest_rows(root))
    seen = tables.data_files(root)
    written = 0
    cpu: dict[str, float] = {}
    wall: dict[str, float] = {}
    target = size.target_file_bytes

    def timed(name, fn, *args, **kwargs):
        nonlocal written
        before = tables.manifest_rows(root) if traced else None
        r, wall[name], cpu[name] = run.op(name, fn, *args, **kwargs)
        written += _new_bytes(root, seen)
        if traced:
            if name == "merge":
                run.keep_summary("merge", _merge_layer_summary(r, before, tables.manifest_rows(root)))
            elif name in ("compact", "cluster", "expire"):
                run.keep_summary(name, r)
        return r

    timed("compact", compact, spark, table, target_file_bytes=target, job_id="nightly-compact")
    timed("cluster", cluster, spark, table, curve="zorder", target_file_bytes=target,
          job_id="nightly-cluster")
    merged = timed("merge", merge_into, spark, table, _read(spark, s1), job_id="nightly-merge")
    timed("merge_skewed", merge_into, spark, table, _read(spark, s2),
          duplicate_policy="last", salt=16, job_id="nightly-merge-skewed")
    fp_pinned = tables.fingerprint(table.scan(spark, pinned))
    run.check("pinned_reader", fp_pinned == fp0, f"snapshot {pinned}: {fp_pinned} != {fp0}")
    timed("expire", expire_snapshots, spark, table, keep_last=1)
    timed("orphans", remove_orphans, spark, table, grace_period_ms=0)
    timed("rewrite_manifests", rewrite_manifests, spark, table)
    res.spans = run.rec.spans[span0:]
    run.log(f"rep {rep} timed ops done (wall/cpu s): "
            + ", ".join(f"{n}={wall[n]:.2f}/{cpu[n]:.2f}" for n in cpu))

    fp_final, scan_cpu = _timed_scans(run, table)

    events = oracle.as_events(_read(spark, s1), 1).unionByName(
        oracle.as_events(_read(spark, s2), 2)
    )
    fp_expected = tables.fingerprint(oracle.expected_rows(start_rows, events))
    run.check("oracle", fp_final == fp_expected, f"table {fp_final} != oracle {fp_expected}")

    version = table.current_snapshot_id()
    replay = merge_into(spark, table, _read(spark, s1), job_id="nightly-merge")
    run.check(
        "replay_noop",
        replay.get("snapshot_id") == merged["snapshot_id"] and table.current_snapshot_id() == version,
        f"replay returned {replay.get('snapshot_id')} (first {merged['snapshot_id']}), "
        f"VERSION {version} -> {table.current_snapshot_id()}",
    )

    run.log(f"rep {rep} checks done")
    final = tables.manifest_rows(root)
    live = sum(r["file_bytes"] for r in final)
    pass_cpu = sum(cpu.values())
    res.values = {
        "rows_per_cpu_s": size.rows / pass_cpu,
        "scan.cpu_s": scan_cpu,
        "read_bytes_frac": read_checks(run, table, preds, check_sound=rep == 0),
        "write_amp": written / live0,
        "space_amp": tables.tree_bytes(root) / live,
        "metadata.live_files": len(final),
        "metadata.snapshots": len(list((root / "metadata").glob("snap-*.json"))),
    }
    res.batch_cpu = [pass_cpu]
    res.batch_wall = [sum(wall.values())]
    return res


# ---------------------------------------------------------------- ingest
def _stage_ingest(run: Run, size: IngestSize, rep: int, d: Path) -> Path:
    """All of a rep's microbatches in one write, one directory per batch."""
    spark, seed, draw = run.spark, run.seed, run.draw_seed(rep)
    n, a, w, nb = size.rows, size.appends, size.window, size.staged_batches
    cols = ["doc_id", "tokens", "n_tok", "source", "_op", "_seq", "batch"]

    appends = _canonical(spark, seed, nb * a, n).withColumn(
        "batch", F.floor((F.col("id") - n) / a).cast("int")
    )
    app = appends.select(
        "doc_id", "tokens", "n_tok", "source", F.lit("upsert").alias("_op"),
        F.lit(1).cast("long").alias("_seq"), "batch",
    )
    dups = appends.filter(
        F.pmod(F.xxhash64("doc_id", F.lit(draw + 1)), F.lit(100)) < size.dup_pct
    ).select(
        "doc_id", _shift_tokens(F.lit(7)).alias("tokens"), "n_tok", "source",
        F.lit("upsert").alias("_op"), F.lit(3).cast("long").alias("_seq"), "batch",
    )
    # batch b draws from ids [n + b*a - w, n + b*a): the `w` most recent
    recent_base = _canonical(spark, seed, w + (nb - 1) * a, n - w)
    recent = recent_base.withColumn(
        "batch",
        F.explode(F.sequence(
            F.floor((F.col("id") - n) / a).cast("int") + 1,
            F.floor((F.col("id") - n + w) / a).cast("int"),
        )),
    ).filter((F.col("batch") >= 0) & (F.col("batch") < nb))
    h = F.pmod(F.xxhash64("doc_id", "batch", F.lit(draw)), F.lit(100))
    recent = recent.withColumn("_h", h).filter(F.col("_h") < size.upsert_pct + size.delete_pct)
    rec = recent.select(
        "doc_id",
        _shift_tokens(F.col("batch") + 1).alias("tokens"), "n_tok", "source",
        F.when(F.col("_h") < size.upsert_pct, "upsert").otherwise("delete").alias("_op"),
        F.lit(2).cast("long").alias("_seq"), "batch",
    )
    # hot batches: the newest pre-batch doc_id repeated hot_rows times
    hot_key = recent_base.withColumn("batch", ((F.col("id") - n + 1) / a).cast("int")).filter(
        ((F.col("id") - n + 1) % a == 0)
        & (F.col("batch") % size.hot_every == size.hot_every - 1)
        & (F.col("batch") < nb)
    )
    hot = hot_key.crossJoin(spark.range(size.hot_rows).withColumnRenamed("id", "k")).select(
        "doc_id", F.array(F.pmod("k", F.lit(VOCAB)).cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"), "source", F.lit("upsert").alias("_op"),
        (F.col("k") + 10).alias("_seq"), "batch",
    )
    stage = d / "batches"
    (
        app.unionByName(dups).unionByName(rec).unionByName(hot).select(*cols)
        .repartition("batch")
        .write.partitionBy("batch")
        .parquet(str(stage))
    )
    return stage


def _parquet_rows_bytes(d: Path) -> tuple[int, int]:
    import pyarrow.parquet as pq

    files = list(d.glob("*.parquet"))
    return (
        sum(pq.ParquetFile(p).metadata.num_rows for p in files),
        sum(p.stat().st_size for p in files),
    )


def ingest(run: Run, size: IngestSize = IngestSize(), min_batches: int | None = None) -> list[RepResult]:
    spark, n = run.spark, size.rows
    master = run.work / "master"
    t0 = time.perf_counter()
    t = write_token_table(
        spark, master, n_rows=n, files_per_source=size.files_per_source,
        seed=run.seed, max_tok=MAX_TOK,
    )
    # ingest runs against a doc_id-range layout: recent ids sit in few files
    compact(spark, t, target_file_bytes=size.target_file_bytes, mode="sort", job_id="layout")
    run.build_s = time.perf_counter() - t0
    run.log("ingest master built")
    start_rows = TokenTable(master).scan(spark).persist()
    preds = _predicates(run.seed, n + size.staged_batches * size.appends)
    master_sig = tables.tree_signature(master)
    reps: list[RepResult] = []
    try:
        with layer_wrappers(run.rec) if run.trace else ExitStack():
            reps.append(_ingest_rep(
                run, size, master, start_rows, preds, 0, run.trace, min_batches or size.min_batches,
            ))
    except RepFailed:
        pass
    start_rows.unpersist()
    run.check("master_unchanged", tables.tree_signature(master) == master_sig,
              "a rep modified the master table")
    return reps


def _ingest_rep(run, size, master, start_rows, preds, rep, traced, min_batches) -> RepResult:
    spark = run.spark
    d = run.work / f"rep{rep}"
    t0 = time.perf_counter()
    tables.clone_table(master, d / "table")
    stage = _stage_ingest(run, size, rep, d)
    table = TokenTable(d / "table")
    fp0 = tables.fingerprint(table.scan(spark))  # warm-up scan
    res = RepResult(setup_s=time.perf_counter() - t0)
    run.log(f"rep {rep} set up in {res.setup_s:.2f}s")
    span0 = len(run.rec.spans)
    root = table.root
    target = size.target_file_bytes

    pinned = table.current_snapshot_id()
    seen = tables.data_files(root)
    written = user_bytes = rows_in = 0
    loop_s = loop_cpu = 0.0
    first: dict | None = None
    pinned_checked = False
    i = 0
    while i < size.staged_batches and (i < min_batches or loop_s < run.seconds):
        bdir = stage / f"batch={i}"
        rows, nbytes = _parquet_rows_bytes(bdir)
        is_hot = i % size.hot_every == size.hot_every - 1
        before = tables.manifest_rows(root) if traced else None
        r, dt, dc = run.op(
            ("batch", "merge_skewed" if is_hot else "merge"),
            lambda p=bdir: merge_into(
                spark, table, _read(spark, p), duplicate_policy="last",
                job_id=f"ingest-batch{i}",
            ),
        )
        if traced and not is_hot:
            run.keep_summary("merge", _merge_layer_summary(r, before, tables.manifest_rows(root)))
        first = first or r
        res.batch_cpu.append(dc)
        res.batch_wall.append(dt)
        loop_s += dt
        loop_cpu += dc
        rows_in += rows
        user_bytes += nbytes
        written += _new_bytes(root, seen)
        i += 1
        if i % size.maint_every == 0:
            if not pinned_checked:
                fp_pinned = tables.fingerprint(table.scan(spark, pinned))
                run.check("pinned_reader", fp_pinned == fp0, f"snapshot {pinned}: {fp_pinned} != {fp0}")
                pinned_checked = True
            with run.rec.span("maint"):
                c, wc, cc = run.op("compact", compact, spark, table, target_file_bytes=target,
                                   job_id=f"ingest-maint{i}")
                e, we, ce = run.op("expire", expire_snapshots, spark, table, keep_last=1)
            if traced:
                run.keep_summary("compact", c)
                run.keep_summary("expire", e)
            loop_s += wc + we
            loop_cpu += cc + ce
            written += _new_bytes(root, seen)
    res.spans = run.rec.spans[span0:]
    run.log(f"rep {rep} timed ops done: " + ", ".join(f"{n}={t1 - t0:.2f}" for n, t0, t1 in res.spans))
    run.log("batch cpu s: " + ", ".join(f"{c:.2f}" for c in res.batch_cpu))

    fp_final, scan_cpu = _timed_scans(run, table)

    events = oracle.as_events(
        _read(spark, stage).filter(F.col("batch") < i), F.col("batch")
    )
    fp_expected = tables.fingerprint(oracle.expected_rows(start_rows, events))
    run.check("oracle", fp_final == fp_expected, f"table {fp_final} != oracle {fp_expected}")

    version = table.current_snapshot_id()
    replay = merge_into(spark, table, _read(spark, stage / "batch=0"),
                        duplicate_policy="last", job_id="ingest-batch0")
    run.check(
        "replay_noop",
        replay.get("snapshot_id") == first["snapshot_id"] and table.current_snapshot_id() == version,
        f"replay returned {replay.get('snapshot_id')} (first {first['snapshot_id']}), "
        f"VERSION {version} -> {table.current_snapshot_id()}",
    )

    run.log(f"rep {rep} checks done")
    final = tables.manifest_rows(root)
    live = sum(r["file_bytes"] for r in final)
    res.values = {
        "rows_per_cpu_s": rows_in / loop_cpu,
        "scan.cpu_s": scan_cpu,
        "read_bytes_frac": read_checks(run, table, preds, check_sound=rep == 0),
        "write_amp": written / user_bytes,
        "space_amp": tables.tree_bytes(root) / live,
        "metadata.live_files": len(final),
        "metadata.snapshots": len(list((root / "metadata").glob("snap-*.json"))),
    }
    return res
