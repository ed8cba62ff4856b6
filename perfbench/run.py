#!/usr/bin/env python3
"""Maintenance benchmark for the token-lakehouse engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload nightly_rewrite --seed 1 --seconds 10 --trace 0

Prints diagnostics on stderr and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the ``end_to_end`` list of BENCHMARK.json,
with ``--trace 1`` the ``per_layer`` list. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "feature_engineering_poc_spark"
SCRATCH = ".perfbench_tmp"  # per-run work dirs, inside the checkout
DRIVER_MEMORY = "2g"
TRACE_BATCHES = 6


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: Path) -> None:
    """Process environment for the driver, the JVM and Spark's Python
    workers. Must run before pyspark starts the JVM."""
    # Python workers (mapInPandas kernels, pandas UDFs) import the
    # package by name; without this they fail with ModuleNotFoundError
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prior if prior else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    sys.path.insert(0, str(ROOT))


def _session(work: Path, trace: bool, workload: str):
    from feature_engineering_poc_spark.session import get_session

    for sub in ("spark-local", "jvm-tmp", "eventlog"):
        (work / sub).mkdir()
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": " ".join([
            f"-Djava.io.tmpdir={work / 'jvm-tmp'}",
            # the whole heap committed and touched at start, so the
            # process's resident size does not follow GC sizing decisions
            f"-Xms{DRIVER_MEMORY}", "-XX:+AlwaysPreTouch",
        ]),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain file
        })
    return get_session(app_name=f"perfbench-{workload}", parallelism=_cores(), extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers it started."""
    import tables

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = tables.descendants(os.getpid())  # the JVM and its Python workers
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # Python workers exit once their JVM is gone; they are not our
    # children (and are re-parented when the JVM exits), so poll their pids
    deadline = time.monotonic() + 30
    while any(Path(f"/proc/{pid}").exists() for pid in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# batch_cpu_tail_s: p75 of the ingest loop's (at least) 12 batches, nearest
# rank 9 of 12. A percentile with ten samples beyond it would need 21+
# batches for anything above the median, which the run time cannot fit.
MIN_TAIL_SAMPLES = 12
TAIL_Q = 0.75


def end_to_end(run, reps, rss_samples: list[int]) -> dict[str, float]:
    vals = {k: _median(r.values[k] for r in reps) for k in reps[0].values} if reps else {}
    batches = [b for r in reps for b in r.batch_cpu]
    tail = _percentile(batches, TAIL_Q) if len(batches) >= MIN_TAIL_SAMPLES else max(batches, default=0.0)
    return {
        **vals,
        "setup_s": run.build_s + _median(r.setup_s for r in reps),
        "batch_cpu_p50_s": _median(batches),
        "batch_cpu_tail_s": tail,
        "rss_mb": _median(rss_samples) / 2**20,
        "success_rate": (run.attempted - run.failed) / max(1, run.attempted),
    }


def _untraced_rows_per_cpu_s(args) -> float:
    """rows_per_cpu_s of the same workload, seed and work in an untraced child
    run: the base of the tracing-overhead figure."""
    cmd = [sys.executable, str(Path(__file__)), "--workload", args.workload, "--seed",
           str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    if args.batches:
        cmd += ["--batches", str(args.batches)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    sys.stderr.write(out.stderr)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return 0.0
    return float(json.loads(lines[-1])["metrics"]["rows_per_cpu_s"]["value"])


def per_layer(run, reps, work: Path, bare_rate: float) -> dict[str, float]:
    import tracing

    jobs, tasks = tracing.read_event_log(work / "eventlog")
    spans = [s for r in reps for s in r.spans]
    out = tracing.span_spark_metrics(spans, jobs, tasks)
    # layer counters per unit of work: a nightly pass or an ingest batch
    units = max(1, sum(len(r.batch_cpu) for r in reps))
    for key in ("binpack.s", "binpack.bins", "stats.s", "stats.files", "lineage.s",
                "lineage.appends", "metadata.commit_s", "metadata.commits", "metadata.plan_s"):
        out[key] = run.rec.counters.get(key, 0.0) / units

    def summ(op: str, key: str) -> float:
        return _median(s[key] for s in run.summaries.get(op, []))

    for key in ("touched_files", "candidate_files", "units_broadcast", "rows_rewritten_per_changed"):
        out[f"merge.{key}"] = summ("merge", key)
    out["compact.files_in"] = summ("compact", "files_compacted")
    out["compact.files_out"] = summ("compact", "files_written")
    out["compact.bytes_rewritten"] = summ("compact", "bytes_compacted")
    out["cluster.files_out"] = summ("cluster", "files_written")
    out["expire.deleted_files"] = summ("expire", "deleted_files")
    for op in ("cluster", "expire", "orphans", "rewrite_manifests"):
        out[f"{op}.s"] = _median(t1 - t0 for name, t0, t1 in spans if name == op)
    for key in ("metadata.live_files", "metadata.snapshots", "scan.cpu_s"):
        out[key] = _median(r.values[key] for r in reps)
    traced_rate = _median(r.values["rows_per_cpu_s"] for r in reps)
    out["trace.overhead_frac"] = bare_rate / traced_rate - 1 if traced_rate and bare_rate else 0.0
    # the raw trace, for attribution beyond the reported medians
    print("perfbench trace: " + json.dumps({
        "spans": [{"name": n, "t0": t0, "t1": t1} for n, t0, t1 in spans],
        "counters": dict(run.rec.counters),
        "jobs": len(jobs),
    }), file=sys.stderr)
    return out


def main(argv: list[str] | None = None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--batches", type=int, default=None,
                    help="ingest loop length (default: the workload's minimum)")
    args = ap.parse_args(argv)
    if args.trace and args.workload == "ingest_microbatch" and args.batches is None:
        # a traced run also runs its untraced twin; half the loop keeps
        # the pair well inside one run's time limit
        args.batches = TRACE_BATCHES
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    bare_rate = _untraced_rows_per_cpu_s(args) if args.trace else 0.0
    work = ROOT / SCRATCH / f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    work.mkdir(parents=True)
    try:
        _prepare_env(work)
        import tables
        import workloads

        with tables.RssSampler() as rss:
            spark = _session(work, bool(args.trace), args.workload)
            try:
                run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
                if args.workload == "nightly_rewrite":
                    reps = workloads.nightly(run)
                else:
                    reps = workloads.ingest(run, min_batches=args.batches)
            finally:
                _stop(spark)
        if args.trace:
            values = per_layer(run, reps, work, bare_rate)
            wanted = spec["per_layer"]
        else:
            values = end_to_end(run, reps, rss.samples)
            wanted = spec["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / SCRATCH).rmdir()
        except OSError:
            pass
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if reps and missing:
        raise KeyError(f"metrics not produced: {missing}")
    print(f"perfbench: workload={args.workload} seed={args.seed} reps={len(reps)} "
          f"failures={run.failures}", file=sys.stderr)
    result = {
        "correct": run.failed == 0 and bool(reps),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
