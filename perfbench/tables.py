"""Table helpers the benchmark uses outside the engine's code paths.

Everything here reads table metadata with pyarrow or plain file-system
calls, never through the engine's planning functions, so the traced
run's per-layer counters only see calls made by the operations under
test.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
from pathlib import Path
from urllib.parse import unquote

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, bit_xor of per-row xxhash64) — order-insensitive."""
    row = df.select(F.xxhash64("doc_id", "source", "n_tok", "tokens").alias("h")).agg(
        F.count("*").alias("n"), F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x")
    ).collect()[0]
    return int(row.n), int(row.x)


def manifest_rows(root: Path, snapshot_id: int | None = None) -> list[dict]:
    """Manifest entries of a snapshot, read straight from its parquet files."""
    meta = root / "metadata"
    sid = int((meta / "VERSION").read_text()) if snapshot_id is None else snapshot_id
    snap = json.loads((meta / f"snap-{sid}.json").read_text())
    if snap["manifest"] is None:
        return []
    out: list[dict] = []
    for f in sorted((root / snap["manifest"]).glob("*.parquet")):
        out.extend(pq.read_table(f).to_pylist())
    return out


def clone_table(src: Path, dst: Path) -> None:
    """Copy a table so the copy can be maintained without touching ``src``.

    Data files are hard links (immutable; the engine never writes a data
    file in place). Metadata is copied, and because manifests record
    absolute file paths, every manifest is rewritten to point at the
    copy — otherwise expiry on the copy would delete the source's files.
    Spark's ``.crc`` sidecars of the rewritten manifests are dropped.
    """
    shutil.copytree(src / "data", dst / "data", copy_function=os.link)
    shutil.copytree(src / "metadata", dst / "metadata")
    old, new = f"{src}/", f"{dst}/"
    for f in (dst / "metadata").glob("manifest-*/*.parquet"):
        tbl = pq.read_table(f)
        i = tbl.schema.get_field_index("file_path")
        tbl = tbl.set_column(
            i, tbl.schema.field(i), pc.replace_substring(tbl.column(i), old, new)
        )
        pq.write_table(tbl, f)
        f.with_name(f".{f.name}.crc").unlink(missing_ok=True)


def tree_signature(root: Path) -> str:
    """Digest of (path, size, mtime, inode) for every file under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = Path(dirpath) / name
            st = p.stat()
            h.update(f"{p.relative_to(root)}|{st.st_size}|{st.st_mtime_ns}|{st.st_ino}\n".encode())
    return h.hexdigest()


def tree_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


def data_files(root: Path) -> dict[str, int]:
    """Every parquet data file under the table's data dir → size."""
    return {
        str(p): p.stat().st_size
        for p in (root / "data").rglob("*.parquet")
        if not p.name.startswith((".", "_"))
    }


def norm_path(p: str) -> str:
    """A Spark ``input_file_name()`` URI as a plain path."""
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    return unquote(p)


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            stat = Path(entry.path, "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, stack = [], list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


class RssSampler:
    """Resident memory of this process's descendants (the Spark driver
    JVM and its Python workers), sampled from /proc. The sampling thread
    also keeps ``jit_cpu_s`` up to date."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            self.samples.append(self._tree_rss(descendants(me)))
            jit_cpu_s(me)

    def _tree_rss(self, pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * self._page
            except OSError:
                pass
        return total


_TICK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) spent so far by ``root_pid`` and every
    live descendant, with the children each has reaped."""
    ticks = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


_JIT_THREADS = ("C1 Compiler", "C2 Compiler")
_jit_ticks: dict[tuple[int, int], int] = {}  # (pid, tid) -> last CPU ticks seen
_other_tids: set[tuple[int, int]] = set()
_jit_lock = threading.Lock()


def jit_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds spent so far by the JIT compiler threads of every JVM
    below ``root_pid``. The JVM starts and retires compiler threads as
    its queue grows and drains; a retired thread keeps the last value
    seen, so call this often (the RSS sampler does)."""
    root_pid = root_pid or os.getpid()
    with _jit_lock:
        for pid in descendants(root_pid):
            try:
                tids = [int(t) for t in os.listdir(f"/proc/{pid}/task")]
            except OSError:
                continue
            for tid in tids:
                key = (pid, tid)
                if key in _other_tids:
                    continue
                task = f"/proc/{pid}/task/{tid}"
                try:
                    if key not in _jit_ticks and not Path(task, "comm").read_text().startswith(_JIT_THREADS):
                        _other_tids.add(key)
                        continue
                    f = Path(task, "stat").read_text().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                _jit_ticks[key] = int(f[11]) + int(f[12])
        return sum(_jit_ticks.values()) / _TICK


def work_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds spent so far doing the work: the driver, the Spark JVM
    (task, GC and service threads) and its Python workers, less the
    JVM's JIT compiler threads.

    The benchmark reports CPU time rather than wall time because on a
    shared host wall time also counts the time other tenants hold the
    cores. It leaves JIT compilation out because a JVM younger than a
    minute spends about as much CPU compiling as running the engine,
    and how much of that falls into one operation depends on what ran
    before it, not on the operation."""
    root_pid = root_pid or os.getpid()
    return _tree_cpu_s(root_pid) - jit_cpu_s(root_pid)
