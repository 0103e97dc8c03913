"""Measurement from outside the program.

Everything here wraps the program's public calls at run time or reads
Spark's own bookkeeping (stream progress, the DAG scheduler's job
counter, the status stores, JVM MXBeans, ``/proc``); no program file
is changed.

- ``FileLedger``: bytes and files newly created under the warehouse,
  counted by inode, after every table write and every batch.
- ``Tracer``: spans (name, trace id = batch id, parent, start, end)
  kept in memory and written out at the end of a traced run.
"""

from __future__ import annotations

import functools
import json
import os
import resource
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq


def table_of(relpath: str) -> str:
    """Warehouse entry a file belongs to: ``Patient`` for
    ``Patient.parquet/part-...`` and ``Patient.parquet.tmp-1a2b/...``;
    ``_corrupt`` / ``_corrupt_resources`` for the dead letters."""
    return relpath.split(os.sep, 1)[0].split(".parquet", 1)[0]


@dataclass
class NewFile:
    batch: int
    table: str
    size: int
    is_data: bool  # a parquet part file (not .crc / _SUCCESS)
    rows: int = 0  # from the footer, when the ledger reads footers


class FileLedger:
    """Files created under ``root`` since the ledger started.

    A file is identified by (inode, mtime): renames keep both, and a
    rewritten table gets new inodes, so a copy-on-write swap is counted
    once however often its directory is renamed. Files still under a
    ``_temporary`` staging dir are skipped until they are committed."""

    def __init__(self, root: str, read_footers: bool = False):
        self.root = root
        self.read_footers = read_footers
        self.seen: set[tuple[int, int]] = set()
        self.new: list[NewFile] = []
        self.batch = -1
        self.active = False
        self._lock = threading.Lock()

    def start(self) -> None:
        self.snapshot()  # everything already there is not new
        self.new.clear()
        self.active = True

    def snapshot(self) -> None:
        with self._lock:
            for dirpath, dirnames, filenames in os.walk(self.root):
                dirnames[:] = [d for d in dirnames if d != "_temporary"]
                for name in filenames:
                    path = os.path.join(dirpath, name)
                    try:
                        st = os.stat(path)
                    except FileNotFoundError:  # removed by a concurrent swap
                        continue
                    key = (st.st_ino, st.st_mtime_ns)
                    if key in self.seen:
                        continue
                    self.seen.add(key)
                    if not self.active:
                        continue
                    is_data = name.endswith(".parquet")
                    rows = 0
                    if is_data and self.read_footers:
                        try:
                            rows = pq.read_metadata(path).num_rows
                        except (FileNotFoundError, OSError):
                            continue
                    rel = os.path.relpath(path, self.root)
                    self.new.append(NewFile(self.batch, table_of(rel), st.st_size, is_data, rows))


def warehouse_bytes(root: str) -> tuple[int, int]:
    """(bytes, parquet part files of the keyed tables) under ``root``."""
    total = files = 0
    for dirpath, _, filenames in os.walk(root):
        for name in filenames:
            total += os.path.getsize(os.path.join(dirpath, name))
            rel = os.path.relpath(dirpath, root)
            if name.endswith(".parquet") and not table_of(rel).startswith("_"):
                files += 1
    return total, files


def call_after(owner, name: str, hook) -> None:
    """Replace ``owner.name`` with a wrapper that calls ``hook()`` after
    every call of the original, also when it raises."""
    orig = getattr(owner, name)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        try:
            return orig(*args, **kwargs)
        finally:
            hook()

    setattr(owner, name, wrapper)


# -- process-level readings -------------------------------------------------


class Process:
    """CPU, GC and memory of the JVM (by pid, from /proc and MXBeans)
    and of this Python process."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self.tick  # utime + stime

    def jit_cpu_s(self) -> float:
        """CPU of the JVM's JIT compiler threads (C1/C2 CompilerThreadN,
        whose /proc name is cut to "C2 CompilerThre"), summed per thread;
        the JVM runs with a fixed set of them, so none exits and takes
        its count along."""
        ticks = 0
        tasks = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/stat") as f:
                    raw = f.read()
            except OSError:  # the thread ended
                continue
            name, rest = raw.split("(", 1)[1].rsplit(")", 1)
            if "CompilerThre" in name:
                fields = rest.split()
                ticks += int(fields[11]) + int(fields[12])
        return ticks / self.tick

    def gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()) / 1000

    def jobs_submitted(self) -> int:
        return self.spark._jsc.sc().dagScheduler().nextJobId()

    def stages_submitted(self) -> int:
        return self.spark._jsc.sc().dagScheduler().nextStageId()

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            hwm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024

    def cached_mb(self) -> float:
        infos = self.spark._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20

    def shuffle_write_bytes(self, first_stage: int, end_stage: int) -> int:
        """Shuffle bytes written by stages [first, end) per the core
        status store; stages AQE skipped have no attempt."""
        store = self.spark._jsc.sc().statusStore()
        total = 0
        for sid in range(first_stage, end_stage):
            try:
                total += store.lastStageAttempt(sid).shuffleWriteBytes()
            except Exception:  # py4j: NoSuchElementException for a skipped stage
                continue
        return total

    def scan_files_read(self, description: str) -> list[int]:
        """'number of files read' of the parquet scan node of every SQL
        execution whose description is ``description``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        execs = store.executionsList()
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            if ex.description() != description:
                continue
            metrics = store.executionMetrics(ex.executionId())
            nodes = store.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not node.name().startswith("Scan parquet"):
                    continue
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() == "number of files read":
                        value = metrics.get(m.accumulatorId())
                        if value.isDefined():
                            out.append(int(value.get().replace(",", "")))
        return out


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    name: str
    trace: int
    parent: str | None
    start: float
    end: float


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    trace: int = -1
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, name: str, start: float, end: float, parent: str | None) -> None:
        with self._lock:
            self.spans.append(Span(name, self.trace, parent, start, end))

    def wrap(self, owner, name: str, span: str, parent: str | None) -> None:
        """Span every call of ``owner.name`` under ``parent``."""
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.record(span, t, time.perf_counter(), parent)

        setattr(owner, name, wrapper)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
