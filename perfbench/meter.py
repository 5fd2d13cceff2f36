"""What the benchmark measures from outside the program.

* :class:`Spans` — a span (name, start, end, parent) around each public
  call the benchmark makes; kept in memory, written out when the run ends.
* :class:`SparkStatus` — per-operation deltas read from Spark's own status
  store (the store behind the web UI, populated even with the UI off):
  jobs and their intervals, stages, tasks, executor run/CPU/GC time,
  shuffle and input bytes.
* :func:`tree_cpu_s` / :func:`tree_peak_rss_mb` — CPU time and peak
  resident memory of this process and every descendant (the Spark JVM and
  its Python workers), read from ``/proc`` for our own processes only.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Dict, List, Optional, Tuple

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- processes

def _stat(pid: str) -> Optional[Tuple[int, float]]:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    fields = raw[raw.rindex(")") + 2:].split()  # after "pid (comm) "
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _tree() -> Dict[str, float]:
    """pid -> cpu seconds, for this process and all its descendants."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[pid] = st
    kids: Dict[int, List[str]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1]
            todo.extend(kids.get(int(pid), []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user+system) used so far by the process tree. Children
    that exited and were reaped count through their parent's cutime."""
    return sum(_tree().values())


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS (VmHWM):
    an upper bound on the tree's peak, read once at the end of a run."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


# ------------------------------------------------------------------- spans

class Spans:
    """In-memory span recorder. Spans nest by call order (the benchmark
    drives the program from one thread), so a span's parent is the span
    open when it starts."""

    def __init__(self):
        self.records: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.records)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.records.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def last(self, name: str) -> dict:
        return next(r for r in reversed(self.records) if r["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.records, f)


# ------------------------------------------------------------ status store

_STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                 "shuffleWriteBytes", "shuffleReadBytes", "inputBytes")


class SparkStatus:
    """Deltas of Spark's status store between two calls of :meth:`delta`.
    Job and stage ids are dense and increasing, so new entries are read by
    id from the last one seen; nothing older is touched."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._noq = sc._gateway.new_array(sc._jvm.double, 0)
        self._nostatus = sc._jvm.java.util.ArrayList()
        self._next_job = self._next_stage = 0
        self.delta()  # skip everything before construction

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Exception as e:  # Py4JJavaError wrapping NoSuchElementException
            if "NoSuchElementException" in str(e):
                return None
            raise

    def _stages(self, sid: int):
        try:
            seq = self._store.stageData(sid, False, self._nostatus, False, self._noq)
        except Exception as e:
            if "NoSuchElementException" in str(e):
                return None
            raise
        return list(self._conv.asJava(seq)) or None  # unknown ids may read as empty

    def delta(self) -> dict:
        """Counts and sums over jobs/stages that appeared since the last
        call. Waits for the listener bus to drain first, so every event of a
        finished action has reached the store."""
        self._bus.waitUntilEmpty()
        intervals = []
        while (j := self._job(self._next_job)) is not None:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            self._next_job += 1
        out = {"jobs": len(intervals), "stages": 0, "tasks": 0,
               **{k: 0 for k in _STAGE_FIELDS}}
        while (attempts := self._stages(self._next_stage)) is not None:
            for s in attempts:
                if str(s.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                for k in _STAGE_FIELDS:
                    out[k] += getattr(s, k)()
            self._next_stage += 1
        out["intervals"] = intervals
        return out


def union_s(intervals: List[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
