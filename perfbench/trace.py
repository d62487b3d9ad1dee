"""Tracing for the benchmark: spans, Spark job-group aggregates, RSS.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent, pass id), kept in memory and written out once.
Every traced call runs under its own Spark job group, and the group's jobs
are summed afterwards from Spark's status store: task run and CPU time,
GC time, shuffle bytes, and the bytes the SQL plan moved to and from
Python workers.  The status store is filled with the UI disabled too.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call free."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str, sc=None, group: str | None = None):
        """Record a span; with ``group``, the Spark jobs started inside it
        run under job group ``<group>#<pass id>``."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        gid = f"{group}#{self.pass_id}" if group else None
        rec = {"name": name, "pass": self.pass_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "group": gid}
        self.spans.append(rec)
        self._stack.append(idx)
        if gid and sc is not None:
            self._groups.append(gid)
            sc.setJobGroup(gid, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if gid and sc is not None:
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(self._groups[-1], name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str, pass_id: int) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["pass"] == pass_id)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
PYTHON_SENT = "data sent to Python workers"
PYTHON_RECV = "data returned from Python workers"


def _parse_size(text: str) -> float:
    m = re.search(r"([\d.]+) (B|KiB|MiB|GiB|TiB)", text or "")
    return float(m.group(1)) * _SIZE[m.group(2)] if m else 0.0


class JobStats:
    """Reads per-job-group totals from the driver's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.exec_mark = 0

    def mark(self) -> None:
        """Only SQL executions started after this call are searched."""
        self.drain()
        self.exec_mark = int(self.sql_store.executionsCount())

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
               "python_bytes_sent": 0.0, "python_bytes_received": 0.0}
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            sd = self.store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            out["tasks"] += int(sd.numTasks())
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
        if jobs:
            sent, recv = self._python_bytes(set(jobs))
            out["python_bytes_sent"], out["python_bytes_received"] = sent, recv
        return out

    def _python_bytes(self, jobs: set[int]) -> tuple[float, float]:
        sent = recv = 0.0
        execs = self.sql_store.executionsList(self.exec_mark, 1 << 30)
        for i in range(execs.size()):
            ex = execs.apply(i)
            keys = ex.jobs().keys().toSeq()
            if not any(int(keys.apply(k)) in jobs for k in range(keys.size())):
                continue
            wanted = {}
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() in (PYTHON_SENT, PYTHON_RECV):
                    wanted[int(m.accumulatorId())] = m.name()
            if not wanted:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            for acc_id, name in wanted.items():
                opt = values.get(acc_id)
                if opt.isDefined():
                    n = _parse_size(opt.get())
                    if name == PYTHON_SENT:
                        sent += n
                    else:
                        recv += n
        return sent, recv


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds() -> float:
    """CPU time (user + system, including reaped children) of this process
    and its descendants: the driver, the JVM and the Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    me = os.getpid()
    for pid in [me] + _descendants(me):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Peak RSS of this process's descendants, sampled every ``interval``
    seconds while on: the driver JVM, its Python workers, and their sum."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = {"total": 0, "jvm": 0, "workers": 0}
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self._on.is_set():
                jvm = workers = 0
                for p in _descendants(me):
                    if _is_jvm(p):
                        jvm += _rss_bytes(p)
                    else:
                        workers += _rss_bytes(p)
                for key, v in (("total", jvm + workers), ("jvm", jvm), ("workers", workers)):
                    self.peak[key] = max(self.peak[key], v)
            time.sleep(self.interval)

    def start(self) -> None:
        self._on.set()

    def pause(self) -> None:
        self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
