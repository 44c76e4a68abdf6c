"""Measurements taken from outside the program: Spark status-store deltas,
spans, a ``TableIO`` that records its own writes, warehouse listings and
the driver JVM's peak resident memory."""

from __future__ import annotations

import json
import os
import threading
import time

from py4j.protocol import Py4JJavaError

from gondar_spark.sources.tables import TableIO

COUNTERS = ("jobs", "tasks", "executor_run_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")


class StatusStore:
    """Job and stage counters of the running application, read through
    py4j. The store keeps only the last ``spark.ui.retainedStages`` stages,
    so callers read it right after each call, never at the end of a run. Jobs are taken by time window, not by job group: the
    pipeline's write pools run on threads that do not inherit a group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self.spent_s = 0.0  # time spent reading the store: tracing overhead

    def job_ids(self) -> set:
        t0 = time.perf_counter()
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        out = {jobs.apply(i).jobId() for i in range(jobs.size())}
        self.spent_s += time.perf_counter() - t0
        return out

    def counters(self, job_ids) -> dict:
        t0 = time.perf_counter()
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(job_ids)
        self._sc.listenerBus().waitUntilEmpty()
        for jid in job_ids:
            job = self._store.job(jid)
            ids = job.stageIds()
            for k in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:  # evicted, or never submitted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
        self.spent_s += time.perf_counter() - t0
        return out


class Tracer:
    """Spans (name, start, end, parent, operation id) and per-span Spark
    counters, kept in memory and written to one file by ``dump``."""

    def __init__(self, store: StatusStore | None):
        self.store = store
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str):
        return _Span(self, name, op)

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        covered = sum(s["end"] - s["start"] for s in kids)
        return span["end"] - span["start"] - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: str):
        self.t, self.name, self.op = tracer, name, op

    def __enter__(self):
        t = self.t
        self.rec = {"id": len(t.spans), "name": self.name, "op": self.op,
                    "parent": t._stack[-1] if t._stack else None}
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        self._before = t.store.job_ids() if t.store else set()
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        t._stack.pop()
        if t.store:
            new = t.store.job_ids() - self._before
            self.rec["job_ids"] = sorted(new)
            self.rec["counters"] = t.store.counters(new)
        return False


class TracingTableIO(TableIO):
    """``TableIO`` whose write, append and compact calls record their wall
    time and the Spark jobs that ran while they did. Overlapping calls from
    the pipeline's write pools each add their own wall time, and share
    jobs; ``job_ids`` is a set, so each job counts once."""

    def __init__(self, spark, warehouse: str, store: StatusStore):
        super().__init__(spark, warehouse)
        self._store = store
        self.reset()

    def reset(self) -> None:
        self.calls = 0
        self.wall_s = 0.0
        self.job_ids: set = set()
        self._depth = threading.local()

    def _timed(self, fn, *args, **kw):
        # append and compact call write: only a thread's outermost call counts
        depth = getattr(self._depth, "n", 0)
        self._depth.n = depth + 1
        outer = depth == 0
        before = self._store.job_ids() if outer else None
        t0 = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            self._depth.n = depth
            if outer:
                self.calls += 1
                self.wall_s += time.perf_counter() - t0
                self.job_ids |= self._store.job_ids() - before

    def write(self, *a, **kw):
        return self._timed(super().write, *a, **kw)

    def append(self, *a, **kw):
        return self._timed(super().append, *a, **kw)

    def compact(self, *a, **kw):
        return self._timed(super().compact, *a, **kw)


def listing(root: str) -> dict:
    """{path: (size, mtime_ns)} of every file under ``root``."""
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            p = os.path.join(r, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) new or rewritten between two listings; deletions are
    ignored."""
    files = [v[0] for p, v in after.items() if before.get(p) != v]
    return len(files), sum(files)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) of process
    ``root`` and all its live descendants: the driver, its JVM and the
    Python workers. Time the host took away (steal) is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields[0] is the state; ppid, then utime, stime, cutime, cstime
        stats[int(name)] = (int(fields[1]),
                            sum(int(x) for x in fields[11:15]))
    kids: dict = {}
    for pid, (ppid, _t) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return total / tick
