"""Instruments for the traced run, built on Spark's public APIs only.

- ``EngineCounter``: jobs, stages and tasks an op ran, read from
  ``SparkContext.statusTracker()`` between two one-task marker jobs. Job
  and stage ids are allocated sequentially, so every job between the two
  markers belongs to the op, including jobs launched from ``foreachBatch``
  callbacks and worker threads that carry another job group.
- ``CpuMeter``: CPU seconds of the driver's Python process, the JVM, and
  the JVM's Python worker processes, read from ``/proc``.
- ``ProgressLog``: a ``StreamingQueryListener`` that keeps every
  micro-batch's ``durationMs`` breakdown.
- ``Tracer``: spans recorded by the benchmark around calls into the
  package's layers, kept in memory and summarised at the end.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class EngineCounter:
    """Counts what Spark ran between two calls of ``mark``."""

    def __init__(self, spark, timeout_s: float = 30.0):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.timeout_s = timeout_s
        self._n = 0

    def mark(self) -> int:
        """Run a one-task marker job; return its job id once the status
        store has seen it finish (the listener bus is FIFO, so every event
        of earlier jobs has then been applied too)."""
        group = f"perfbench-marker-{os.getpid()}-{self._n}"
        self._n += 1
        self.sc.setJobGroup(group, "perfbench marker")
        try:
            self.sc.parallelize([0], 1).count()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)
        deadline = time.monotonic() + self.timeout_s
        while True:
            ids = self.tracker.getJobIdsForGroup(group)
            info = self.tracker.getJobInfo(ids[0]) if ids else None
            if info is not None and info.status == "SUCCEEDED":
                return ids[0]
            if time.monotonic() > deadline:
                raise TimeoutError(f"marker job {group} not reported finished")
            time.sleep(0.005)

    def between(self, before: int, after: int) -> dict[str, int]:
        """Jobs, executed stages, tasks and failed tasks strictly between
        two marker jobs. A stage that was planned but skipped (its shuffle
        output reused) ran no task and is not counted."""
        s_lo = max(self.tracker.getJobInfo(before).stageIds)
        s_hi = min(self.tracker.getJobInfo(after).stageIds)
        stages = tasks = failed = 0
        for sid in range(s_lo + 1, s_hi):
            info = self.tracker.getStageInfo(sid)
            if info is None:
                continue
            ran = info.numCompletedTasks + info.numFailedTasks
            if ran:
                stages += 1
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {"jobs": after - before - 1, "stages": stages,
                "tasks": tasks, "failed_tasks": failed}


def proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, command name, CPU seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode(errors="replace")
        except OSError:
            continue  # exited while listing
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[0] is state (stat field 3); utime..cstime are 14..17
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), comm, ticks / _CLK_TCK)
    return out


class CpuMeter:
    """CPU seconds of the driver Python process, the JVM, and the Python
    worker processes the JVM started (daemon, workers, planners)."""

    def __init__(self, spark):
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def read(self) -> dict[str, float]:
        table = proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        workers, stack = 0.0, list(children.get(self.jvm_pid, []))
        while stack:
            pid = stack.pop()
            if table[pid][1].startswith("python"):
                workers += table[pid][2]
            stack.extend(children.get(pid, []))
        t = os.times()
        return {
            "driver_py": t.user + t.system,
            "jvm": table[self.jvm_pid][2] if self.jvm_pid in table else 0.0,
            "py_worker": workers,
        }

    @staticmethod
    def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}


class ProgressLog(StreamingQueryListener):
    """Keeps each micro-batch's ``durationMs`` breakdown."""

    def __init__(self):
        super().__init__()
        self._cv = threading.Condition()
        self.batches: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        row = {k: float(v) for k, v in event.progress.durationMs.items()}
        with self._cv:
            self.batches.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def snapshot(self) -> tuple[int, int]:
        with self._cv:
            return len(self.batches), self.terminated

    def wait_terminated(self, count: int, timeout_s: float = 30.0) -> None:
        """Block until ``count`` queries have reported termination, so the
        progress of every batch they ran has arrived."""
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= count, timeout_s):
                raise TimeoutError("streaming query termination not reported")

    def since(self, n: int) -> list[dict]:
        with self._cv:
            return list(self.batches[n:])


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the enclosing span


@dataclass
class Tracer:
    """In-memory spans. ``span`` nests: a span opened inside another
    records it as its parent."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds (duration
        minus the time its child spans cover)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            agg = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s.end - s.start
            agg["self_s"] += s.end - s.start - child_time[i]
        return out
