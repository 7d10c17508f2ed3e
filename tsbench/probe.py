"""Measurement from outside the engine: process accounting, Spark job
counts and spans.

Nothing here changes what the engine does. CPU comes from /proc and
getrusage, GC time from the JVM's management beans, job/stage/task counts
from Spark's public status tracker, and spans from wrappers that the
traced mode installs around public engine functions.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import resource
import time


class Proc:
    """CPU, GC time and peak RSS of the Python driver and the Spark JVM."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._tick = os.sysconf("SC_CLK_TCK")

    def jvm_cpu(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # fields[11], fields[12] = utime, stime (stat fields 14 and 15)
        return (int(fields[11]) + int(fields[12])) / self._tick

    @staticmethod
    def driver_cpu() -> float:
        r = resource.getrusage(resource.RUSAGE_SELF)
        return r.ru_utime + r.ru_stime

    def cpu(self) -> tuple[float, float]:
        return self.jvm_cpu(), self.driver_cpu()

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._beans) / 1000.0

    def jvm_rss_peak_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


class JobCounter:
    """Spark jobs, stages and tasks run by one benchmark op.

    Each op runs under its own job group. Jobs the engine submits from its
    own helper threads carry no group, so the op also claims the ungrouped
    jobs newer than every job seen before it (the driver loop is serial).
    A stage counts when it completed at least one task, which leaves out
    stages that adaptive execution skipped because an earlier job of the
    op had already produced their shuffle output."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.drains = 0
        self.drain()
        self.mark = max(self.tracker.getJobIdsForGroup(None), default=-1)

    def drain(self, timeout_s: float = 30.0) -> None:
        """Wait until the status store has seen every job submitted so far.

        The store is fed asynchronously by the listener bus, which delivers
        events in the order they were posted: once a one-task marker job,
        run now under its own group, shows as ended in the store, so does
        every job submitted before it, helper-thread jobs included."""
        self.drains += 1
        tag = f"tsbench-drain-{self.drains}"
        self.sc.setJobGroup(tag, tag)
        self.sc.parallelize([0], 1).count()
        deadline = time.monotonic() + timeout_s
        while not any(i is not None and i.status == "SUCCEEDED"
                      for i in map(self.tracker.getJobInfo,
                                   self.tracker.getJobIdsForGroup(tag))):
            if time.monotonic() > deadline:
                raise RuntimeError("Spark status store did not catch up")
            time.sleep(0.005)

    def begin(self, tag: str) -> None:
        self.sc.setJobGroup(tag, tag)

    def skip(self) -> None:
        """Close an op without counting it: its ungrouped jobs must not be
        claimed by the next counted op."""
        self.drain()
        self.mark = max(self.tracker.getJobIdsForGroup(None), default=self.mark)

    def end(self, tag: str) -> tuple[int, int, int]:
        self.drain()
        t = self.tracker
        ids = set(t.getJobIdsForGroup(tag))
        ids |= {j for j in t.getJobIdsForGroup(None) if j > self.mark}
        self.mark = max(ids | {self.mark})
        infos = {j: t.getJobInfo(j) for j in ids}
        stages = {s for i in infos.values() for s in i.stageIds}
        run = [si for si in map(t.getStageInfo, stages)
               if si is not None and si.numCompletedTasks > 0]
        return len(ids), len(run), sum(si.numCompletedTasks for si in run)


class Tracer:
    """Spans around calls into the engine's layers, kept in memory.

    A span is (name, start, end, parent index, op tag). Self time of a
    span is its duration minus the time its direct children cover."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op = ""
        self.active = False
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        i = len(self.spans) - 1
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i][2] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr by a wrapper that records a `name` span while
        tracing is active. `owner` is a module or class; callers inside the
        engine look the attribute up at call time, so they see the wrapper."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            if not tracer.active:
                return orig(*a, **k)
            with tracer.span(name):
                return orig(*a, **k)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def self_times(self) -> list[tuple[str, str, float, str]]:
        """[(name, parent name, self seconds, op tag)] for closed spans."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0 and t1 is not None:
                child[parent] += t1 - t0
        out = []
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            if t1 is None:
                continue
            pname = self.spans[parent][0] if parent >= 0 else ""
            out.append((name, pname, (t1 - t0) - child[i], op))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op}) + "\n")
