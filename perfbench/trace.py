"""Spans recorded from outside the engine, around each call into a layer.

``Tracer.patched`` swaps an engine function, for the duration of one
op, for a wrapper that runs it inside a span and materializes its
output DataFrame there, so the op calls the same functions as an
untraced one and each span covers its layer's work. A span sets a
Spark job group for its duration, so every job the layer launches is
attributed to it; at the end the benchmark reads task, failure, shuffle
and spill counts for the group's stages from Spark's status store.
Spans live in memory and are written out when the run ends. Also here:
the process-tree resident-memory sampler.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc, tag: str):
        self.sc = sc
        self.tag = tag
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: (span name, call args, output, output rows) per wrapped call
        self.outputs: list[tuple] = []

    def wrap(self, fn, name: str):
        """``fn`` run inside span ``name``; a DataFrame result is
        persisted and counted inside the span."""
        def traced(*args, **kwargs):
            rows = None
            with self.span(name):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    rows = out.count()
            self.outputs.append((name, args, out, rows))
            return out
        return traced

    @contextmanager
    def patched(self, targets):
        """Route each ``(owner, attribute, span name)`` through ``wrap``
        while inside; the owner's attribute is restored on exit."""
        saved = [(owner, attr, getattr(owner, attr))
                 for owner, attr, _ in targets]
        for owner, attr, name in targets:
            setattr(owner, attr, self.wrap(getattr(owner, attr), name))
        try:
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    def release(self) -> None:
        """Unpersist every output ``wrap`` persisted."""
        for _, _, out, rows in self.outputs:
            if rows is not None:
                out.unpersist()

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        group = f"{self.tag}:{sid}:{name}"
        prev = self.sc.getLocalProperty(JOB_GROUP)
        rec = {"id": sid, "name": name, "group": group,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if prev is None:
                self.sc.setLocalProperty(JOB_GROUP, None)
            else:
                self.sc.setJobGroup(prev, prev)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(self.duration(s) for s in self.spans
                   if s["parent"] == rec["id"])
        return self.duration(rec) - kids

    def spark_counts(self, rec: dict) -> dict[str, int]:
        """Jobs, tasks, failed tasks, shuffle-write and spill bytes of
        the stages the span's job group ran (skipped stages count 0)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(rec["group"])
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "tasks": 0, "tasks_failed": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:  # evicted from the status store
                continue
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["tasks_failed"] += st.numFailedTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# --- process-tree memory -----------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    """pid -> parent pid of every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int, parents: dict[int, int] | None = None
                ) -> list[int]:
    """Pids of every live process below ``root``."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in (parents or _parents()).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and its descendants. A child whose
    memory counters equal its parent's still shares the parent's pages
    (the instant between the JVM's spawn of a helper process and its
    exec, or a fresh fork) and is not counted again."""
    parents = _parents()
    statm: dict[int, str] = {}
    for pid in [root] + descendants(root, parents):
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
        except OSError:
            continue
    return sum(int(line.split()[1]) * _PAGE for pid, line in statm.items()
               if pid == root or statm.get(parents.get(pid)) != line)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
