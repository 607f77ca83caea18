"""Measurement helpers: an in-memory span recorder, /proc process-tree
CPU and memory, and Spark job counts from the public status tracker.

Spans come only from the benchmark's own wrappers around the seams it
hands the engine; nothing inside the engine is instrumented.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Spans:
    """Thread-safe span recorder. A span is (id, name, start, end,
    parent); the parent defaults to the innermost open span of the
    calling thread, or the explicit ``parent`` id for work that a pool
    thread does on behalf of a span opened elsewhere. When disabled,
    every call is a no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else self.root
        with self._lock:
            sid = len(self.records)
            self.records.append({
                "id": sid, "name": name, "parent": parent,
                "start": time.perf_counter(), "end": None,
            })
        stack.append(sid)
        return sid

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        self.records[sid]["end"] = time.perf_counter()
        stack = self._stack()
        if sid in stack:
            stack.remove(sid)

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = self.begin(name, parent)
        try:
            yield sid
        finally:
            self.end(sid)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_times(records: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: ``total`` (summed durations, so N overlapping pool
    threads count N-fold busy time), ``max`` (longest span), ``count``
    and ``self`` (each span minus the union of its children's
    intervals, clipped to the span — overlapping children are counted
    once, not once per thread)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for r in records:
        if r["parent"] is not None and r["end"] is not None:
            children.setdefault(r["parent"], []).append((r["start"], r["end"]))
    out: dict[str, dict[str, float]] = {}
    for r in records:
        if r["end"] is None:
            continue
        dur = r["end"] - r["start"]
        kids = [
            (max(s, r["start"]), min(e, r["end"]))
            for s, e in children.get(r["id"], [])
            if e > r["start"] and s < r["end"]
        ]
        agg = out.setdefault(
            r["name"], {"total": 0.0, "self": 0.0, "max": 0.0, "count": 0}
        )
        agg["total"] += dur
        agg["self"] += dur - _union_length(kids)
        agg["max"] = max(agg["max"], dur)
        agg["count"] += 1
    return out


# ---- process tree from /proc ----------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we listed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree() -> list[int]:
    """This process and every live descendant (JVM, Python workers)."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_seconds() -> float:
    """User+system CPU of the live process tree, including children
    each member has already reaped (exited Python workers)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of the high-water resident set (VmHWM) over the live tree."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# ---- Spark status tracker -------------------------------------------------

class JobCounter:
    """Counts Spark jobs, stages and tasks between two points through
    ``SparkContext.statusTracker()``. Every job the benchmark runs is
    ungrouped, so the ungrouped id list is the full job history."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()

    def mark(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(None))

    def since(self, before: set[int]) -> dict[str, int]:
        new = self.mark() - before
        stages = tasks = 0
        for job in new:
            info = self._tracker.getJobInfo(job)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(new), "stages": stages, "tasks": tasks}


def persisted_rdds(spark) -> int:
    """RDDs the session still holds persisted (cached/checkpointed)."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
