"""Spans around the benchmark's calls into each layer, and Spark's own
per-operation counters.

Spans are kept in memory and written out once, at the end of a traced run.
Each span has a name (``<layer>.<call>``), an operation id shared by every
span of that operation, a parent span and start/end times. A span's self
time is its duration minus the part of it covered by its children.

Spark counters come from the driver's status store and need no UI: each
traced operation runs under its own job group, and after it finishes the
jobs of that group are looked up through ``SparkContext.statusTracker()``
and their stages through the JVM ``AppStatusStore``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    parent: int | None
    op: int  # operation id; 0 for set-up spans
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Collects spans when enabled; every method is a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, op: int = 0):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        with self._lock:
            sp = Span(next(self._ids), stack[-1] if stack else None, op, name, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> seconds not covered by its direct children."""
        covered: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered.setdefault(sp.parent, []).append((sp.start, sp.end))
        out = {}
        for sp in self.spans:
            busy, last = 0.0, sp.start
            for s, e in sorted(covered.get(sp.id, [])):
                s, e = max(s, last), min(e, sp.end)
                if e > s:
                    busy += e - s
                    last = e
            out[sp.id] = (sp.end - sp.start) - busy
        return out

    def dump(self, path: str, extra: dict) -> None:
        selft = self.self_times()
        by_layer: dict[str, float] = {}
        for sp in self.spans:
            by_layer[sp.name] = by_layer.get(sp.name, 0.0) + selft[sp.id]
        doc = {
            **extra,
            "self_seconds_by_span": dict(sorted(by_layer.items())),
            "spans": [dict(asdict(sp), self=selft[sp.id]) for sp in self.spans],
        }
        with open(path, "w") as f:
            json.dump(doc, f)


#: per-stage fields summed over an operation's completed stages
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_time_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
    "input_rows": "inputRecords",
}


class SparkCounters:
    """Job/stage/task counters of one operation, keyed by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def start(self, group: str) -> None:
        """Run this thread's next Spark jobs under ``group``."""
        self.sc.setJobGroup(group, group)

    def read(self, group: str) -> dict:
        """Counters of every job run under ``group`` so far."""
        self.bus.waitUntilEmpty()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out.update(jobs=0, stages=0, peak_exec_mem_bytes=0)
        for job in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # never submitted, so never recorded
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                for k, getter in STAGE_FIELDS.items():
                    out[k] += int(getattr(sd, getter)())
                out["peak_exec_mem_bytes"] = max(
                    out["peak_exec_mem_bytes"], int(sd.peakExecutionMemory())
                )
        return out
