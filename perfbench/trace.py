"""Spans and counters recorded by the benchmark around its calls into
each layer of the engine.

A span has a name, start, end and the span that caused it; spans stay in
memory and are written out once, when the run ends. With tracing off,
:meth:`Tracer.span` still times the call (the workloads need the
duration) but records nothing and never queries Spark's status tracker.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        """Time the enclosed call; yields a dict whose ``seconds`` is set
        when the block exits (also when it raises)."""
        rec = {"name": name}
        parent = getattr(self._local, "current", None)
        if self.enabled:
            rec["id"] = next(self._ids)
            rec["parent"] = parent["id"] if parent else None
            self._local.current = rec
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            if self.enabled:
                rec["end"] = rec["start"] + rec["seconds"]
                self._local.current = parent
                with self._lock:
                    self.spans.append(rec)

    def seconds(self, name: str) -> list[float]:
        return [s["seconds"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Spark jobs and completed tasks run under one job group, read from
    the driver's status tracker (which works with the UI disabled)."""

    def __init__(self, spark, enabled: bool):
        self._sc = spark.sparkContext
        self.enabled = enabled
        self._seq = itertools.count()

    @contextmanager
    def group(self, label: str):
        """Run the block under a fresh job group; yields a dict that gets
        ``jobs`` and ``tasks`` when tracing is on."""
        out: dict = {}
        if not self.enabled:
            yield out
            return
        gid = f"perfbench-{label}-{next(self._seq)}"
        self._sc.setJobGroup(gid, label)
        try:
            yield out
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            out.update(self.count(gid))

    def count(self, gid: str) -> dict:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return {"jobs": len(jobs), "tasks": tasks}
