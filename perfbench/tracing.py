"""Spans and Spark job counts, recorded from the benchmark's own code.

``Tracer`` keeps spans (name, start, end, parent, op id) in memory while
enabled and writes them out once at the end; ``self_times`` subtracts the
part of each span its children cover. ``SparkCounter`` runs each operation
under its own Spark job group and reads the driver's ``statusTracker()``
for the jobs, stages and tasks that group launched.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, "op": self.op_id})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus what its children cover
        (children of one span never overlap: calls are sequential)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


class SparkCounter:
    """Jobs / stages / tasks per operation through status-tracker job
    groups. Counts accumulate per op type; an op opened inside another is
    counted as part of the outer one."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = itertools.count()
        self._active = False
        self.per_type: dict[str, dict[str, int]] = {}

    @contextlib.contextmanager
    def op(self, op_type: str):
        if self._active:
            yield
            return
        group = f"perfbench-{op_type}-{next(self._n)}"
        self.sc.setJobGroup(group, op_type)
        self._active = True
        try:
            yield
        finally:
            self._active = False
            self.sc.setJobGroup("perfbench-idle", "idle")
            self._count(op_type, group)

    def _count(self, op_type: str, group: str) -> None:
        c = self.per_type.setdefault(
            op_type, {"ops": 0, "jobs": 0, "stages": 0, "tasks": 0,
                      "failed_tasks": 0})
        c["ops"] += 1
        for jid in self.tracker.getJobIdsForGroup(group):
            job = self.tracker.getJobInfo(jid)
            if job is None:
                continue
            c["jobs"] += 1
            for sid in job.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks
                c["failed_tasks"] += st.numFailedTasks

    def per_op(self, op_type: str) -> dict[str, float]:
        c = self.per_type[op_type]
        return {k: c[k] / c["ops"] for k in ("jobs", "stages", "tasks")}

    def failed_tasks(self) -> int:
        return sum(c["failed_tasks"] for c in self.per_type.values())
