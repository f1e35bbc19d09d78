"""Spans and Spark job/task counts, recorded from outside the engine.

``Tracer.span(name)`` wraps one call into a module's public function. When
tracing is on it gives the call its own Spark job group, so the jobs and
tasks it launched can be read back from ``statusTracker()`` afterwards,
and records a span (name, start, end, parent). Spans stay in memory until
``write`` is called once at the end of a run. When tracing is off a span
is a bare context manager: no job group, no record.

The time the tracer spends on its own bookkeeping (setting job groups,
querying the status tracker) is summed in ``overhead_s``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None  # SparkContext; spans opened before it count no jobs
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{sp.id}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                sp.jobs, sp.tasks = self._count(group)
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - sp.end

    def _count(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return len(jobs), tasks

    def self_times(self) -> dict[str, float]:
        """Seconds per layer spent in spans of that layer minus the part
        covered by their child spans."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - child.get(s.id, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
