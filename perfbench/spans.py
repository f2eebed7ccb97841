"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent and operation id. Spans are kept
in memory and written out once, when the run ends. Each span runs its
Spark jobs under a job group of its own, so stage and task counts from
``SparkContext.statusTracker()`` are attributed to the innermost span that
submitted them. A span's self time is its duration minus the part of that
interval its child spans cover.

With tracing off, :meth:`Tracer.span` is a no-op context manager, so the
untraced run pays nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass
from statistics import median


@dataclass
class Span:
    sid: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    stages: int = 0
    tasks: int = 0


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
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


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def _traced(self, name: str, op_id: int):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, op_id, parent.sid if parent else None, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        group = f"perfbench-{span.sid}"
        self.sc.setJobGroup(group, name)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count_tasks(span, group)

    def _count_tasks(self, span: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks > 0:
                    span.stages += 1
                    span.tasks += stage.numCompletedTasks

    def span(self, name: str, op_id: int):
        return self._traced(name, op_id) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside the block (used for warm-ups)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.sid]
        return (span.end - span.start) - covered(kids)

    def median_of(self, name: str, field: str = "self") -> float:
        """Median over the spans called ``name`` of their self time
        (``field="self"``) or of their ``stages``/``tasks`` count; 0 when
        no span has that name."""
        vals = [self.self_time(s) if field == "self" else getattr(s, field) for s in self.spans if s.name == name]
        return median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        rows = [{**asdict(s), "self_s": self.self_time(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)
