"""Spans and Spark job counts recorded around the benchmark's own calls.

Every span sits at a call the benchmark makes into one engine module, so
the per-layer numbers are measured from outside the program. Spans are
kept in memory and summarised when the run ends.

A disabled tracer records nothing and makes no py4j calls, so the
untraced run measures the engine alone.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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
    """In-memory span recorder.

    ``span(name, jobs=True)`` also gives the call its own Spark job group
    and, on exit, stores the number of jobs and tasks it ran. Jobs that
    engine helper threads submit carry no group, so they are found as the
    ungrouped job ids that appeared during the call; with one closed-loop
    client nothing else submits jobs meanwhile.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_op = 0
        self._groups = 0
        # time spent inside the tracer's own bookkeeping
        self.overhead_s = 0.0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    def _job_ids(self, group: str | None) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def _count_tasks(self, job_ids: set[int]) -> int:
        tracker = self.sc.statusTracker()
        tasks = 0
        for jid in job_ids:
            job = tracker.getJobInfo(jid)
            if job is None:
                continue
            for sid in job.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numTasks
        return tasks

    @contextmanager
    def span(self, name: str, op_id: int | None = None, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        sp = Span(name, 0.0, parent=parent, op_id=op_id)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        group = before = None
        if jobs:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self.sc.setJobGroup(group, name)
            before = self._job_ids(None)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if jobs:
                ids = self._job_ids(group) | (self._job_ids(None) - before)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                sp.attrs["jobs"] = len(ids)
                sp.attrs["tasks"] = self._count_tasks(ids)
            self.overhead_s += time.perf_counter() - sp.end

    def add(self, name: str, start: float, end: float, parent: Span, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a lineage stage)."""
        if not self.enabled:
            return
        self.spans.append(
            Span(name, start, end, self.spans.index(parent), parent.op_id, attrs)
        )

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        idx = self.spans.index(sp)
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp)]
        return sp.duration - covered([k for k in kids if k[1] > k[0]])
