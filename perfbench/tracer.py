"""Spans around the calls the benchmark makes into each engine layer.

A span records name, start, end, parent span and op id. Each layer span
also runs under its own Spark job group, so after the op the jobs, stages
and tasks it caused are read back from the public ``statusTracker()``.
Jobs that start during an op without any job group (e.g. ones submitted
from a builder's thread pool, whose threads do not inherit the caller's
group) are counted as the op's unattributed jobs instead of being
dropped. The status tracker is fed by Spark's asynchronous listener bus,
so the bus is drained before every read, outside the timed spans. Spans
stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    unattributed_jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.status = sc.statusTracker()
        self.spans: list[Span] = []

    def _new(self, name: str, op_id: int, parent: int | None) -> Span:
        span = Span(len(self.spans), name, op_id, parent, time.perf_counter())
        self.spans.append(span)
        return span

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far; an action posts its last JobEnd before it returns, so after
        this the status tracker holds the op's final counts."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _ungrouped(self) -> set[int]:
        self._drain()
        return set(self.status.getJobIdsForGroup(None))

    @contextmanager
    def op(self, name: str, op_id: int):
        """Root span of one operation; counts the ungrouped jobs started
        while it ran."""
        before = self._ungrouped()
        span = self._new(name, op_id, None)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            span.unattributed_jobs = len(self._ungrouped() - before)

    @contextmanager
    def layer(self, parent: Span, name: str):
        """Child span for one layer call, under its own job group."""
        span = self._new(name, parent.op_id, parent.span_id)
        span.group = f"perfbench-{parent.op_id}-{span.span_id}-{name}"
        self.sc.setJobGroup(span.group, name)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def resolve(self, op_span: Span) -> list[Span]:
        """Fill job / stage / task counts of the op's layer spans from the
        status tracker; call after the op, outside its timing."""
        self._drain()
        children = [s for s in self.spans if s.parent == op_span.span_id]
        for s in children:
            jobs = self.status.getJobIdsForGroup(s.group)
            stages = tasks = 0
            for jid in jobs:
                info = self.status.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = self.status.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            s.jobs, s.stages, s.tasks = len(jobs), stages, tasks
        return children

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
