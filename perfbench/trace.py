"""Benchmark-side spans around calls into the engine's layers.

A span records name, start, end, parent and the id of the operation it
belongs to. Spans stay in memory and are written out once, when the run
ends. When a span is opened with ``group=True`` it also tags the Spark
jobs started inside it with a job group named after the span, so the
event-log reader can charge task metrics to it.

A disabled tracer records nothing and sets no job groups, so untraced
runs pay only a context-manager call per span.
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
    op: int | None
    start: float
    end: float = 0.0
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc                      # SparkContext, for job groups
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._n_ops = 0

    @contextmanager
    def op(self):
        """Marks one operation of the workload loop; spans opened inside
        share its id."""
        self._n_ops += 1
        prev, self._op = self._op, self._n_ops
        try:
            yield self._op
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self._op, time.perf_counter())
        if group and self.sc is not None:
            s.group = f"{name}#{s.id}"
            self.sc.setJobGroup(s.group, name)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.group:
                outer = next((p.group for p in reversed(self._stack)
                              if p.group), None)
                if outer:
                    self.sc.setJobGroup(outer, outer.split("#")[0])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover.
        Children of one span run one after another on one thread, so
        their durations do not overlap."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.id: s.dur - child[s.id] for s in self.spans}

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=selfs[s.id])
                       for s in self.spans], f)
