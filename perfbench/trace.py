"""Spans around public calls, rolled up with the event log's jobs.

A span is ``(name, start, end, parent)`` under one run id. Before the
wrapped call the Spark job group is set to the span's id (and the job
description to its name), so every job, stage and task in the event log
rolls up to the innermost open span. Spans stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from perfbench import eventlog


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _label(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{self.run_id}/{len(self.spans)}", name,
                  parent.span_id if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._label(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._label(parent)

    def add(self, name: str, parent: Span, start: float, end: float) -> Span:
        """A span known only after the fact (a streamed drop)."""
        sp = Span(f"{self.run_id}/{len(self.spans)}", name, parent.span_id, start, end)
        self.spans.append(sp)
        return sp

    # -- roll-up ---------------------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def subtree_ids(self, sp: Span) -> set[str]:
        ids, todo = set(), [sp]
        while todo:
            cur = todo.pop()
            ids.add(cur.span_id)
            todo.extend(self.children(cur))
        return ids

    def self_time(self, sp: Span) -> float:
        """Span wall minus the time its child spans cover."""
        return sp.wall - eventlog.union_s([(c.start, c.end) for c in self.children(sp)])

    def jobs_of(self, log: eventlog.EventLog, sp: Span) -> eventlog.EventLog:
        ids = self.subtree_ids(sp)
        return log.select(lambda j: j.group in ids)

    def driver_gap(self, log: eventlog.EventLog, sp: Span) -> float:
        """Span wall minus the union of its jobs' time intervals."""
        sub = self.jobs_of(log, sp)
        busy = eventlog.union_s([(max(j.submit_ms / 1000.0, sp.start), min(j.end_ms / 1000.0, sp.end))
                                 for j in sub.jobs if j.end_ms])
        return sp.wall - busy

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({"run_id": self.run_id, **asdict(sp)}) + "\n")
