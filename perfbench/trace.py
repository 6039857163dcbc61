"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent, run_id). Spans nest by call
structure; while a span is open, Spark jobs started from this thread
carry its id as their job group, so the event log can attribute task
metrics to it (``eventlog.span_stats``). Spans are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self, run_id: str, spark=None) -> None:
        self.run_id = run_id
        self.spark = spark  # set once a session exists
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def group_id(self, span: Span) -> str:
        return f"{self.run_id}:{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self.group_id(span), span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, time.perf_counter(), None, parent and parent.id, self.run_id)
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._set_group(parent)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        clipped = [(max(a, s.start), min(b, end)) for a, b in kids.get(s.id, [])]
        out[s.id] = s.duration - covered([iv for iv in clipped if iv[1] > iv[0]])
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    """``root`` and every span below it."""
    out = {root}
    for s in spans:  # parents precede children in recording order
        if s.parent in out:
            out.add(s.id)
    return out
