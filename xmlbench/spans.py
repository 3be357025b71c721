"""In-memory spans for the traced benchmark run.

A span is (id, parent, name, start, end); spans opened while another
is open become its children. All spans of one run share the
tracer's ``trace_id``. Nothing is written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    covered = 0.0
    cur_start = cur_end = None
    children = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans if c.parent == span.id
    )
    for start, end in children:
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), self._open[-1] if self._open else None, name,
                 time.perf_counter())
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a version that records a span per
        call; returns a function that restores the original."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, original)

    def dump(self, path: str) -> None:
        rows = [
            {**asdict(s), "trace_id": self.trace_id, "duration_s": s.duration,
             "self_s": self_time(s, self.spans)}
            for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(rows, f, indent=1)
