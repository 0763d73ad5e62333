"""In-memory span recorder for the traced run.

A span is ``(id, name, layer, start, end, parent, pass_id)``.  The benchmark
opens spans around its calls into each layer; stage spans from the Spark
event log are attached afterwards as children of the call span whose jobs
ran them.  Spans are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from eventlog import SPAN_PROPERTY


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    pass_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, pass_id: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        sp = Span(sid, name, layer, time.time(), 0.0, self._stack[-1] if self._stack else None, pass_id)
        self.spans.append(sp)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None, pass_id: str) -> Span:
        sp = Span(len(self.spans), name, layer, start, end, parent, pass_id)
        self.spans.append(sp)
        return sp

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self, pass_ids: set[str]) -> dict[str, float]:
        """Per layer, over the spans of ``pass_ids``: sum of span durations
        minus the time their children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in (s for s in self.spans if s.pass_id in pass_ids):
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                a, b = max(c.start, cur_end), min(c.end, s.end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.duration - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
