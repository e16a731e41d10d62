"""In-memory spans for the traced run.

A span is (id, name, start, end, parent, run id), times from
``time.monotonic``. Spans nest through a stack, so a span opened inside
another names it as parent. Nothing is written until ``dump``.
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
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # time spent in the tracer's own bookkeeping, for the overhead figure
        self.self_cost = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.monotonic()
        sp = Span(len(self.spans), name, 0.0, 0.0,
                  self._stack[-1] if self._stack else None, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        sp.start = time.monotonic()
        self.self_cost += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            self.self_cost += time.monotonic() - sp.end

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> dict:
        """{name: summed self time}: each span's duration minus the part of
        its interval that its direct children cover."""
        covered = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] = covered.get(sp.parent, 0.0) + (sp.end - sp.start)
        out = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + (
                sp.end - sp.start - covered.get(sp.id, 0.0))
        return out

    def total(self, name: str) -> float:
        return sum(sp.end - sp.start for sp in self.spans if sp.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")
