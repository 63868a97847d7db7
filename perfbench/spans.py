"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (id, name, start, end, parent, op): wall-clock seconds, the
id of the span that was open when it began, and the id of the op it
belongs to. Spans stay in memory until :meth:`Tracer.write` at the end
of the run.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, time.time(), 0.0, parent and parent.id, op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span, op: str | None) -> Span:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        s = Span(len(self.spans), name, start, end, parent.id, op)
        self.spans.append(s)
        return s

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of it that its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(kids.get(s.id, []))
        out[s.name] = out.get(s.name, 0.0) + own
    return out
