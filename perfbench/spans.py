"""In-memory spans for the traced run.

A span has a name, the layer it is billed to, a start, an end and the
span that caused it.  Spans stay in memory and are written once, when
the run ends.  A layer's self time is the time its spans cover minus the
time their child spans cover, so the self times of a subtree add up to
the duration of its root span.  That sum means something only if the
spans nest: every child inside its parent and no two siblings
overlapping, which ``Tracer.check`` verifies.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# slack for span bounds computed as sums of monotonic readings
_EPS = 1e-9


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op, which
    is how the untraced passes run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def open(self, name: str, layer: str, start: float | None = None) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, name, layer,
                 time.monotonic() if start is None else start)
        self.spans.append(s)
        self._stack.append(s.id)
        return s

    def close(self, s: Span, end: float | None = None) -> None:
        s.end = time.monotonic() if end is None else end
        self._stack.remove(s.id)

    def add(self, name: str, layer: str, start: float, end: float) -> None:
        """A closed child of the current span with known bounds."""
        s = self.open(name, layer, start)
        self.close(s, end)

    def count(self, **counts) -> None:
        """Attach counts to the innermost open span."""
        if self.enabled and self._stack:
            self.spans[self._stack[-1]].counts.update(counts)

    def call(self, layer: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span billed to ``layer``."""
        with self.span(getattr(fn, "__name__", layer), layer):
            return fn(*args, **kwargs)

    def _children(self) -> dict[int, list[Span]]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return children

    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per layer over the subtree rooted at ``root``."""
        children = self._children()
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            s = todo.pop()
            kids = children.get(s.id, [])
            own = (s.end - s.start) - sum(k.end - k.start for k in kids)
            out[s.layer] = out.get(s.layer, 0.0) + own
            todo.extend(kids)
        return out

    def check(self, root: Span) -> list[str]:
        """What is wrong with the subtree rooted at ``root``: a span that
        ends before it starts or lies outside its parent, two siblings
        that overlap, or a span whose children cover more than its own
        duration.  Empty when the spans nest, which is when the self
        times partition the root's duration."""
        children = self._children()
        problems = []
        todo = [root]
        while todo:
            s = todo.pop()
            kids = sorted(children.get(s.id, []), key=lambda k: k.start)
            for k in kids:
                if (k.end < k.start or k.start < s.start - _EPS
                        or k.end > s.end + _EPS):
                    problems.append(f"{k.name} not inside {s.name}")
            for a, b in zip(kids, kids[1:]):
                if b.start < a.end - _EPS:
                    problems.append(f"{a.name} overlaps {b.name}")
            if sum(k.end - k.start for k in kids) > s.end - s.start + _EPS:
                problems.append(f"negative self time of {s.name}")
            todo.extend(kids)
        return problems

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
