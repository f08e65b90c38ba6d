"""In-memory spans around the engine's public entry points.

A traced run installs wrappers (``Tracer.wrap``) on the public
methods the benchmark drives and on the layer boundaries below them;
each call records a span ``(name, start, end, parent, op)`` and,
where a layer can waste work, a count taken from the call's result.
Spans stay in memory and are written out once at exit. Untraced runs
install nothing.

Self time of a span is its duration minus the part of its interval
covered by its children.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None  # current operation id (one client)
        self._stack = threading.local()
        self._lock = threading.Lock()

    # ------------------------------------------------------------ spans

    def _frames(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def span(self, name: str):
        return _SpanCtx(self, name)

    def record(self, name: str, start: float, end: float,
               counts: dict | None = None) -> None:
        """A span timed outside the benchmark (e.g. by Spark itself)."""
        with self._lock:
            self.spans.append(Span(name, start, end, None, self.op,
                                   len(self.spans), dict(counts or {})))

    def _open(self, name: str) -> Span:
        frames = self._frames()
        with self._lock:
            s = Span(name, time.time(), 0.0, frames[-1] if frames else None,
                     self.op, len(self.spans))
            self.spans.append(s)
        frames.append(s.sid)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._frames().pop()

    # --------------------------------------------------------- wrappers

    def wrap(self, owner: object, attr: str, name: str, counter=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper; ``counter(
        self_arg, result, args, kwargs)`` returns counts for the span,
        taken after the span closes so it is not timed."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if getattr(tracer._stack, "quiet", False):
                return orig(*args, **kwargs)
            s = tracer._open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._close(s)
            if counter is not None:
                tracer._stack.quiet = True  # counting is not traced
                try:
                    s.counts.update(counter(result, args, kwargs))
                finally:
                    tracer._stack.quiet = False
            return result

        setattr(owner, attr, wrapper)

    # ---------------------------------------------------------- queries

    def self_time(self, s: Span) -> float:
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.sid)
        return s.duration - union_length(kids, s.start, s.end)

    def by_name(self, name: str, op_ids: set[str] | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (op_ids is None or s.op in op_ids)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.s = self.tracer._open(self.name)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.s)


def union_length(intervals: list[tuple[float, float]], lo: float = float("-inf"),
                 hi: float = float("inf")) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
