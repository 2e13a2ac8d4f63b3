"""In-memory spans recorded by the benchmark around calls into each layer.

A span has a name, a start, an end, the span that was open when it
began (its parent) and the operation it belongs to.  Nothing inside the
program is changed on disk: layer functions are wrapped at run time in
the traced run only, and restored afterwards.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """Records spans; one instance per traced run."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._wrapped: list[tuple] = []
        self.op_id: int | None = None

    def begin(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), name, self.clock(), float("nan"), parent, self.op_id)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = self.clock()
        top = self._stack.pop()
        if top is not span:
            raise RuntimeError(f"span {span.name} closed out of order (open: {top.name})")

    def span(self, name: str):
        return _SpanContext(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = tracer.begin(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(span)

        self._wrapped.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._wrapped:
            owner, attr, orig = self._wrapped.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.span = None

    def __enter__(self) -> Span:
        self.span = self.tracer.begin(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.end(self.span)


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans) -> dict:
    """Self time of every span: its duration minus the part of it that
    its direct children cover."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - _covered(children.get(s.sid, ()))
        for s in spans
    }


def per_name(spans) -> dict:
    """{name: (calls, total self seconds)} over all spans."""
    selfs = self_times(spans)
    out: dict = {}
    for s in spans:
        calls, tot = out.get(s.name, (0, 0.0))
        out[s.name] = (calls + 1, tot + selfs[s.sid])
    return out
