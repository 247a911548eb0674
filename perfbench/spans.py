"""Spans around the benchmark's calls into each layer of the program.

A span records layer, name, start, end and the span that caused it.
Spans stay in memory and are folded into metrics when the run ends.
Each span also sets a Spark job group (``pb-<span id>``) on the calling
thread, so the event log can charge Spark jobs to it. With tracing off
(``Tracer(None)``) ``span`` and ``wrap`` cost one attribute check.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def key(self) -> str:
        return f"{self.layer}.{self.name}"


def group_of(span: Span) -> str:
    return f"pb-{span.sid}"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.main_thread().ident

    def reset(self) -> None:
        with self._lock:
            self.spans = []

    def _parent(self) -> Span | None:
        stack = self._stacks.get(threading.get_ident()) or self._stacks.get(self._main)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, layer: str, name: str):
        """Time the enclosed block as one call into ``layer``. Spans
        opened on a thread with no open span (a streaming micro-batch
        callback) are children of the main thread's innermost span."""
        if not self.enabled:
            yield None
            return
        parent = self._parent()
        s = Span(next(self._ids), parent.sid if parent else None, layer, name, 0.0)
        tid = threading.get_ident()
        stack = self._stacks.setdefault(tid, [])
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, group_of(s))
        stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(s)

    def wrap(self, layer: str, name: str, fn, after=None):
        """``fn`` timed as a span on every call; ``after(result, span)``
        runs inside the span (to materialize a lazy result or record a
        count). Returns ``fn`` itself when tracing is off."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(layer, name) as s:
                out = fn(*a, **kw)
                if after is not None:
                    after(out, s)
                return out

        return traced


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that child spans
    cover (children are clipped to the parent and merged first, so
    overlapping children are not subtracted twice)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s.sid, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = max(0.0, (s.end - s.start) - covered)
    return out
