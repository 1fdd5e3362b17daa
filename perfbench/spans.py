"""In-memory span recorder for the traced run.

A span is one call into a layer, recorded by the benchmark around the
public function it calls: ``<module>.<function>``, start and end
(``time.perf_counter`` seconds), the enclosing span, and the trace id of
the iteration it belongs to. Spans stay in memory and are written once,
when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    trace_id: str
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans while a trace is open; does nothing otherwise."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._trace_id: str | None = None
        self._owner: int | None = None
        self._main: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @property
    def active(self) -> bool:
        return self._trace_id is not None

    @contextmanager
    def trace(self, trace_id: str):
        """Open one iteration's trace; spans recorded inside share its id.
        A span opened on another thread (a streaming sink runs on one) with
        nothing open there is parented to the opening thread's current span."""
        self._trace_id, self._owner, self._main = trace_id, threading.get_ident(), []
        try:
            yield
        finally:
            self._trace_id = None

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        if threading.get_ident() == self._owner:
            stack = self._main
        else:
            stack = self._local.__dict__.setdefault("stack", [])
        top = stack or self._main
        with self._lock:
            rec = Span(len(self.spans), self._trace_id, name, time.perf_counter(),
                       0.0, top[-1] if top else None)
            self.spans.append(rec)
        stack.append(rec.span_id)
        try:
            yield
        finally:
            stack.pop()
            rec.end = time.perf_counter()

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper. Callers
        that resolve the attribute at call time (``spatial.broadcast_aoi``
        inside ``pipeline``) are traced too; ``unwrap_all`` restores it.

        Only driver-side functions may be wrapped: a function that a
        mapInPandas closure references by global name would be pickled as
        this wrapper and fail to import on the executor."""
        orig = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(label):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def of_trace(self, trace_id: str) -> list[Span]:
        return [s for s in self.spans if s.trace_id == trace_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    its direct children cover (children may overlap each other; the union
    is subtracted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.span_id] = s.duration - covered
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.span_id]
    return out


def top_level_coverage(spans: list[Span], wall: float) -> float:
    """Share of an iteration's wall time its top-level spans cover."""
    return sum(s.duration for s in spans if s.parent is None) / wall
