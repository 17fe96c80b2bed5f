"""Spans, counters and call wrappers for traced benchmark runs.

Everything here measures the program from outside: it wraps public
functions and methods for the duration of a traced run and restores them
afterwards. An untraced run builds a disabled :class:`Tracer`, whose
``span`` is a no-op, and installs no wrapper, so its timings are the
program's own.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Callable, Iterator


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent, overlaps
    between children counted once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        parent = by_id.get(s.parent_id) if s.parent_id is not None else None
        if parent is not None:
            lo, hi = max(s.start, parent.start), min(s.end, parent.end)
            if hi > lo:
                children[parent.span_id].append((lo, hi))
    return {s.span_id: s.duration - _covered(children[s.span_id]) for s in spans}


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    selfs = self_times(spans)
    for s in spans:
        out[s.name] += selfs[s.span_id]
    return dict(out)


class Tracer:
    """In-memory span recorder and counter set for one run."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._restore: list[Callable[[], None]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, parent, name, time.perf_counter(), 0.0, self.run_id))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` with a span named ``name`` around every call."""

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until :meth:`close`."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(orig, classmethod):
            new = classmethod(self.wrap(name, orig.__func__))
        else:
            new = self.wrap(name, orig)
        setattr(owner, attr, new)
        self._restore.append(lambda: setattr(owner, attr, orig))

    def add_restore(self, fn: Callable[[], None]) -> None:
        self._restore.append(fn)

    def close(self) -> None:
        while self._restore:
            self._restore.pop()()

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [asdict(s) | {"self": selfs[s.span_id]} for s in self.spans]


class RpcCounter:
    """Counts py4j round trips: every ``send_command`` on a gateway
    connection is one call into the JVM. Counting pauses while the
    benchmark reads its own statistics, so those reads are not charged to
    the program."""

    def __init__(self) -> None:
        self.n = 0
        self.paused = False

    def install(self, tracer: Tracer) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        counter = self
        for klass in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = klass.send_command

            def wrapped(slf, *a, _orig=orig, **kw):
                if not counter.paused:
                    counter.n += 1
                return _orig(slf, *a, **kw)

            klass.send_command = wrapped
            tracer.add_restore(lambda k=klass, o=orig: setattr(k, "send_command", o))

    @contextmanager
    def pause(self) -> Iterator[None]:
        was, self.paused = self.paused, True
        try:
            yield
        finally:
            self.paused = was
