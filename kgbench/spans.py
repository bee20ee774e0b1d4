"""In-memory spans around calls into kgpipe, recorded from the benchmark.

A span is (id, name, start, end, parent, run). Spans nest by call order on
one thread: the span open when another begins is its parent. They stay in
memory and are written out once, when the run ends. A span's self time
is its duration minus the part of its interval its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end)
            for s in spans}


class Tracer:
    """Records spans for one run. ``span()`` is a context manager;
    ``patch()`` wraps a module attribute so every call through it is a
    span, until ``unpatch_all()``."""

    def __init__(self, run: str):
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), float("nan"), parent, self.run)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def patch(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unpatch_all(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s.duration for s in self.spans if s.name == name)

    def self_total(self, name: str) -> float:
        st = self_times(self.spans)
        return sum(st[s.id] for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self=st[s.id]) for s in self.spans], f)
