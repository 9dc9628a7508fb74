"""In-memory span tracer for the benchmark's calls into each layer.

A span records name, start, end, its parent span and a request id.
Spans nest per thread (each client thread keeps its own parent stack)
and stay in memory until ``dump`` writes them when the run ends.  A
layer's self time is the time its spans cover minus the part covered by
their child spans.  A disabled tracer records nothing and costs one
attribute test per call; an enabled one adds the time of its own
bookkeeping, and of the probes run under ``probe()``, to ``overhead_s``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        with self._lock:
            sp = Span(next(self._ids), name,
                      parent.id if parent else None, request,
                      time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        self._charge(time.perf_counter() - t0)
        try:
            yield sp
        finally:
            sp.end = t1 = time.perf_counter()
            stack.pop()
            self._charge(time.perf_counter() - t1)

    @contextmanager
    def probe(self):
        """Charge the enclosed measurement work to ``overhead_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.enabled:
                self._charge(time.perf_counter() - t0)

    def _charge(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: span time minus the time of its direct children."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) - child.get(s.id, 0.0)
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
