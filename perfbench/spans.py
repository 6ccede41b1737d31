"""Span recorder for the traced benchmark run.

Spans are taken only here, in the benchmark: the traced run swaps a
module's public function (or a server instance's method) for a wrapper
that times each call, and restores the original when tracing stops. The
package itself is never edited, and the untraced run installs nothing.

A span is (name, phase, start, end, parent index). Spans stay in memory
and are summarized when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import time
from contextlib import contextmanager
from typing import Callable


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, str, float, float, int | None]] = []
        self.phase = "setup"
        self.on = False
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str) -> int | None:
        """Start a span; returns its handle (None while tracing is off)."""
        if not self.on:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, self.phase, time.perf_counter(), 0.0, parent))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        self._stack.remove(idx)
        n, ph, t0, _, p = self.spans[idx]
        self.spans[idx] = (n, ph, t0, time.perf_counter(), p)

    @contextmanager
    def span(self, name: str):
        """Time the enclosed block as one span (a no-op while off)."""
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def patch(self, owner, attr: str, name: str,
              wrapper: Callable | None = None) -> None:
        """Replace owner.attr (owner: module path or object) by a timed
        wrapper until unpatch_all()."""
        if isinstance(owner, str):
            owner = importlib.import_module(owner)
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, (wrapper or self.wrap)(orig, name))

    def unpatch_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str, phase: str | None = None) -> list[float]:
        return [e - s for n, ph, s, e, _ in self.spans
                if n == name and (phase is None or ph == phase)]

    def median(self, name: str) -> float:
        """Median seconds per call, from the measured window when the
        layer ran there, else from set-up."""
        d = self.durations(name, "window") or self.durations(name)
        return statistics.median(d) if d else 0.0

    def self_times(self, name: str) -> list[float]:
        """Per measured-window span: its duration minus the time its
        direct children cover."""
        child: dict[int, float] = {}
        for n, ph, s, e, p in self.spans:
            if p is not None:
                child[p] = child.get(p, 0.0) + (e - s)
        return [(e - s) - child.get(i, 0.0)
                for i, (n, ph, s, e, p) in enumerate(self.spans)
                if n == name and ph == "window"]
