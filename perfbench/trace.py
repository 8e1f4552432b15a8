"""Spans recorded from the benchmark's own code.

A span times one call into a layer. While it is open, the calling
thread's Spark job group is the span's name, so the event log can charge
the span's jobs, tasks and shuffle bytes to it; jobs launched from
library threads carry no group and are charged to the innermost span open
when they were submitted. A span's self time is its duration minus the
duration of the spans nested in it.

``patch`` swaps a module or class attribute for a wrapper that opens a
span around each call, so functions that a library entry point calls
internally can be measured without editing the library.
"""

from __future__ import annotations

import functools
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[list] = []  # [name, start, end, parent index]
        self.stack: list[int] = []
        self.counts: Counter = Counter()

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        rec = [name, time.time(), None, parent]
        self.stack.append(len(self.spans))
        self.spans.append(rec)
        self._set_group(name)
        try:
            yield
        finally:
            rec[2] = time.time()
            self.stack.pop()
            self._set_group(self.spans[parent][0] if parent is not None else None)

    @staticmethod
    def replace(owner, attr: str, fn):
        """Set ``owner.attr = fn``; returns the undo callable."""
        real = getattr(owner, attr)
        setattr(owner, attr, fn)
        return lambda: setattr(owner, attr, real)

    def patch(self, owner, attr: str, name: str):
        """Wrap ``owner.attr`` in a span; returns the undo callable."""
        real = getattr(owner, attr)

        @functools.wraps(real)
        def traced(*args, **kwargs):
            with self.span(name):
                return real(*args, **kwargs)

        return self.replace(owner, attr, traced)

    def self_seconds(self) -> Counter:
        out: Counter = Counter()
        for name, start, end, parent in self.spans:
            out[name] += end - start
            if parent is not None:
                out[self.spans[parent][0]] -= end - start
        return out

    def covered(self, t0: float, t1: float) -> float:
        """Total duration of the outermost spans inside ``[t0, t1]``."""
        return sum(
            end - start
            for _, start, end, parent in self.spans
            if parent is None and t0 <= start and end <= t1
        )

    def innermost(self, t: float) -> str | None:
        """Name of the innermost span open at wall time ``t``."""
        best = None
        for name, start, end, _ in self.spans:
            if start <= t <= end and (best is None or start >= best[1]):
                best = (name, start)
        return best[0] if best else None
