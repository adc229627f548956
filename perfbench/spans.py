"""In-memory span tracer that instruments the engine from outside.

Spans are recorded around calls into the package's public functions by
replacing the function object in its defining module and in every
package module that imported it by name. The package itself is not
edited. Each span keeps its name, start, end, parent span and the id of
the benchmark operation it belongs to; spans stay in memory and are
written out once, when the run ends.

A span's self time is its duration minus the part of it that its child
spans cover. Work the tracer does for itself (directory sizes, Spark
status queries) is recorded under ``trace.bookkeeping`` so it is never
billed to an engine layer.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

PACKAGE = "instacart_medallion_lakehouse_spark"


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass
    return total


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "attrs")

    def __init__(self, sid, name, start, parent, op):
        self.id, self.name, self.start, self.parent, self.op = sid, name, start, parent, op
        self.end = None
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.op: str | None = None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        rec = Span(len(self.spans), name, time.perf_counter(), parent, self.op)
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[key] += n

    # -- instrumentation -------------------------------------------------

    def patch(self, module, attr: str, make_wrapper) -> None:
        """Replace ``module.attr`` (and every package-level alias of the
        same function) with ``make_wrapper(original)``."""
        orig = getattr(module, attr)
        wrapped = functools.wraps(orig)(make_wrapper(orig))
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if (name == PACKAGE or name.startswith(PACKAGE + ".")) and getattr(
                mod, attr, None
            ) is orig:
                setattr(mod, attr, wrapped)

    def spanned(self, module, attr: str, span_name: str, after=None) -> None:
        """Wrap ``module.attr`` in a span; ``after(rec, result, args,
        kwargs)`` runs once the call returns, as bookkeeping."""

        def make(orig):
            def wrapper(*args, **kwargs):
                if not self.enabled:
                    return orig(*args, **kwargs)
                with self.span(span_name) as rec:
                    out = orig(*args, **kwargs)
                self.count(span_name + ".calls")
                if after is not None:
                    with self.span("trace.bookkeeping"):
                        after(rec, out, args, kwargs)
                return out

            return wrapper

        self.patch(module, attr, make)

    # -- analysis --------------------------------------------------------

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Self time per span name: duration minus the union of the
        intervals its direct children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] += s.duration - covered
        return dict(out)

    @staticmethod
    def span_cost(n: int = 20_000, repeats: int = 5) -> float:
        """Seconds one recorded span costs (open, close, bookkeeping of
        the record): the median over ``repeats`` batches of ``n`` empty
        spans on a scratch tracer."""
        costs = []
        for _ in range(repeats):
            scratch = Tracer()
            scratch.enabled = True
            t0 = time.perf_counter()
            for _ in range(n):
                with scratch.span("x"):
                    pass
            costs.append((time.perf_counter() - t0) / n)
        return sorted(costs)[repeats // 2]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, **s.attrs,
                }) + "\n")
