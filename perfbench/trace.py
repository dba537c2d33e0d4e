"""Spans recorded around calls into the engine's modules, from outside.

``Tracer.wrap`` swaps a class's method for one that records a span
(name, start, end, parent span, thread, run id) around each call and
restores the original on ``unpatch``; ``Tracer.traced`` does the same
for one function or bound method. Each thread has its own span stack,
because ``foreachBatch`` bodies run on the streaming thread. Spans stay
in memory until ``dump``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        # (span_id, parent_id, name, start, end, thread_id)
        self.spans: list[tuple[int, int | None, str, float, float, int]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, name, t0, t1, threading.get_ident()))

    def traced(self, name: str, fn):
        """``fn`` wrapped in a span; keeps the attributes the engine reads
        off source callables (``no_ddl``, ``exact_range``)."""

        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def wrap(self, cls: type, attr: str, name: str) -> None:
        """Trace a function defined on ``cls`` itself (not inherited)."""
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.traced(name, orig))
        self._patches.append((cls, attr, orig))

    def unpatch(self) -> None:
        for cls, attr, orig in reversed(self._patches):
            setattr(cls, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ report
    def totals(self) -> dict[str, dict[str, float]]:
        """name -> calls, total_s, self_s. Self time is a span's duration
        minus its children's (children of one thread run in sequence)."""
        child_time: dict[int, float] = {}
        for _sid, parent, _n, t0, t1, _tid in self.spans:
            if parent is not None:
                child_time[parent] = child_time.get(parent, 0.0) + (t1 - t0)
        out: dict[str, dict[str, float]] = {}
        for sid, _p, name, t0, t1, _tid in self.spans:
            row = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += t1 - t0
            row["self_s"] += (t1 - t0) - child_time.get(sid, 0.0)
        return out

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _s, _p, n, t0, t1, _t in self.spans if n == name]

    def table(self, roots: tuple[str, ...]) -> list[str]:
        """Printable per-span table plus the share of the root spans'
        wall time that no child span covers."""
        tot = self.totals()
        lines = [f"{'span':32s} {'calls':>7s} {'total_s':>10s} {'self_s':>10s}"]
        for name in sorted(tot):
            r = tot[name]
            lines.append(
                f"{name:32s} {r['calls']:7d} {r['total_s']:10.3f} {r['self_s']:10.3f}"
            )
        wall = sum(tot[r]["total_s"] for r in roots if r in tot)
        uncovered = sum(tot[r]["self_s"] for r in roots if r in tot)
        if wall > 0:
            lines.append(
                f"uncovered share of {'+'.join(roots)} wall: "
                f"{uncovered / wall:.4f} ({uncovered:.3f} s of {wall:.3f} s)"
            )
        return lines

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, t0, t1, tid in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "span": sid, "parent": parent,
                    "name": name, "start": t0, "end": t1, "thread": tid,
                }) + "\n")
