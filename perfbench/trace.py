"""Spans recorded from the benchmark process around calls into the
program's public functions.

The program is not edited: ``Tracer.wrap`` replaces a module or class
attribute with a wrapper for the life of the process. A span carries its
name, start, end, parent and the id of the operation it belongs to; spans
stay in memory and are written out once, at exit.

Work the program ships to Spark's Python workers (chunking and embedding
UDFs) runs in other processes, so spans see only the driver side of it;
the benchmark times those kernels separately.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass
from types import SimpleNamespace

__all__ = ["Span", "Tracer", "span_cost_ms"]

SPAN_COST_CALLS, SPAN_COST_REPEATS = 20000, 5


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op_id = 0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``
        made while the tracer is active."""
        inner = getattr(owner, attr)
        # a function stored on a class must stay a plain function so it
        # still binds as a method; bound methods and module functions are
        # wrapped the same way
        raw = owner.__dict__.get(attr, inner) if isinstance(owner, type) else inner
        tracer = self

        @functools.wraps(raw)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return raw(*args, **kwargs)
            with tracer.span(name):
                return raw(*args, **kwargs)

        self._patched.append((owner, attr, raw))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    # ------------------------------------------------------------ analysis

    def children(self) -> dict[int | None, list[int]]:
        out: dict[int | None, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s.parent].append(i)
        return out

    def self_ms(self) -> list[float]:
        """Per span: its duration minus the time its children cover. Spans
        nest strictly (one thread), so children never overlap each other."""
        kids = self.children()
        return [s.ms - sum(self.spans[c].ms for c in kids.get(i, ())) for i, s in enumerate(self.spans)]

    def by_name(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s.name].append(i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op_id": s.op_id}
                    for s in self.spans
                ],
                fh,
            )


class _SpanCtx:
    __slots__ = ("tracer", "name", "index")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> "_SpanCtx":
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.index = len(t.spans)
        t.spans.append(Span(self.name, time.perf_counter(), 0.0, parent, t.op_id))
        t._stack.append(self.index)
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        t.spans[self.index].end = time.perf_counter()
        t._stack.pop()


def span_cost_ms() -> float:
    """What recording one span adds to a call, in milliseconds: a no-op
    wrapped by an active tracer against the same no-op unwrapped,
    ``SPAN_COST_CALLS`` calls each, median of ``SPAN_COST_REPEATS``."""
    tracer = Tracer()
    target = SimpleNamespace(call=lambda: None)
    plain = target.call
    tracer.wrap(target, "call", "span_cost")
    wrapped = target.call
    tracer.active = True
    costs = []
    for _ in range(SPAN_COST_REPEATS):
        tracer.spans.clear()
        t0 = time.perf_counter()
        for _ in range(SPAN_COST_CALLS):
            plain()
        t1 = time.perf_counter()
        for _ in range(SPAN_COST_CALLS):
            wrapped()
        t2 = time.perf_counter()
        costs.append(((t2 - t1) - (t1 - t0)) * 1000.0 / SPAN_COST_CALLS)
    return statistics.median(costs)
