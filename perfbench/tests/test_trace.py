"""Spans nest, carry their operation's id, and cost what ``span_cost_ms`` says."""

from __future__ import annotations

from types import SimpleNamespace

from perfbench.trace import Tracer, span_cost_ms


def test_nested_spans_and_self_time():
    tracer = Tracer()
    lib = SimpleNamespace(inner=lambda: 1)
    lib.outer = lambda: lib.inner() + 1
    tracer.wrap(lib, "outer", "outer")
    tracer.wrap(lib, "inner", "inner")
    assert lib.outer() == 2 and tracer.spans == []  # inactive: nothing recorded
    tracer.op_id, tracer.active = 7, True
    assert lib.outer() == 2
    outer, inner = tracer.spans
    assert (outer.name, outer.parent, inner.name, inner.parent) == ("outer", None, "inner", 0)
    assert outer.op_id == inner.op_id == 7
    own = tracer.self_ms()
    assert abs(own[0] - (outer.ms - inner.ms)) < 1e-9 and own[1] == inner.ms
    tracer.unwrap_all()
    tracer.spans.clear()
    assert lib.outer() == 2 and tracer.spans == []


def test_span_cost_is_small_and_positive():
    cost = span_cost_ms()
    assert 0.0 < cost < 1.0
