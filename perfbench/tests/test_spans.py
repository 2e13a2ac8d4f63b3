import math
import types

import pytest

import spans


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_parent_links_and_self_time():
    clk = FakeClock()
    tr = spans.Tracer(clock=clk)
    tr.op_id = 1
    with tr.span("op.x") as root:
        clk.t = 1.0
        with tr.span("layer.a") as a:
            clk.t = 3.0
            with tr.span("layer.b"):
                clk.t = 4.0
        clk.t = 6.0
        with tr.span("layer.c"):
            clk.t = 7.0
        clk.t = 10.0
    by = {s.name: s for s in tr.spans}
    assert by["layer.a"].parent == root.sid
    assert by["layer.b"].parent == a.sid
    assert all(s.op_id == 1 for s in tr.spans)
    st = spans.self_times(tr.spans)
    assert st[root.sid] == pytest.approx(10 - 3 - 1)
    assert st[a.sid] == pytest.approx(3 - 1)
    # self times of one operation add up to its wall time
    assert sum(st.values()) == pytest.approx(10.0)
    per = spans.per_name(tr.spans)
    assert per["layer.b"] == (1, pytest.approx(1.0))


def test_overlapping_children_are_not_double_counted():
    s = [spans.Span(0, "p", 0.0, 10.0, None, 1),
         spans.Span(1, "c1", 1.0, 5.0, 0, 1),
         spans.Span(2, "c2", 4.0, 6.0, 0, 1)]
    assert spans.self_times(s)[0] == pytest.approx(10 - 5)


def test_wrap_records_and_unwrap_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = spans.Tracer()
    tr.wrap(mod, "f", "mod.f")
    with tr.span("op.y"):
        assert mod.f(1) == 2
    assert [s.name for s in tr.spans] == ["op.y", "mod.f"]
    assert tr.spans[1].parent == tr.spans[0].sid
    tr.unwrap_all()
    assert mod.f is orig


def test_wrap_closes_span_when_call_raises():
    def boom():
        raise KeyError("x")

    mod = types.SimpleNamespace(f=boom)
    tr = spans.Tracer()
    tr.wrap(mod, "f", "mod.f")
    with pytest.raises(KeyError):
        mod.f()
    assert not math.isnan(tr.spans[0].end)
    assert not tr._stack
