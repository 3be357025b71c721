import json

import pytest

from xmlbench.spans import Span, Tracer, self_time


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, None, "p", 0.0, 10.0)
    spans = [
        parent,
        Span(1, 0, "a", 1.0, 3.0),
        Span(2, 0, "b", 2.0, 4.0),  # overlaps a: covered once
        Span(3, 0, "c", 6.0, 7.0),
        Span(4, 1, "grandchild", 1.5, 2.5),  # inside a, not a direct child
        Span(5, None, "other", 0.0, 10.0),
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(spans[1], spans) == pytest.approx(2.0 - 1.0)
    assert self_time(spans[3], spans) == pytest.approx(1.0)


def test_child_outside_parent_is_clipped():
    parent = Span(0, None, "p", 0.0, 5.0)
    spans = [parent, Span(1, 0, "late", 4.0, 9.0)]
    assert self_time(parent, spans) == pytest.approx(4.0)


def test_tracer_nests_and_dumps(tmp_path):
    tr = Tracer("t1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.end >= inner.end >= inner.start >= outer.start
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    rows = json.loads(path.read_text())
    assert [r["name"] for r in rows] == ["outer", "inner"]
    assert rows[0]["self_s"] == pytest.approx(outer.duration - inner.duration)
    assert {r["trace_id"] for r in rows} == {"t1"}


def test_wrap_records_a_span_per_call_and_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer("t2")
    restore = tr.wrap(Mod, "f", "mod.f")
    assert Mod.f(1) == 2
    restore()
    assert Mod.f(2) == 3
    assert [s.name for s in tr.spans] == ["mod.f"]
