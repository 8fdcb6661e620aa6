import types

import pytest

from perfbench.spans import Tracer, covered, self_times


def _span(sid, parent, t0, t1):
    return {"id": sid, "parent": parent, "t0": t0, "t1": t1}


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2)
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),   # child
        _span(2, 0, 3.0, 6.0),   # overlaps the first child: union is 1..6
        _span(3, 1, 2.0, 3.0),   # grandchild: only its parent loses it
        _span(4, None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)
    # overlapping siblings are each charged for the shared second
    assert sum(st[i] for i in (0, 1, 2, 3)) == pytest.approx(10.0 + 1.0)  # children overlap by 1


def test_self_times_of_a_tree_without_overlap_sum_to_the_root():
    spans = [_span(0, None, 0, 8), _span(1, 0, 1, 3), _span(2, 0, 4, 7), _span(3, 2, 5, 6)]
    assert sum(self_times(spans).values()) == pytest.approx(8)


def test_wrap_records_nested_spans_and_restores():
    mod = types.SimpleNamespace()
    tracer = Tracer()

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    tracer.wrap(mod, "inner", "layer.inner")
    tracer.wrap(mod, "outer", "layer.outer", op_of=lambda a, k: f"op{a[0]}")
    assert mod.outer(3) == 8
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["layer.inner"]["parent"] == by_name["layer.outer"]["id"]
    assert by_name["layer.inner"]["op"] == "op3"
    assert by_name["layer.outer"]["t0"] <= by_name["layer.inner"]["t0"]
    assert by_name["layer.inner"]["t1"] <= by_name["layer.outer"]["t1"]
    tracer.restore()
    assert mod.inner is inner and mod.outer is outer


def test_wrap_of_a_method_and_exception_still_ends_the_span():
    class Table:
        def load(self):
            raise ValueError("boom")

    tracer = Tracer()
    tracer.wrap(Table, "load", "icelite.load")
    with pytest.raises(ValueError):
        Table().load()
    assert [s["name"] for s in tracer.spans] == ["icelite.load"]
    assert tracer.spans[0]["t1"] is not None
    tracer.restore()
    assert "load" in Table.__dict__ and Table.load.__name__ == "load"
