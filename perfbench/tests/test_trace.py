"""Span arithmetic and layer wrapping, on synthetic spans and modules."""

import sys
import threading
import types

import pytest

from perfbench import trace
from perfbench.trace import Span, Tracer, layer_totals, self_times


def _tree():
    # job 1:  root [0, 10]
    #           a [1, 4]      (child b [2, 3])
    #           c [3, 6]      (overlaps a: a pool-thread sibling)
    #           a [8, 9]
    return [
        Span(0, "root", 1, None, 0.0, 10.0),
        Span(1, "a", 1, 0, 1.0, 4.0),
        Span(2, "b", 1, 1, 2.0, 3.0),
        Span(3, "c", 1, 0, 3.0, 6.0),
        Span(4, "a", 1, 0, 8.0, 9.0),
        Span(5, "a", 2, None, 0.0, 1.0),
    ]


def test_self_time_subtracts_union_of_children():
    st = self_times(_tree())
    # root's children cover [1, 6] and [8, 9]: 6 of its 10 seconds.
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_child_outside_parent_is_clipped():
    spans = [Span(0, "p", 1, None, 0.0, 2.0), Span(1, "k", 1, 0, 1.5, 3.0)]
    assert self_times(spans)[0] == pytest.approx(1.5)


def test_layer_totals_per_job_and_nested_same_layer():
    spans = _tree() + [Span(6, "a", 1, 1, 1.5, 1.8)]  # a nested in a
    tot = layer_totals(spans, 1)
    assert tot["a"]["calls"] == 3
    assert tot["a"]["s"] == pytest.approx(4.0)  # outermost a spans only
    assert tot["root"]["self_s"] == pytest.approx(4.0)
    assert layer_totals(spans, 2)["a"]["calls"] == 1


def test_tracer_records_parent_and_pool_thread_root():
    t = Tracer()
    t.enabled, t.job = True, 7
    root = t.root("job")
    f = t.wrap("layer", lambda x: x + 1)
    assert f(1) == 2
    construct = t.begin("construct")
    th = threading.Thread(target=f, args=(1,))
    th.start()
    th.join(10)
    assert not th.is_alive()
    t.end(construct)
    t.end(root)
    main_span, pool_span = [s for s in t.spans if s.name == "layer"]
    assert main_span.parent == root.id and construct.parent == root.id
    assert pool_span.parent == construct.id and pool_span.thread != main_span.thread
    assert all(s.job == 7 and s.end >= s.start for s in t.spans)
    t.enabled = False
    f(1)
    assert len(t.spans) == 4


def test_install_rebinds_from_imports(monkeypatch):
    impl = types.ModuleType("hgn_spark._fake_impl")
    user = types.ModuleType("hgn_spark._fake_user")

    def work():
        return 42

    class Janitor:
        def checkpoint(self):
            return 1

    impl.work, impl.Janitor = work, Janitor
    user.work = work  # as `from hgn_spark._fake_impl import work`
    monkeypatch.setitem(sys.modules, impl.__name__, impl)
    monkeypatch.setitem(sys.modules, user.__name__, user)
    t = Tracer()
    trace.install(t, ((impl.__name__, "work", "w"),
                      (impl.__name__, "Janitor.checkpoint", "ck")))
    t.enabled = True
    assert user.work() == 42 and impl.work() == 42
    assert Janitor().checkpoint() == 1
    assert [s.name for s in t.spans] == ["w", "w", "ck"]
