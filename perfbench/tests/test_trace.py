"""Span arithmetic and wrapping of the benchmark's tracer."""

import threading
import types
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.trace import Span, Tracer, self_time, union_length


def span(start, end, parent=1):
    return Span(id=0, name="c", start=start, end=end, parent=parent, thread=0)


def test_union_length_merges_overlap_and_nesting():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.2, 5.8)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0
    assert union_length([(3, 3), (4, 2)]) == 0.0


def test_self_time_counts_overlapping_children_once():
    # a 4-thread pool runs three writes at once: their durations sum to
    # 8 s inside a 10 s parent, but they cover only 6 s of it
    parent = span(0, 10, parent=None)
    kids = [span(1, 4), span(2, 6), span(8, 9), span(3.5, 5)]
    assert sum(k.dur for k in kids) > 8.0
    assert self_time(parent, kids) == pytest.approx(4.0)


def test_self_time_clips_children_to_parent_and_never_goes_negative():
    parent = span(10, 20, parent=None)
    assert self_time(parent, [span(5, 12), span(19, 30)]) == pytest.approx(7.0)
    assert self_time(parent, [span(0, 40), span(11, 12)]) == 0.0
    assert self_time(parent, [span(12, None)]) == pytest.approx(10.0)


def test_pool_thread_spans_take_the_root_as_parent():
    tr = Tracer()
    started = threading.Barrier(3, timeout=10)

    def work(i):
        with tr.span(f"write{i}"):
            started.wait()  # all three spans are open at the same time
            with tr.span("inner"):
                pass

    with tr.span("epoch", root=True) as root:
        with tr.span("plan"):
            pass
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(work, range(3)))
    writes = [s for s in tr.spans if s.name.startswith("write")]
    assert {s.parent for s in writes} == {root.id}
    assert {s.parent for s in tr.spans if s.name == "inner"} == {w.id for w in writes}
    assert len(tr.children(root)) == 4
    assert len(tr.descendants(root)) == 7
    covered = union_length((c.start, c.end) for c in tr.children(root))
    assert self_time(root, tr.children(root)) == pytest.approx(root.dur - covered)
    assert root.dur - sum(c.dur for c in tr.children(root)) < self_time(root, tr.children(root))


def test_wrap_and_restore_functions_and_classmethods():
    mod = types.SimpleNamespace(double=lambda x: 2 * x)

    class Store:
        @classmethod
        def build(cls, n):
            return (cls, n)

        def read(self, n):
            return n + 1

    tr = Tracer()
    orig_double, orig_build = mod.double, Store.__dict__["build"]
    seen = []
    tr.wrap(mod, "double", "m.double")
    tr.wrap(Store, "build", "s.build")
    tr.wrap(Store, "read", after=lambda sp, res, a, k: seen.append(res),
            name_of=lambda a, k: f"s.read.{a[1]}")
    assert mod.double(3) == 6
    assert Store.build(2) == (Store, 2)
    assert Store().read(4) == 5
    assert [s.name for s in tr.spans] == ["m.double", "s.build", "s.read.4", "trace.after"]
    assert seen == [5]
    tr.restore()
    assert mod.double is orig_double
    assert Store.__dict__["build"] is orig_build
    assert Store().read(1) == 2 and len(tr.spans) == 4


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x", root=True) as sp:
        assert sp is None
    assert tr.spans == []
