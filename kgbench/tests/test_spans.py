"""Span bookkeeping: self time under overlapping threaded children, parent
links from pool threads, and wrapper install/uninstall. No Spark needed."""

from __future__ import annotations

import threading
import time
import types
from concurrent.futures import ThreadPoolExecutor

from kgbench.spans import Span, Tracer, covered, self_time, union_length


def _span(sid, parent, start, end, name="s"):
    s = Span(sid, name, parent, "op1", start, 0)
    s.end = end
    return s


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 4), (1, 2), (3, 6)]) == 6
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3


def test_self_time_uses_interval_union_not_sum():
    # finalize [0, 10] with quarantine [1, 4] and lineage [2, 6] overlapping
    # in two threads, then a sequential write [8, 9]: covered = 5 + 1
    parent = _span(1, None, 0.0, 10.0)
    kids = [_span(2, 1, 1.0, 4.0), _span(3, 1, 2.0, 6.0), _span(4, 1, 8.0, 9.0)]
    grandchild = _span(5, 2, 1.5, 3.5)  # inside a child: not the parent's
    spans = [parent, *kids, grandchild]
    assert self_time(parent, spans) == 4.0
    # summing child durations would have claimed 10 - 8 = 2
    assert parent.dur - sum(k.dur for k in kids) == 2.0


def test_covered_clips_to_the_span():
    parent = _span(1, None, 2.0, 5.0)
    others = [_span(2, None, 0.0, 3.0), _span(3, None, 4.0, 9.0), _span(4, None, 6.0, 7.0)]
    assert covered(parent, others) == 2.0


def test_pool_thread_spans_parent_to_the_operation_thread():
    tr = Tracer()
    tr.begin_op("op1")
    barrier = threading.Barrier(2, timeout=5)

    def work(name):
        with tr.span(name):
            barrier.wait()  # both children are open at once
            time.sleep(0.05)

    with tr.span("pipeline.finalize") as fin:
        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(work, "catalog.write_quarantine"),
                    ex.submit(work, "catalog.write_lineage")]
            for f in futs:
                f.result(timeout=10)
    spans = tr.end_op()
    kids = [s for s in spans if s.parent == fin.sid]
    assert sorted(k.name for k in kids) == ["catalog.write_lineage", "catalog.write_quarantine"]
    assert len({k.thread for k in kids}) == 2
    # the children overlap, so their union is shorter than their sum
    assert covered(fin, kids) < sum(k.dur for k in kids)
    st = self_time(fin, spans)
    assert 0 <= st <= fin.dur - max(k.dur for k in kids) + 1e-9


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x") as sp:
        assert sp is None
    tr.count("k")
    assert tr.spans == [] and tr.counters == {}


def test_wrap_records_spans_and_uninstall_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer()
    tr.wrap(mod, "f", lambda x: f"call.{x}")
    tr.wrap_count(mod, "f", "calls")
    tr.begin_op("op1")
    assert mod.f(1) == 2
    spans = tr.end_op()
    assert [s.name for s in spans] == ["call.1"]
    assert tr.counters == {"calls": 1}
    tr.uninstall()
    assert mod.f is orig
