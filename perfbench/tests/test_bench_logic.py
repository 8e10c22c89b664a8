"""Tests of the benchmark's own logic: the tail-percentile rule, span
self time, the event-log reader and result digests.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import measure  # noqa: E402
from tracer import END, NAME, START, Tracer, outermost, self_times  # noqa: E402


@pytest.mark.parametrize(
    "n, p",
    [(10, None), (11, None), (20, 50), (39, 50), (40, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99), (5000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert measure.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= measure.TAIL_BEYOND


def test_tail_falls_back_to_max_and_interpolates():
    assert measure.tail([3.0, 1.0, 2.0]) == (None, 3.0)
    p, v = measure.tail(list(range(1, 1001)))
    assert p == 99
    assert v == pytest.approx(990.01)


def test_union_length_merges_overlaps():
    assert measure.union_length([]) == 0.0
    assert measure.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert measure.union_length([(0, 10), (2, 3)]) == 10.0
    assert measure.clip([(0, 5), (6, 7), (9, 12)], 1, 10) == [(1, 5), (6, 7), (9, 10)]


def _span(name, start, end, parent):
    return [name, start, end, parent, 0, None]


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("op", 0.0, 10.0, None),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),  # overlaps a: another thread
        _span("c", 1.5, 2.0, 1),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.5, 3.0, 0.5])


def test_outermost_skips_nested_calls_of_same_layer():
    spans = [
        _span("op", 0, 9, None),
        _span("storage.write", 1, 5, 0),
        _span("x", 2, 4, 1),
        _span("storage.write", 2.5, 3, 2),
        _span("storage.write", 6, 7, 0),
    ]
    assert outermost(spans, ["storage.write"]) == [1, 4]


class _Lib:
    def outer(self, x):
        return self.inner(x) + 1

    def inner(self, x):
        return x * 2


def test_tracer_records_nesting_and_restores_patches():
    orig_outer = _Lib.__dict__["outer"]
    t = Tracer()
    t.wrap(_Lib, "outer", "outer")
    t.wrap(_Lib, "inner", "inner", note=lambda args, out: out)
    t.op = 7
    assert _Lib().outer(5) == 11
    t.op = None
    names = [s[NAME] for s in t.spans]
    assert names == ["outer", "inner"]
    outer, inner = t.spans
    assert inner[3] == 0 and outer[3] is None  # parent links
    assert outer[4] == inner[4] == 7  # op index
    assert inner[5] == 10  # note
    assert outer[START] <= inner[START] <= inner[END] <= outer[END]
    assert t.overhead_s > 0
    t.uninstall()
    assert _Lib.__dict__["outer"] is orig_outer


def test_tracer_counts_calls_per_op():
    class Box:
        def f(self):
            return 1

    t = Tracer()
    t.count(Box, "f", "calls")
    b = Box()
    b.f()
    t.op = 3
    b.f()
    b.f()
    assert t.counts[("calls", None)][0] == 1
    assert t.counts[("calls", 3)][0] == 2
    t.uninstall()


def test_event_log_groups_jobs_tasks_and_metrics():
    log_dir = os.path.join(HERE, "data", "events")
    files = eventlog.event_files(log_dir)
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1",
    ]
    g = eventlog.group_stats(eventlog.read_events(files))
    assert set(g) == {"pb-0", "pb-1", None}
    a, b, none = g["pb-0"], g["pb-1"], g[None]
    assert (a.jobs, a.tasks) == (2, 3)
    assert a.spans_ms == [(1000, 1400), (1500, 1600)]
    assert a.executor_run_ms == 146 + 100 + 20
    assert a.executor_cpu_ns == 99_999_930 + 50_000_000 + 10_000_000
    assert a.gc_ms == 9
    assert a.shuffle_bytes == 2707 + 1000
    assert a.spill_bytes == 64 + 32
    assert (b.jobs, b.tasks, b.output_bytes) == (1, 1, 4096)
    assert (none.jobs, none.tasks) == (1, 1)


def test_digest_ignores_row_order_and_float_noise():
    rows = [(1, 0.123456789, "a"), (2, -0.00001, None),
            (3, [1.00000001, 2.0], {"k": 0.5})]
    d = measure.digest(rows)
    assert d == measure.digest(list(reversed(rows)))
    assert d == measure.digest([(1, 0.1234571, "a"), (2, 0.0, None),
                                (3, [1.0, 2.0], {"k": 0.50000002})])
    assert d != measure.digest(rows[:2])
    assert d != measure.digest([(1, 0.1236, "a")] + rows[1:])


def test_digest_of_fixed_rows_is_pinned():
    # expected_catalog.json holds digests: the function must not drift
    rows = [(1, 2.5, "x", datetime.date(1995, 3, 15)), (0, -1.25, "y", None)]
    assert measure.digest(rows) == "32d6bcc4539c20b3"
