"""Self time and the ten-samples-beyond percentile rule."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, Tracer, percentile, self_times, tail_percentile  # noqa: E402


def test_self_time_subtracts_children():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 4.0, 8.0, 0, 0),
        Span("b.inner", 5.0, 6.0, 2, 0),
    ]
    assert self_times(spans) == [4.0, 2.0, 3.0, 1.0]


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("a", 1.0, 5.0, 0, 0),
        Span("b", 3.0, 7.0, 0, 0),   # overlaps a: covered 1..7 once
        Span("c", 9.0, 12.0, 0, 0),  # runs past the parent: only 9..10 counts
    ]
    assert self_times(spans)[0] == 10.0 - 6.0 - 1.0


def test_tracer_records_parent_and_op_and_is_inert_when_off():
    tr = Tracer(True)
    tr.op = 3
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("outer", None, 3),
                                                            ("inner", 0, 3)]
    assert all(s.end is not None and s.end >= s.start for s in tr.spans)
    st = self_times(tr.spans)
    assert abs(st[0] + st[1] - tr.spans[0].dur) < 1e-9
    off = Tracer(False)
    with off.span("x"):
        off.count("n", 1)
    assert off.spans == [] and off.counts == {}


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(9) is None
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(99) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0


def test_percentile_interpolates_linearly():
    xs = [float(i) for i in range(101)]
    assert percentile(xs, 90) == 90.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert percentile([4.0], 99) == 4.0
