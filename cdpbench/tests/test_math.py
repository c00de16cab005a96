"""Percentile, sample-count and self-time arithmetic on synthetic data."""

import pytest

from cdpbench import stats, trace


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 11)]  # 1..10
    assert stats.percentile(xs, 0.5) == 5.5
    assert stats.percentile(xs, 0.9) == pytest.approx(9.1)
    assert stats.percentile([4.0], 0.9) == 4.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_tail_needs_ten_samples_beyond():
    assert not stats.tail_supported(99, 0.9)
    assert stats.tail_supported(100, 0.9)
    assert not stats.tail_supported(999, 0.99)
    assert stats.tail_supported(1000, 0.99)
    s = stats.summary([float(i) for i in range(150)])
    assert s["n"] == 150 and s["p50"] == 74.5 and "p90" in s and "p99" not in s
    assert stats.summary([2.0, 1.0]) == {"n": 2, "p50": 1.5}


def _span(i, parent, name, t0, t1):
    return trace.Span(i, parent, name, t0, t1)


def test_self_time_subtracts_covered_children():
    spans = [
        _span(1, None, "unit", 0.0, 10.0),
        _span(2, 1, "a", 1.0, 4.0),
        _span(3, 1, "b", 3.0, 6.0),  # overlaps a: union of children is 1..6
        _span(4, 2, "c", 2.0, 3.0),
        _span(5, 1, "d", 9.0, 12.0),  # runs past its parent: clipped at 10
    ]
    st = trace.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    by_layer = trace.self_time_by_layer(spans)
    assert by_layer["unit"] == pytest.approx(4.0)
    kids = trace.children_of(spans)
    assert {s.id for s in trace.subtree(spans[1], kids)} == {2, 4}
    assert trace.time_in(spans[0], "a", kids) == pytest.approx(3.0)


def test_time_in_counts_concurrent_spans_once():
    spans = [
        _span(1, None, "sink", 0.0, 5.0),
        _span(2, 1, "write", 1.0, 3.0),
        _span(3, 1, "write", 2.0, 4.0),
    ]
    spans[1].jobs, spans[2].jobs = 2, 3
    kids = trace.children_of(spans)
    assert trace.time_in(spans[0], "write", kids) == pytest.approx(3.0)
    assert trace.jobs_in(spans[0], kids) == 5


def test_disabled_tracer_records_nothing():
    tr = trace.Tracer(enabled=False)
    with tr.span("x") as s:
        assert s is None
    tr.install()
    assert tr.spans == [] and tr._undo == []
