"""Tail-percentile rule and span self-time arithmetic."""

import pytest

from perfbench.spans import Span, Tracer, self_times
from perfbench.stats import geomean, percentile_value, tail, tail_percentile


@pytest.mark.parametrize('n', [11, 12, 17, 20, 24, 48, 100, 384, 1000])
def test_tail_percentile_leaves_at_least_ten_beyond(n):
    values = list(range(n))
    p = tail_percentile(n)
    beyond = sum(v > percentile_value(values, p) for v in values)
    assert beyond >= 10
    # the next percentile up would leave fewer than ten beyond
    if p < 100:
        beyond_next = sum(v > percentile_value(values, p + 1) for v in values)
        assert beyond_next < 10


def test_tail_percentile_known_values():
    assert tail_percentile(11) == 9
    assert tail_percentile(17) == 41
    assert tail_percentile(100) == 90
    assert tail_percentile(384) == 97


@pytest.mark.parametrize('n', [1, 5, 10])
def test_tail_without_ten_beyond_is_the_maximum(n):
    values = [float(i) for i in range(n)]
    assert tail(values) == (max(values), 100, n)


def test_tail_reports_value_percentile_and_count():
    values = [float(i) for i in range(1, 21)]  # 20 samples
    value, p, n = tail(values)
    assert (p, n) == (50, 20)
    assert value == 10.0  # nearest rank ceil(0.5 * 20) = 10


def test_geomean():
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, 'job')


def test_self_time_subtracts_children():
    spans = [
        _span(0, 'outer', 0.0, 10.0),
        _span(1, 'a', 1.0, 3.0, parent=0),
        _span(2, 'b', 5.0, 6.0, parent=0),
        _span(3, 'a', 1.5, 2.5, parent=1),
    ]
    st = self_times(spans)
    assert st['outer'] == pytest.approx(10.0 - 2.0 - 1.0)
    assert st['a'] == pytest.approx((2.0 - 1.0) + 1.0)  # both 'a' spans summed
    assert st['b'] == pytest.approx(1.0)
    scaled = self_times(spans, {'job': 0.5, 'other job': 3.0})
    assert scaled == pytest.approx({k: v * 0.5 for k, v in st.items()})


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        _span(0, 'p', 0.0, 10.0),
        _span(1, 'c', 2.0, 6.0, parent=0),
        _span(2, 'c', 4.0, 8.0, parent=0),   # overlaps the first child
        _span(3, 'c', 9.0, 12.0, parent=0),  # runs past the parent's end
    ]
    assert self_times(spans)['p'] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_records_nesting_and_only_when_enabled():
    tr = Tracer()
    with tr.span('ignored'):
        tr.count('x')
    assert tr.spans == [] and not tr.counts
    tr.enabled = True
    tr.job = 'j1'
    with tr.span('outer'):
        with tr.span('inner'):
            tr.count('x', 2)
    inner, outer = tr.spans
    assert (inner.name, outer.name) == ('inner', 'outer')
    assert inner.parent == outer.id and outer.parent is None
    assert inner.job == outer.job == 'j1'
    assert tr.counts['x'] == 2
    st = self_times(tr.spans)
    assert st['outer'] + st['inner'] == pytest.approx(outer.end - outer.start)
