"""The tail-percentile rule, the per-op window summary and span self-time
arithmetic."""

from __future__ import annotations

import statistics

import pytest

from perfbench import stats
from perfbench.harness import OpResult, summarize
from perfbench.trace import Span, Tracer, self_time


@pytest.mark.parametrize("n", [20, 21, 37, 99, 100, 101, 200, 1000, 1234])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    value, p, beyond = stats.tail(xs)
    assert beyond >= 10
    assert beyond == n - xs.index(value) - 1  # beyond counts the samples above its rank
    # one percentile higher would leave fewer than ten samples beyond
    rank_up = -(-(p + 1) * n // 100)
    assert n - rank_up < 10


def test_tail_known_values():
    assert stats.tail([float(i) for i in range(1, 101)]) == (90.0, 90, 10)
    assert stats.tail([float(i) for i in range(1, 201)]) == (190.0, 95, 10)
    assert stats.tail([float(i) for i in range(1, 1001)]) == (990.0, 99, 10)


def test_tail_below_twenty_samples_reports_the_median():
    xs = [5.0, 1.0, 3.0, 2.0]
    assert stats.tail(xs) == (statistics.median(xs), 50, 2)
    assert stats.tail([7.0]) == (7.0, 50, 0)


def test_tail_ignores_input_order():
    xs = [3.0, 9.0, 1.0] * 20
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_spread_is_iqr_over_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / q2)


def _ops(kind, secs, rows, first_pass=1):
    return [OpResult(f"p{first_pass + i}-{kind}", s, rows, True) for i, s in enumerate(secs)]


def test_summary_uses_each_kind_of_op_median():
    # one slow outlier per kind moves nothing; the pooled median of these
    # six samples (0.9) would sit in the gap between the two kinds
    res = _ops("scan", [1.0, 1.2, 5.0], 300) + _ops("probe", [0.1, 0.2, 0.8], 10)
    got = summarize(res)
    assert got["pass_s"] == pytest.approx(1.2 + 0.2)
    assert got["op_p50_s"] == pytest.approx((1.2 + 0.2) / 2)
    assert got["rows_per_s"] == pytest.approx(310 / 1.4)
    assert (got["tail_percentile"], got["op_tail_s"]) == (50, got["op_p50_s"])  # too few for a tail


def test_summary_tail_over_pooled_ops_from_twenty_samples():
    res = _ops("a", [float(i) for i in range(1, 21)], 1)
    got = summarize(res)
    assert (got["op_tail_s"], got["tail_percentile"], got["tail_beyond"]) == stats.tail([r.seconds for r in res])
    got = summarize(_ops("a", [float(i) for i in range(1, 41)], 1))
    assert (got["op_tail_s"], got["tail_percentile"]) == (30.0, 75)


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", "x", start, end, parent, None)


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, 1.0, 3.5), []) == pytest.approx(2.5)


def test_self_time_subtracts_disjoint_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 5.0, 0), _span(2, 4.0, 7.0, 0), _span(3, 6.5, 6.8, 0)]
    assert self_time(parent, kids) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span(0, 2.0, 4.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 3.5, 9.0, 0)]
    assert self_time(parent, kids) == pytest.approx(0.5)
    assert self_time(parent, [_span(3, 0.0, 9.0, 0)]) == 0.0


def test_tracer_nesting_and_layer_self_times():
    tr = Tracer(True)
    tr.op = "p1-a"
    with tr.span("op", "bench"):
        with tr.span("plan", "spark"):
            pass
        tr.add("stage", "operators", tr.spans[0].start, tr.spans[0].start)
    outer, inner, added = tr.spans
    assert inner.parent == outer.id and added.parent == outer.id
    assert {s.op for s in tr.spans} == {"p1-a"}
    times = tr.self_times()
    assert times["bench"] == pytest.approx(outer.duration - inner.duration)
    assert times["spark"] == pytest.approx(inner.duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op", "bench"):
        tr.add("x", "y", 0.0, 1.0)
    assert tr.spans == []
