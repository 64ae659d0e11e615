"""Tests of the benchmark's own statistics (no Spark needed):

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import overhead_pct  # noqa: E402
from perfbench.stats import (  # noqa: E402
    Span,
    covered,
    failure_ratio,
    layer_self_seconds,
    percentile,
    self_times,
    spread,
    summarize,
)
from perfbench.trace import SpanRecorder  # noqa: E402


class TestPercentile:
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        assert percentile(xs, 0) == 1.0
        assert percentile(xs, 50) == 3.0
        assert percentile(xs, 100) == 5.0
        assert percentile(xs, 90) == pytest.approx(4.6)
        assert percentile([1.0, 2.0], 50) == 1.5

    def test_single_sample(self):
        assert percentile([7.0], 90) == 7.0

    def test_rejects_empty_and_out_of_range(self):
        with pytest.raises(ValueError):
            percentile([], 50)
        with pytest.raises(ValueError):
            percentile([1.0], 101)

    def test_summary_counts_samples_beyond_p90(self):
        s = summarize([float(i) for i in range(1, 101)])
        assert s.n == 100
        assert s.p50 == pytest.approx(50.5)
        assert s.p90 == pytest.approx(90.1)
        assert s.beyond_p90 == 10

    def test_summary_of_few_samples_reports_how_few(self):
        s = summarize([1.0, 2.0, 3.0])
        assert (s.n, s.beyond_p90) == (3, 1)


class TestFailureRatio:
    def test_ratio(self):
        assert failure_ratio(20, 0) == 0.0
        assert failure_ratio(20, 5) == 0.25
        assert failure_ratio(3, 3) == 1.0

    def test_rejects_impossible_counts(self):
        with pytest.raises(ValueError):
            failure_ratio(0, 0)
        with pytest.raises(ValueError):
            failure_ratio(3, 4)
        with pytest.raises(ValueError):
            failure_ratio(3, -1)


def _span(span_id, parent, layer, start, end, name="f"):
    return Span(0, span_id, parent, layer, name, start, end)


class TestSelfTime:
    def test_covered_merges_overlaps_and_clips(self):
        assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
        assert covered([(-5, 2), (9, 20)], 0, 10) == 3
        assert covered([], 0, 10) == 0
        assert covered([(3, 3)], 0, 10) == 0

    def test_children_are_subtracted_from_their_parent_only(self):
        spans = [
            _span(0, None, "pipelines", 0.0, 10.0),
            _span(1, 0, "operators.kanonymity", 1.0, 4.0),
            _span(2, 1, "operators.util", 2.0, 3.0),
            _span(3, 0, "sources.writers", 5.0, 9.0),
        ]
        own = self_times(spans)
        assert own == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
        assert sum(own.values()) == 10.0  # self times partition the root

    def test_overlapping_children_are_not_subtracted_twice(self):
        spans = [
            _span(0, None, "op", 0.0, 10.0),
            _span(1, 0, "a", 1.0, 6.0),
            _span(2, 0, "b", 4.0, 8.0),
        ]
        assert self_times(spans)[0] == pytest.approx(3.0)

    def test_layer_totals_sum_spans_of_the_layer(self):
        spans = [
            _span(0, None, "operators.dp", 0.0, 2.0),
            _span(1, 0, "operators.dp", 0.5, 1.0),
            _span(2, None, "operators.dp", 3.0, 4.0),
        ]
        assert layer_self_seconds(spans) == {"operators.dp": pytest.approx(3.0)}


class TestRecorder:
    def test_records_only_inside_an_operation_with_parents(self):
        rec = SpanRecorder()

        def outer():
            with rec.span("action", "collect"):
                pass

        traced = rec.wrap("pipelines", outer)
        traced()
        assert rec.spans == []  # no operation open: nothing recorded
        rec.op_id = 7
        traced()
        rec.op_id = None
        traced()
        (child, parent) = rec.spans
        assert (parent.layer, parent.name, parent.parent_id) == ("pipelines", "outer", None)
        assert (child.layer, child.parent_id, child.op_id) == ("action", parent.span_id, 7)
        assert parent.start <= child.start <= child.end <= parent.end


def test_overhead_pct_compares_medians():
    assert overhead_pct([1.0, 2.0, 3.0], [1.5, 2.2, 9.0]) == pytest.approx(10.0)


def test_spread_is_iqr_over_median():
    values = [float(v) for v in range(1, 11)]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert spread(values) == pytest.approx((q3 - q1) / q2)
