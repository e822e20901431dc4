"""Tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/test_metrics.py -q
"""

import statistics

import pytest

from metrics import gap_length, ratio_max_p50, self_time, summary, union_length


def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_union_nested_and_touching():
    assert union_length([(0, 10), (2, 3), (10, 12)]) == pytest.approx(12.0)


def test_union_clips_to_window():
    assert union_length([(-5, 1), (4, 20)], lo=0, hi=10) == pytest.approx(7.0)
    assert union_length([(11, 12)], lo=0, hi=10) == 0.0
    assert union_length([]) == 0.0


def test_driver_gap_is_span_minus_job_union():
    # span 0..10, jobs 1..3 and 2..4 overlap, 6..7; busy 4s of 10
    assert gap_length(0, 10, [(1, 3), (2, 4), (6, 7)]) == pytest.approx(6.0)
    assert gap_length(0, 10, []) == pytest.approx(10.0)
    # a job reaching past the span only counts inside it
    assert gap_length(0, 10, [(8, 15)]) == pytest.approx(8.0)


def test_self_time_subtracts_children_once():
    span = {"start": 0.0, "end": 10.0}
    children = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}]
    assert self_time(span, children) == pytest.approx(6.0)
    assert self_time(span, []) == pytest.approx(10.0)


def test_summary_matches_statistics_quantiles():
    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    s = summary(vals)
    assert s["n"] == 10
    assert s["median"] == statistics.median(vals)
    assert (s["q1"], s["q3"]) == (q1, q3)
    assert s["spread"] == pytest.approx((q3 - q1) / statistics.median(vals))


def test_summary_single_and_empty():
    assert summary([2.0]) == {"n": 1, "median": 2.0, "q1": 2.0, "q3": 2.0, "spread": 0.0}
    assert summary([]) == {"n": 0}


def test_ratio_max_p50_skips_idle_stages():
    assert ratio_max_p50([(10, 30), (0, 5), (20, 40)]) == pytest.approx(3.0)
    assert ratio_max_p50([]) == 0.0
