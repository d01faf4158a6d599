"""Metric arithmetic on synthetic inputs: no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import statistics

import pytest

from layers import parse_rest_time, parse_sql_metric
from stats import OpCounter, driver_gap, median, spread, union_length


class TestMedian:
    def test_odd_and_even(self):
        assert median([3.0, 1.0, 2.0]) == 2.0
        assert median([4.0, 1.0, 3.0, 2.0]) == 2.5

    def test_accepts_generators(self):
        assert median(x for x in (5, 7, 6)) == 6.0

    def test_empty_sample_raises(self):
        with pytest.raises(ValueError):
            median([])


class TestUnionLength:
    def test_disjoint(self):
        assert union_length([(0, 1), (2, 4)]) == 3

    def test_overlap_counted_once(self):
        assert union_length([(0, 3), (1, 2), (2, 5)]) == 5

    def test_touching_and_unsorted(self):
        assert union_length([(5, 6), (0, 2), (2, 3)]) == 4

    def test_empty_and_inverted_ignored(self):
        assert union_length([]) == 0
        assert union_length([(3, 3), (4, 2)]) == 0


class TestDriverGap:
    def test_no_jobs_is_whole_wall(self):
        assert driver_gap(10.0, 12.5, []) == 2.5

    def test_gap_between_overlapping_jobs(self):
        # jobs cover [1, 4] and [6, 9] of a [0, 10] window
        jobs = [(1, 3), (2, 4), (6, 9)]
        assert driver_gap(0, 10, jobs) == 10 - 6

    def test_jobs_clipped_to_window(self):
        # a job that started before the window only counts inside it
        assert driver_gap(5, 10, [(0, 7), (9, 20)]) == 5 - 2 - 1


class TestOpCounter:
    def test_failed_frac(self):
        c = OpCounter()
        for ok in (True, True, False, True):
            c.record(ok, "q")
        assert (c.attempted, c.failed) == (4, 1)
        assert c.failed_frac == 0.25
        assert c.failures == ["q"]

    def test_nothing_attempted(self):
        assert OpCounter().failed_frac == 0.0


def test_spread_matches_quantiles():
    vals = [10.0, 11.0, 9.5, 10.5, 12.0, 10.2, 9.8, 10.1, 10.9, 11.5]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / q2)
    assert spread([5.0] * 10) == 0.0


class TestRestParsing:
    def test_rest_time(self):
        assert parse_rest_time("1970-01-01T00:00:01.500GMT") == 1.5
        assert parse_rest_time("1970-01-02T00:00:00.000GMT") == 86400.0

    def test_plain_totals(self):
        assert parse_sql_metric("864") == 864.0
        assert parse_sql_metric("1,234") == 1234.0
        assert parse_sql_metric("1.6 s") == pytest.approx(1.6)
        assert parse_sql_metric("20.5 KiB") == 20.5 * 1024
        assert parse_sql_metric("967 ms") == pytest.approx(0.967)

    def test_per_task_breakdown(self):
        text = ("total (min, med, max (stageId: taskId))\n"
                "3.5 s (300 ms, 1.0 s, 1.2 s (stage 18.0: task 40))")
        assert parse_sql_metric(text) == pytest.approx(3.5)
        assert parse_sql_metric("total\n1.5 m (1.5 m)") == 90.0


def test_benchmark_json_matches_metric_tables():
    import json
    import os

    from metrics import END_TO_END, HIGHER_IS_BETTER, PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    for m in spec["per_layer"]:
        want = "higher" if m["name"] in HIGHER_IS_BETTER else "lower"
        assert m["better"] == want, m["name"]
    assert [w["name"] for w in spec["workloads"]] == [
        "batch_suite", "ingest_stream",
    ]


def test_passes_for_is_fixed_by_the_budget():
    from stats import passes_for

    assert passes_for(10, 3.4) == 3
    assert passes_for(10, 24.0) == 1  # at least one pass
    assert passes_for(60, 24.0) == 2
