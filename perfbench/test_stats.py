"""Tests of the benchmark's own arithmetic on synthetic inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import run, stats

HERE = os.path.dirname(os.path.abspath(__file__))


def test_union_counts_overlapping_jobs_once():
    # Four concurrent jobs of 4 s each inside 5 s of wall time: summed
    # job time is 16 s, the union is 5 s.
    jobs = [(0.0, 4.0), (0.5, 4.5), (1.0, 5.0), (0.2, 4.2)]
    assert sum(e - s for s, e in jobs) == pytest.approx(16.0)
    assert stats.union_length(jobs) == pytest.approx(5.0)


def test_union_of_disjoint_nested_and_touching_intervals():
    assert stats.union_length([(0, 1), (2, 3)]) == pytest.approx(2)
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == pytest.approx(10)
    assert stats.union_length([(0, 1), (1, 2)]) == pytest.approx(2)
    assert stats.union_length([]) == 0
    assert stats.union_length([(3, 3), (5, 4)]) == 0  # empty or reversed


def test_self_time_subtracts_the_union_of_children_clipped_to_the_span():
    # span 0..10; children overlap each other and one sticks out past the end
    kids = [(1, 4), (3, 6), (9, 12)]
    assert stats.self_time(0, 10, kids) == pytest.approx(10 - 5 - 1)
    assert stats.self_time(0, 10, []) == pytest.approx(10)
    assert stats.self_time(0, 10, [(20, 30)]) == pytest.approx(10)


def test_driver_gap_is_wall_minus_job_union():
    op_start, op_end = 100.0, 107.0
    jobs = [(101.0, 104.0), (102.0, 105.0), (106.0, 106.5)]
    covered = stats.union_length(stats.clip(jobs, op_start, op_end))
    assert covered == pytest.approx(4.5)
    assert (op_end - op_start) - covered == pytest.approx(2.5)


@pytest.mark.parametrize(
    "n, p",
    [(1, 50), (10, 50), (19, 50), (20, 50), (25, 60), (50, 80), (100, 90), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if n >= 2 * stats.TAIL_MIN_BEYOND:
        import math

        assert n - math.ceil(p * n / 100) >= stats.TAIL_MIN_BEYOND
        if p < 99:
            assert n - math.ceil((p + 1) * n / 100) < stats.TAIL_MIN_BEYOND


def test_tail_value_and_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    v, p, beyond = stats.tail(values)
    assert (v, p, beyond) == (90.0, 90, 10)
    assert stats.nearest_rank(values, 50) == 50.0
    assert stats.median([3.0, 1.0, 2.0, 10.0]) == 2.5


def test_metric_names_are_valid_and_match_benchmark_json():
    names = [n for n, _u, _b in run.END_TO_END + run.PER_LAYER]
    assert len(names) == len(set(names))
    bad = [n for n in names if not stats.valid_metric_name(n)]
    assert not bad
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == [n for n, _u, _b in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert stats.valid_metric_name(m["name"])


def test_invalid_metric_names_are_rejected():
    assert not stats.valid_metric_name("op p50")
    assert not stats.valid_metric_name("latency/ms")
    assert not stats.valid_metric_name("")
    assert not stats.valid_metric_name("x" * 65)
