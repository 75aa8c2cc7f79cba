"""Self-tests for the benchmark's measurement helpers (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    check_metric_name,
    percentile,
    summarize,
    tail_percentile,
)


# -- percentile rule -------------------------------------------------------

def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 99) == 99
    assert percentile([7.0], 99) == 7.0


@pytest.mark.parametrize(
    "n, pct",
    [
        (19, None),  # even the median leaves only 9 above it
        (20, 50.0),
        (99, 75.0),  # p90 would leave 9 above it
        (100, 90.0),
        (999, 95.0),
        (1000, 99.0),
        (10_009, 99.9),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    assert tail_percentile(n) == pct


def test_summarize_reports_median_tail_and_count():
    s = summarize([float(v) for v in range(1, 1001)])
    assert s == {"n": 1000, "p50": 500.5, "tail_pct": 99.0, "tail": 990.0}
    assert summarize([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}


# -- metric names ----------------------------------------------------------

@pytest.mark.parametrize("name", ["setup_s", "plans.query_api.recent_ms_p50", "a-b.c_9", "9x"])
def test_valid_metric_names(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "a b", "_x", ".x", "p99%", "é", "x" * 65, None])
def test_invalid_metric_names(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def test_benchmark_json_names_are_valid():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    for name in names:
        check_metric_name(name)
    assert len(names) == len(set(names))


# -- CPU time --------------------------------------------------------------

def test_cpu_seconds_counts_this_process():
    from harness import cpu_seconds

    before = cpu_seconds()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    assert cpu_seconds() - before >= 0.2
