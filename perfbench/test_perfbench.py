"""Spark-free self-tests of the benchmark's own logic.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from compare_traces import varying_counts  # noqa: E402
from sparkstats import parse_metric  # noqa: E402
from stats import geomean, pass_order, slowdowns, tail_percentile  # noqa: E402


@pytest.mark.parametrize("text, value", [
    ("9.4 s (344 ms, 2.0 s, 2.2 s (stage 15.0: task 7))", 9.4),
    ("total (min, med, max (stageId: taskId))\n9.4 s (344 ms, 2.0 s, 2.2 s (stage 15.0: task 7))", 9.4),
    ("466.5 KiB", 466.5 * 1024),
    ("0.0 B", 0.0),
    ("1.5 GiB", 1.5 * 2**30),
    ("12 ms", 0.012),
    ("1.2 m", 72.0),
    ("24,275", 24275.0),
    ("7", 7.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "(1, 1, 1 (stage 19.0: task 3))", "3 parsecs"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_pass_order_is_a_seeded_permutation():
    keys = [f"k{i}" for i in range(8)]
    assert pass_order(keys, 7, 1) == pass_order(keys, 7, 1)
    assert sorted(pass_order(keys, 7, 1)) == keys
    assert len({tuple(pass_order(keys, seed, 1)) for seed in range(20)}) > 1
    assert len({tuple(pass_order(keys, 7, i)) for i in range(1, 6)}) > 1


def test_pass_order_pinned():
    # a change here changes every recorded key order
    assert pass_order(list("abcd"), 1, 1) == ["d", "b", "a", "c"]


def test_tail_percentile_keeps_ten_beyond():
    values = [float(v) for v in range(1, 21)]  # 20 samples
    pct, value = tail_percentile(values)
    assert (pct, value) == (50.0, 10.0)
    assert sum(v > value for v in values) == 10
    pct, value = tail_percentile(list(reversed(values)) + [100.0])  # 21 samples
    assert value == 11.0 and pct == pytest.approx(100 * 11 / 21)


def test_tail_percentile_needs_more_than_ten():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([1.0] * 11) == (pytest.approx(100 / 11), 1.0)


def test_slowdowns_and_geomean():
    ratios = slowdowns({"a": [1.0, 2.0, 3.0], "b": [10.0, 10.0]})
    assert ratios == [0.5, 1.0, 1.5, 1.0, 1.0]
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)


def test_varying_counts():
    a = {"per_pass": [{"spark.jobs": 3, "spark.tasks": 9}]}
    b = {"per_pass": [{"spark.jobs": 3, "spark.tasks": 10}]}
    assert varying_counts(a, b) == ["spark.tasks"]

