"""Percentile and metric-parsing helpers of the benchmark."""

import os
import random
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from measure import parse_metric, percentile, samples_beyond, tail_percentile  # noqa: E402


@pytest.mark.parametrize("n", [1, 2, 5, 6, 37, 100, 1001])
@pytest.mark.parametrize("q", [0, 25, 50, 90, 99, 100])
def test_percentile_matches_numpy(n, q):
    xs = [random.Random(n).random() for _ in range(n)]
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


@pytest.mark.parametrize("n", [1, 10, 19, 20, 40, 99, 100, 101, 1000, 10_000])
@pytest.mark.parametrize("q", [50, 75, 90, 99])
def test_samples_beyond_counts_values_above_the_percentile(n, q):
    xs = list(range(n))
    assert samples_beyond(n, q) == sum(x > percentile(xs, q) for x in xs)


@pytest.mark.parametrize(
    "n, expected", [(19, None), (20, 50), (40, 75), (99, 90), (100, 90), (999, 99), (10_000, 99.9)]
)
def test_tail_percentile_is_highest_with_ten_beyond(n, expected):
    q = tail_percentile(n)
    assert q == expected
    if q is not None:
        assert samples_beyond(n, q) >= 10
        higher = [p for p in (99.9, 99, 90, 75, 50) if p > q]
        assert all(samples_beyond(n, p) < 10 for p in higher)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "text, value",
    [
        ("653", 653),
        ("1,204", 1204),
        ("total (min, med, max (stageId: taskId))\n112.2 KiB (28.0 KiB, 28.1 KiB, 28.1 KiB (stage 5.0: task 5))",
         112.2 * 1024),
        ("total (min, med, max (stageId: taskId))\n3.5 MiB (1.0 MiB, 1.2 MiB, 1.3 MiB (stage 2.0: task 9))",
         3.5 * 1024 * 1024),
        ("0.0 B", 0.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)
