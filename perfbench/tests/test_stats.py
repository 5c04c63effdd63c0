import statistics

import pytest

from stats import covered, median, percentile, self_time


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([1.0, 2.0, 3.0, 4.0], 25) == pytest.approx(1.75)


def test_median_agrees_with_statistics_and_empty_is_zero():
    for xs in ([3.0], [2.0, 1.0], [9.0, 1.0, 5.0, 7.0]):
        assert median(xs) == statistics.median(xs)
    assert median([]) == 0.0


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0.0
    assert covered([(0, 2), (1, 3)]) == 3
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0},
            {"start": 8.0, "end": 9.0}]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 1)


def test_self_time_clips_children_to_parent():
    parent = {"start": 2.0, "end": 6.0}
    kids = [{"start": 0.0, "end": 3.0}, {"start": 5.0, "end": 9.0},
            {"start": 7.0, "end": 8.0}]
    assert self_time(parent, kids) == pytest.approx(4 - 1 - 1)
    assert self_time(parent, []) == pytest.approx(4.0)
