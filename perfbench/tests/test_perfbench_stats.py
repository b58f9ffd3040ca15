import math
import random
import statistics

import pytest

from pb.stats import quantile, quartiles, self_times, spread, typical_cycle, union_length


def test_quantile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert quantile(xs, 0.0) == 1.0
    assert quantile(xs, 1.0) == 4.0
    assert quantile(xs, 0.5) == 2.5
    assert quantile(xs, 0.75) == pytest.approx(3.25)
    assert quantile([7.0], 0.75) == 7.0
    assert math.isnan(quantile([], 0.5))


def test_quartiles_match_statistics_quantiles():
    rng = random.Random(3)
    for n in (2, 3, 10, 41):
        xs = [rng.random() for _ in range(n)]
        assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert quartiles([5.0]) == (5.0, 5.0, 5.0)


def test_spread_is_iqr_over_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / med)


def test_typical_cycle_sums_per_kind_medians():
    samples = [("a", 5.0), ("b", 1.0), ("a", 2.0), ("b", 1.5), ("a", 2.2), ("b", 40.0)]
    seconds, kinds = typical_cycle(samples)
    assert kinds == 2
    assert seconds == pytest.approx(2.2 + 1.5)
    assert typical_cycle([("a", 3.0)]) == (3.0, 1)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3


def test_self_time_subtracts_covered_part_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps sibling
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # clipped to parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)
