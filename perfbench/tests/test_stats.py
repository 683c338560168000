import pytest

from stats import (
    covered, merge_intervals, percentile, self_time, tail_percentile, uncovered, write_amp,
)


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_tail_percentile_leaves_at_least_ten_above():
    for n in range(20, 400, 7):
        p = tail_percentile(n)
        values = list(range(n))
        assert sum(v > percentile(values, p) for v in values) >= 10


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(vals, 50) == 3.0
    assert percentile(vals, 100) == 5.0
    assert percentile(vals, 1) == 1.0


def test_no_job_time_from_overlapping_jobs():
    # jobs [1,3] and [2,5] overlap, [7,8] stands alone, [9,12] runs past
    # the window [0,10]
    jobs = [(2.0, 5.0), (1.0, 3.0), (7.0, 8.0), (9.0, 12.0)]
    assert merge_intervals(jobs) == [(1.0, 5.0), (7.0, 8.0), (9.0, 12.0)]
    assert covered(jobs, 0.0, 10.0) == pytest.approx(6.0)
    assert uncovered(jobs, 0.0, 10.0) == pytest.approx(4.0)
    assert uncovered([], 0.0, 10.0) == pytest.approx(10.0)


def test_self_time_subtracts_child_cover_once():
    assert self_time((0.0, 10.0), [(1.0, 4.0), (3.0, 6.0)]) == pytest.approx(5.0)


def test_write_amp():
    assert write_amp(50 << 20, 512 << 10) == pytest.approx(100.0)
    with pytest.raises(ValueError):
        write_amp(1, 0)

