"""The benchmark's own arithmetic: tail percentile rule and op counting.

    python3 -m pytest perfbench/tests -q
"""

import pytest

from perfbench.stats import OpLog, median, percentile, samples_beyond, tail_percentile


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 75) == 75
    assert percentile(xs, 99) == 99
    assert percentile([3.0], 75) == 3.0


def test_samples_beyond():
    assert samples_beyond(40, 75) == 10
    assert samples_beyond(39, 75) == 9
    assert samples_beyond(100, 90) == 10


def test_tail_percentile_needs_ten_samples_beyond():
    # 40 samples: p75 leaves exactly 10 beyond, p90 only 4
    assert tail_percentile([float(i) for i in range(1, 41)]) == (75.0, 30.0)
    # 39 samples: no candidate leaves 10 beyond
    assert tail_percentile([float(i) for i in range(1, 40)]) is None
    # 100 samples: p90 leaves 10 beyond, p95 only 5
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    # 1000 samples: p99 leaves 10 beyond
    assert tail_percentile([float(i) for i in range(1, 1001)]) == (99.0, 990.0)


def test_tail_percentile_ignores_input_order():
    xs = [float(i) for i in range(1, 41)]
    assert tail_percentile(list(reversed(xs))) == tail_percentile(xs)


def test_median_rejects_empty():
    assert median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        median([])


def test_error_rate_counts_raised_and_failed_checks():
    log = OpLog()
    log.ok(1.0)
    log.ok(2.0)
    log.fail("raised")
    log.fail_check("output differs")  # op 2 completed, then its check failed
    assert log.attempted == 3
    assert log.failed == 2
    assert log.error_rate == pytest.approx(2 / 3)
    assert log.seconds == [1.0, 2.0]  # a raised op gives no latency sample


def test_error_rate_zero_when_all_pass():
    log = OpLog()
    for s in (1.0, 1.5):
        log.ok(s)
    assert log.error_rate == 0.0
