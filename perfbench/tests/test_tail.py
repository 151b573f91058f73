"""The tail-latency rule: the highest percentile with at least 10 samples
beyond it."""

import run


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = run.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_at_twenty_samples_is_the_median_and_below_is_the_max():
    xs = [float(i) for i in range(20, 0, -1)]
    assert run.tail(xs) == (10.0, 50.0, 20)
    assert run.tail(xs[:13]) == (20.0, 100.0, 13)
