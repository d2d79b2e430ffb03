"""The tail rule: the highest sample with at least ten beyond it, or the
highest sample when that one would not lie above the median."""

import statistics

from common import latency_summary, tail_rank


def test_tail_rank():
    assert tail_rank(100) == 90
    assert tail_rank(21) == 11
    assert tail_rank(20) == 20
    assert tail_rank(3) == 3


def test_summary_large_sample():
    xs = [float(i) for i in range(1, 101)]
    s = latency_summary(xs)
    assert s["p50"] == statistics.median(xs)
    assert s["tail"] == 90.0
    assert s["tail_beyond"] == 10 and s["tail_pct"] == 90.0
    assert sum(x > s["tail"] for x in xs) == 10


def test_summary_small_sample_takes_the_highest():
    xs = [3.0, 1.0, 2.0, 10.0]
    s = latency_summary(xs)
    assert s["p50"] == 2.5
    assert s["tail"] == 10.0
    assert s["tail_pct"] == 100.0 and s["tail_beyond"] == 0


def test_tail_never_below_median():
    for n in range(1, 60):
        xs = [float(i % 7) + i / 100 for i in range(n)]
        s = latency_summary(xs)
        assert s["tail"] >= s["p50"]
