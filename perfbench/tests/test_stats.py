"""The percentile rule and failure accounting."""

from __future__ import annotations

import pytest

from clock import Sample
from stats import FailureCount, latency_summary, least_cpu_s, nearest_rank, tail_quantile


def test_tail_quantile_keeps_ten_samples_beyond():
    assert tail_quantile(10) is None
    assert tail_quantile(11) == pytest.approx(1 / 11)
    assert tail_quantile(100) == pytest.approx(0.9)
    assert tail_quantile(1000) == pytest.approx(0.99)


@pytest.mark.parametrize("n", [11, 37, 100, 250, 1001])
def test_tail_value_has_exactly_ten_larger_samples(n):
    samples = [float(i) for i in range(n)]
    s = latency_summary(samples)
    assert s["n"] == n
    assert sum(v > s["tail"] for v in samples) == 10


def test_no_tail_below_eleven_samples():
    with pytest.raises(ValueError):
        latency_summary([float(i) for i in range(10)])
    assert latency_summary([float(i) for i in range(11)])["p50"] == 5.0


def test_nearest_rank():
    v = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert nearest_rank(v, 0.5) == 3.0
    assert nearest_rank(v, 0.9) == 5.0
    assert nearest_rank(v, 0.2) == 1.0
    assert nearest_rank(list(range(1, 101)), 0.9) == 90
    with pytest.raises(ValueError):
        nearest_rank([], 0.5)
    with pytest.raises(ValueError):
        nearest_rank(v, 0.0)


def test_failures_count_against_attempts():
    f = FailureCount()
    with pytest.raises(ValueError):
        f.ratio
    for ok in (True, True, False, True):
        f.attempt(ok, "op")
    assert (f.attempted, f.failed) == (4, 1)
    assert f.ratio == 0.25
    f.fail_attempted(2, "wrong output found by the check")
    assert (f.attempted, f.failed) == (4, 3)
    with pytest.raises(ValueError):
        f.fail_attempted(2, "more failures than attempts")


def test_least_cpu_takes_each_part_at_its_least():
    def op(**cpu):
        return {k: Sample(wall_s=1.0, cpu_s=v, jit_s=0.0, steal_share=0.0) for k, v in cpu.items()}

    parts = [op(load=3.0, check=1.0), op(load=2.0, check=1.5), op(load=2.5, check=0.5)]
    assert least_cpu_s(parts) == pytest.approx(2.5)
    assert least_cpu_s(parts[:1]) == pytest.approx(4.0)


def test_steal_scales_cpu_down():
    s = Sample(wall_s=2.0, cpu_s=1.5, jit_s=0.0, steal_share=0.5)
    assert s.adj_cpu_s == pytest.approx(1.0)
    assert least_cpu_s([{"a": s}]) == pytest.approx(1.0)
