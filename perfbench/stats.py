"""Latency summaries, CPU-time summaries and failure accounting for the
benchmark."""

from __future__ import annotations

import math
import statistics

# A tail percentile is only reported where this many samples lie beyond it.
TAIL_SAMPLES_BEYOND = 10


def nearest_rank(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of the samples at or below it (0 < q <= 1)."""
    if not values:
        raise ValueError("no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"percentile out of range: {q}")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered) - 1e-9)) - 1]


def tail_quantile(n: int, beyond: int = TAIL_SAMPLES_BEYOND) -> float | None:
    """Highest percentile (as a share) that still has ``beyond`` samples
    above it in a sample of ``n``, or None when ``n`` is too small."""
    if n <= beyond:
        return None
    return (n - beyond) / n


def latency_summary(samples_ms: list[float]) -> dict[str, float | int]:
    """Sample count, median and tail of a latency sample. The tail is the
    highest percentile that still has ``TAIL_SAMPLES_BEYOND`` samples
    beyond it, at share ``tail_q``."""
    n = len(samples_ms)
    q = tail_quantile(n)
    if q is None:
        raise ValueError(f"{n} latency samples; a tail needs more than {TAIL_SAMPLES_BEYOND}")
    return {
        "n": n,
        "p50": nearest_rank(samples_ms, 0.5),
        "tail_q": q,
        "tail": nearest_rank(samples_ms, q),
    }


def least_cpu_s(parts: list[dict]) -> float:
    """Adjusted CPU seconds (``clock.Sample.adj_cpu_s``) of one operation,
    each of its parts at its least over the operations in ``parts`` (one
    dict of part name -> ``clock.Sample`` per operation): the run of the
    part that the JVM's background work and other guests disturbed least."""
    return sum(min(p[name].adj_cpu_s for p in parts) for name in parts[0])


class FailureCount:
    """Operations attempted and failed. An operation fails when it raises
    or when its output does not match the reference."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def attempt(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def fail_attempted(self, n: int, what: str) -> None:
        """Mark ``n`` already-attempted operations as failed (a check run
        after the timed phase found their output wrong)."""
        if n > self.attempted - self.failed:
            raise ValueError("more failures than successful attempts")
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(what)

    @property
    def ratio(self) -> float:
        if self.attempted < 1:
            raise ValueError("no operations attempted")
        return self.failed / self.attempted


def relative_iqr(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles`` gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
