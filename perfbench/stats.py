"""Summary statistics and operation accounting for the benchmark.

Pure Python, no Spark: everything here is unit-tested in
``perfbench/tests``.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# The tail percentile must leave at least this many samples beyond it; with
# fewer, a "p75" or "p99" is one or two readings and moves with every run.
MIN_BEYOND = 10

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.0, 95.0, 90.0, 75.0)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct`` %
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return float(xs[rank - 1])


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``pct``."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile of ``TAIL_PERCENTILES`` that has at least
    ``MIN_BEYOND`` samples beyond it, as ``(pct, value)``; ``None`` when no
    candidate qualifies (fewer than 40 samples cannot carry a p75)."""
    for pct in TAIL_PERCENTILES:
        if samples_beyond(len(values), pct) >= MIN_BEYOND:
            return pct, percentile(values, pct)
    return None


@dataclass
class OpLog:
    """Attempted and failed operations of one run.

    An operation is one timed unit of a workload (a batch job, a match
    batch or a query). It fails when it raises or when its output check
    fails; only successful operations contribute latency samples.
    """

    seconds: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def ok(self, seconds: float) -> None:
        self.attempted += 1
        self.seconds.append(seconds)

    def fail(self, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(reason)

    def fail_check(self, reason: str) -> None:
        """A completed operation whose output check failed afterwards:
        it was already counted as attempted."""
        self.failed += 1
        self.errors.append(reason)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
