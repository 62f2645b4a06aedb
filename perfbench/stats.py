"""Pure statistics helpers: percentiles, tail selection, interval
union and failure accounting. No Spark here, so the benchmark's own
tests exercise them in milliseconds."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# Percentiles a tail may be reported at, lowest first.
LADDER = (0.5, 0.6, 0.7, 0.75, 0.8, 0.9, 0.95, 0.99, 0.999)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule), p in [0, 1]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the p-quantile position of n samples."""
    return n - 1 - math.floor(p * (n - 1)) if n else 0


def tail_quantile(n: int, min_beyond: int = MIN_BEYOND) -> float:
    """Highest ladder percentile that still leaves ``min_beyond``
    samples above it; the median when even that is not reached."""
    best = LADDER[0]
    for p in LADDER:
        if samples_beyond(n, p) >= min_beyond:
            best = p
    return best


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Tally:
    """Per-operation outcomes of one timed loop. An operation fails
    when it raises or when its output check reports a mismatch; a
    failed operation's latency is kept out of the latency figures."""

    latencies: list[tuple[str, float]] = field(default_factory=list)
    failures: list[tuple[str, str]] = field(default_factory=list)
    attempted: int = 0

    def record(self, name: str, seconds: float, problem: str | None) -> None:
        self.attempted += 1
        if problem is None:
            self.latencies.append((name, seconds))
        else:
            self.failures.append((name, problem))

    def seconds(self) -> list[float]:
        return [s for _, s in self.latencies]
