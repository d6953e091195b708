"""Pure arithmetic shared by the workloads and the self-tests.

Nothing here imports Spark or the program, so ``selftest.py`` exercises it
without a JVM.
"""

from __future__ import annotations

import math

# Candidate percentiles for a tail figure, lowest first. The tail reported
# is the highest of these that still has at least TAIL_MIN_BEYOND samples
# above it, so a short run never reports a p99 made of one sample.
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float:
    """Highest candidate percentile with >= TAIL_MIN_BEYOND of n samples
    beyond it; the median when even that has too few."""
    best = TAIL_PERCENTILES[0]
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= TAIL_MIN_BEYOND:
            best = p
    return best


def tail(values) -> tuple[float, float]:
    """(percentile used, value) for a latency sample."""
    p = tail_percentile(len(values))
    return p, percentile(values, p)


def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them — the steadiness figure the benchmark is held to."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def rung_passes(latencies_ms, backlog_end: int, n_sent: int,
                limit_ms: float, backlog_frac: float = 0.05) -> bool:
    """Stop rule for one rung of the open-loop rate ladder: the tail stays
    within ``limit_ms`` and the backlog left when the rung's schedule ends
    is at most ``backlog_frac`` of its requests (at least 2), i.e. it is
    not growing. A rung with no completed request fails."""
    if not latencies_ms:
        return False
    _, t = tail(latencies_ms)
    return t <= limit_ms and backlog_end <= max(2, backlog_frac * n_sent)


def max_passing_rate(rungs) -> float | None:
    """Highest rate of an ascending ladder before the first failing rung.
    ``rungs`` is [(rate, passed)] in the order they were run."""
    best = None
    for rate, ok in rungs:
        if not ok:
            break
        best = rate
    return best


def interval_union(intervals) -> float:
    """Total length covered by possibly overlapping [a, b) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of it its children cover.
    Children may overlap each other (parallel threads) and are clipped to
    the parent's interval."""
    a, b = span
    clipped = [(max(a, c0), min(b, c1)) for c0, c1 in children
               if c1 > a and c0 < b]
    return (b - a) - interval_union(clipped)
