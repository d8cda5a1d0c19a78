"""Summary statistics the benchmark reports.

Percentile rule: a tail percentile is reported only where at least ten
samples lie beyond it, so each workload fixes its sample count and
`tail_percentile` names the percentile that count supports.
"""

from __future__ import annotations

import statistics
import time

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest of PERCENTILES with at least MIN_BEYOND of n samples
    beyond it, or None when even the median is not supported."""
    best = None
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            best = p
    return best


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def freshness(
    due: dict[int, float], pushes: list[tuple[float, int]]
) -> tuple[dict[int, float], list[int]]:
    """Map heartbeats to per-file freshness.

    `due` is file seq -> due time; `pushes` is (push time, newest file
    seq the push's heartbeat names) in push order, with -1 for a push
    that carries no heartbeat. File k is reflected by the first push
    whose heartbeat is >= k: files are renamed into place in seq order,
    so a push that covers k covers every earlier file too. Returns
    ({seq: seconds from due to that push}, [seqs never reflected])."""
    fresh: dict[int, float] = {}
    pending = sorted(due)
    i = 0
    for t, hb in pushes:
        while i < len(pending) and pending[i] <= hb:
            fresh[pending[i]] = t - due[pending[i]]
            i += 1
    return fresh, pending[i:]


SPIN_N = 1_000_000


def spin_ms(reps: int = 5) -> float:
    """Median thread CPU time of a fixed pure-Python loop: how fast the
    machine runs this process right now (a slower host, or neighbours
    on sibling hyperthreads, make the same work cost more CPU time)."""
    out = []
    for _ in range(reps):
        t = time.thread_time()
        acc = 0
        for i in range(SPIN_N):
            acc += i
        out.append((time.thread_time() - t) * 1000)
    return statistics.median(out)
