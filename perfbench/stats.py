"""Summary statistics shared by the harness and its tests.

Every function is pure: samples in, numbers out.
"""

from __future__ import annotations

import math
import random
import statistics

TAIL_BEYOND = 10  # samples that must lie above the reported tail value


def iter_pass_orders(names: list[str], seed: int):
    """Query order of each timed pass, one seeded permutation per pass.

    The seed is the only input that varies between runs of a workload,
    and it only reorders the queries; every pass runs each query once.
    """
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def tail_level(n: int, beyond: int = TAIL_BEYOND) -> float:
    """Highest percentile (0-100) that leaves at least ``beyond`` of
    ``n`` samples strictly above it (nearest-rank)."""
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {n}")
    return 100.0 * (n - beyond) / n


def percentile(samples: list[float], level: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``level`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(level / 100.0 * len(xs) - 1e-9))
    return xs[rank - 1]


def tail(samples: list[float], n_min: int, beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """``(level, value)`` of the tail latency.

    The level is fixed by ``n_min``, the sample count a run of the
    workload plans for, so runs that complete an extra pass still report
    the same percentile; with ``n >= n_min`` samples at least ``beyond``
    of them lie above it. Runs that lost samples to failed queries keep
    the level and report their sample count beside it.
    """
    level = tail_level(n_min, beyond)
    return level, percentile(samples, level)


def geomean_of_medians(per_query: dict[str, list[float]]) -> float:
    """Geometric mean of each query's median, so every query weighs the
    same however long it runs."""
    meds = [statistics.median(v) for v in per_query.values() if v]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
