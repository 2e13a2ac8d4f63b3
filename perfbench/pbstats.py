"""Sample statistics for the benchmark: percentiles, tails, throughput.

Pure functions over plain lists so the accounting can be unit-tested
without Spark.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

# percentiles considered for the reported tail, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# a tail percentile is only reported when this many samples lie beyond it
TAIL_MIN_BEYOND = 10


@dataclass(frozen=True)
class Sample:
    """One timed operation: its cycle, its index in the cycle's fixed
    sequence, its operation type, its wall time and whether its output
    check passed."""

    cycle: int
    index: int
    op: str
    wall_s: float
    ok: bool


def _rank(pct: float, n: int) -> int:
    # rounding first keeps e.g. 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def nearest_rank(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(pct, len(values)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest percentile in TAIL_PERCENTILES with at least
    TAIL_MIN_BEYOND of ``n`` samples strictly beyond its nearest rank,
    or None when there are too few samples for any."""
    for pct in TAIL_PERCENTILES:
        if n - _rank(pct, n) >= TAIL_MIN_BEYOND:
            return pct
    return None


def summarize(values_ms) -> dict:
    """p50, the reported tail and the sample count of one operation type."""
    n = len(values_ms)
    out = {"n": n, "p50_ms": statistics.median(values_ms) if n else None}
    pct = tail_percentile(n)
    out["tail_pct"] = pct
    out["tail_ms"] = nearest_rank(values_ms, pct) if pct is not None else None
    return out


def whole_cycles(samples, ops_per_cycle: int) -> list:
    """Samples of the cycles that ran every one of their operations.

    A cycle cut short (an exception escaped the runner, or the sequence
    was truncated) is dropped entirely, so every operation type keeps
    the mix it has in a full cycle."""
    by_cycle: dict = {}
    for s in samples:
        by_cycle.setdefault(s.cycle, []).append(s)
    kept = []
    for cyc in sorted(by_cycle):
        got = by_cycle[cyc]
        if sorted(s.index for s in got) == list(range(ops_per_cycle)):
            kept.extend(sorted(got, key=lambda s: s.index))
    return kept


def ops_per_s(samples) -> float:
    """Operations completed per second of operation wall time."""
    busy = sum(s.wall_s for s in samples)
    return len(samples) / busy if busy > 0 else 0.0


def ok_frac(samples) -> float:
    """Share of attempted operations whose output check passed."""
    return sum(1 for s in samples if s.ok) / len(samples) if samples else 0.0


def by_op(samples) -> dict:
    """Wall times in ms per operation type, in sample order."""
    out: dict = {}
    for s in samples:
        out.setdefault(s.op, []).append(s.wall_s * 1e3)
    return out


def gmean(values) -> float:
    """Geometric mean of positive values."""
    vals = list(values)
    if not vals or any(v <= 0 for v in vals):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def cycle_walls_ms(samples) -> list:
    """Summed operation wall per cycle, in ms, in cycle order."""
    walls: dict = {}
    for s in samples:
        walls[s.cycle] = walls.get(s.cycle, 0.0) + s.wall_s * 1e3
    return [walls[c] for c in sorted(walls)]
