"""The benchmark's own arithmetic: percentiles, open-loop timing,
counter aggregation and amplification ratios. Pure functions, tested
in ``test_metrics.py``."""

from __future__ import annotations

import math
from collections.abc import Iterable, Mapping, Sequence

# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 66.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first so that 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def median(values: Sequence[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail_percentile(n: int, ladder: Sequence[float] = TAIL_LADDER) -> float | None:
    """The highest ladder percentile that leaves at least
    ``MIN_BEYOND`` of ``n`` samples strictly above its rank, or None
    when no percentile is supported (fewer than 20 samples)."""
    best = None
    for p in ladder:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def open_loop(due: Sequence[float], start: Sequence[float], end: Sequence[float]):
    """Open-loop timing of operations scheduled at ``due``: latency
    counts from when each was due (so a stall also charges the
    operations queued behind it), lateness is how long after its due
    time each one started."""
    if not len(due) == len(start) == len(end):
        raise ValueError("due/start/end lengths differ")
    latency = [e - d for d, e in zip(due, end)]
    late = [max(0.0, s - d) for d, s in zip(due, start)]
    return latency, late


def backlog_max(due: Sequence[float], start: Sequence[float]) -> int:
    """Most operations overdue at once: at each start, the operation
    starting plus every later one already due."""
    best = 0
    for i, s in enumerate(start):
        best = max(best, sum(1 for d in due[i:] if d <= s))
    return best


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ns",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "exchanges",
)


def aggregate_by_group(rows: Iterable[Mapping[str, float]], key: str = "group") -> dict[str, dict[str, float]]:
    """Sum counter rows (one per stage or job) into one row per job
    group. Every counter in ``COUNTERS`` is present in each output row."""
    out: dict[str, dict[str, float]] = {}
    for r in rows:
        acc = out.setdefault(r[key], dict.fromkeys(COUNTERS, 0))
        for c in COUNTERS:
            acc[c] += r.get(c, 0)
    return out


def write_amp(disk_bytes_written: float, user_bytes: float) -> float:
    """Bytes the engine wrote to disk per byte of input it was given."""
    if user_bytes <= 0:
        raise ValueError("write amplification needs user bytes > 0")
    return disk_bytes_written / user_bytes


def space_amp(disk_bytes: float, live_bytes: float) -> float:
    """Bytes on disk per byte of live data (the same rows rewritten
    as one compacted generation)."""
    if live_bytes <= 0:
        raise ValueError("space amplification needs live bytes > 0")
    return disk_bytes / live_bytes
