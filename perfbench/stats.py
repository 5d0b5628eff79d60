"""Small pure helpers: percentiles, failure share, peak memory, CPU time."""

from __future__ import annotations

import math
import os
import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    # round off float noise such as 90 * 100 / 100 == 90.00000000000001
    rank = max(1, math.ceil(round(p * len(xs) / 100.0, 9)))
    return xs[rank - 1]


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile that still has at least MIN_BEYOND samples
    strictly above it, as (percentile, value); None when even the median
    has fewer."""
    for p in TAIL_LADDER:
        if not samples:
            break
        v = percentile(samples, p)
        if sum(1 for x in samples if x > v) >= MIN_BEYOND:
            return p, v
    return None


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles`` with n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds used so far by the given processes
    (their own threads, not their children)."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")
