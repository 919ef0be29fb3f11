"""Summary statistics and the like-for-like rule for benchmark results.

Pure Python (no Spark), so the unit tests in ``perfbench/tests`` cover it
without a session.
"""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only when at least this many samples lie
#: beyond it; below that it is noise, not a tail
MIN_BEYOND = 10

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)

#: run-config keys that must match for two results to be compared. The
#: seed and the source revision are recorded but deliberately left out:
#: an A/B compares two revisions, and a steadiness check compares seeds.
LIKE_FOR_LIKE_KEYS = (
    "workload",
    "cpus",
    "default_parallelism",
    "driver_memory",
    "data",
    "run_seconds",
    "spark_version",
    "python_version",
)


def units_for(seconds: float, unit_seconds: float) -> int:
    """Whole units (cycles, passes) a run of ``seconds`` measures: the
    run length over the unit's nominal length, rounded, at least one.
    The count depends on ``seconds`` alone, not on how fast the machine
    is right now, so every run of a configuration does the same work."""
    return max(1, round(seconds / unit_seconds))


def _rank(n: int, p: float) -> int:
    """Nearest rank (1-based) of percentile ``p`` among ``n`` samples."""
    return min(n, max(1, math.ceil(p * n / 100.0 - 1e-9)))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the sample at rank ceil(p/100 * n)."""
    if not samples:
        raise ValueError("percentile of no samples")
    return sorted(samples)[_rank(len(samples), p) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest percentile in ``TAIL_PERCENTILES`` with at least
    ``MIN_BEYOND`` of ``n`` samples ranked beyond it, or None when even
    the lowest candidate is unsupported."""
    for p in TAIL_PERCENTILES:
        if n - _rank(n, p) >= MIN_BEYOND:
            return p
    return None


def summarize(samples: list[float]) -> dict:
    """Median plus the highest supported tail percentile, with the
    sample count they rest on."""
    out: dict = {"n": len(samples)}
    if not samples:
        return out
    out["p50"] = statistics.median(samples)
    p = tail_percentile(len(samples))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = percentile(samples, p)
    return out


def spread(values: list[float]) -> dict:
    """Median, quartiles and IQR as a share of the median — the
    steadiness measure the benchmark's bounds are checked against."""
    if len(values) < 2:
        raise ValueError("spread needs at least two values")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_over_median": (q3 - q1) / med if med else float("inf"),
    }


class ConfigMismatch(ValueError):
    """Two results were measured under different run configs."""


def check_like_for_like(a: dict, b: dict) -> None:
    """Raise ConfigMismatch naming every like-for-like key on which the
    two run configs differ (a key missing from one side differs)."""
    diffs = [
        f"{k}: {a.get(k)!r} != {b.get(k)!r}"
        for k in LIKE_FOR_LIKE_KEYS
        if a.get(k) != b.get(k)
    ]
    if diffs:
        raise ConfigMismatch("run configs differ: " + "; ".join(diffs))
