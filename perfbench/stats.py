"""Summaries of per-op samples: median, tail percentile, spread."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
_TAILS = (99.99, 99.9, 99.0, 90.0, 50.0)


def tail_percentile(samples: list[float], beyond: int = 10):
    """The highest of p50/p90/p99/p99.9/p99.99 that has at least `beyond`
    samples above it, as (p, value) with the nearest-rank value, or None
    when the samples are too few for any of them."""
    n = len(samples)
    for p in _TAILS:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            ordered = sorted(samples)
            return p, ordered[max(math.ceil(p / 100.0 * n), 1) - 1]
    return None


def summarize(samples: list[float]) -> dict:
    """{"median", "n"} plus {"p", "p_value"} when a tail percentile has
    enough samples beyond it."""
    out = {"median": statistics.median(samples), "n": len(samples)}
    tail = tail_percentile(samples)
    if tail is not None:
        out["p"], out["p_value"] = tail
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives
    them: the run-to-run spread a bound is compared against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
