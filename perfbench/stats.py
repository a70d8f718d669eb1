"""Latency summaries: median and a tail percentile backed by data."""

from __future__ import annotations

import statistics


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``beyond`` samples above it, never below the median.

    With n samples the sample at rank n - beyond has exactly ``beyond``
    samples beyond it, which puts it at percentile 100 * (n - beyond) / n.
    Below 2 * beyond samples that rank falls under the median, and with
    ``beyond`` samples or fewer no rank qualifies; the median, the best
    supported order statistic, is reported then and labelled p50."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    p = 100.0 * (n - beyond) / n
    if p <= 50.0:
        return statistics.median(values), 50.0
    return sorted(values)[n - beyond - 1], p


def summary(values: list[float]) -> dict:
    """Median and tail of one latency class, with its sample count."""
    value, p = tail(values)
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail": value,
        "tail_pct": round(p, 2),
    }
