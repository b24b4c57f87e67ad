"""Percentiles, the sample-count rule and run-to-run spread."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported as supported only when at least this many
#: samples lie above it
MIN_BEYOND = 10


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples that lie above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def supported(n: int, p: float) -> bool:
    """True when n samples put at least MIN_BEYOND samples above p."""
    return n > 0 and beyond(n, p) >= MIN_BEYOND


def tail_percentile(n: int, candidates=(99.9, 99.0, 90.0, 50.0)):
    """The highest candidate percentile that n samples support, else
    None."""
    for p in candidates:
        if supported(n, p):
            return p
    return None


def summary(samples, ps=(50.0, 90.0, 99.0)) -> dict:
    """Count plus each percentile with its support flag."""
    n = len(samples)
    out: dict = {"n": n}
    if n == 0:
        return out
    for p in ps:
        key = f"p{p:g}"
        out[key] = percentile(samples, p)
        out[key + "_supported"] = supported(n, p)
    out["tail_p"] = tail_percentile(n)
    return out


def spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles' default method)."""
    vals = list(values)
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / med if med else math.inf
