"""Percentiles that refuse to report a tail the samples cannot support."""

import math

MIN_BEYOND = 10


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no samples")
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def percentile(values, p):
    """The p-th percentile (nearest rank) of `values`; refuses unless at
    least MIN_BEYOND samples lie beyond it."""
    n = len(values)
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p} of {n} samples has {n - rank} beyond it, "
                         f"needs {MIN_BEYOND}")
    return sorted(values)[rank - 1]


def highest_percentile(values, candidates=(99.9, 99, 95, 90, 75, 50)):
    """(p, value) for the highest candidate percentile the samples
    support, or None."""
    for p in candidates:
        try:
            return p, percentile(values, p)
        except ValueError:
            continue
    return None


def summary(values):
    """Sample count, median and the highest supported percentile."""
    out = {"n": len(values), "p50": median(values) if values else None}
    top = highest_percentile(values)
    if top:
        out[f"p{top[0]:g}"] = top[1]
    return out
