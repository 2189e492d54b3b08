"""Percentiles and the tail-percentile rule used by the benchmark."""

from __future__ import annotations

import math

import numpy as np

# Percentiles a tail may be reported at, highest first.
TAIL_GRID = (99.0, 95.0, 90.0, 80.0, 75.0, 66.0, 60.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def hd_percentile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile: the mean of all
    order statistics, the i-th weighted by the Beta(p(n+1), (1-p)(n+1))
    mass on [(i-1)/n, i/n]. An op mix puts kinds of op with distinct
    latencies side by side; a single order statistic jumps when a
    percentile falls between two kinds, this weighted mean does not."""
    if not values:
        raise ValueError("percentile of no values")
    xs = np.sort(np.asarray(values, dtype=float))
    n, q = len(xs), p / 100.0
    if q <= 0.0 or n == 1:
        return float(xs[0])
    if q >= 1.0:
        return float(xs[-1])
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    k = 256  # midpoints per order statistic
    t = (np.arange(n * k) + 0.5) / (n * k)
    log_pdf = (a - 1.0) * np.log(t) + (b - 1.0) * np.log1p(-t)
    w = np.exp(log_pdf - log_pdf.max()).reshape(n, k).sum(axis=1)
    return float(w @ xs / w.sum())


def samples_beyond(n: int, p: float) -> int:
    """Samples of ``n`` whose rank lies above the ``p``-th percentile's
    interpolation position."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest percentile on ``TAIL_GRID`` with at least
    ``min_beyond`` of ``n`` samples beyond it, or None if there is none."""
    for p in TAIL_GRID:
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None
