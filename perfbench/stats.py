"""Summary statistics and box counters shared by the client and the
launcher."""

from __future__ import annotations

import re

import numpy as np

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
TAIL_BEYOND = 10


def tail_rank(n: int, beyond: int = TAIL_BEYOND) -> int:
    """With n samples sorted ascending, the highest rank (1-based) that
    leaves ``beyond`` samples after it."""
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {n}")
    return n - beyond


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile of ``values`` that has at least ``beyond``
    samples above it: (value, percentile, sample count). The value is the
    Harrell-Davis estimate at that percentile. With too few samples for
    such a percentile (a run whose calls failed) it is the maximum, at
    percentile 100."""
    n = len(values)
    if n <= beyond:
        return max(values), 100.0, n
    p = tail_rank(n, beyond) / n
    return hd_quantile(values, p), 100.0 * p, n


def hd_quantile(values: list[float], p: float, grid: int = 20_000) -> float:
    """Harrell-Davis estimate of the p-quantile: the order statistics
    weighted by a Beta(p(n+1), (1-p)(n+1)) density over their ranks.
    Unlike a single order statistic it does not jump from one query's
    latency cluster to the next when a few calls swap ranks."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(grid) + 0.5) / grid
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    w = np.bincount((t * n).astype(int), weights=pdf, minlength=n)
    return float(w @ x / w.sum())


def cpu_times() -> list[int]:
    """The box's CPU time by state (user ... steal) since boot, in ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the box's CPU time the hypervisor stole between two
    ``cpu_times()`` readings."""
    delta = [a - b for b, a in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0
