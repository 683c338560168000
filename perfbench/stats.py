"""Pure arithmetic of the benchmark: percentiles, interval coverage,
write amplification. No Spark here, so the tests run in milliseconds."""

from __future__ import annotations

import math

#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p: float, n: int) -> int:
    """Nearest rank of percentile ``p`` among ``n`` samples (the epsilon
    keeps 99.9 % of 10,000 at rank 9,990 despite float rounding)."""
    return math.ceil(p * n / 100.0 - 1e-9)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty list."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(_rank(p, len(s)), 1)
    return s[rank - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile of ``TAIL_LADDER`` that leaves at least
    ``min_beyond`` of ``n`` samples above it; None when not even the
    median does."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= min_beyond:
            return p
    return None


def merge_intervals(spans: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Union of closed intervals, sorted and disjoint."""
    out: list[list[float]] = []
    for a, b in sorted(s for s in spans if s[1] > s[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``spans``."""
    total = 0.0
    for a, b in merge_intervals(spans):
        a, b = max(a, lo), min(b, hi)
        if b > a:
            total += b - a
    return total


def uncovered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] that no span covers: with Spark job intervals
    this is the driver time no job was running (``driver.no_job_s``)."""
    return (hi - lo) - covered(spans, lo, hi)


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return uncovered(children, span[0], span[1])


def write_amp(bytes_written: int, delta_bytes: int) -> float:
    """Bytes written per byte of delta input."""
    if delta_bytes <= 0:
        raise ValueError("delta_bytes must be positive")
    return bytes_written / delta_bytes
