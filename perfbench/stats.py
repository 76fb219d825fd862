"""Small, dependency-free statistics helpers."""

from __future__ import annotations

import re

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(samples, beyond: int = 10):
    """Highest nearest-rank percentile with at least ``beyond`` samples
    strictly above it.

    Returns ``(value, percentile, n_beyond)``. With N samples and no
    ties this is the (N - beyond)-th smallest value, at percentile
    100 * (N - beyond) / N; ties at the cut move it down until
    ``beyond`` samples are strictly greater.
    """
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot leave {beyond} beyond a percentile")
    rank = n - beyond  # 1-based
    while rank > 1 and s[rank] == s[rank - 1]:
        rank -= 1
    n_beyond = sum(1 for v in s if v > s[rank - 1])
    return s[rank - 1], 100.0 * rank / n, n_beyond
