"""The tail-percentile rule behind ``latency_tail_ms``."""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples that is
    the ``(TAIL_BEYOND + 1)``-th largest one, at percentile
    ``100 * (n - TAIL_BEYOND) / n``. With ``TAIL_BEYOND`` samples or fewer
    no such percentile exists; the maximum is returned at percentile 100
    so the caller still gets a number, and the stated percentile shows it.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    ordered = sorted(samples)
    if n <= TAIL_BEYOND:
        return ordered[-1], 100.0, n
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n
