"""The tail-percentile rule."""

from __future__ import annotations

# Samples a reported tail percentile must leave beyond it.
TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile of `values` that still has at least
    `beyond` samples above it, as (value, percentile, sample count).

    With n samples the answer is the (n - beyond)-th smallest value: it
    has exactly `beyond` samples after it, and any higher rank would
    have fewer. Too few samples for the rule is an error, not a silent
    fallback to the maximum.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    ordered = sorted(values)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n
