"""Summary statistics the benchmark reports."""

from __future__ import annotations

#: A tail percentile is reported only with at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float]:
    """The highest percentile that has at least ``min_beyond`` samples beyond it.

    Returns ``(percentile, value)``: the value is the order statistic with
    exactly ``min_beyond`` samples above it, and the percentile is its rank
    as a share of the sample. Needs ``2 * min_beyond`` samples, so that the
    tail is never below the median.
    """
    n = len(values)
    if n < 2 * min_beyond:
        raise ValueError(f"{n} samples cannot support a tail with {min_beyond} beyond it")
    ordered = sorted(values)
    return 100.0 * (n - min_beyond) / n, ordered[n - min_beyond - 1]
