"""Summary statistics the benchmark reports."""

from __future__ import annotations

import bisect
import statistics

TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND
         ) -> tuple[float, float, int]:
    """The highest percentile that has at least ``beyond`` samples
    strictly greater than it: returns (percentile, value, sample count).

    Ties count against the rule: a value shared by the samples around
    the cut moves the cut down until ``beyond`` samples lie above it.
    Raises ValueError when fewer than ``beyond + 1`` samples exist."""
    s = sorted(values)
    n = len(s)
    if n < beyond + 1:
        raise ValueError(f"{n} samples cannot support a tail with "
                         f"{beyond} beyond it")
    for i in range(n - beyond - 1, -1, -1):
        at_or_below = bisect.bisect_right(s, s[i])
        if n - at_or_below >= beyond:
            return 100.0 * at_or_below / n, s[i], n
    raise ValueError(f"ties leave fewer than {beyond} samples above "
                     "every value")


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
