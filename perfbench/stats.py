"""The percentile rules every reported timing uses."""

from __future__ import annotations

import math
import statistics


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample such that at least
    ``p`` percent of the samples are at or below it.  The result is always
    one of the measured samples, never an interpolation between two."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError(f"percentile rank must be in (0, 100], got {p}")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100.0 * len(ordered))) - 1]


def median(values) -> float:
    """The middle sample, or the mean of the two middle samples.  The
    query mix is half filtered and half unfiltered, two latency modes, so
    with an even count the nearest-rank median would be whichever sample
    sits at the edge of a mode."""
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values)
