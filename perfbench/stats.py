"""Order statistics shared by the harness and its tests."""

from __future__ import annotations

import statistics


def median(values) -> float:
    """Median of a non-empty sequence of numbers."""
    vals = list(values)
    if not vals:
        raise ValueError("median of an empty sequence")
    return float(statistics.median(vals))
