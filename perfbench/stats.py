"""Small statistics helpers for per-run samples."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))  # StatisticsError if empty


def exact(values: list[int], what: str) -> int:
    """The one value of a counter that must repeat exactly."""
    if not values:
        raise ValueError(f"no samples of {what}")
    if len(set(values)) != 1:
        raise ValueError(f"{what} varies across ops: {sorted(set(values))}")
    return values[0]
