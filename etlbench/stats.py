"""Order statistics shared by the benchmark and its compare tool."""

from __future__ import annotations

import statistics

# Tail percentiles in per mille, tried from the highest down; each needs
# at least TAIL_MIN_BEYOND samples ranked above it to be reported.
TAIL_PER_MILLE = (999, 990, 900)
TAIL_MIN_BEYOND = 10


def quartiles(values: list[float]) -> tuple[float, float]:
    """First and third quartile as ``statistics.quantiles(n=4)`` gives
    them; a single sample is its own quartiles."""
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def _rank(per_mille: int, n: int) -> int:
    """1-based nearest rank, in integer arithmetic so that e.g. p90 of
    100 samples is exactly rank 90."""
    return max(1, -(-per_mille * n // 1000))


def percentile(values: list[float], per_mille: int) -> float:
    """Nearest-rank percentile; ``per_mille=900`` is p90."""
    ordered = sorted(values)
    return ordered[_rank(per_mille, len(ordered)) - 1]


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, label)``. With too few samples for any of them it is the
    maximum, labelled ``max``; the caller states the sample count."""
    n = len(values)
    for pm in TAIL_PER_MILLE:
        if n - _rank(pm, n) >= TAIL_MIN_BEYOND:
            return percentile(values, pm), f"p{pm / 10:g}"
    return max(values), "max"
