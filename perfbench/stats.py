"""Order statistics the benchmark reports."""

from __future__ import annotations

# The tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def tail_rank(n: int) -> int:
    """1-based rank of the tail sample among ``n`` sorted ascending.

    The tail is the highest percentile that still has ``TAIL_BEYOND`` samples
    beyond it, i.e. rank ``n - TAIL_BEYOND``. A tail must not sit below the
    median, so with fewer than ``2 * TAIL_BEYOND`` samples no percentile
    qualifies and the rank falls back to ``n``: the sample maximum.
    """
    if n < 1:
        raise ValueError("no samples")
    if n < 2 * TAIL_BEYOND:
        return n
    return n - TAIL_BEYOND


def tail_percentile(n: int) -> float:
    """The percentile (0-100] that ``tail_rank(n)`` denotes."""
    return 100.0 * tail_rank(n) / n


def tail(samples: list[float]) -> float:
    xs = sorted(samples)
    return xs[tail_rank(len(xs)) - 1]
