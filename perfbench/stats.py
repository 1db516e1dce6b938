"""Order statistics for the end-to-end metrics."""

from __future__ import annotations

import math


def percentile_linear(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (``q`` in [0, 1]), the definition
    Spark's exact ``percentile`` and numpy's default use."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(values: list[float]) -> float:
    """``op_s_tail``: the slowest operation of the run, its p100.

    A run times one pass of 11 to 16 operations, too few for the highest
    percentile with ten samples beyond it (that rule gives p9 of 11, the
    fastest report).  The slowest operation is the upper percentile every
    pass has, and only the slow operations (the kernel queries, the lake
    lifecycle, the stream-stream join, the LSH pair emitter) can move it."""
    if not values:
        raise ValueError("tail of an empty sample")
    return max(values)
