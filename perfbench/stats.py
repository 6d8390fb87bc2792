"""Order statistics shared by the benchmark and its proof runs."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(rounds: list[list[float]]) -> float:
    """The median over the run's rounds of each round's slowest op.

    A run measures two rounds of 3-4 ops.  The highest percentile with
    ten samples beyond it is a tail only from 100 samples on (below that
    it lies in the body of the distribution, at n = 20 on the median),
    and the maximum of a run rests on one op, so one stalled op moves
    it whole.  Every round runs the same op mix, so its slowest op is a
    sample of the same tail; their median is the steadiest tail figure
    a run this short can give."""
    return median([max(r) for r in rounds if r])


def spread(xs: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else math.inf
