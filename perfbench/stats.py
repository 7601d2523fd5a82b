"""Order statistics the benchmark reports.

Percentiles use the nearest-rank definition: the p-th percentile of n
sorted samples is the ``ceil(p/100 * n)``-th smallest.

A workload that mixes operation kinds whose latencies differ tenfold (the
registry queries) pools its samples only after scaling each kind to a
common size (``scaled_latencies``).  Pooled raw, the median falls on the
samples of whichever kind happens to sit in the middle, and jumps by the
gap between two kinds when their order swaps from one run to the next.
"""

from __future__ import annotations

import math

# Candidate tail percentiles, lowest first.  The tail metric reports the
# highest one that still leaves at least TAIL_MIN_BEYOND samples above it.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    # round() first: 99.9 / 100 * 10000 is 9990.000000000002 in binary
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    if not sorted_vals:
        raise ValueError("no samples")
    return sorted_vals[_rank(len(sorted_vals), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked above the nearest-rank p-th percentile of n."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least TAIL_MIN_BEYOND samples
    beyond it, or None when n is too small for any (n < 20)."""
    best = None
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= TAIL_MIN_BEYOND:
            best = p
    return best


def latency_summary(latencies: list[float]) -> dict:
    """Median and tail of one run's operation latencies, with the tail's
    percentile and the sample count stated."""
    vals = sorted(latencies)
    n = len(vals)
    p = tail_percentile(n)
    return {
        "n": n,
        "p50_s": nearest_rank(vals, 50.0),
        "tail_pct": p,
        # With fewer than 20 samples no percentile has ten beyond it;
        # the maximum is then the only honest tail.
        "tail_s": nearest_rank(vals, p) if p is not None else vals[-1],
    }


def scaled_latencies(by_kind: dict[str, list[float]]) -> list[float]:
    """Every sample scaled by the geometric mean of the kinds' medians
    over its own kind's median, so that each kind's median becomes that
    geometric mean and each sample keeps its ratio to its kind's median.

    The pooled median of the result tracks the typical operation: making
    any one kind k times faster moves it by k to the power 1/kinds.  A
    workload with a single kind gets its samples back unchanged."""
    kinds = {k: v for k, v in by_kind.items() if v}
    if len(kinds) <= 1:
        return [x for v in kinds.values() for x in v]
    medians = {k: nearest_rank(sorted(v), 50.0) for k, v in kinds.items()}
    geo = math.exp(sum(math.log(m) for m in medians.values()) / len(medians))
    return [x * geo / medians[k] for k, v in kinds.items() for x in v]
