"""Metric arithmetic, kept free of Spark so it can be unit-tested."""

from __future__ import annotations

import statistics


def median(values) -> float:
    """Median of a non-empty sample; raises on an empty one so a metric
    with no samples fails loudly instead of reading 0."""
    vals = list(values)
    if not vals:
        raise ValueError("median of an empty sample")
    return float(statistics.median(vals))


def passes_for(seconds: float, nominal_pass_s: float) -> int:
    """Timed passes for a ``seconds`` budget: a fixed count, so every run
    does the same work at the same point of the warm-up curve and a slow
    machine stretches the run instead of cutting it short."""
    return max(1, round(seconds / nominal_pass_s))


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, overlaps counted
    once. Empty and inverted intervals contribute nothing."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_gap(wall_start: float, wall_end: float, job_intervals) -> float:
    """Wall time of ``[wall_start, wall_end]`` during which no job of the
    operation ran: the wall minus the union of its job intervals, each
    clipped to the window."""
    clipped = [
        (max(s, wall_start), min(e, wall_end)) for s, e in job_intervals
    ]
    return (wall_end - wall_start) - union_length(clipped)


class OpCounter:
    """Counts operations attempted and failed (raised, timed out or failed
    a correctness check). One instance per benchmark run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def spread(values) -> float:
    """Inter-quartile range as a share of the median, the steadiness test
    applied to each metric across runs (``statistics.quantiles`` with
    ``n=4``, its default exclusive method)."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / q2
