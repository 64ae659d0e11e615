"""Statistics the benchmark reports: percentiles with their sample counts,
span self time, and the failure ratio. Pure Python, no Spark."""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterable, Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks (NumPy's default), so it never leaves the sample range."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError("q must be in [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass(frozen=True)
class LatencySummary:
    n: int
    p50: float
    p90: float
    beyond_p90: int  # samples strictly above p90; the guide wants >= 10


def summarize(values: Sequence[float]) -> LatencySummary:
    p90 = percentile(values, 90)
    return LatencySummary(
        n=len(values),
        p50=percentile(values, 50),
        p90=p90,
        beyond_p90=sum(1 for v in values if v > p90),
    )


def failure_ratio(attempted: int, failed: int) -> float:
    """Failed operations (errors, budget refusals, failed output checks)
    over operations attempted."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    op_id: int
    span_id: int
    parent_id: int | None
    layer: str
    name: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    return {
        s.span_id: s.duration
        - covered(((c.start, c.end) for c in children.get(s.span_id, ())), s.start, s.end)
        for s in spans
    }


def layer_self_seconds(spans: Sequence[Span]) -> dict[str, float]:
    """Summed self time per layer."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + own[s.span_id]
    return out


def spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives them."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
