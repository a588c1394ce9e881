"""The benchmark's arithmetic, kept free of Spark so the self-tests
(``perfbench/test_stats.py``) run in well under a second."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field

# How many samples must lie beyond a reported tail percentile.
TAIL_BEYOND = 10


def tail_rule(n_samples: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Highest whole percentile that leaves at least ``beyond`` samples
    above it, or None when ``n_samples <= beyond``."""
    if n_samples <= beyond:
        return None
    return math.floor(100 * (n_samples - beyond) / n_samples)


def samples_needed(percentile: int, beyond: int = TAIL_BEYOND) -> int:
    """Fewest samples for which ``percentile`` leaves ``beyond`` above it."""
    n = beyond + 1
    while tail_rule(n, beyond) < percentile:
        n += 1
    return n


def percentile_value(values: Sequence[float], percentile: int) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``percentile``% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(percentile * len(ordered) / 100))
    return ordered[rank - 1]


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def failed_frac(attempted: int, failed: int) -> float:
    """Failed executions over attempted executions. Every execution counts
    once in ``attempted``, whether it ran, raised or returned wrong rows."""
    if attempted < 1:
        raise ValueError("no executions attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def batch_seconds(latencies: dict[str, list[float]]) -> float:
    """Sum over queries of each query's median latency."""
    return sum(statistics.median(v) for v in latencies.values() if v)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    query_id: str
    span_id: int
    parent: int | None = None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, spans: Iterable[Span]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.span_id]
    return span.duration - _covered(kids, span.start, span.end)


def layer_split(spans: Sequence[Span], layers: Iterable[str]) -> dict[str, float]:
    """Self time per layer name over ``spans`` (one query's spans), for the
    named layers only; a layer with several spans sums them."""
    wanted = set(layers)
    out = {name: 0.0 for name in wanted}
    for s in spans:
        if s.name in wanted:
            out[s.name] += self_time(s, spans)
    return out


def split_error(split: dict[str, float], latency: float) -> float:
    """|sum of layer self times - latency| as a share of ``latency``."""
    if latency <= 0:
        raise ValueError("latency must be positive")
    return abs(sum(split.values()) - latency) / latency
