"""Pure arithmetic the benchmark reports through: percentiles with the
tail-sample rule, open-loop latency and queue wait, and span self time.

Nothing here touches Spark, so the helpers are unit-tested directly
(``perfbench/tests``).
"""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when at least this many samples lie
#: beyond it; fewer make the tail one or two unlucky samples
MIN_TAIL_SAMPLES = 10


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0 < q < 100) by linear interpolation
    between closest ranks (numpy's default "linear" method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 < q < 100:
        raise ValueError(f"percentile rank must lie in (0, 100), got {q}")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th
    percentile rank (the expected tail count, floor)."""
    return int(n * (100.0 - q) / 100.0 + 1e-9)


def tail_percentile(values, q: float) -> float:
    """``percentile(values, q)``, refusing a rank the sample cannot
    support: fewer than ``MIN_TAIL_SAMPLES`` values beyond it."""
    n = len(values)
    if samples_beyond(n, q) < MIN_TAIL_SAMPLES:
        need = math.ceil(MIN_TAIL_SAMPLES * 100.0 / (100.0 - q))
        raise ValueError(
            f"p{q:g} needs at least {need} samples to have "
            f"{MIN_TAIL_SAMPLES} beyond it; got {n}"
        )
    return percentile(values, q)


def median(values) -> float:
    return float(statistics.median(values))


def open_loop_latency(last_due_s: float, emitted_at_s: float) -> float:
    """Open-loop latency of one transaction: from the due time of its
    LAST contributing event (its END, or a line event delivered after
    it) to the moment its doc reached the sink. Both are seconds on
    the run's virtual clock, so a stall that delays later batches is
    charged to every transaction that waited behind it."""
    if emitted_at_s < last_due_s:
        raise ValueError(
            f"emitted at {emitted_at_s:.6f}s before its last event was due "
            f"at {last_due_s:.6f}s"
        )
    return emitted_at_s - last_due_s


def queue_wait(last_due_s: float, taken_at_s: float) -> float:
    """Time a transaction's last event sat due before the batch that
    took it started."""
    if taken_at_s < last_due_s:
        raise ValueError(
            f"taken at {taken_at_s:.6f}s before it was due at {last_due_s:.6f}s"
        )
    return taken_at_s - last_due_s


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of its interval its child spans
    cover (children are clipped to the parent; overlaps count once)."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in children]
    return (e0 - s0) - covered(clipped)
