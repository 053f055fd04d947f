"""Percentiles with their sample support, and the mapping from micro-batch
completion to per-event latency.

Every percentile the benchmark reports comes with how many samples lie
beyond it, so a reader can see whether the sample supports it (the
choosing-metrics rule: at least ten beyond the highest percentile
reported).
"""

from __future__ import annotations

import bisect
import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Percentile:
    """One percentile of a sample, with the support behind it."""

    q: float
    value: float
    n: int
    beyond: int  # samples strictly greater than ``value``


def percentile(values: list[float], q: float) -> Percentile:
    """Linear-interpolated percentile (the ``inclusive`` method of
    ``statistics.quantiles``) over ``values``, 0 < q < 100.

    Raises ValueError on an empty sample: a percentile of nothing is a
    failed measurement, not a zero.
    """
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < q < 100:
        raise ValueError(f"q must lie in (0, 100), got {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    beyond = len(xs) - bisect.bisect_right(xs, value)
    return Percentile(q, value, len(xs), beyond)


def median(values: list[float]) -> float:
    return percentile(values, 50).value


@dataclass(frozen=True)
class BatchCommit:
    """A micro-batch's event_index range and the time it became visible."""

    batch_id: int
    base: int  # event_index of the batch's first event, minus one
    count: int
    done_at: float


def event_latencies(
    commits: list[BatchCommit], due_at: dict[int, float]
) -> tuple[dict[int, float], dict[int, int]]:
    """Map batch completion to per-event latency.

    ``due_at`` maps an event's event_index to the time it was due (its
    creation stamp). Each event's latency is the completion time of the
    batch whose range [base + 1, base + count] holds its index, minus its
    due time. Returns ({event_index: latency}, {event_index: batch_id})
    for every event in ``due_at``; raises KeyError naming the first event
    no batch covers, and ValueError if two batches cover one index.
    """
    ranges = sorted((c.base + 1, c.base + c.count, c) for c in commits)
    for (_, prev_hi, prev), (lo, _, cur) in zip(ranges, ranges[1:]):
        if lo <= prev_hi:
            raise ValueError(
                f"batches {prev.batch_id} and {cur.batch_id} overlap at {lo}"
            )
    starts = [r[0] for r in ranges]
    latency: dict[int, float] = {}
    batch_of: dict[int, int] = {}
    for ei, due in due_at.items():
        i = bisect.bisect_right(starts, ei) - 1
        if i < 0 or ei > ranges[i][1]:
            raise KeyError(f"event_index {ei} is in no committed batch")
        c = ranges[i][2]
        latency[ei] = c.done_at - due
        batch_of[ei] = c.batch_id
    return latency, batch_of


def complete_batches(
    batch_of: dict[int, int], due_at: dict[int, float], t_from: float,
    last_index: int,
) -> set[int]:
    """Batches whose whole collection window lies in the measured part of
    an open loop: every event they hold was due at or after ``t_from``,
    and they do not hold ``last_index``, the loop's final event (that
    batch's window was cut short when the loop stopped, so it holds only
    the early, longer-waiting events of its window).

    Sampling whole batches keeps the latency distribution independent of
    where the window's edges fall relative to the batch cycle.
    """
    first_due: dict[int, float] = {}
    for ei, b in batch_of.items():
        first_due[b] = min(first_due.get(b, math.inf), due_at[ei])
    keep = {b for b, d in first_due.items() if d >= t_from}
    keep.discard(batch_of.get(last_index))
    return keep


def window_sample(
    latency: dict[int, float], batch_of: dict[int, int], due_at: dict[int, float],
    t_from: float, last_index: int,
) -> tuple[dict[int, float], int]:
    """The open-loop latency sample: the events of ``complete_batches``.
    When no batch is complete (batches slower than about half the
    window), every event due at or after ``t_from`` instead. Returns the
    sample and the number of complete batches behind it (0 on fallback).
    """
    keep = complete_batches(batch_of, due_at, t_from, last_index)
    if keep:
        return {e: v for e, v in latency.items() if batch_of[e] in keep}, len(keep)
    return {e: v for e, v in latency.items() if due_at[e] >= t_from}, 0


def batches_beyond(
    latency: dict[int, float], batch_of: dict[int, int], threshold: float
) -> int:
    """How many distinct batches hold an event slower than ``threshold``.

    Events of one batch share a completion time, so the independent
    samples behind a latency percentile are batches, not events.
    """
    return len({batch_of[e] for e, v in latency.items() if v > threshold})
