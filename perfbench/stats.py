"""Pure helpers of the benchmark: percentiles, open-loop latency, span
self time and the order-insensitive output comparators. No Spark here, so
the unit tests in ``perfbench/tests`` run without a JVM."""

from __future__ import annotations

import hashlib
import statistics

#: candidate tail percentiles, lowest first
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_supported_percentile(n: int, beyond: int = 10):
    """The highest ladder percentile that leaves at least ``beyond``
    samples above it in a sample of ``n``, or None when even the median
    does not (n < 2 * beyond)."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (100.0 - p) >= beyond * 100.0 - 1e-6:
            best = p
    return best


def median(values) -> float:
    return float(statistics.median(values))


def open_loop_latencies(due, done) -> list[float]:
    """Latency of each request measured from when it was DUE, not from when
    the generator got round to sending it: a stall delays every later
    request and the wait is counted against the system."""
    if len(due) != len(done):
        raise ValueError("due and done differ in length")
    return [d - s for s, d in zip(due, done)]


def generator_lateness(due, sent) -> list[float]:
    """How late the load generator issued each request (>= 0)."""
    return [max(0.0, s - d) for d, s in zip(due, sent)]


def union_length(intervals) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((a, b) for a, b in intervals if b > a):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clipped(intervals, lo: float, hi: float):
    """Intervals clipped to [lo, hi]; empty ones dropped."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of it that its
    direct children cover. ``spans`` are dicts with id, parent, start, end."""
    children: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = clipped(children.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def rows_digest(rows) -> tuple[int, str]:
    """(count, order-insensitive sha256) of an iterable of row tuples."""
    lines = sorted("\x1f".join(map(str, r)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def same_rows(a, b) -> bool:
    """Two row multisets are equal (count plus order-insensitive hash)."""
    return rows_digest(a) == rows_digest(b)


def amdahl(t1: float, tn: float, n: int) -> tuple[float, float]:
    """Fit T(k) = s + p / k through (1, t1) and (n, tn); returns
    (efficiency t1 / (n * tn), serial seconds s)."""
    p = (t1 - tn) * n / (n - 1)
    return t1 / (n * tn), t1 - p
