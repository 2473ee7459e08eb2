"""Pure statistics used by the benchmark (no Spark, no I/O).

Percentiles interpolate linearly between order statistics, the same
rule as DuckDB's ``quantile_cont`` and NumPy's default.
"""

from __future__ import annotations

import math

#: Percentiles a tail figure may fall back through, highest first.
TAIL_LADDER = (0.99, 0.9, 0.75, 0.5)

#: A percentile is reported only when at least this many samples lie
#: beyond it.
MIN_BEYOND = 10


def quantile(values, q: float) -> float:
    """Linearly interpolated ``q``-quantile of ``values`` (0 <= q <= 1)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the q-quantile's
    rank."""
    return n - 1 - math.floor(q * (n - 1)) if n else 0


def supported_percentile(n: int, wanted: float,
                         ladder=TAIL_LADDER) -> float | None:
    """The highest percentile no higher than ``wanted`` with at least
    MIN_BEYOND of ``n`` samples beyond it, or None if even the median
    is unsupported."""
    for q in ladder:
        if q <= wanted and samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def tail(values, wanted: float) -> tuple[float | None, float | None]:
    """(percentile used, its value) for the tail of ``values`` under
    the ten-beyond rule; (None, None) when the sample is too small."""
    q = supported_percentile(len(values), wanted)
    return (q, quantile(values, q)) if q is not None else (None, None)


def due_latencies(due_ns, done_ns) -> list[float]:
    """Open-loop latency in seconds: completion minus the time the
    request was DUE, not the time it was actually sent, so a generator
    stall is charged to every request it delayed."""
    return [(d - s) / 1e9 for s, d in zip(due_ns, done_ns)]


def self_times(spans) -> dict:
    """Self time per span id: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    counted once; a child running past its parent is clipped).

    ``spans``: iterable of dicts with ``id``, ``parent``, ``start``,
    ``end`` (any consistent time unit)."""
    spans = list(spans)
    kids: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
