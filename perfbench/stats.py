"""Pure helpers of the benchmark: percentiles, interval arithmetic,
time-window attribution and span self time. No Spark imports, so the
unit checks in ``test_perfbench.py`` run in milliseconds."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``xs``."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


#: the lowest percentile that counts as a tail
TAIL_LOWEST_PCT = 90.0


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: ``q = 100 * (1 - beyond / n)``. Returns ``(value, q, n)``.
    A percentile below ``TAIL_LOWEST_PCT`` is no tail (with 12 samples
    the rule gives the 17th), so below 100 samples the value is 0 with
    ``q = 0`` — the caller reports the sample count, never a made-up
    tail."""
    n = len(xs)
    q = 100.0 * (1.0 - beyond / n) if n else 0.0
    if q < TAIL_LOWEST_PCT:
        return 0.0, 0.0, n
    return percentile(xs, q), q, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of closed intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def overlap_ratio(intervals: list[tuple[float, float]]) -> float:
    """Sum of interval lengths over the length of their union: 1.0 when
    nothing overlaps, k when k things always run at once."""
    u = union_length(intervals)
    return sum(e - s for s, e in intervals) / u if u > 0 else 0.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. Spans are dicts with
    ``id``, ``parent`` (None at the root), ``start`` and ``end``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def innermost(spans: list[dict], t: float) -> dict | None:
    """The deepest span whose [start, end] holds time ``t`` (the latest
    started one among those holding it, since children start after
    their parents); None outside every span."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def attribute(spans: list[dict], events: list[dict], key: str = "t") -> dict[int, list[dict]]:
    """Time-window attribution: each event (a finished Spark stage, job
    or SQL execution, stamped at ``event[key]``) goes to the innermost
    span open at that time. Job-group labels are deliberately not used:
    threads started by ``parallelism.overlap_jobs`` do not inherit
    them, but their jobs still finish inside the caller's window."""
    out: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for ev in events:
        s = innermost(spans, ev[key])
        if s is not None:
            out[s["id"]].append(ev)
    return out


_TIME = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}


def parse_metric(text: str) -> float:
    """Parse one of Spark's formatted SQL metric strings into seconds,
    bytes or a plain count: ``'332 ms'``, ``'1018.0 KiB'``, ``'6'``,
    ``'1,234'`` or the multi-task form ``'total (min, med, max ...)\\n4.6 s
    (855 ms, ...)'``, whose total is the first value on its second line."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
        text = text.split(" (", 1)[0]
    parts = text.strip().replace(",", "").split()
    if not parts:
        return 0.0
    value = float(parts[0])
    if len(parts) > 1:
        unit = parts[1]
        if unit in _TIME:
            return value * _TIME[unit]
        if unit in _SIZE:
            return value * _SIZE[unit]
    return value
