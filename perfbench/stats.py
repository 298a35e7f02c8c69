"""Pure summary arithmetic for the benchmark: percentiles, failure share,
span self times and metric-name validity. Kept free of I/O so the
benchmark's tests can pin every rule."""
import math
import re
from fractions import Fraction

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, q):
    """The q-th percentile (0 < q < 100) by linear interpolation, or None
    unless at least ten samples lie strictly beyond its position."""
    n = len(xs)
    if n == 0:
        return None
    pos = (n - 1) * Fraction(q) / 100
    lo = math.floor(pos)
    if n - 1 - lo < 10:
        return None
    s = sorted(xs)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * float(pos - lo)


def fail_frac(ops):
    """Ops that threw or returned a wrong output, over ops attempted."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if o.get("error") or not o.get("ok", False)) / len(ops)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the given intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_times(spans):
    """Self time per span name, summed: a span's duration minus the part of
    its interval that its child spans (same op, parent == its name) cover.

    `spans` are dicts with op, name, start, end, parent (times in ms).
    Returns {name: seconds}.
    """
    by_parent = {}
    for s in spans:
        by_parent.setdefault((s["op"], s["parent"]), []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = by_parent.get((s["op"], s["name"]), [])
        own = (s["end"] - s["start"]) - covered(kids, s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1e3
    return out
