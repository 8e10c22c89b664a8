"""Summary statistics and result digests for the benchmark.

Pure functions over numbers and rows; no Spark and no repository
imports, so the benchmark's tests exercise them directly.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least TAIL_BEYOND of ``n``
    samples beyond it (99 needs n >= 1000, 90 needs n >= 100), or
    None when ``n`` is too small for any."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= TAIL_BEYOND:
            return p
    return None


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values) -> tuple[int | None, float]:
    """(percentile, value) of the tail by the TAIL_BEYOND rule; (None,
    max) when there are too few samples for any percentile."""
    p = tail_percentile(len(values))
    if p is None:
        return None, max(values)
    return p, percentile(values, p)


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    """Intervals cut to [lo, hi]; empty ones dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _canon(v, places: int):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, places)
        return 0.0 if r == 0 else r  # -0.0 and 0.0 digest alike
    if isinstance(v, decimal.Decimal):
        return _canon(float(v), places)
    if isinstance(v, (list, tuple)):
        return [_canon(x, places) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x, places) for k, x in sorted(v.items())}
    if isinstance(v, (datetime.date, datetime.datetime, bytes, bytearray)):
        return repr(v)
    return v


def digest(rows, places: int = 4) -> str:
    """Order-free digest of result rows: every float rounded to
    ``places`` decimals, rows sorted, then sha256 of their reprs.
    ``rows`` are tuples, lists or dicts (Spark Rows are tuples)."""
    canon = sorted(repr(_canon(tuple(r), places)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]
