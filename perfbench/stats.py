"""Statistics and digests the benchmark reports with."""
import hashlib
import math


def percentile(values, p):
    """Linearly interpolated percentile; p=50 is the median."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def tail(values, beyond=10):
    """The highest whole percentile (at most 99) with at least `beyond`
    samples above it, never below the median. Returns (percentile, value)."""
    n = len(values)
    p = 99
    while p > 50 and n - 1 - math.floor((n - 1) * p / 100) < beyond:
        p -= 1
    return p, percentile(values, p)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans):
    """Span id -> duration minus the part its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length([(max(a, s["start"]), min(b, s["end"]))
                            for a, b in children.get(s["id"], []) if b > a])
            for s in spans}


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def digest(frame):
    """Order-independent digest of a pandas frame: column names, their
    dtypes and the sorted multiset of rows, so two engines' results
    match only when names, types and values all agree."""
    cols = sorted(frame.columns)
    h = hashlib.sha256()
    h.update(repr([(c, str(frame[c].dtype)) for c in cols]).encode())
    rows = sorted("|".join(_canon(v) for v in row)
                  for row in frame[cols].itertuples(index=False, name=None))
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()
