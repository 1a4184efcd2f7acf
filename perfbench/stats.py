"""Arithmetic of the benchmark's metrics, kept apart so it can be tested.

Samples are either plain values or (value, weight) pairs, where a weight
counts how many samples share the value (all rows of one chunk share its
lag).
"""
import math

MIN_BEYOND = 10
TAIL_LEVELS = (0.99, 0.95, 0.9, 0.75)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _weighted(samples):
    return [s if isinstance(s, (tuple, list)) else (s, 1) for s in samples]


def quantile(samples, q):
    """Nearest-rank quantile of plain or weighted samples."""
    pairs = sorted(_weighted(samples))
    n = sum(w for _, w in pairs)
    if n == 0:
        raise ValueError("quantile of no samples")
    rank = max(1, math.ceil(q * n))
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v
    return pairs[-1][0]


def percentile_if_supported(samples, q):
    """The q-quantile, or None when fewer than ten samples lie beyond it."""
    n = sum(w for _, w in _weighted(samples))
    if n - math.ceil(q * n) < MIN_BEYOND:
        return None
    return quantile(samples, q)


def tail(samples):
    """(level, value) of the highest of TAIL_LEVELS with at least ten
    samples beyond it; ("max", maximum) when the sample is too small for
    any of them."""
    for q in TAIL_LEVELS:
        v = percentile_if_supported(samples, q)
        if v is not None:
            return q, v
    return "max", max(v for v, _ in _weighted(samples))


def attribute_lag(chunks, batches, first_offset=0):
    """Row lag of one stream lane.

    chunks: [(due_ms, rows)] of consecutive addData calls, the first at
        MemoryStream offset first_offset: the source's offset counts
        addData calls, so chunk k is offset first_offset + k, whatever its
        row count.
    batches: [(start_offset, end_offset, end_ms)] from the lane's progress;
        a batch covers offsets start < k <= end (start is -1 before the
        first commit).
    Returns ([(lag_ms, rows)], rows of chunks no batch covered).
    """
    covered = {}
    for start, end, end_ms in batches:
        for k in range(start + 1, end + 1):
            covered.setdefault(k, end_ms)
    lags, lost = [], 0
    for k, (due_ms, rows) in enumerate(chunks, start=first_offset):
        if k in covered:
            lags.append((covered[k] - due_ms, rows))
        else:
            lost += rows
    return lags, lost


def busy_and_gap(intervals, start, end):
    """Task time inside [start, end], summed over overlapping tasks, and
    the time inside [start, end] during which no task ran. Same time unit
    as the inputs; busy share is busy / ((end - start) * cores)."""
    span = end - start
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
    busy = sum(e - s for s, e in clipped)
    covered, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return busy, span - covered
