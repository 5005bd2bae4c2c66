"""The benchmark's arithmetic: percentiles and the tail rule, span self
times, write amplification, and the quartile spread used to judge
steadiness. Pure functions over plain numbers; tested in tests/."""
import math
import statistics

# Percentile levels the tail may take, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# The tail is the highest ladder level with at least this many samples
# strictly beyond it.
TAIL_MIN_BEYOND = 10
# Layer self times must sum to their op's wall time within this share
# (plus TOLERANCE_FLOOR_S for clock granularity).
SELF_SUM_TOLERANCE = 0.01
TOLERANCE_FLOOR_S = 0.001


def _rank(q, n):
    """1-based nearest rank of percentile q among n samples (the small
    epsilon keeps e.g. 99.9% of 10000 from rounding up past 9990)."""
    return max(1, math.ceil(q * n / 100.0 - 1e-9))


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[_rank(q, len(s)) - 1]


def tail_level(n):
    """Highest ladder percentile with at least TAIL_MIN_BEYOND of n samples
    beyond it; 100 (the maximum) when n is too small for any level."""
    for q in TAIL_LADDER:
        if n - _rank(q, n) >= TAIL_MIN_BEYOND:
            return q
    return 100.0


def tail(values):
    """(level, value, n) of the tail of a latency sample."""
    q = tail_level(len(values))
    return q, percentile(values, q), len(values)


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the time its direct
    children cover (overlapping children counted once, clipped to the
    parent). `spans` is a list of dicts with start_ns, end_ns and parent
    (the index of the enclosing span, -1 for a root). Returns seconds."""
    children = {}
    for i, sp in enumerate(spans):
        if sp["parent"] >= 0:
            children.setdefault(sp["parent"], []).append(sp)
    out = []
    for i, sp in enumerate(spans):
        a, b = sp["start_ns"], sp["end_ns"]
        covered = union_length([(max(a, c["start_ns"]), min(b, c["end_ns"]))
                                for c in children.get(i, []) if c["end_ns"] > a and c["start_ns"] < b])
        out.append((b - a - covered) / 1e9)
    return out


def self_sum_error(op_wall_s, span_self_s):
    """Relative gap between an op's wall time and the sum of its spans'
    self times, and whether it is within the stated tolerance."""
    gap = abs(sum(span_self_s) - op_wall_s)
    ok = gap <= SELF_SUM_TOLERANCE * op_wall_s + TOLERANCE_FLOOR_S
    return (gap / op_wall_s if op_wall_s > 0 else 0.0), ok


def write_amp(refresh_bytes, delta_bytes):
    """Bytes refreshes wrote under the index root per byte of delta rows
    (as parquet). Both arguments are per-family byte counts."""
    d = sum(delta_bytes)
    if d <= 0:
        raise ValueError("write amplification needs a non-empty delta")
    return sum(refresh_bytes) / d


def spread(values):
    """Interquartile distance as a share of the median, with quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
