"""Statistics used by the benchmark: medians, the percentile rule, and the
driver-only gap of an op (wall time not covered by any Spark job)."""
import statistics

PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Nearest-rank percentile of `xs` (p in 0..100)."""
    s = sorted(xs)
    if not s:
        return None
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100), at least 1
    return s[int(k) - 1]


def highest_percentile(n):
    """The highest standard percentile with at least ten of `n` samples
    beyond it, or None when there is none."""
    ok = [p for p in PERCENTILES if n * (100.0 - p) >= 1000 - 1e-6]
    return max(ok) if ok else None


def summary(xs):
    """Median, sample count and the highest percentile the count allows."""
    out = {"median": median(xs), "n": len(xs)}
    p = highest_percentile(len(xs))
    if p is not None:
        out["p%g" % p] = percentile(xs, p)
    return out


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ([start, end] pairs, possibly
    overlapping), clipped to [lo, hi] when given."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    segs.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(t0, t1, jobs):
    """Op wall [t0, t1] minus the part of it covered by the union of its
    Spark job intervals. Jobs that overlap (parallel artifact writes) are
    counted once."""
    return (t1 - t0) - union_length(jobs, t0, t1)

