"""The benchmark's arithmetic: order statistics, span self time, slot
occupancy and the error rate. Pure functions, tested by test_stats.py."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3); a single value is its own quartiles."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples above
    it: (value, percentile, n). Sorted ascending, the sample at index
    n-beyond-1 has exactly `beyond` samples after it, and it sits at the
    100*(n-beyond)/n-th percentile. With `beyond` or fewer samples no such
    percentile exists and the result is the maximum, at the 100th."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover."""
    start, end = span
    return (end - start) - union_length(children, start, end)


def slot_busy(task_seconds, slots, wall_seconds):
    """Share of the `slots` task slots kept busy over `wall_seconds`."""
    return task_seconds / (slots * wall_seconds) if wall_seconds > 0 else 0.0


def error_rate(executions, wrong_queries):
    """(failed, attempted, rate). Every execution is one attempt; it fails if
    it raised, if its rows differ from the verified pass's, or if its query's
    verified output disagreed with the oracle."""
    attempted = len(executions)
    failed = sum(1 for e in executions
                 if e["error"] or e["query"] in wrong_queries or e.get("digest_mismatch"))
    return failed, attempted, (failed / attempted if attempted else 1.0)
