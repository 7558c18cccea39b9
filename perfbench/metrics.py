"""Pure metric arithmetic for perfbench: medians, quartiles, span self
times and driver gap. No I/O, so it is unit-tested on its own."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, q3) as `statistics.quantiles(xs, n=4)` gives them; a single
    sample is its own quartiles."""
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


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


def driver_gap(run_start, run_end, jobs):
    """Wall time of a run minus the time in which at least one job ran."""
    return (run_end - run_start) - union_length(jobs, run_start, run_end)


def self_times(spans):
    """Self time of each span of one run: its length minus the lengths of
    the spans directly nested in it (nesting by containment). Returns a
    list of (name, self_seconds) in input order."""
    order = sorted(range(len(spans)),
                   key=lambda i: (spans[i][1], -spans[i][2]))
    child_total = [0.0] * len(spans)
    stack = []
    for i in order:
        _, s, e = spans[i]
        while stack and not (spans[stack[-1]][1] <= s and e <= spans[stack[-1]][2]):
            stack.pop()
        if stack:
            child_total[stack[-1]] += e - s
        stack.append(i)
    return [(spans[i][0], spans[i][2] - spans[i][1] - child_total[i])
            for i in range(len(spans))]
