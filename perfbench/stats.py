"""Pure helpers of the benchmark: percentiles, span arithmetic, failure
counting and run-to-run spread. No I/O; `test_stats.py` covers them."""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, q):
    """q-quantile (0 <= q <= 1) of `values`, interpolated linearly between
    the two nearest order statistics (position q * (n - 1), numpy's
    default), with the number of samples above it and whether that number
    meets the ten-samples-beyond rule. Interpolation keeps the value from
    jumping between clusters when the quantile falls on the boundary
    between two queries' latencies. Returns (value, beyond, rule_met);
    value is None for no samples."""
    xs = sorted(values)
    if not xs:
        return None, 0, False
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    beyond = sum(1 for x in xs if x > value)
    return value, beyond, beyond >= MIN_BEYOND


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, window):
    """The parts of `intervals` that fall inside `window`."""
    lo, hi = window
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - union_length(clip(children, span))


def in_window(t, window):
    """Whether time t falls in the half-open window [start, end)."""
    return window[0] <= t < window[1]


def count_failures(executions, thrown, oracle_failed):
    """Failure accounting for one run.

    executions: query name -> executions that returned (warmup included)
    thrown: list of query names, one entry per execution that threw
    oracle_failed: names whose output failed the correctness check; every
        execution of such a query counts as failed, since the output is a
        pure function of the fixed inputs.
    Returns (attempted, failed, sorted names of failing queries)."""
    attempted = sum(executions.values()) + len(thrown)
    failed = len(thrown) + sum(executions.get(n, 0) for n in set(oracle_failed))
    return attempted, failed, sorted(set(thrown) | set(oracle_failed))


def spread(values):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf
