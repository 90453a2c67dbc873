"""Pure arithmetic of the benchmark: percentiles under the sample-count
rule, the ramp's pass/fail rule and span self-times."""
import math


def median(values):
    v = sorted(values)
    if not v:
        return float("nan")
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def geomean(values):
    """Geometric mean of positive values: every value weighs the same
    in relative terms, however large it is."""
    if not values:
        return float("nan")
    return math.exp(sum(math.log(x) for x in values) / len(values))


def missing_as_inf(values):
    """The values with None (a sample that never completed) as +inf, so
    that it counts as slower than any completed one."""
    return [math.inf if x is None else x for x in values]


def percentile(values, q):
    """Nearest-rank percentile, q in (0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    rank = max(1, math.ceil(q / 100.0 * len(v)))
    return v[rank - 1]


def tail_quantile(n, beyond=10, cap=99.0):
    """The highest percentile (at most `cap`) that still leaves at least
    `beyond` of `n` samples above it; None when n <= beyond."""
    if n <= beyond:
        return None
    # nearest rank k leaves n - k samples above it
    q = 100.0 * (n - beyond) / n
    return min(cap, math.floor(q * 10) / 10.0)


def tail(values, beyond=10, cap=99.0):
    """(percentile used, value) of the tail rule, or (None, max) when
    there are too few samples to have a tail."""
    q = tail_quantile(len(values), beyond, cap)
    if q is None:
        return None, (max(values) if values else float("nan"))
    return q, percentile(values, q)


def step_passes(post_ms, landed_ms, backlog_first, backlog_second, rate,
                hold_s, post_limit_ms=100.0, landed_limit_ms=5000.0):
    """The ramp's limit for one step.

    post_ms / landed_ms: one entry per request of the step, measured
    from its due time; None marks a request that failed or a point that
    never landed, and counts as missing the limit. backlog_first /
    backlog_second: the spool backlog (accepted but not yet landed)
    averaged over the first and the second half of the step; averaging
    over a half makes it independent of where in its micro-batch cycle
    the stream was when sampled. The step passes when POST p99 <=
    post_limit_ms, landed p99 <= landed_limit_ms, and the backlog grew
    by at most a quarter of the arrivals of half a step.
    Returns (passed, reasons).
    """
    reasons = []
    if not post_ms:
        return False, ["no requests"]
    p = percentile(missing_as_inf(post_ms), 99)
    if p > post_limit_ms:
        reasons.append(f"post p99 {p:.1f} ms > {post_limit_ms:.0f}")
    if landed_ms:
        lp = percentile(missing_as_inf(landed_ms), 99)
        if lp > landed_limit_ms:
            reasons.append(f"landed p99 {lp:.1f} ms > {landed_limit_ms:.0f}")
    allowed = max(5.0, 0.25 * rate * hold_s / 2.0)
    if backlog_second - backlog_first > allowed:
        reasons.append(f"backlog grew {backlog_first} -> {backlog_second}")
    return not reasons, reasons


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """A span's duration minus the part of it its children cover;
    children are clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - covered(clipped)
