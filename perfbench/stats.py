"""The benchmark's own math: percentiles, the tail choice, self times,
spreads and the compare verdict. Pure functions, tested in test_stats.py."""

import math
import statistics

# Candidate tail percentiles, highest first; steps of 5 below p95 so a
# run of a few dozen samples still reports a tail above its median.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 65.0, 60.0, 55.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, min_beyond=10):
    """The highest candidate percentile with at least `min_beyond` of n
    samples beyond it; the median when n is too small for any."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= min_beyond:
            return p
    return 50.0


def tail(values, n_ref=None, min_beyond=10):
    """The tail of `values`: (percentile, value, samples beyond). The
    percentile is chosen for `n_ref` samples (default: all of them), so a
    run that fits in more sweeps than the guaranteed minimum reports the
    same percentile."""
    p = tail_percentile(len(values) if n_ref is None else min(n_ref, len(values)), min_beyond)
    return p, percentile(values, p), beyond(len(values), p)


def quiet_sweeps(sweeps, max_steal_pct, min_sweeps):
    """The sweeps the host did not disturb: host steal at most
    `max_steal_pct`. If fewer than `min_sweeps`, the `min_sweeps` with the
    least steal, so every run keeps as many samples."""
    quiet = [s for s in sweeps if s["steal_pct"] <= max_steal_pct]
    if len(quiet) < min_sweeps:
        quiet = sorted(sweeps, key=lambda s: s["steal_pct"])[:min_sweeps]
    return quiet


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    """A span's duration minus the part of its interval its children cover.
    `span` and each child are (start, end); children are clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def pairs_won(parent, change, better):
    """Share of run pairs (i-th parent run with i-th change run) in which
    the change reads better. Ties count for neither side."""
    pairs = list(zip(parent, change))
    if not pairs:
        return 0.0
    sign = 1 if better == "higher" else -1
    won = sum(1 for p, c in pairs if (c - p) * sign > 0)
    return won / len(pairs)


def verdict(parent, change, better, bound):
    """Compare runs of a change with runs of its parent for one metric.

    - unresolved: the parent's own spread exceeds the bound, unless every
      change run reads better than every parent run (then improved);
    - improved: the change wins at least nine tenths of the pairs and the
      medians differ, in the better direction, by more than the parent's
      inter-quartile distance;
    - worse: the change's median is worse than the parent's by more than
      the bound (a share of the parent's median);
    - within bound: otherwise.
    """
    sign = 1 if better == "higher" else -1
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = quartiles(change)[1]
    all_better = (min(change) > max(parent)) if sign > 0 else (max(change) < min(parent))
    if spread(parent) > bound:
        return "improved" if all_better else "unresolved"
    gain = (c_med - p_med) * sign
    if pairs_won(parent, change, better) >= 0.9 and gain > (p_q3 - p_q1):
        return "improved"
    if -gain > bound * abs(p_med):
        return "worse"
    return "within bound"
