"""Metric arithmetic of the benchmark: pure functions over numbers and
intervals, kept apart from the runner so the tests can pin them."""
import random
import statistics


def permuted(items, seed):
    """The workload's operations in the order the seed fixes: the same seed
    always gives the same order."""
    out = list(items)
    random.Random(seed).shuffle(out)
    return out


def median(xs):
    return statistics.median(xs)


def tail(samples, beyond=10):
    """The highest percentile that still has at least `beyond` samples above
    it. Returns (value, percentile, sample_count), or None when there are
    too few samples for any such percentile.

    With n samples sorted ascending, the k-th smallest (1-based) has n - k
    samples above it, so the highest qualifying one is k = n - beyond, and
    it is the (100 * k / n)-th percentile."""
    xs = sorted(samples)
    k = len(xs) - beyond
    if k < 1:
        return None
    return xs[k - 1], 100.0 * k / len(xs), len(xs)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
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


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def driver_gap(start, end, jobs):
    """Time inside [start, end] that no job covers: planning, lineage cuts
    and other driver-side work between and around the jobs."""
    return (end - start) - union_length(clip(jobs, start, end))


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover. `spans` maps id -> (parent_id, start, end)."""
    children = {}
    for sid, (parent, s, e) in spans.items():
        if parent is not None:
            children.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - union_length(clip(children.get(sid, []), s, e))
            for sid, (_, s, e) in spans.items()}
