"""Pure arithmetic behind the benchmark's metrics, kept free of I/O so
`test_stats.py` can pin it down."""
import math

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def median(values):
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def typical_pass(ops):
    """One typical pass from (name, seconds) of several passes: the sum over
    operations of each one's median, so a pause that hits one operation in
    one pass does not move the figure."""
    by_name = {}
    for name, secs in ops:
        by_name.setdefault(name, []).append(secs)
    return sum(median(v) for v in by_name.values())


def percentile(values, p):
    """Nearest-rank percentile `p` (0 < p < 100) of `values`, which may hold
    `math.inf` for lost records. Returns (value, samples) or None when fewer
    than MIN_BEYOND samples lie beyond the percentile's rank: the tail
    above it would be too thin to mean anything."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return s[rank - 1], n


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
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


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and may stick out of the parent."""
    return (end - start) - union_length(clip(children, start, end))


def driver_gap(start, end, jobs):
    """Wall time of [start, end] during which no Spark job was running."""
    return self_time(start, end, jobs)


def due_latencies(due, arrivals):
    """Latency from each record's due time to its first arrival at the
    sink; a record that never arrived counts as infinitely late."""
    return [arrivals[i] - d if i in arrivals else math.inf for i, d in due.items()]


def slope(samples):
    """Least-squares slope of (t, y) samples, in y per unit of t."""
    n = len(samples)
    if n < 2:
        return 0.0
    mt = sum(t for t, _ in samples) / n
    my = sum(y for _, y in samples) / n
    var = sum((t - mt) ** 2 for t, _ in samples)
    if var == 0:
        return 0.0
    return sum((t - mt) * (y - my) for t, y in samples) / var


def backlog_growing(samples, offered_rate, share=0.25):
    """True when the backlog (records, sampled over time in seconds) grows
    by more than `share` of the offered rate: the pipeline is not keeping
    up, and latency measured at that rate is not a steady-state figure.
    The share leaves room for the saw-tooth of micro-batch admission."""
    return slope(samples) > share * offered_rate


def task_skew(durations):
    """Slowest task over the median task."""
    m = median(durations)
    return max(durations) / m if m > 0 else 1.0
