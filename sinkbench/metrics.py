"""Statistics of one benchmark run, computed from the raw record the
Scala harness writes (samples, listener events, spans).

Pure functions only, so `test_metrics.py` checks the arithmetic without
Spark: the percentile rule, open-loop due-time lateness, freshness and
backlog, and span self time.
"""
import math

# A p90 needs at least this many samples beyond it (so n >= 100).
TAIL_SAMPLES = 10


def pct(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it. Empty input gives NaN."""
    if not values:
        return float("nan")
    s = sorted(values)
    k = max(1, math.ceil(q * len(s)))
    return s[k - 1]


def tail_ok(n, q):
    """Whether n samples support a q-percentile under the rule that at
    least TAIL_SAMPLES samples lie beyond it."""
    return n - max(1, math.ceil(q * n)) >= TAIL_SAMPLES


def lateness(appends):
    """Per append (due, actual, ...): how far behind schedule it went in."""
    return [a[1] - a[0] for a in appends]


def covering_batch(progress, offset):
    """The finished micro-batch whose source range (start, end] holds the
    append with this memory-stream offset, or None."""
    for p in progress:
        if p["start_offset"] < offset <= p["end_offset"]:
            return p
    return None


def batch_end(p):
    return p["start"] + p["durations"].get("triggerExecution", 0) / 1e3


def freshness(appends, progress):
    """Per append: due time -> end of the micro-batch that committed it.
    Appends never committed are returned as None."""
    out = []
    for a in appends:
        p = covering_batch(progress, int(a[2]))
        out.append(None if p is None else batch_end(p) - a[0])
    return out


def backlog_max(appends, progress, t_from, t_to):
    """Max over [t_from, t_to] of rows appended minus rows in finished
    batches, sampled at every append and every batch end."""
    events = [(a[1], a[3]) for a in appends]
    events += [(batch_end(p), -p["rows"]) for p in progress]
    events.sort()
    level, worst = 0.0, 0.0
    for t, d in events:
        level += d
        if t_from <= t <= t_to:
            worst = max(worst, level)
    return worst


def backlog_growth(appends, progress, t_from, t_to):
    """How much the backlog grew over [t_from, t_to]: the backlog right
    after the last batch that ended in the window minus the backlog right
    after the first one. A loop that keeps up stays near 0; one that
    cannot grows by its shortfall."""
    ends = sorted(batch_end(p) for p in progress if t_from <= batch_end(p) <= t_to)
    if len(ends) < 2:
        return 0.0
    return backlog_max(appends, progress, ends[-1], ends[-1]) - \
        backlog_max(appends, progress, ends[0], ends[0])


def late_triggers(progress, interval_s, tol_s=0.05):
    """Batches that started more than tol_s after their trigger tick. The
    processing-time trigger fires on multiples of the interval in epoch
    milliseconds, so the phase is taken on each batch's epoch start
    (`start_ms`), not on the run's own time axis."""
    interval_ms = round(interval_s * 1e3)
    n = 0
    for p in progress:
        phase = p["start_ms"] % interval_ms
        if min(phase, interval_ms - phase) > tol_s * 1e3:
            n += 1
    return n


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it its
    children cover (children overlapping each other count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cov = union_length([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                           s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - cov
    return out


def slope(xs, ys):
    """Least-squares slope of ys against xs (0 for fewer than 2 points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    vx = sum((x - mx) ** 2 for x in xs)
    return 0.0 if vx == 0 else sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / vx
