"""Arithmetic of the graft benchmark: turns the runner's raw timings,
spans and task records into the end-to-end and per-layer metrics.
Pure functions on plain lists, tested by test_metrics.py."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, pct):
    """Nearest-rank `pct` percentile of `values`, and how many samples lie
    beyond it. Raises if fewer than ten do: a tail figure needs at least
    ten samples past it to mean anything."""
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    beyond = len(xs) - rank
    if beyond < 10:
        raise ValueError(f"p{pct} of {len(xs)} samples has only {beyond} beyond it")
    return xs[rank - 1], beyond


def batch_growth(durations):
    """Median of the last quarter of `durations` over the median of the
    first quarter (in run order); 1.0 means cost does not grow with the
    state built up by earlier units."""
    q = max(1, len(durations) // 4)
    return median(durations[-q:]) / median(durations[:q])


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` (pairs), clipped to [lo, hi]."""
    total = 0
    end = None
    for a, b in sorted(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def idle_time(op_start, op_end, task_intervals):
    """Time inside [op_start, op_end] during which no task ran."""
    return (op_end - op_start) - union_length(task_intervals, op_start, op_end)


def slot_util(task_time, wall, cores):
    """Share of the executor slots busy: task time / (wall x cores)."""
    return task_time / (wall * cores) if wall > 0 else 0.0


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval covered by its children. `spans` is a list of
    (name, parent_index, start, end); returns one value per span."""
    children = [[] for _ in spans]
    for i, (_, parent, _, _) in enumerate(spans):
        if parent >= 0:
            children[parent].append(i)
    out = []
    for i, (_, _, t0, t1) in enumerate(spans):
        covered = union_length([(spans[c][2], spans[c][3]) for c in children[i]], t0, t1)
        out.append((t1 - t0) - covered)
    return out


def nest(spans, extra):
    """Insert `extra` spans (name, start, end), which have no parent yet,
    under the innermost span of `spans` that contains them. Returns the
    combined list in the (name, parent_index, start, end) form."""
    out = list(spans)
    for name, t0, t1 in extra:
        parent, width = -1, None
        for i, (_, _, a, b) in enumerate(spans):
            if a <= t0 and t1 <= b and (width is None or b - a < width):
                parent, width = i, b - a
        out.append((name, parent, t0, t1))
    return out


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (the benchmark's steadiness figure)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
