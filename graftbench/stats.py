"""Pure summary arithmetic of the benchmark: percentiles, span self time,
failure accounting and the per-layer sums over a traced run. Kept free
of I/O so tests/test_stats.py can pin every rule."""
import math
import statistics

MIN_BEYOND = 10  # samples a reported percentile must have above it


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(samples, q=0.9, min_beyond=MIN_BEYOND):
    """The q-th percentile (nearest rank) of ``samples`` if at least
    ``min_beyond`` samples lie above it; otherwise the highest percentile
    that has that many above it. When that percentile would lie below the
    median (fewer than 2 * min_beyond samples), the median (interpolated,
    as ``median``). Returns (value, percentile used, sample count,
    samples above)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return float("nan"), q, 0, 0
    rank = math.ceil(q * n)              # 1-based nearest rank
    if n - rank < min_beyond:
        rank = n - min_beyond
        q = rank / n
    if q < 0.5:
        return median(xs), 0.5, n, n // 2
    return xs[rank - 1], q, n, n - rank


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time (s) of each span id: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
            for c in children.get(s["id"], [])
            if c["end_ns"] > s["start_ns"] and c["start_ns"] < s["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def account(samples):
    """Failure accounting over item samples: every sample is an attempt,
    a failed one (exception, timeout or output mismatch) adds to the
    failures and contributes no latency. Returns (attempted, failed,
    latencies of the items that succeeded)."""
    ok = [s["s"] for s in samples if s["ok"]]
    return len(samples), len(samples) - len(ok), ok


def within(t_ms, spans):
    """Whether an epoch-ms time falls inside any of ``spans``."""
    return any(s["start_ms"] <= t_ms <= s["end_ms"] for s in spans)


def span_seconds(spans, name):
    return sum((s["end_ns"] - s["start_ns"]) / 1e9
               for s in spans if s["name"] == name)


def layer_counts(spans, events):
    """Spark listener totals over ``spans``: jobs by start time, stages
    by completion time and task metrics by finish time."""
    jobs = [j for j in events.get("jobs", []) if within(j[0], spans)]
    tasks = [t for t in events.get("tasks", []) if within(t[0], spans)]
    col = lambda i: sum(t[i] for t in tasks)
    return {
        "jobs": len(jobs),
        "injob_ms": union_length((j[0], j[1]) for j in jobs),
        "stages": sum(1 for t in events.get("stages", []) if within(t, spans)),
        "tasks": len(tasks),
        "run_ms": col(1), "cpu_ns": col(2), "gc_ms": col(3),
        "shuffle_write": col(4), "shuffle_read": col(5), "spill": col(6),
        "input": col(7),
    }
