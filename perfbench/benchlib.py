"""Pure parts of the benchmark: statistics, span arithmetic, the Spark
layer rules and the host-shape check. No I/O; `tests/` covers each function.
"""
import math

# Percentiles a latency report may use, lowest first.
PERCENTILES = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10

# A stage counts as serial when it ran fewer tasks than there are cores, its
# slowest task took at least this share of the stage's wall time, and its
# tasks together took at least SERIAL_FLOOR_MS (so trivial one-task stages,
# such as a collect of a tiny result, are not flagged).
SERIAL_TASK_SHARE = 0.8
SERIAL_FLOOR_MS = 200


def percentile(values, p):
    """Linear-interpolated percentile `p` (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(rank), math.ceil(rank)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def samples_beyond(n, p):
    """How many of `n` sorted samples lie strictly above percentile `p`."""
    return n - math.floor((n - 1) * p / 100.0) - 1


def highest_tail_percentile(n, candidates=PERCENTILES, min_beyond=MIN_BEYOND):
    """The highest candidate percentile with at least `min_beyond` of `n`
    samples above it, or None when not even the median has."""
    ok = [p for p in candidates if samples_beyond(n, p) >= min_beyond]
    return max(ok) if ok else None


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover. `spans` are dicts with id, parent,
    start_ms and end_ms; returns {id: self_ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo = max(c["start_ms"], cur_end)
            hi = min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def core_util(task_sum_ms, wall_ms, cores):
    """Share of the cores' time spent running tasks."""
    if wall_ms <= 0 or cores <= 0:
        return 0.0
    return task_sum_ms / (wall_ms * cores)


def is_serial_stage(stage, cores, share=SERIAL_TASK_SHARE, floor_ms=SERIAL_FLOOR_MS):
    """The serial-stage rule: fewer tasks than cores, the slowest task takes
    about the stage's wall time, and the task time is above a floor."""
    wall = stage["completed_ms"] - stage["submitted_ms"]
    return (stage["num_tasks"] < cores
            and stage["task_sum_ms"] >= floor_ms
            and wall > 0
            and stage["max_task_ms"] >= share * wall)


def batch_latencies(launch_s, arrivals_s):
    """Serve latencies from the arrival times of the streamed batch lines:
    the cold time (launch to the first batch answered, seconds) and each
    later batch's latency (gap to the previous line, milliseconds)."""
    if not arrivals_s:
        raise ValueError("no batch answered")
    cold = arrivals_s[0] - launch_s
    steady = [(b - a) * 1000.0 for a, b in zip(arrivals_s, arrivals_s[1:])]
    return cold, steady


SHAPE_KEYS = ("nproc", "available_processors", "spark_graft_cpus")


class ShapeMismatch(Exception):
    pass


def shape_of(result):
    host = result["host"]
    return {k: host.get(k) for k in SHAPE_KEYS}


def compare(base, head):
    """Per-metric ratios head/base of two results of one workload. Results
    taken at different core counts are refused."""
    a, b = shape_of(base), shape_of(head)
    if a != b:
        raise ShapeMismatch(f"host shapes differ: {a} vs {b}")
    if base["workload"] != head["workload"]:
        raise ValueError(f"workloads differ: {base['workload']} vs {head['workload']}")
    lines = []
    for name, m in base["metrics"].items():
        if name not in head["metrics"]:
            continue
        x, y = m["value"], head["metrics"][name]["value"]
        ratio = y / x if x else float("nan")
        lines.append(f"{base['workload']} {name}: {x:.6g} -> {y:.6g} {m['unit']} "
                     f"(x{ratio:.3f})")
    return lines
