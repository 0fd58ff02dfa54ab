"""Percentiles, span self time and the printed metric lines."""

import json
import statistics


def percentile(values, p):
    """Linear-interpolated percentile (0..100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n, want=90.0, beyond=10):
    """The highest percentile up to `want` that leaves at least `beyond`
    samples above it, never below the median: a tail is only reported
    where the sample supports it."""
    if n <= 0:
        return 50.0
    return max(50.0, min(want, 100.0 * (1.0 - beyond / n)))


def summarize(values):
    """Median and supported tail of a latency sample, with its counts."""
    n = len(values)
    p = tail_percentile(n)
    tail = percentile(values, p)
    return {"p50": percentile(values, 50), "tail_pct": p, "tail": tail, "n": n,
            "beyond": sum(1 for v in values if v > tail)}


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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
    """A span's duration minus the part of it its children cover (child
    intervals are clipped to the span and overlaps count once)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def quartile_spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def metric_line(name, value, unit, base=None, note=None):
    """One human-readable metric line, printed before the result object."""
    out = f"metric {name} {value!r} {unit}"
    if base is not None:
        out += f" base={base}"
    if note:
        out += f" {note}"
    return out


def parse_metric_line(line):
    """Inverse of `metric_line`: (name, value, unit, base or None)."""
    parts = line.split()
    if len(parts) < 4 or parts[0] != "metric":
        raise ValueError(f"not a metric line: {line!r}")
    base = None
    for p in parts[4:]:
        if p.startswith("base="):
            base = int(p[5:])
    return parts[1], float(parts[2]), parts[3], base


def result_object(correct, attempted, failed, metrics):
    """The contract's last stdout line; `metrics` maps name -> (value, unit)."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }, sort_keys=True)


def parse_result(stdout):
    """The result object from a run's standard output (its last line)."""
    lines = [l for l in stdout.strip().splitlines() if l.strip()]
    obj = json.loads(lines[-1])
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys {sorted(obj)}")
    return obj
