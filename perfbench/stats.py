"""Small statistics and trace-aggregation helpers."""
import statistics


def pct(xs, q):
    """q-th percentile (0..100) by linear interpolation; None if empty."""
    xs = sorted(xs)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs):
    return statistics.median(xs) if xs else None


def self_times(spans):
    """Self time per layer (the span name's prefix before the first '.'):
    a span's duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                end = hi
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def exec_totals(jobs, execs, keep):
    """Sums of the SparkListener job records for which keep(job) holds,
    plus the Catalyst phase times of their SQL executions."""
    jobs = [j for j in jobs if keep(j)]
    t = {k: 0.0 for k in ("jobs", "stages", "tasks", "ms", "task_run_ms",
                          "task_wait_ms", "gc_ms", "shuffle_read_bytes",
                          "shuffle_write_bytes", "spill_bytes", "scan_rows")}
    for j in jobs:
        t["jobs"] += 1
        t["stages"] += j["stages"]
        t["tasks"] += j["tasks"]
        if j["end"] >= j["start"]:
            t["ms"] += j["end"] - j["start"]
        t["task_run_ms"] += j["run_ms"]
        t["task_wait_ms"] += j["wait_ms"]
        t["gc_ms"] += j["gc_ms"]
        t["shuffle_read_bytes"] += j["shuffle_read"]
        t["shuffle_write_bytes"] += j["shuffle_write"]
        t["spill_bytes"] += j["spill"]
        t["scan_rows"] += j["records"]
    ids = {j["exec"] for j in jobs if j["exec"]}
    for phase in ("analysis", "optimization", "planning"):
        t[phase + "_ms"] = sum(e[phase] for e in execs if e["exec"] in ids)
    return t
