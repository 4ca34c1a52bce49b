"""Aggregates the harness's raw samples into the benchmark's metrics.

Rule for failures: an op with any failed or wrong-output execution in the
measured passes counts every such execution in `failed` and is left out of
every latency, pass total and CPU figure, so that all passes sum the same
set of ops.
"""
import math


def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def spread(values):
    """(q1, median, q3) of the values."""
    return quantile(values, 0.25), median(values), quantile(values, 0.75)


def timing(samples, phase):
    """End-to-end figures over the samples of one phase.

    Returns a dict with pass_s, op_geomean_s, op_p50_s, op_p90_s, cpu_s,
    rows_per_s (input records the pass's tasks read over the pass's wall
    time, median over passes), their in-run quartiles, the sample counts, and attempted/failed with
    each failing op's first error."""
    mine = [s for s in samples if s["phase"] == phase]
    failed_ops = {}
    for s in mine:
        if s["err"] is not None:
            failed_ops.setdefault(s["op"], s["err"])
    ok = [s for s in mine if s["op"] not in failed_ops]
    out = {"attempted": len(mine), "failed": sum(1 for s in mine if s["err"] is not None),
           "failed_ops": failed_ops, "samples": len(ok)}
    if not ok:
        return out
    passes = sorted({s["pass"] for s in ok})
    pass_wall = [sum(s["wall"] for s in ok if s["pass"] == p) for p in passes]
    pass_cpu = [sum(s["cpu"] for s in ok if s["pass"] == p) for p in passes]
    pass_rate = [sum(s["rows"] for s in ok if s["pass"] == p) / w
                 for p, w in zip(passes, pass_wall)]
    by_op = {}
    for s in ok:
        by_op.setdefault(s["op"], []).append(s["wall"])
    walls = [s["wall"] for s in ok]
    out.update({
        "passes": len(passes),
        "pass_s": median(pass_wall), "pass_s_quartiles": spread(pass_wall),
        "cpu_s": median(pass_cpu), "cpu_s_quartiles": spread(pass_cpu),
        "rows_per_s": median(pass_rate), "rows_per_s_quartiles": spread(pass_rate),
        "op_geomean_s": geomean([median(v) for v in by_op.values()]),
        "op_p50_s": median(walls), "op_p90_s": quantile(walls, 0.9),
        "op_quartiles": spread(walls),
        "op_median_s": {op: median(v) for op, v in sorted(by_op.items())},
    })
    return out


def layers(traces, triggers, timed_pass_s, traced_pass_s):
    """Per-layer figures of a traced phase: each op's mean per pass, and
    the workload's per-pass total (median over traced passes)."""
    per_op = {}
    for t in traces:
        per_op.setdefault(t["op"], []).append(t["m"])
    ops = {}
    for op, recs in per_op.items():
        keys = sorted({k for r in recs for k in r})
        ops[op] = {k: sum(r.get(k, 0.0) for r in recs) / len(recs) for k in keys}
        ops[op]["driver.gap_share"] = ops[op]["driver.gap_s"] / max(ops[op]["op.wall_s"], 1e-9)
    passes = sorted({t["pass"] for t in traces})
    keys = sorted({k for t in traces for k in t["m"]})
    total = {k: median([sum(t["m"].get(k, 0.0) for t in traces if t["pass"] == p)
                        for p in passes]) for k in keys}
    total["driver.gap_share"] = total.get("driver.gap_s", 0.0) / max(total.get("op.wall_s", 0.0), 1e-9)
    total["streaming.trigger_p50_s"] = median(triggers) if triggers else 0.0
    total["streaming.trigger_p90_s"] = quantile(triggers, 0.9) if triggers else 0.0
    total["trace.overhead"] = traced_pass_s / timed_pass_s
    return ops, total


def uncovered(ops):
    """Ops whose trace saw no Spark job or no planned query (neither a
    Catalyst plan nor a streaming trigger)."""
    return sorted(op for op, m in ops.items()
                  if m.get("exec.jobs", 0) == 0
                  or m.get("catalyst.plans", 0) + m.get("streaming.triggers", 0) == 0)
