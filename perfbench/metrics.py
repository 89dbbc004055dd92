"""Reductions from a raw run record (written by the JVM harness) to the
benchmark's end-to-end and per-layer metrics. Pure functions, no Spark."""
import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def declared():
    """(end_to_end, per_layer) metric declarations from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def nearest_rank(xs, q):
    """Nearest-rank q-th percentile of sorted `xs` (q in 0..100)."""
    if q <= 0:
        return xs[0]
    return xs[max(0, math.ceil(q / 100 * len(xs)) - 1)]


def _beta_cdf(x, a, b, steps=400):
    """Regularised incomplete beta I_x(a, b), by Simpson's rule on the
    density (a, b >= 1 here, so the density is bounded)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(t):
        if t <= 0.0:
            return 0.0 if a > 1 else math.exp(norm)
        return math.exp(norm + (a - 1) * math.log(t) + (b - 1) * math.log(1 - t))

    h = x / steps
    total = pdf(0.0) + pdf(x)
    for i in range(1, steps):
        total += (4 if i % 2 else 2) * pdf(i * h)
    return min(1.0, total * h / 3)


def hd_median(xs):
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, the weights concentrated around the middle rank. On the few
    and spread-out latencies of one run it moves far less than the single
    middle sample does when one op changes place."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a = b = (n + 1) / 2
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def tail(latencies, beyond=10):
    """(percentile, latency) at the highest whole percentile that still has
    at least `beyond` ops strictly slower than it. A run with too few ops
    for the 50th percentile to qualify reports its median (percentile 50):
    a tail below the median would not be a tail."""
    xs = sorted(latencies)
    for q in range(99, 49, -1):
        v = nearest_rank(xs, q)
        if sum(1 for x in xs if x > v) >= beyond:
            return q, v
    return 50, hd_median(xs)


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def setup_seconds(rec, generate_s):
    """Set-up time: input generation plus every set-up phase of the JVM
    (session start, sync bootstrap, warm-up), a repeated phase counting
    with the median of its repetitions."""
    return generate_s + sum(statistics.median(v) for v in rec["setup"].values())


def end_to_end(rec, workload, setup_s, landed, data_bytes):
    """End-to-end metrics of a run, by name.

    `landed` maps a sync batch to its (rows, bytes); `data_bytes` is the
    size of the tables a query workload reads. For sync, rows_per_s counts
    landed change rows merged and write_amp is snapshot bytes written per
    landed byte; for query workloads they count result rows and result
    bytes written per pass over the input tables' bytes."""
    ops = [o for o in rec["ops"] if o["ok"]]
    # a run whose every op failed is reported incorrect; its timings still
    # print, from the failed ops
    lat = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops or rec["ops"]]
    passes = {}
    for o in rec["ops"]:
        passes.setdefault(o["pass"], []).append(o)
    pass_wall = [(max(o["end_ms"] for o in p) - min(o["start_ms"] for o in p)) / 1e3
                 for p in passes.values()]
    pct, tail_s = tail(lat)
    written = sum(o.get("bytes_written", 0) for o in ops)
    if workload == "sync":
        rows = sum(landed[o["name"]][0] for o in ops)
        write_amp = written / max(1, sum(landed[o["name"]][1] for o in ops))
    else:
        rows = sum(o.get("rows", 0) for o in ops)
        write_amp = written / len(passes) / max(1, data_bytes)
    m = {
        "wall_s": statistics.median(pass_wall),
        "op_p50_s": hd_median(lat),
        "op_tail_s": tail_s,
        "rows_per_s": rows / max(sum(lat), 1e-9),
        "write_amp": write_amp,
        "setup_s": setup_s,
        "peak_rss_mb": rec["vm_hwm_kb"] / 1024,
    }
    extra = {"op_tail_pct": pct, "passes": len(passes), "ops": len(rec["ops"])}
    return m, extra


def assemble(values, declared):
    """The result's `metrics` object: every declared metric, in declared
    order, with its unit. A declared metric without a value is an error."""
    return {d["name"]: {"value": float(values[d["name"]]), "unit": d["unit"]}
            for d in declared}
