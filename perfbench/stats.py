"""Turns the JVM's raw samples into the benchmark's metrics."""
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of the
    values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values):
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2.0


def self_times(spans):
    """Self time of each span, in seconds: its duration minus the part of
    its interval that its child spans cover. Returns {span id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered, cursor = 0, start
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cursor), min(c["end_ns"], end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (end - start - covered) / 1e9
    return out


def self_time_by_name(spans):
    """Self seconds summed per span name."""
    own = self_times(spans)
    totals = {}
    for s in spans:
        totals[s["name"]] = totals.get(s["name"], 0.0) + own[s["id"]]
    return totals


def end_to_end(raw, workload):
    """The end-to-end metrics of one untraced run."""
    if workload == "feature_stream":
        latencies = raw["latency_ms"]
    else:
        # each query's median over the measured passes, so one slow pass
        # does not move a query's rank
        per_query = {}
        for p in raw["passes"]:
            if p["kind"] == "warm":
                for name, s in p["queries"].items():
                    per_query.setdefault(name, []).append(s * 1000.0)
        latencies = [median(v) for v in per_query.values()]
    return {
        "setup_s": raw["session_s"] + median(raw["setup_s"]),
        "cold_s": raw["cold_s"],
        "warm_s": median(raw["warm_s"]),
        "latency_ms_p50": percentile(latencies, 50),
        "latency_ms_p90": percentile(latencies, 90),
        "peak_heap_mb": raw["peak_heap_mb"],
    }


def per_layer(raw):
    """The per-layer metrics of one traced run. Its warm passes come in
    pairs of one traced and one untraced pass; the tracing overhead is the
    median of the pairs' differences over the median untraced pass."""
    out = dict(raw["layers"])
    traced, plain = raw["traced_warm_s"], raw["warm_s"]
    out["tasks.busy_ratio"] = (out.get("tasks.run_ms", 0.0)
                               / (median(traced) * 1000.0 * raw["cores"]))
    for name, sample in raw.get("functions", {}).items():
        out[name] = sample["rows"] / median(sample["seconds"])
    out["trace.warm_s"] = median(traced)
    out["trace.untraced_warm_s"] = median(plain)
    out["trace.overhead_pct"] = (median([t - u for t, u in zip(traced, plain)])
                                 / median(plain) * 100.0)
    out["trace.spans"] = len(raw["spans"])
    return out
