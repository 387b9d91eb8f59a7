"""Turns the JVM result file of one run into the printed metrics.

`percentile` (Harrell-Davis) refuses a percentile that has fewer than
ten samples beyond it; `result_line` refuses to print unless every metric that
BENCHMARK.json lists for the run's mode is present, by name and unit.
"""
import json
import math
import statistics

MIN_BEYOND = 10


def percentile(xs, p):
    """Percentile `p` (0-100) of `xs` by the Harrell-Davis estimator: a
    mean of all order statistics, weighted by the Beta(p(n+1), (1-p)(n+1))
    mass of each one's rank interval, so it does not hang on the one
    sample at the nearest rank. Raises ValueError when fewer than
    MIN_BEYOND samples lie beyond the nearest rank."""
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p} of {n} samples has {n - rank} beyond it; "
                         f"at least {MIN_BEYOND} are needed")
    a, b = p / 100.0 * (n + 1), (1 - p / 100.0) * (n + 1)
    log_norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def mass(i, steps=32):
        # Beta(a, b) mass of ((i-1)/n, i/n], midpoint rule
        h = 1.0 / (n * steps)
        return h * sum(math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_norm)
                       for t in ((i - 1) / n + (k + 0.5) * h for k in range(steps)))

    w = [mass(i) for i in range(1, n + 1)]
    return sum(wi * x for wi, x in zip(w, sorted(xs))) / sum(w)


def load_spec(path):
    with open(path) as f:
        return json.load(f)


def end_to_end(res):
    """The end-to-end metrics of one run (names as in BENCHMARK.json)."""
    v, s = res["values"], res["samples"]
    lat = [x * 1000.0 for x in s["op_s"]]
    return {
        "setup_s": v["setup_s"],
        "latency_p50_ms": percentile(lat, 50),
        "latency_p80_ms": percentile(lat, 80),
        "work_s": v["work_s"],
    }


def per_layer(res):
    """The per-layer metrics of one traced run: Spark's listener totals,
    JVM garbage collection, and the time in the harness's plan-building
    calls."""
    v, spark = res["values"], res["spark"]
    out = {k: spark[k] for k in spark}
    out["jvm.gc_s"] = v["jvm.gc_s"]
    out["bench.build_s"] = sum(sp["end_ms"] - sp["start_ms"] for sp in res["spans"]
                               if sp["name"].endswith(".build")) / 1000.0
    return out


def _pct(xs, p):
    """`percentile`, or None when the run has too few samples for it."""
    try:
        return percentile(xs, p)
    except ValueError:
        return None


def detail(res):
    """The per-module view of one run, kept beside its result: gate
    totals and per-family splits, drain throughputs and the gateway's
    latency. Percentiles a run has too few samples for are None."""
    v, s = res["values"], res["samples"]
    out = {k: x for k, x in v.items()}
    if res["workload"].startswith("gate"):
        q = s["op_s"]
        out.update(gate_total_s=v["work_s"], query_p50_s=_pct(q, 50), query_p80_s=_pct(q, 80),
                   queries_timed=len(q))
        fams = sorted({k.split(".")[1] for k in v if k.startswith("queries.")})
        for f in fams:
            wall = v.get(f"queries.{f}.wall_s")
            if wall:
                parts = sum(v[f"queries.{f}.{k}"] for k in ("build_s", "plan_s", "exec_s"))
                out[f"queries.{f}.parts_over_wall"] = parts / wall
    else:
        out.update(ingest_rows_per_s=statistics.median(s["ingest_rows_per_s"]),
                   promote_rows_per_s=statistics.median(s["promote_rows_per_s"]),
                   **{"api.HttpIngestGateway.post_p50_ms": _pct(s["post_ms"], 50),
                      "api.Via.clusters_ms": statistics.median(s["api.Via.clusters_ms"])})
    out["spark"] = res["spark"]
    return out


def result_line(spec, metrics, correct, attempted, failed, trace):
    """The last stdout line. Every metric BENCHMARK.json lists for this
    mode must be present and finite; a missing one is an error."""
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    out = {}
    for m in listed:
        name = m["name"]
        if name not in metrics:
            raise KeyError(f"metric {name} missing from the run's result")
        value = float(metrics[name])
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite")
        out[name] = {"value": value, "unit": m["unit"]}
    if attempted < 1:
        raise ValueError("a run attempts at least one operation")
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (the benchmark's steadiness measure)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
