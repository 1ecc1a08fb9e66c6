"""Turns one harness report (`result.json`) into the benchmark's metrics."""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile: (value, sample count, samples beyond it)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0, 0
    rank = max(1, math.ceil(p / 100.0 * n))
    return xs[rank - 1], n, n - rank


def self_times(spans):
    """Span id -> duration minus the union of its direct children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                     for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


def check_calls(result, oracle_errors):
    """(attempted, failed, failures by op) over the timed calls of a report.

    A call fails when it threw, when its rows differ from the op's reference
    output, or when that reference output does not match the oracle.
    """
    refs = result["references"]
    calls = result["calls"] + result.get("traced_calls", [])
    failures = {}
    failed = 0
    for c in calls:
        op = c["op"]
        why = None
        if not c["ok"]:
            why = f"threw: {c['error']}"
        elif op not in refs:
            why = "no reference output"
        elif c["digest"] != refs[op]["digest"]:
            why = "rows differ from the first output"
        elif oracle_errors.get(op):
            why = f"oracle mismatch: {oracle_errors[op]}"
        if why:
            failed += 1
            failures.setdefault(op, why)
    return len(calls), failed, failures


def end_to_end(result):
    # A failed call misses every latency limit: it counts as long as the
    # whole timed phase.
    lat = [c["ms"] if c["ok"] else result["timed_ms"] for c in result["calls"]]
    p50, n, _ = percentile(lat, 50)
    p75, _, beyond = percentile(lat, 75)
    ok = sum(1 for c in result["calls"] if c["ok"])
    metrics = {
        "setup_s": (result["setup_ms"] / 1000.0, "s"),
        "wall_s": (statistics.median(result["round_ms"]) / 1000.0, "s"),
        "ops_per_s": (ok / (result["timed_ms"] / 1000.0), "1/s"),
        "latency_p50_ms": (p50, "ms"),
        "latency_p75_ms": (p75, "ms"),
        "peak_rss_mb": (result["vmhwm_kb"] / 1024.0, "MB"),
    }
    notes = {"latency_samples": n, "samples_beyond_p75": beyond,
             "rounds": len(result["round_ms"])}
    return metrics, notes


def per_layer(result, layer_of):
    """Layer metrics of the traced rounds; `layer_of` maps an op to its module."""
    w = result["workload"]
    spans = result["spans"]
    st = self_times(spans)
    calls = result["traced_calls"]
    tallies = result["tallies"]

    def span_ms(name, layer=None):
        return sum(st[s["id"]] for s in spans if s["name"] == name
                   and (layer is None or layer_of(s["op"]) == layer)) / 1e6

    def tally(field, pred=lambda op, phase: True):
        total = 0
        for key, t in tallies.items():
            parts = key.split("|")
            if len(parts) == 3 and parts[0] == w and pred(parts[1], parts[2]):
                total += t[field]
        return total

    is_call = lambda op, phase: phase in ("construct", "plan", "execute")
    constructs = lambda layer: (lambda op, phase: phase == "construct" and layer_of(op) == layer)
    traced_s = result["traced_ms"] / 1000.0
    run_ms = tally("executor_run_ms", is_call)
    join_rows = sum(c["join_rows"] for c in calls if c["join_rows"] > 0)
    result_rows = sum(c["rows"] for c in calls if c["join_rows"] > 0)
    phases = {p: span_ms(p) for p in ("construct", "plan", "execute")}
    total = sum(phases.values()) or 1.0
    untraced = statistics.median(result["round_ms"])
    traced = statistics.median(result["traced_round_ms"])
    boot = result["income_boot_ms"] if result["income_boot_ms"] > 0 else result["income_boot_traced_ms"]
    m = {
        "model.read_ms": (sum(result["model_read_ms"].values()), "ms"),
        "model.read_jobs": (tally("jobs", lambda op, phase: phase == "read"), "count"),
        "pipeline.construct_ms": (span_ms("construct", "pipeline"), "ms"),
        "pipeline.construct_jobs": (tally("jobs", constructs("pipeline")), "count"),
        "operators.construct_ms": (span_ms("construct", "operators"), "ms"),
        "operators.construct_jobs": (tally("jobs", constructs("operators")), "count"),
        "spark.plan_ms": (phases["plan"], "ms"),
        "spark.execute_ms": (phases["execute"], "ms"),
        "spark.jobs": (tally("jobs", is_call), "count"),
        "spark.stages": (tally("stages", is_call), "count"),
        "spark.tasks": (tally("tasks", is_call), "count"),
        "spark.executor_run_ms": (run_ms, "ms"),
        "spark.executor_cpu_ms": (tally("executor_cpu_ms", is_call), "ms"),
        "spark.core_busy_ratio": (run_ms / 1000.0 / (traced_s * result["cores"]), "ratio"),
        "spark.task_wait_ms": (tally("task_wait_ms", is_call), "ms"),
        "spark.shuffle_read_bytes": (tally("shuffle_read_bytes", is_call), "bytes"),
        "spark.shuffle_write_bytes": (tally("shuffle_write_bytes", is_call), "bytes"),
        "spark.spill_bytes": (tally("spill_bytes", is_call), "bytes"),
        "spark.input_bytes": (tally("input_bytes", is_call), "bytes"),
        "spark.task_failures": (tally("failed_tasks", is_call), "count"),
        "operators.join_rows": (join_rows, "count"),
        "operators.yield_ratio": (result_rows / join_rows if join_rows else 0.0, "ratio"),
        "ops.income_boot_ms": (boot, "ms"),
        "jvm.gc_ms": (result["traced_gc_ms"], "ms"),
        "jvm.jit_ms": (result["traced_jvm"]["jit_ms"], "ms"),
        "spark.codegen_compiles": (result["traced_jvm"]["codegen_compiles"], "count"),
        "trace.construct_share": (phases["construct"] / total, "ratio"),
        "trace.plan_share": (phases["plan"] / total, "ratio"),
        "trace.execute_share": (phases["execute"] / total, "ratio"),
        "trace.overhead_ms": (traced - untraced, "ms"),
    }
    notes = {"yield_base_join_rows": join_rows, "yield_result_rows": result_rows,
             "model_read_ms_by_table": result["model_read_ms"],
             "reconcile_ms_by_op": reconcile(result, spans)}
    return m, notes


def reconcile(result, spans):
    """Per op: untraced call time vs traced construct + plan + execute."""
    untraced = {}
    for c in result["calls"]:
        untraced.setdefault(c["op"], []).append(c["ms"])
    parts = {}
    for s in spans:
        if s["name"] in ("construct", "plan", "execute"):
            parts.setdefault(s["op"], 0.0)
            parts[s["op"]] += (s["end_ns"] - s["start_ns"]) / 1e6
    n_traced = {}
    for c in result["traced_calls"]:
        n_traced[c["op"]] = n_traced.get(c["op"], 0) + 1
    out = {}
    for op, xs in untraced.items():
        if op in parts and n_traced.get(op):
            u = statistics.median(xs)
            t = parts[op] / n_traced[op]
            out[op] = {"untraced_ms": round(u, 3), "traced_cpe_ms": round(t, 3),
                       "diff_ms": round(t - u, 3)}
    return out
