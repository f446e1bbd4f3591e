"""Pure helpers of the benchmark: percentiles, metric names, span self
times and the metric tables. No I/O, no processes; run.py does those."""

import math
import re
import statistics

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

WORKLOADS = ("ta_interactive", "tick_stream", "doc_dedup_ann")

# name -> unit; every workload prints all of them with --trace 0
END_TO_END = {
    "setup_s": "s",
    "first_op_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "rows/s",
    "heap_after_gc_mb": "MB",
}

# name -> unit; every workload prints all of them with --trace 1. Layers a
# workload never enters read 0 there (the predicted-flat side).
PER_LAYER = {
    # self time per layer, ms per traced operation
    "self_ms.client": "ms",
    "self_ms.graft": "ms",
    "self_ms.graft.ta": "ms",
    "self_ms.sql": "ms",
    "self_ms.graft.streaming": "ms",
    "self_ms.graft.extensions": "ms",
    # graft.ta
    "ta.build_ms": "ms",
    "ta.build_calls": "count",
    # Catalyst, on the driver
    "sql.analysis_ms": "ms",
    "sql.optimization_ms": "ms",
    "sql.planning_ms": "ms",
    "sql.codegen_ms": "ms",
    "sql.codegen_classes": "count",
    # scheduler
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.min_tasks_per_stage": "count",
    "exec.task_wait_ms": "ms",
    "driver.self_ms": "ms",
    # graft.functions, through executor time
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    # graft.streaming
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.emit_ratio": "ratio",
    # state store
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_mb": "MB",
    "state.bytes_per_series": "bytes",
    "state.update_ms": "ms",
    "state.commit_ms": "ms",
    # graft.extensions
    "dedup.lsh_ms": "ms",
    "dedup.cluster_ms": "ms",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.pair_yield": "ratio",
    "dedup.planted_recall": "ratio",
    "ann.ivf_build_ms": "ms",
    "ann.ivf_query_ms": "ms",
    "ann.ivf_recall_at_10": "ratio",
    "ann.quant_topk_ms": "ms",
    "ann.quant_overlap_at_10": "ratio",
    "ann.neardup_ms": "ms",
    # graft (session, CacheRegistry)
    "graft.cold_setup_s": "s",
    "graft.session_start_s": "s",
    "graft.ingest_s": "s",
    "cache.persisted_mb": "MB",
    "cache.persisted_rdds": "count",
    # the client and the tracing itself; op_p90_ms rests on fewer than the
    # 100 operations that would put ten samples beyond it, so it is not
    # an end-to-end metric
    "op_p90_ms": "ms",
    "failed_frac": "ratio",
    "trace.op_p50_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.spans_per_op": "count",
}

# span name -> layer; names not listed map by prefix in layer_of
SPAN_LAYER = {
    "op": "client",
    "cache.release": "graft",
    "ta.build": "graft.ta",
    "sql.execute": "sql",
    "stream.add": "graft.streaming",
    "stream.process": "graft.streaming",
}

# per-layer metric -> span whose summed duration it is
SPAN_TIME = {
    "ta.build_ms": "ta.build",
    "dedup.lsh_ms": "dedup.lsh",
    "dedup.cluster_ms": "dedup.cluster",
    "ann.ivf_build_ms": "ann.ivf_build",
    "ann.ivf_query_ms": "ann.ivf_query",
    "ann.quant_topk_ms": "ann.quant_topk",
    "ann.neardup_ms": "ann.neardup",
}

# per-layer metric -> (span count name, scale)
SPAN_COUNT = {
    "sql.analysis_ms": ("analysis_ms", 1.0),
    "sql.optimization_ms": ("optimization_ms", 1.0),
    "sql.planning_ms": ("planning_ms", 1.0),
    "exec.jobs": ("jobs", 1.0),
    "exec.stages": ("stages", 1.0),
    "exec.tasks": ("tasks", 1.0),
    "exec.task_wait_ms": ("task_wait_ms", 1.0),
    "driver.self_ms": ("driver_self_ms", 1.0),
    "exec.task_run_s": ("task_run_ms", 1e-3),
    "exec.task_cpu_s": ("task_cpu_ms", 1e-3),
    "exec.gc_s": ("gc_ms", 1e-3),
    "exec.shuffle_write_mb": ("shuffle_write_b", 1.0 / 1048576),
    "exec.shuffle_read_mb": ("shuffle_read_b", 1.0 / 1048576),
    "exec.spill_mb": ("spill_b", 1.0 / 1048576),
}


def valid_metric_name(name):
    return bool(METRIC_NAME.match(name))


def nearest_rank(values, p):
    """(value, samples strictly beyond its rank) of the p-th percentile by
    the nearest-rank rule; (nan, 0) for no values."""
    if not values:
        return math.nan, 0
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def tail(values, p=90.0, min_beyond=10):
    """The p-th percentile with its sample count n, the number of samples
    beyond it, and whether that meets the at-least-`min_beyond` rule."""
    v, beyond = nearest_rank(values, p)
    return {"value": v, "n": len(values), "beyond": beyond, "ok": beyond >= min_beyond}


def median(values):
    return statistics.median(values) if values else math.nan


def layer_of(span_name):
    if span_name in SPAN_LAYER:
        return SPAN_LAYER[span_name]
    if span_name.startswith(("dedup.", "ann.")):
        return "graft.extensions"
    return "client"


def self_times(spans):
    """Span id -> self time (ms): its duration minus what its children
    cover. Children of one client thread never overlap each other."""
    dur = {s["id"]: s["end_ms"] - s["start_ms"] for s in spans}
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0.0) + dur[s["id"]]
    return {i: max(0.0, d - child.get(i, 0.0)) for i, d in dur.items()}


def span_metrics(spans):
    """Per-layer metrics derivable from the span file alone, each a mean
    per traced operation (an operation is one root span)."""
    roots = [s for s in spans if not s["parent"]]
    n_ops = len(roots)
    out = {}
    if not n_ops:
        return out, 0
    selfs = self_times(spans)
    layers = {}
    for s in spans:
        layer = layer_of(s["name"])
        layers[layer] = layers.get(layer, 0.0) + selfs[s["id"]]
    for key in PER_LAYER:
        if key.startswith("self_ms."):
            out[key] = layers.get(key[len("self_ms."):], 0.0) / n_ops
    for key, name in SPAN_TIME.items():
        out[key] = sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name) / n_ops
    out["ta.build_calls"] = sum(1 for s in spans if s["name"] == "ta.build") / n_ops
    for key, (count, scale) in SPAN_COUNT.items():
        out[key] = sum(s["counts"].get(count, 0.0) for s in spans) * scale / n_ops
    mins = [s["counts"]["min_tasks"] for s in spans if "min_tasks" in s["counts"]]
    out["exec.min_tasks_per_stage"] = min(mins) if mins else 0.0
    out["sql.codegen_ms"] = sum(r["incl"].get("codegen_ms", 0.0) for r in roots) / n_ops
    out["sql.codegen_classes"] = sum(r["incl"].get("codegen_classes", 0.0) for r in roots) / n_ops
    out["trace.spans_per_op"] = len(spans) / n_ops
    return out, n_ops


def end_to_end(raw):
    """name -> {value, unit, n} from an untraced raw result."""
    ops = raw["op_ms"]
    busy_s = sum(ops) / 1e3
    m = {
        "setup_s": (median(raw["setup_s"]), len(raw["setup_s"])),
        "first_op_s": (raw["first_op_s"], 1),
        "op_p50_ms": (median(ops), len(ops)),
        "rows_per_s": (raw["rows"] / busy_s if busy_s > 0 else math.nan, len(ops)),
        "heap_after_gc_mb": (raw["heap_after_gc_mb"], 1),
    }
    return {k: {"value": v, "unit": END_TO_END[k], "n": n} for k, (v, n) in m.items()}


def per_layer(raw, spans):
    """name -> {value, unit, n} from a traced raw result and its spans."""
    vals, n_ops = span_metrics(spans)
    vals.update(raw.get("layer", {}))
    traced, untraced = raw.get("traced_op_ms", []), raw.get("untraced_op_ms", [])
    vals["trace.op_p50_ms"] = median(traced)
    vals["trace.overhead_pct"] = (
        (median(traced) / median(untraced) - 1.0) * 100.0 if traced and untraced else math.nan)
    p90 = tail(raw["op_ms"])
    vals["failed_frac"] = raw["failed"] / raw["attempted"] if raw["attempted"] else math.nan
    out = {k: {"value": vals.get(k, 0.0), "unit": u, "n": n_ops} for k, u in PER_LAYER.items()}
    out["op_p90_ms"].update(value=p90["value"], n=p90["n"], beyond=p90["beyond"])
    return out


def result_line(correct, attempted, failed, metrics):
    """The final stdout object: exactly correct/attempted/failed/metrics,
    each metric exactly value/unit."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }
