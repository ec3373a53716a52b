"""Metric names, units and the per-layer table.

Per-layer names are `<module>.<entry>.<counter>`, where the module is the
package path under `neumann_spark`. Per-call counters are medians over
the entry's calls in the run. A layer the workload does not call reads
0. BENCHMARK.json lists exactly these names (`test_metrics.py` checks).
"""

from __future__ import annotations

from metrics import median

WORKLOADS = ("analytics", "session")

# headline query -> module under neumann_spark that defines it
HEADLINE_MODULES = {
    "q1_pricing_summary": "operators.relational",
    "rel_agg_group_having": "operators.relational",
    "join_multi_q5": "operators.joins",
    "win_topk_per_group": "operators.windows",
    "vector_knn_cosine": "functions.vector",
    "dedup_minhash_lsh": "pipeline.dedup",
    "stream_tumbling_window": "streaming.windows",
    "unified_similar_connected": "unified.entities",
    "text_quality_score": "pipeline.text_queries",
    "graph_bfs_levels": "graph.traversal",
    "graph_pagerank": "graph.algorithms",
    "graph_connected_components": "graph.algorithms",
}
# the ANN search of `analytics`: served from an IVF-PQ index built once
# per checkout and loaded per run, as a deployment serves a saved index
ANN_QUERY = "ann_ivfpq_rescore"
QUERY_MODULES = {**HEADLINE_MODULES, ANN_QUERY: "pipeline.ann"}
ENGINE_READS = ("select", "neighbors", "path", "similar", "find")
ENGINE_WRITES = ("node", "edge", "embed", "insert", "update")

QUERY_COUNTERS = ("wall_s", "jobs", "py4j_calls", "exec_cpu_s",
                  "eff_parallelism", "shuffle_bytes")
READ_COUNTERS = ("wall_s", "jobs", "py4j_calls")
WRITE_COUNTERS = ("wall_s", "jobs")

COUNTER_UNITS = {
    "wall_s": ("s", "lower"), "jobs": ("count", "lower"),
    "py4j_calls": ("count", "lower"), "exec_cpu_s": ("s", "lower"),
    "eff_parallelism": ("ratio", "higher"),
    "shuffle_bytes": ("B", "lower"),
}

END_TO_END = {
    "setup_s": ("s", "lower"),
    "throughput_ops_s": ("ops/s", "higher"),
    "latency_p50_s": ("s", "lower"),
    "latency_tail_s": ("s", "lower"),
}

SCALARS = {
    "engine.cache_hit_ratio": ("ratio", "higher"),
    "engine.wal_bytes_per_write": ("B", "lower"),
    "engine.recover_s": ("s", "lower"),
    "engine.write_latency_p50_s": ("s", "lower"),
    "engine.write_latency_tail_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "catalog.layout_s": ("s", "lower"),
    "graph.model.derive_s": ("s", "lower"),
    "engine.init_s": ("s", "lower"),
    "trace.latency_p50_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "process.live_heap_mb": ("MB", "lower"),
}


def query_entry(query: str) -> str:
    return f"{QUERY_MODULES[query]}.{query}"


def entries() -> dict[str, tuple[str, ...]]:
    """Every traced entry and the counters reported for it."""
    out: dict[str, tuple[str, ...]] = {}
    for q in QUERY_MODULES:
        out[query_entry(q)] = QUERY_COUNTERS
    for r in ENGINE_READS:
        out[f"engine.read.{r}"] = READ_COUNTERS
    for w in ENGINE_WRITES:
        out[f"engine.write.{w}"] = WRITE_COUNTERS
    return out


def per_layer_units() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) for every per-layer metric, in a fixed order."""
    out = {}
    for entry, counters in entries().items():
        for c in counters:
            out[f"{entry}.{c}"] = COUNTER_UNITS[c]
    out.update(SCALARS)
    return out


def per_layer(wl, tracer, start_s: float, setup_parts: dict, reads: dict,
              peak_rss_mb: float, live_heap_mb: float) -> dict[str, float]:
    """Per-layer metrics of a traced run."""
    totals = tracer.stage_totals()
    values: dict[str, float] = {name: 0.0 for name in per_layer_units()}
    for entry, spans in wl.calls.items():
        per_call: dict[str, list[float]] = {}
        for s in spans:
            t = totals.get(tracer.label(s.trace_id, entry))
            call = {"wall_s": s.wall, "py4j_calls": s.py4j_calls,
                    "jobs": t.jobs if t else 0,
                    "exec_cpu_s": t.exec_cpu_s if t else 0.0,
                    "eff_parallelism":
                        (t.exec_run_s if t else 0.0) / s.wall,
                    "shuffle_bytes": t.shuffle_bytes if t else 0}
            for c in entries()[entry]:
                per_call.setdefault(c, []).append(call[c])
        for c, xs in per_call.items():
            values[f"{entry}.{c}"] = median(xs)
    values.update(wl.layer_metrics())
    values["session.start_s"] = start_s
    for name, xs in setup_parts.items():
        values[name] = median(xs)
    values["trace.latency_p50_s"] = reads["p50"]
    values["process.peak_rss_mb"] = peak_rss_mb
    values["process.live_heap_mb"] = live_heap_mb
    return values


def with_units(values: dict[str, float], traced: bool) -> dict:
    units = per_layer_units() if traced else END_TO_END
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {name: {"value": values[name], "unit": units[name][0]}
            for name in units}
