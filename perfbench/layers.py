"""Per-layer metrics of a traced run.

Each layer is named by the module it lives in; the span names the
workloads record map onto layers here.  A per-operation value is the
layer's self time (or count) summed over one operation's spans; the
run's value is the median over the traced operations in which the
layer ran, and 0 on a workload where it never runs.  The ``gate.*``
metrics come only from the gate operations (the registered facade
gates, run traced after the timed half of a traced ``serve`` run); all
other metrics come only from client requests.
"""

from __future__ import annotations

from collections import defaultdict

from . import stats
from .serve import FACADE_GATES
from .tracing import Tracer, self_times

LANGS = ("logql", "promql", "traceql")

# layer metric -> unit, in report order
UNITS: dict[str, str] = {}
for _lang in LANGS:
    UNITS[f"{_lang}.parse_ms"] = "ms"
    UNITS[f"{_lang}.compile_ms"] = "ms"
UNITS.update(
    {
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "plan.logical_nodes": "count",
        "plan.exchanges": "count",
        "plan.python_nodes": "count",
        "exec.wall_ms": "ms",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.executor_run_ms": "ms",
        "exec.executor_cpu_ms": "ms",
        "exec.shuffle_bytes": "B",
        "exec.gc_ms": "ms",
        "engine.self_ms": "ms",
        "serializers.fold_ms": "ms",
        "serializers.rows": "count",
        "result_cache.call_ms": "ms",
        "result_cache.jobs": "count",
        "result_cache.hits": "count",
        "result_cache.partial_hits": "count",
        "result_cache.misses": "count",
        "result_cache.hit_ratio": "ratio",
        "result_cache.gap_compiles": "count",
        "result_cache.files": "count",
        "result_cache.bytes": "B",
        "prw.decode_ms": "ms",
        "otlp_pb.decode_ms": "ms",
        "ingest.points": "count",
        "ingest.wire_bytes": "B",
        "registry.merge_ms": "ms",
        "registry.buckets_touched": "count",
        "registry.series": "count",
        "registry.rewrite_amplification": "ratio",
        "store.append_ms": "ms",
        "store.read_ms": "ms",
        "store.files": "count",
        "store.bytes_per_point": "B",
        "stream.overhead_ms": "ms",
        "gate.build_ms": "ms",
        "gate.builder_jobs": "count",
        "gate.exec_ms": "ms",
        "host.calib_ms": "ms",
        "host.calib_end_ms": "ms",
        "trace.overhead_pct": "%",
        "trace.coverage_pct": "%",
    }
)
for _gate in FACADE_GATES:
    UNITS[f"gate.{_gate}_ms"] = "ms"

# span name -> layer metric fed with the span's SELF time
SELF_TIME_LAYERS = {
    "catalyst.analysis": "catalyst.analysis_ms",
    "catalyst.optimization": "catalyst.optimization_ms",
    "catalyst.planning": "catalyst.planning_ms",
    "spark.action": "exec.wall_ms",
    "engine": "engine.self_ms",
    "serializers.fold": "serializers.fold_ms",
}
for _lang in LANGS:
    SELF_TIME_LAYERS[f"{_lang}.parse"] = f"{_lang}.parse_ms"
    SELF_TIME_LAYERS[f"{_lang}.compile"] = f"{_lang}.compile_ms"

# span name -> layer metric fed with the span's full DURATION
DURATION_LAYERS = {
    "result_cache": "result_cache.call_ms",
    "registry.merge": "registry.merge_ms",
    "prw.decode": "prw.decode_ms",
    "otlp_pb.decode": "otlp_pb.decode_ms",
    "store.append": "store.append_ms",
    "store.read": "store.read_ms",
    "gate.build": "gate.build_ms",
    "gate.exec": "gate.exec_ms",
}


def _layer_of(name: str) -> str:
    """Span names carry a detail suffix after a colon
    (``engine:PromQLEngine.query_range``); the layer is the prefix."""
    return name.split(":", 1)[0]


def layer_metrics(tracer: Tracer, extra: dict[str, float]) -> dict[str, float]:
    """Per-layer values of the traced half of a run.  ``extra`` holds
    workload-level readings (cache stats, store sizes, calibration)."""
    selfs = self_times(tracer.spans)
    per_op: dict[str, list[float]] = defaultdict(list)
    for op_idx, rec in enumerate(tracer.ops):
        vals: dict[str, float] = defaultdict(float)
        seen: set[str] = set()
        covered = 0.0
        for i in range(rec.first_span, rec.last_span):
            s = tracer.spans[i]
            if s.op != op_idx:
                continue
            layer = _layer_of(s.name)
            if i != rec.root and layer != "engine":
                # the facade wrapper's own self time is what no probe
                # below it explains, so it does not count as covered
                covered += selfs[i]
            if layer in SELF_TIME_LAYERS:
                m = SELF_TIME_LAYERS[layer]
                vals[m] += selfs[i]
                seen.add(m)
            if layer in DURATION_LAYERS:
                m = DURATION_LAYERS[layer]
                vals[m] += s.duration_ms
                seen.add(m)
                if layer == "result_cache":
                    vals["result_cache.jobs"] += tracer.jobs_within(rec, s)
                    seen.add("result_cache.jobs")
                if layer == "gate.build":
                    vals["gate.builder_jobs"] += tracer.jobs_within(rec, s)
                    seen.add("gate.builder_jobs")
            if layer.endswith(".compile") and s.parent is not None:
                if _layer_of(tracer.spans[s.parent].name) == "result_cache":
                    vals["result_cache.gap_compiles"] += 1
            for key, v in s.attrs.items():
                if key in UNITS or key in ("rewritten_rows", "batch_series"):
                    vals[key] += v
                    seen.add(key)
            if layer == "stream.drain":
                sink = sum(
                    tracer.spans[j].duration_ms
                    for j in range(rec.first_span, rec.last_span)
                    if tracer.spans[j].parent == i
                )
                vals["stream.overhead_ms"] += s.duration_ms - sink
                seen.add("stream.overhead_ms")
        if "result_cache.call_ms" in seen:
            seen.add("result_cache.gap_compiles")
        if vals.get("batch_series"):
            # registry rows rewritten per series the tick's batches carried
            vals["registry.rewrite_amplification"] = vals["rewritten_rows"] / vals["batch_series"]
            seen.add("registry.rewrite_amplification")
        seen -= {"rewritten_rows", "batch_series"}
        if rec.name.startswith("gate:"):
            gate_metric = f"gate.{rec.name.split(':', 1)[-1]}_ms"
            vals[gate_metric] = rec.client_ms
            seen.add(gate_metric)
        for q_func, phases, shape in rec.queries:
            if q_func == "error":
                continue
            for k in ("logical_nodes", "exchanges", "python_nodes"):
                vals[f"plan.{k}"] += shape.get(k, 0)
                seen.add(f"plan.{k}")
        ex = rec.exec
        for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                  "shuffle_bytes", "gc_ms"):
            vals[f"exec.{k}"] = ex.get(k, 0)
            seen.add(f"exec.{k}")
        is_gate = rec.name.startswith("gate:")
        if rec.client_ms > 0 and not is_gate:
            per_op["trace.coverage_pct"].append(100.0 * covered / rec.client_ms)
        for m in seen:
            if is_gate == m.startswith("gate."):
                per_op[m].append(vals[m])
    out = {m: 0.0 for m in UNITS}
    for m, vs in per_op.items():
        out[m] = stats.median(vs)
    out.update(extra)
    return out
