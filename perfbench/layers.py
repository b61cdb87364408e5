"""The traced phase and the per-layer metrics derived from it.

Layers are the program's modules, named as in the package: `sources`
(csv_loader), `processors` (pipeline.run_pipeline and the chain),
`sampling` (operators.sampling), `index_projection`, `exports`,
`solr_query` (plans.solr_query), `query` (DataFrame construction and
execution of an index read; `store` for point and spatial lookups), `io`
(io.read_table) and `queries` (the registry's spark_fn), plus Spark-wide
job/stage/task/shuffle counts and JVM GC time.

Which end-to-end metric each layer metric should move, and on which
workload (so a change can be checked against the prediction):
  ingest latency_p50_ms    <- sources.*, processors.build_ms/jobs_in_build/
                              python_nodes/python_init_ms, index_projection.*
  ingest throughput_per_s  <- processors.python_compute_ms/bytes_*,
                              sampling.*, exports.*
  ingest index_bytes_per_record <- exports.bytes_written/files_written
  queries latency_p50_ms   <- query.*, store.* (index reads) and io.*
                              (registry); solr_query.translate_ms is the
                              control and should stay negligible
  queries latency_p90_ms   <- jvm.gc_ms, queries.exec_ms
  queries throughput_per_s <- queries.*, spark.*, shuffle.*
Per-op values are means over the ops of the family that calls the layer,
so they add up to the family's time per op; ratios are ratios of sums.
"""

from __future__ import annotations

import statistics

from spans import Tracer, python_totals

# every per-layer metric, in BENCHMARK.json order: name -> unit
PER_LAYER = {
    "sources.build_ms": "ms",
    "sources.jobs": "count",
    "sources.scan_ms": "ms",
    "processors.build_ms": "ms",
    "processors.jobs_in_build": "count",
    "processors.python_nodes": "count",
    "processors.python_init_ms": "ms",
    "processors.python_compute_ms": "ms",
    "processors.python_bytes_sent": "B",
    "processors.python_bytes_received": "B",
    "sampling.build_ms": "ms",
    "sampling.distinct_points_per_record": "ratio",
    "sampling.broadcast_bytes": "B",
    "sampling.broadcast_collect_ms": "ms",
    "index_projection.build_ms": "ms",
    "index_projection.analysis_ms": "ms",
    "index_projection.optimization_ms": "ms",
    "index_projection.planning_ms": "ms",
    "index_projection.codegen_pipeline_ms": "ms",
    "exports.write_ms": "ms",
    "exports.bytes_written": "B",
    "exports.files_written": "count",
    "solr_query.translate_ms": "ms",
    "query.build_ms": "ms",
    "query.analysis_ms": "ms",
    "query.optimization_ms": "ms",
    "query.planning_ms": "ms",
    "query.exec_ms": "ms",
    "query.jobs_per_op": "count",
    "store.rows_scanned_per_result": "ratio",
    "store.bytes_read_per_op": "B",
    "io.read_table_ms": "ms",
    "io.jobs_before_action": "count",
    "queries.build_ms": "ms",
    "queries.analysis_ms": "ms",
    "queries.optimization_ms": "ms",
    "queries.planning_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.python_init_ms": "ms",
    "queries.python_compute_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "shuffle.bytes_written": "B",
    "shuffle.bytes_read": "B",
    "shuffle.fetch_wait_ms": "ms",
    "jvm.gc_ms": "ms",
    "trace.ops": "count",
    "trace.overhead_p50_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.max_unaccounted_pct": "%",
    "warmup.first_quarter_p50_of_kind": "ratio",
    "warmup.last_quarter_p50_of_kind": "ratio",
}

# public functions wrapped in a span wherever the package binds them
WRAPPED = (
    ("biocache_store_spark.operators.sampling", "sample_points", "sampling.build"),
    ("biocache_store_spark.io", "read_table", "io.read_table"),
)
# inputs whose broadcasts belong to a layer (path fragment -> layer)
TAGS = {"el_layers.parquet": "sampling", "cl_layers.parquet": "sampling"}


def instrument(tracer: Tracer):
    """Wrap each WRAPPED function in every loaded module of the package
    that bound it; returns the undo callable."""
    import importlib
    import sys

    undo = []
    for module_name, attr, layer in WRAPPED:
        original = getattr(importlib.import_module(module_name), attr)

        def wrapper(*a, __f=original, __layer=layer, **kw):
            with tracer.layer(__layer):
                return __f(*a, **kw)

        for name, mod in list(sys.modules.items()):
            if name.startswith("biocache_store_spark") and getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapper)
                undo.append((mod, attr, original))

    def restore():
        for mod, attr, original in undo:
            setattr(mod, attr, original)

    return restore


def traced_phase(spark, workload, seconds: float, timed_phase) -> dict:
    tracer = Tracer(spark)
    restore = instrument(tracer)
    gc0 = tracer.gc_ms()
    try:
        ops = timed_phase(spark, workload, tracer, seconds,
                          on_op=getattr(workload, "after_traced_op", None))
    finally:
        restore()
    gc_ms = tracer.gc_ms() - gc0
    tracer.finish(TAGS)
    return {"tracer": tracer, "ops": ops, "gc_ms": gc_ms}


def _unaccounted_pct(tracer: Tracer, op: dict) -> float:
    """|wall - (build + analysis + optimization + planning + exec)| / wall.

    The top-level spans of an op are its build spans, the forced planning
    span and the action span; the planning span is replaced by the Catalyst
    optimization and planning phases, and the analysis phase already sits
    inside the build span (DataFrames analyze as they are built)."""
    top = f"op.{op['kind']}"
    covered = sum(
        (s["end"] - s["start"]) * 1e3
        for s in tracer.spans
        if s["op"] == op["id"] and s["parent"] == top and not s["name"].endswith(".plan")
    )
    covered += sum(v for k, v in op["counts"].items()
                   if k.endswith((".optimization_ms", ".planning_ms")))
    return abs(op["wall_ms"] - covered) / op["wall_ms"] * 100


def per_layer(traced: dict, untraced_ops: list[dict], steady: dict) -> dict[str, tuple[float, str]]:
    """Every PER_LAYER metric. A layer's per-op values are averaged over the
    ops of the family that calls it (publish ops for the ingest layers,
    index reads for solr_query/query/store, registry queries for io and
    queries); Spark-wide counts over every traced op. A layer the workload
    never calls reads 0."""
    tracer: Tracer = traced["tracer"]
    every = tracer.ops
    family = {
        "ingest": [o for o in every if "exports.write_ms" in o["counts"]],
        "index": [o for o in every if "query.exec_ms" in o["counts"]],
        "registry": [o for o in every if "queries.exec_ms" in o["counts"]],
        "all": every,
    }

    def total(key: str, ops) -> float:
        return sum(o["counts"].get(key, 0.0) for o in ops)

    def mean(fam: str, *keys: str) -> float:
        ops = family[fam]
        return sum(total(k, ops) for k in keys) / len(ops) if ops else 0.0

    def py_mean(fam: str, key: str) -> float:
        ops = family[fam]
        return sum(python_totals(o["counts"])[key] for o in ops) / len(ops) if ops else 0.0

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    units = sum(o["units"] for o in traced["ops"] if o["kind"] == "publish")
    store_ops = [o for o in every if o["counts"].get("store.ops")]
    un = [o["s"] * 1e3 for o in untraced_ops]
    tr = [o["s"] * 1e3 for o in traced["ops"]]
    values = {
        "sources.build_ms": mean("ingest", "sources.build_ms"),
        "sources.jobs": mean("ingest", "sources.build.jobs"),
        "sources.scan_ms": mean("ingest", "stage.scan_csv_ms"),
        "processors.build_ms": mean("ingest", "processors.build_ms"),
        "processors.jobs_in_build": mean("ingest", "processors.build.jobs", "sampling.build.jobs"),
        "processors.python_nodes": mean("ingest", "plan.python_nodes"),
        "processors.python_init_ms": py_mean("ingest", "init_ms"),
        "processors.python_compute_ms": py_mean("ingest", "compute_ms"),
        "processors.python_bytes_sent": py_mean("ingest", "bytes_sent"),
        "processors.python_bytes_received": py_mean("ingest", "bytes_received"),
        "sampling.build_ms": mean("ingest", "sampling.build_ms"),
        "sampling.distinct_points_per_record":
            ratio(total("sampling.distinct_points", family["ingest"]), units),
        "sampling.broadcast_bytes": mean("ingest", "sampling.broadcast_bytes"),
        "sampling.broadcast_collect_ms": mean("ingest", "sampling.broadcast_collect_ms"),
        "index_projection.build_ms": mean("ingest", "index_projection.build_ms"),
        "index_projection.analysis_ms": mean("ingest", "index_projection.analysis_ms"),
        "index_projection.optimization_ms": mean("ingest", "index_projection.optimization_ms"),
        "index_projection.planning_ms": mean("ingest", "index_projection.planning_ms"),
        "index_projection.codegen_pipeline_ms": mean("ingest", "plan.codegen_pipeline_ms"),
        "exports.write_ms": mean("ingest", "exports.write_ms"),
        "exports.bytes_written": mean("ingest", "exports.bytes_written"),
        "exports.files_written": mean("ingest", "exports.files_written"),
        "solr_query.translate_ms": mean("index", "solr_query.translate_ms"),
        "query.build_ms": mean("index", "query.build_ms"),
        "query.analysis_ms": mean("index", "query.analysis_ms"),
        "query.optimization_ms": mean("index", "query.optimization_ms"),
        "query.planning_ms": mean("index", "query.planning_ms"),
        "query.exec_ms": mean("index", "query.exec_ms"),
        "query.jobs_per_op": mean("index", "spark.jobs"),
        "store.rows_scanned_per_result": ratio(
            total("plan.scan_parquet.rows", store_ops), total("store.results", store_ops)),
        "store.bytes_read_per_op": ratio(total("input.bytes_read", store_ops), len(store_ops)),
        "io.read_table_ms": mean("registry", "io.read_table_ms"),
        "io.jobs_before_action": mean("registry", "queries.build.jobs", "io.read_table.jobs"),
        "queries.build_ms": mean("registry", "queries.build_ms"),
        "queries.analysis_ms": mean("registry", "queries.analysis_ms"),
        "queries.optimization_ms": mean("registry", "queries.optimization_ms"),
        "queries.planning_ms": mean("registry", "queries.planning_ms"),
        "queries.exec_ms": mean("registry", "queries.exec_ms"),
        "queries.python_init_ms": py_mean("registry", "init_ms"),
        "queries.python_compute_ms": py_mean("registry", "compute_ms"),
        "spark.jobs": mean("all", "spark.jobs"),
        "spark.stages": mean("all", "spark.stages"),
        "spark.tasks": mean("all", "spark.tasks"),
        "shuffle.bytes_written": mean("all", "shuffle.bytes_written"),
        "shuffle.bytes_read": mean("all", "shuffle.bytes_read"),
        "shuffle.fetch_wait_ms": mean("all", "shuffle.fetch_wait_ms"),
        "jvm.gc_ms": ratio(traced["gc_ms"], len(every)),
        "trace.ops": float(len(every)),
        "trace.overhead_p50_ms": statistics.median(tr) - statistics.median(un),
        "trace.overhead_pct":
            (statistics.median(tr) - statistics.median(un)) / statistics.median(un) * 100,
        "trace.max_unaccounted_pct": max(_unaccounted_pct(tracer, o) for o in every),
        "warmup.first_quarter_p50_of_kind": steady["first_quarter_p50_of_kind"],
        "warmup.last_quarter_p50_of_kind": steady["last_quarter_p50_of_kind"],
    }
    return {k: (values[k], unit) for k, unit in PER_LAYER.items()}


def write_trace(traced: dict, path: str) -> None:
    """Spans and per-op counters of the traced phase, as JSON."""
    import json
    import os

    tracer: Tracer = traced["tracer"]
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({
            "spans": [
                {"name": s["name"], "op": s["op"], "parent": s["parent"],
                 "start_ms": (s["start"] - t0) * 1e3, "end_ms": (s["end"] - t0) * 1e3}
                for s in tracer.spans
            ],
            "ops": [
                {"id": o["id"], "kind": o["kind"], "wall_ms": o["wall_ms"],
                 "unaccounted_pct": _unaccounted_pct(tracer, o), "counts": dict(o["counts"])}
                for o in tracer.ops
            ],
        }, fh, indent=1)
