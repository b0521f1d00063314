"""Metric names, units and how each is computed from a run.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced run's spans (spans.py). Every per-layer metric is printed on
every workload: a layer the workload bypasses reads 0. perfbench/README.md
records which end-to-end metric each one should move, on which workload.
"""

from __future__ import annotations

import statistics

from workloads import CurationPass

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s"}

# run_etl's stages, by the run_etl functions whose calls make them up
ETL_STAGES = {
    "plan": (
        "read_raw_csv", "clean_customers", "clean_products", "clean_stores",
        "clean_sales_observed", "build_warehouse",
    ),
    "staging": ("write_staging",),
    "warehouse": ("build_warehouse", "save_warehouse"),
    "report": ("validation_report", "write_validation_report"),
}
ETL_STAGE_COUNTERS = {
    "jobs": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "input_rows": "rows",
    "input_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "output_bytes": "bytes",
}
QUERY_PER_OP = {
    "tasks_per_op": "count",
    "executor_run_ms_per_op": "ms",
    "input_bytes_per_op": "bytes",
    "shuffle_bytes_per_op": "bytes",
    "spill_bytes_per_op": "bytes",
}


def _per_layer_units() -> dict[str, tuple[str, str]]:
    """name -> (unit, better), in the order BENCHMARK.json lists them."""
    m = {
        "session.action_floor_ms": ("ms", "lower"),
        "session.gc_ms_per_op": ("ms", "lower"),
        "session.core_busy_frac": ("ratio", "higher"),
        "etl.plan.wall_s": ("s", "lower"),
    }
    for stage in ("staging", "warehouse", "report"):
        m[f"etl.{stage}.wall_s"] = ("s", "lower")
    for stage in ("staging", "warehouse", "report"):
        for key, unit in ETL_STAGE_COUNTERS.items():
            m[f"etl.{stage}.{key}"] = (unit, "lower")
    m["etl.bronze_reads_per_row"] = ("ratio", "lower")
    m["etl.write_bytes_per_input_byte"] = ("ratio", "lower")
    for q in CurationPass.QUERIES:
        m[f"q.{q}.build_s"] = ("s", "lower")
        m[f"q.{q}.exec_s"] = ("s", "lower")
        m[f"q.{q}.jobs"] = ("count", "lower")
    for key, unit in QUERY_PER_OP.items():
        m[f"query.{key}"] = (unit, "lower")
    m["shared_cache.persisted_bytes"] = ("bytes", "lower")
    m["shared_cache.persisted_rdds"] = ("count", "lower")
    m["trace.op_p50_s"] = ("s", "lower")
    return m


PER_LAYER = _per_layer_units()


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(tracer, op_latencies: list[float], action_floor_ms: float,
              bronze_rows: int) -> dict[str, float]:
    """Per-layer values from the traced window: each is the median over
    the window's ops of that op's number."""
    ops = tracer.ops()

    def calls(op, names=None, layer=None):
        return [
            c for c in tracer.calls_of(op)
            if (names is None or c["name"] in names) and (layer is None or c["layer"] == layer)
        ]

    def wall(cs) -> float:
        return sum(c["end"] - c["start"] for c in cs)

    def total(cs, *keys) -> int:
        return sum(c["counters"][k] for c in cs for k in keys)

    v: dict[str, float] = {
        "session.action_floor_ms": action_floor_ms,
        "session.gc_ms_per_op": _median(op["counters"]["gc_ms"] for op in ops),
        "session.core_busy_frac": _median(
            op["counters"]["executor_run_ms"]
            / (1000.0 * (op["end"] - op["start"]) * tracer.cores)
            for op in ops
        ),
    }
    for stage, names in ETL_STAGES.items():
        v[f"etl.{stage}.wall_s"] = _median(wall(calls(op, names, "run_etl")) for op in ops)
        if stage == "plan":
            continue
        for key in ETL_STAGE_COUNTERS:
            v[f"etl.{stage}.{key}"] = _median(
                total(calls(op, names, "run_etl"), key) for op in ops
            )
    etl_ops = [op for op in ops if calls(op, layer="run_etl")]
    v["etl.bronze_reads_per_row"] = _median(
        total(calls(op, layer="run_etl"), "input_rows") / bronze_rows for op in etl_ops
    )
    v["etl.write_bytes_per_input_byte"] = _median(
        total(calls(op, layer="run_etl"), "output_bytes")
        / max(1, total(calls(op, layer="run_etl"), "input_bytes"))
        for op in etl_ops
    )
    for q in CurationPass.QUERIES:
        build = [calls(op, (f"{q}.build",), "query") for op in ops]
        execs = [calls(op, (f"{q}.exec",), "query") for op in ops]
        v[f"q.{q}.build_s"] = _median(wall(cs) for cs in build if cs)
        v[f"q.{q}.exec_s"] = _median(wall(cs) for cs in execs if cs)
        v[f"q.{q}.jobs"] = _median(
            total(b + e, "jobs") for b, e in zip(build, execs) if b or e
        )
    query_ops = [calls(op, layer="query") for op in ops]
    query_ops = [cs for cs in query_ops if cs]
    v["query.tasks_per_op"] = _median(total(cs, "tasks") for cs in query_ops)
    v["query.executor_run_ms_per_op"] = _median(total(cs, "executor_run_ms") for cs in query_ops)
    v["query.input_bytes_per_op"] = _median(total(cs, "input_bytes") for cs in query_ops)
    v["query.shuffle_bytes_per_op"] = _median(total(cs, "shuffle_write_bytes") for cs in query_ops)
    v["query.spill_bytes_per_op"] = _median(
        total(cs, "memory_spill_bytes", "disk_spill_bytes") for cs in query_ops
    )
    v["shared_cache.persisted_bytes"] = _median(op["persisted_bytes"] for op in ops)
    v["shared_cache.persisted_rdds"] = _median(op["persisted_rdds"] for op in ops)
    v["trace.op_p50_s"] = _median(op_latencies)
    return v
