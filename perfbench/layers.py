"""Per-layer metrics of a traced run: one fixed list for every workload.

Layers are the program's modules.  A layer a workload does not call
reads 0 there (for example ``queries.*`` on ``daily_ingest``).  Values
are per-op medians on ``daily_ingest`` (one daily cycle) and sums over
one pass of the registry queries of per-query medians on
``registry_queries``.
"""

from __future__ import annotations

from workloads import REGISTRY

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "sources.readers.build_s": ("s", "lower"),
    "sources.readers.input_rows": ("count", "higher"),
    "sources.readers.input_mb": ("MB", "higher"),
    "sources.readers.corrupt_rows": ("count", "higher"),
    "sources.tables.load_s": ("s", "lower"),
    "sources.tables.load_jobs": ("count", "lower"),
    "operators.validation.build_s": ("s", "lower"),
    "operators.validation.rejected_rows": ("count", "higher"),
    "operators.dedup.build_s": ("s", "lower"),
    "operators.dedup.dropped_rows": ("count", "higher"),
    "sinks.writers.merge_s": ("s", "lower"),
    "sinks.writers.merge_jobs": ("count", "lower"),
    "sinks.writers.merge_stages": ("count", "lower"),
    "sinks.writers.merge_tasks": ("count", "lower"),
    "sinks.writers.merge_task_s": ("s", "lower"),
    "sinks.writers.shuffle_write_mb": ("MB", "lower"),
    "sinks.writers.spill_mb": ("MB", "lower"),
    "sinks.writers.partitions_rewritten": ("count", "lower"),
    "sinks.writers.files_written": ("count", "lower"),
    "sinks.writers.bytes_written_mb": ("MB", "lower"),
    "sinks.writers.rewrite_amp": ("ratio", "lower"),
    "sinks.writers.append_s": ("s", "lower"),
    "sinks.writers.append_jobs": ("count", "lower"),
    "plans.pipeline.run_s": ("s", "lower"),
    "plans.pipeline.jobs": ("count", "lower"),
    "plans.pipeline.stages": ("count", "lower"),
    "plans.pipeline.tasks": ("count", "lower"),
    "plans.pipeline.listing_jobs": ("count", "lower"),
    "plans.pipeline.self_s": ("s", "lower"),
    "plans.pipeline.self_jobs": ("count", "lower"),
    "plans.archive.s": ("s", "lower"),
    "plans.archive.files_moved": ("count", "higher"),
    "plans.archive.failed": ("count", "lower"),
    "operators.caching.cached_mb": ("MB", "lower"),
    "operators.caching.slots": ("count", "lower"),
    "catalog.build_s": ("s", "lower"),
    "catalog.plan_s": ("s", "lower"),
    "catalog.exec_s": ("s", "lower"),
    "catalog.jobs": ("count", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.eager_jobs": ("count", "lower"),
    "queries.plan_s": ("s", "lower"),
    "queries.exec_s": ("s", "lower"),
    "queries.jobs": ("count", "lower"),
    "queries.stages": ("count", "lower"),
    "queries.tasks": ("count", "lower"),
    "queries.task_s": ("s", "lower"),
    "queries.shuffle_mb": ("MB", "lower"),
    "queries.spill_mb": ("MB", "lower"),
    **{f"queries.{q}.{k}": (u, "lower") for q in REGISTRY for k, u in (("s", "s"), ("jobs", "count"))},
    "host.calib_s": ("s", "lower"),
    "trace.op_p50_s": ("s", "lower"),
}


def per_layer(wl, tracer, ops, session_s, calib_s, cached_mb, op_p50_s) -> dict:
    values = dict(wl.layer_metrics(tracer, ops))
    values.update({
        "session.start_s": session_s,
        "operators.caching.cached_mb": cached_mb,
        "operators.caching.slots": len(tracer.slots),
        "host.calib_s": calib_s,
        "trace.op_p50_s": op_p50_s,
    })
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer values without a declared metric: {sorted(unknown)}")
    return {k: {"value": values.get(k, 0), "unit": u} for k, (u, _) in PER_LAYER.items()}


def benchmark_entries() -> list[dict]:
    return [{"name": k, "unit": u, "better": b} for k, (u, b) in PER_LAYER.items()]
