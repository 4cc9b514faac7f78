"""Per-layer metrics of a traced run, from its spans and counters.

Times and counts are means per operation of the traced window (a query,
a crash-and-resume job, or a matching round) unless the name says
otherwise; yields are ratios of window totals; ``*_mismatch``,
``*_fallback``, ``*_queries`` and ``spark.failed_tasks`` are window
totals. A layer the workload does not run reports 0.
"""

from __future__ import annotations

from harness import Tracer

#: layers that own spans inside an operation
LAYERS = ("spatial_join", "image_pipeline", "snapshots", "knn", "range_join", "skew")

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "spatial_join.cover_build_s": "s",
    "spatial_join.cover_cells": "count",
    "spatial_join.boundary_cells": "count",
    "spatial_join.partition_cells": "count",
    "spatial_join.jobs_per_query": "count",
    "spatial_join.exec_s": "s",
    "spatial_join.udf_refine_queries": "count",
    "spatial_join.join_yield": "ratio",
    "spatial_join.footprint_join_s": "s",
    "spatial_join.footprint_yield": "ratio",
    "image_pipeline.decode_s": "s",
    "image_pipeline.images_decoded": "count",
    "image_pipeline.payload_mb": "MB",
    "image_pipeline.phash_mismatch": "count",
    "snapshots.commit_s": "s",
    "snapshots.rows_committed": "count",
    "snapshots.bytes_written_per_row": "bytes",
    "snapshots.remaining_work_s": "s",
    "snapshots.batches_skipped": "count",
    "snapshots.resume_s": "s",
    "knn.join_s": "s",
    "knn.distributed_fallback": "count",
    "range_join.join_s": "s",
    "range_join.pair_yield": "ratio",
    "skew.salted_agg_s": "s",
    "skew.max_over_median_partition_rows": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "request.self_s": "s",
    "trace.probe_s": "s",
    "trace.uncovered_s": "s",
    "trace.overhead_frac": "ratio",
    "scaling.items_per_s_1core": "1/s",
    "scaling.items_per_s_2core": "1/s",
    "scaling.eff": "ratio",
}

#: per-layer metric -> span name whose mean time per operation it reports
SPAN_TIMES = {
    "spatial_join.cover_build_s": "spatial_join.build_aoi_cover",
    "spatial_join.exec_s": "spatial_join.exec",
    "spatial_join.footprint_join_s": "spatial_join.aoi_footprint_join",
    "snapshots.commit_s": "snapshots.append_batch",
    "knn.join_s": "knn.knn_join",
    "range_join.join_s": "range_join.bbox_intersect_join",
    "skew.salted_agg_s": "skew.salted_agg",
}

#: per-layer metric -> counter reported as a mean per operation
PER_OP = {
    "spatial_join.cover_cells": "spatial_join.cover_cells",
    "spatial_join.boundary_cells": "spatial_join.boundary_cells",
    "spatial_join.partition_cells": "spatial_join.partition_cells",
    "image_pipeline.decode_s": "image_pipeline.decode_s",
    "image_pipeline.images_decoded": "image_pipeline.images_decoded",
    "snapshots.rows_committed": "snapshots.rows_committed",
    "snapshots.remaining_work_s": "snapshots.remaining_work_s",
    "snapshots.batches_skipped": "snapshots.batches_skipped",
    "snapshots.resume_s": "snapshots.resume_s",
    "skew.max_over_median_partition_rows": "skew.max_over_median_partition_rows",
    "spark.jobs": "spark.jobs",
    "spark.stages": "spark.stages",
    "spark.tasks": "spark.tasks",
}

#: window totals
TOTALS = {
    "spatial_join.udf_refine_queries": "spatial_join.udf_refine_queries",
    "image_pipeline.phash_mismatch": "image_pipeline.phash_mismatch",
    "knn.distributed_fallback": "knn.distributed_fallback",
    "spark.failed_tasks": "spark.failed_tasks",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer_metrics(
    tr: Tracer, start: float, warm: float, window: float, scaling: dict[int, float]
) -> dict:
    c = tr.counters
    ops = max(c["ops"], 1.0)
    span_total: dict[str, float] = {}
    for s in tr.spans:
        span_total[s["name"]] = span_total.get(s["name"], 0.0) + s["end"] - s["start"]
    self_times = tr.layer_self_times()
    tracing = self_times.get("trace", 0.0)
    values = {
        "session.start_s": start,
        "session.warm_s": warm,
        "spatial_join.jobs_per_query": _ratio(c["spark.jobs"], c["spatial_join.queries"]),
        "spatial_join.join_yield": _ratio(c["spatial_join.rows_joined"], c["spatial_join.rows_scanned"]),
        "spatial_join.footprint_yield": _ratio(
            c["spatial_join.footprint_pairs"], c["spatial_join.footprints_scanned"]
        ),
        "image_pipeline.payload_mb": c["image_pipeline.payload_bytes"] / 1e6 / ops,
        "snapshots.bytes_written_per_row": _ratio(
            c["snapshots.bytes_written"], c["snapshots.rows_committed"]
        ),
        "range_join.pair_yield": _ratio(c["range_join.pairs"], c["range_join.candidates"]),
        "request.self_s": self_times.get("request", 0.0) / ops,
        "trace.probe_s": tracing / ops,
        "trace.uncovered_s": (window - sum(self_times.values())) / ops,
        # the window's time against the same window without tracing's own work
        "trace.overhead_frac": _ratio(tracing, window - tracing),
        "scaling.items_per_s_1core": scaling.get(1, 0.0),
        "scaling.items_per_s_2core": scaling.get(2, 0.0),
        "scaling.eff": _ratio(scaling.get(2, 0.0), 2 * scaling.get(1, 0.0)),
    }
    values.update({k: span_total.get(v, 0.0) / ops for k, v in SPAN_TIMES.items()})
    values.update({k: c[v] / ops for k, v in PER_OP.items()})
    values.update({k: float(c[v]) for k, v in TOTALS.items()})
    values.update({f"{layer}.self_s": self_times.get(layer, 0.0) / ops for layer in LAYERS})
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in PER_LAYER.items()}
