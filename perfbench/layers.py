"""The per-layer metrics a traced (--trace 1) run reports.

Every workload reports every name; a layer the workload does not run
reads 0.  Times and counts are per unit of work: per panel query
(dashboard), per curate call (curate), per micro-batch (live_tally).
"""

from __future__ import annotations

# name -> (unit, better)
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "sources.load_calls": ("count", "lower"),
    "sources.load_s": ("s", "lower"),
    "sources.load_jobs": ("count", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "plans.plan_s": ("s", "lower"),
    "operators.exec_s": ("s", "lower"),
    "operators.exec_jobs": ("count", "lower"),
    "operators.exec_stages": ("count", "lower"),
    "operators.exec_tasks": ("count", "lower"),
    "operators.shuffle_write_bytes": ("bytes", "lower"),
    "operators.spill_bytes": ("bytes", "lower"),
    "operators.storage_peak_bytes": ("bytes", "lower"),
    "functions.udf_rows": ("count", "lower"),
    "functions.udf_s": ("s", "lower"),
    "curate.call_s": ("s", "lower"),
    "curate.jobs": ("count", "lower"),
    "curate.stages": ("count", "lower"),
    "curate.written_bytes": ("bytes", "lower"),
    "streaming.batch_ms_p50": ("ms", "lower"),
    "streaming.source_ms": ("ms", "lower"),
    "streaming.plan_ms": ("ms", "lower"),
    "streaming.exec_ms": ("ms", "lower"),
    "streaming.commit_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_bytes": ("bytes", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.state_instances": ("count", "lower"),
    "streaming.rows_dropped_by_watermark": ("count", "lower"),
    "streaming.serial_drain_rows_per_s": ("1/s", "higher"),
    "session.start_s": ("s", "lower"),
    "generator.late_p99_ms": ("ms", "lower"),
    "generator.backlog_files_end": ("count", "lower"),
    "trace.unit_wall_s": ("s", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}


def layer_metrics(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric with its unit; absent layers read 0."""
    unknown = set(values) - set(LAYER_METRICS)
    if unknown:
        raise KeyError(f"not per-layer metrics: {sorted(unknown)}")
    return {
        name: (float(values.get(name, 0.0)), unit)
        for name, (unit, _better) in LAYER_METRICS.items()
    }
