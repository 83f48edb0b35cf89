"""Names and units of the per-layer metrics, and the ``spark.*`` layer
derived from event-log counters. Both workloads report every name in
``PER_LAYER``; a layer a workload never runs reports 0."""

from __future__ import annotations

from perfbench import eventlog

_STREAMING = (
    ("streaming.batches", "count"),
    ("streaming.batch_ms_p50", "ms"),
    ("streaming.batch_ms_p90", "ms"),
    ("streaming.foreach_batch_ms_p50", "ms"),
    ("streaming.jobs_per_batch", "count"),
    ("sources.get_batch_ms_p50", "ms"),
    ("streaming.commit_ms_p50", "ms"),
    ("streaming.query_planning_ms_p50", "ms"),
    ("streaming.input_rows_per_batch", "count"),
    ("streaming.emit_ratio", "ratio"),
    ("state.log_files", "count"),
    ("state.log_bytes", "bytes"),
    ("streaming.out_rows", "count"),
)
PHASES = ("snapshot", "tail")

PER_LAYER: dict[str, str] = {
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    "sources.read_parquet_ms": "ms",
    "sources.read_parquet_calls": "count",
    "operators.action_ms": "ms",
    "operators.action_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.driver_ms": "ms",
    "spark.slot_busy_share": "ratio",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.python_run_ms": "ms",
    "spark.python_bytes_out": "bytes",
    **{f"{p}.{n}": u for p in PHASES for n, u in _STREAMING},
    "gen.late_ms_p99": "ms",
    "gen.backlog_files_max": "count",
    "session.speedup_1_to_n": "ratio",
    "trace.overhead_share": "ratio",
}


def unit(name: str) -> str:
    return PER_LAYER[name]


def spark_layers(totals: dict, wall_ms: float, slots: int) -> dict:
    """The ``spark.*`` metrics of one stretch of work: event-log totals,
    driver time (wall time not covered by any running stage) and the
    share of task slots busy."""
    return {
        "spark.stages": totals["stages"],
        "spark.tasks": totals["tasks"],
        "spark.task_failures": totals["task_failures"],
        "spark.driver_ms": wall_ms - eventlog.union_ms(totals["stage_intervals"]),
        "spark.slot_busy_share": totals["executor_run_ms"] / (wall_ms * slots),
        **{f"spark.{c}": totals[c] for c in (
            "executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "input_bytes", "gc_ms", "python_run_ms", "python_bytes_out")},
    }


def streaming_absent(run) -> None:
    """Report the streaming layers of a workload that runs no stream."""
    for p in PHASES:
        for n, u in _STREAMING:
            run.layer(f"{p}.{n}", 0, u)
