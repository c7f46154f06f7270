"""Per-layer metrics of the traced run: names, units and meaning.

Every traced run reports every metric below; a layer a workload does not
exercise reads 0 (``streaming.*`` on ``vector_x10``, the batch ``engine.*``
split on ``event_stream``). Batch layer metrics are means per timed
execution; streaming ones are means per micro-batch unless noted.
"""

from __future__ import annotations

PER_LAYER = {
    # set-up, once per run
    "session.get_spark_s": ("s", "get_spark: JVM launch and session build"),
    "session.sizing_s": ("s", "sized_* rules sniffing the fixture dir"),
    "session.fixtures_s": ("s", "fixture generation and copies"),
    "session.warmup_s": ("s", "untimed warm-up tour and output check"),
    "session.residue_files": ("count", "files the package left in the temp dir"),
    # batch, per execution
    "queries.build_s": ("s", "Engine.query self time (builder and analysis)"),
    "io.load_table_calls": ("count", "io.load_table calls"),
    "io.load_table_s": ("s", "time inside io.load_table"),
    "engine.optimize_s": ("s", "Catalyst optimisation of the action"),
    "engine.planning_s": ("s", "Catalyst physical planning of the action"),
    "engine.jobs": ("count", "Spark jobs of the action"),
    "engine.stages": ("count", "stages run (skipped ones excluded)"),
    "engine.tasks": ("count", "tasks run"),
    "engine.job_s": ("s", "union of the action's job spans"),
    "engine.driver_gap_s": ("s", "action time outside any job"),
    "engine.task_s": ("s", "summed executor run time of the tasks"),
    "engine.core_util": ("ratio", "task time / (job time x cores)"),
    "engine.shuffle_write_bytes": ("B", "shuffle bytes written"),
    "engine.shuffle_read_bytes": ("B", "shuffle bytes read"),
    "engine.spill_bytes": ("B", "memory and disk spill"),
    "engine.failed_tasks": ("count", "failed task attempts"),
    "operators.python_nodes": ("count", "plan nodes that run Python workers"),
    "operators.python_run_s": ("s", "time to run Python workers"),
    "operators.python_start_s": ("s", "time to start Python workers"),
    "operators.python_bytes_sent": ("B", "data sent to Python workers"),
    "operators.python_bytes_returned": ("B", "data returned from Python workers"),
    # streaming, per micro-batch
    "streaming.batches": ("count", "micro-batches with input (total)"),
    "streaming.batch_s": ("s", "trigger execution time"),
    "streaming.add_batch_s": ("s", "addBatch: running the batch plan and sink write"),
    "streaming.planning_s": ("s", "query planning"),
    "streaming.offset_commit_s": ("s", "offset WAL and commit log writes"),
    "streaming.latest_offset_s": ("s", "file source listing (latestOffset)"),
    "streaming.state_rows": ("count", "dedup state rows after the last batch"),
    "streaming.state_bytes": ("B", "dedup state memory after the last batch"),
    "streaming.state_commit_s": ("s", "state store commit"),
    "streaming.dedup_useful_ratio": ("ratio", "input rows dropped as duplicates"),
    "streaming.backlog_files_max": ("count", "most published, uncommitted files"),
    "streaming.feeder_late_s": ("s", "latest publish behind schedule (max)"),
    "streaming.drain_events_per_s_local1": ("1/s", "backlog drain under local[1]"),
    "io.sink_bytes": ("B", "parquet sink bytes (total)"),
    # the run as a whole
    "error_ratio": ("ratio", "failed or wrong operations / attempted"),
    "process.peak_rss_mb": ("MB", "peak RSS of driver, JVM and Python workers"),
    "trace.latency_p50_s": ("s", "latency p50 with tracing on"),
    "trace.latency_mean_s": ("s", "latency mean with tracing on"),
    "trace.bookkeeping_s": ("s", "tracker reads between operations (total)"),
    "trace.spans": ("count", "spans recorded"),
}


def unit(name: str) -> str:
    return PER_LAYER[name][0]


def complete(metrics: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric in catalogue order, 0 where not measured."""
    unknown = set(metrics) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics missing from the catalogue: {sorted(unknown)}")
    return {k: float(metrics.get(k, 0.0)) for k in PER_LAYER}
