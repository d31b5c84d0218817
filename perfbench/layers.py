"""Names and units of the per-layer metrics a traced run reports.

Layers are the package's modules. Every traced run prints every metric;
a layer its workload never calls reads 0. Values are per round (median
over the run's rounds, all traced). ``trace.round_s`` is the traced round's
wall time, comparable with an untraced run's ``round_wall_p50_s``;
``trace.overhead_s`` is the part of it spent in the tracer itself.
"""

_SPAN12 = (
    ("build_s", "s"), ("build_jobs", "count"), ("plan_s", "s"),
    ("exec_s", "s"), ("driver_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("executor_cpu_s", "s"), ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
)

PER_LAYER: tuple[tuple[str, str], ...] = (
    ("session.start_s", "s"),
    ("config.repository.calls", "count"),
    ("config.repository.time_s", "s"),
    ("config.state.calls", "count"),
    ("config.state.time_s", "s"),
    ("sources.files.calls", "count"),
    ("sources.files.time_s", "s"),
    ("sources.files.jobs", "count"),
    ("pipeline.orchestrator.self_s", "s"),
    ("pipeline.orchestrator.jobs", "count"),
    ("pipeline.orchestrator.executor_run_s", "s"),
    ("sinks.writer.calls", "count"),
    ("sinks.writer.time_s", "s"),
    ("sinks.writer.driver_s", "s"),
    ("sinks.writer.jobs", "count"),
    ("sinks.writer.tasks", "count"),
    ("sinks.writer.executor_run_s", "s"),
    ("sinks.writer.files_written", "count"),
    ("sinks.writer.bytes_written", "B"),
    *((f"catalog.{k}", u) for k, u in _SPAN12),
    *((f"operators.{k}", u) for k, u in _SPAN12),
    ("sinks.txlog.merge_s", "s"),
    ("sinks.txlog.merge_driver_s", "s"),
    ("sinks.txlog.merge_jobs", "count"),
    ("sinks.txlog.merge_tasks", "count"),
    ("sinks.txlog.merge_executor_run_s", "s"),
    ("sinks.txlog.files_added", "count"),
    ("sinks.txlog.files_removed", "count"),
    ("sinks.txlog.bytes_written_per_source_byte", "ratio"),
    ("sinks.txlog.snapshot_s", "s"),
    ("sinks.txlog.read_s", "s"),
    ("sinks.txlog.read_jobs", "count"),
    ("sinks.txlog.read_input_bytes", "B"),
    ("sinks.txlog.live_files", "count"),
    ("sinks.matview.additive_refresh_s", "s"),
    ("sinks.matview.additive_refresh_jobs", "count"),
    ("sinks.matview.recompute_refresh_s", "s"),
    ("sinks.matview.recompute_refresh_jobs", "count"),
    ("sinks.matview.refresh_executor_run_s", "s"),
    ("trace.round_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_pct", "%"),
)
