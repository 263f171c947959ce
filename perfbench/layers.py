"""Per-layer metrics of a traced run, named after the engine's modules.

Every value is per pass (per ingest cycle): totals over the traced
passes divided by their number. A layer the workload does not reach
reads 0, e.g. the loop operators on ``telemetry_ingest``.
"""

from __future__ import annotations

from perfbench.counters import (Counters, assign_jobs, driver_gap,
                                job_counters, scan_bytes)
from perfbench.trace import Tracer, self_time

# (module, function) pairs wrapped with a span named after them
OPERATORS = (
    ("dedup", "connected_components"),
    ("graph", "pagerank"),
    ("graph", "pagerank_integer"),
    ("graph", "label_propagation_integer"),
    ("graph", "min_plus_shortest_paths"),
)

# name → (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "plans.registry_load_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.build_self_s": ("s", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "plans.execute_s": ("s", "lower"),
    "plans.query_p50_s": ("s", "lower"),
    **{f"operators.{m}.{f}_{k}": (u, "lower") for m, f in OPERATORS
       for k, u in (("s", "s"), ("jobs", "count"))},
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "tables.input_bytes": ("bytes", "lower"),
    "pipeline.run_pipeline_s": ("s", "lower"),
    "pipeline.run_pipeline_self_s": ("s", "lower"),
    "pipeline.run_jobs": ("count", "lower"),
    "pipeline.run_p50_s": ("s", "lower"),
    "sinks.append_dedup_s": ("s", "lower"),
    "sinks.append_dedup_jobs": ("count", "lower"),
    "sinks.audit_log_run_s": ("s", "lower"),
    "sinks.files_written": ("count", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.planning_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.rows_per_s": ("rows/s", "higher"),
    "main.sql_client_register_s": ("s", "lower"),
    "main.monitoring_p50_s": ("s", "lower"),
    "memory.peak_rss_mb": ("MiB", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.instrument_s": ("s", "lower"),
    "trace.process_cpu_s": ("s", "lower"),
    "trace.spans": ("count", "lower"),
}


def span_metrics(tracer: Tracer, jobs, stages,
                 executions) -> dict[str, float]:
    """Counter and time metrics derived from spans and REST data."""
    per_job = job_counters(jobs, stages)
    assigned = assign_jobs(jobs, tracer.spans)
    passes = tracer.named("pass")
    n = max(len(passes), 1)

    def subtree(span):
        return [span, *tracer.descendants(span)]

    def jobs_in(span):
        return [j for s in subtree(span) for j in assigned[s.id]]

    def counters(spans) -> Counters:
        c = Counters()
        for sp in spans:
            for j in jobs_in(sp):
                c.add(per_job[j.id])
        return c

    def seconds(name):
        return sum(s.duration for s in tracer.named(name)) / n

    def job_count(name):
        return counters(tracer.named(name)).jobs / n

    def self_seconds(name):
        return sum(self_time(s, tracer.children(s))
                   for s in tracer.named(name)) / n

    total = counters(passes)
    ops = [tracer.spans[i] for p in passes for i in p.children]
    m = {
        "plans.build_s": seconds("plans.build"),
        "plans.build_self_s": self_seconds("plans.build"),
        "plans.build_jobs": job_count("plans.build"),
        "plans.execute_s": seconds("plans.execute"),
        "spark.jobs": total.jobs / n,
        "spark.stages": total.stages / n,
        "spark.tasks": total.tasks / n,
        "spark.driver_gap_s": sum(driver_gap(o, jobs_in(o))
                                  for o in ops) / n,
        "spark.shuffle_write_bytes": total.sums["shuffle_write_bytes"] / n,
        "spark.shuffle_read_bytes": total.sums["shuffle_read_bytes"] / n,
        "spark.spill_bytes": (total.sums["memory_spill_bytes"]
                              + total.sums["disk_spill_bytes"]) / n,
        "spark.executor_run_s": total.sums["executor_run_s"] / n,
        "spark.executor_cpu_s": total.cpu_s / n,
        "spark.gc_s": total.sums["gc_s"] / n,
        "tables.input_bytes": sum(scan_bytes(executions, p.start, p.end)
                                  for p in passes) / n,
        "pipeline.run_pipeline_s": seconds("pipeline.run_pipeline"),
        "pipeline.run_pipeline_self_s": self_seconds("pipeline.run_pipeline"),
        "pipeline.run_jobs": job_count("pipeline.run_pipeline"),
        "sinks.append_dedup_s": seconds("sinks.append_dedup"),
        "sinks.append_dedup_jobs": job_count("sinks.append_dedup"),
        "sinks.audit_log_run_s": seconds("sinks.audit_log_run"),
        "main.sql_client_register_s": seconds("main.sql_client"),
        "trace.pass_s": sum(p.duration for p in passes) / n,
        "trace.spans": len(tracer.spans) / n,
    }
    for mod, fn in OPERATORS:
        name = f"operators.{mod}.{fn}"
        m[f"{name}_s"] = seconds(name)
        m[f"{name}_jobs"] = job_count(name)
    return m


def self_times(tracer: Tracer) -> dict[str, float]:
    """Self time per span name (its duration minus its children's),
    per pass: where the wall time of a pass actually went."""
    n = max(len(tracer.named("pass")), 1)
    out: dict[str, float] = {}
    for s in tracer.spans:
        out[s.name] = out.get(s.name, 0.0) + self_time(s, tracer.children(s))
    return {k: v / n for k, v in sorted(out.items())}
