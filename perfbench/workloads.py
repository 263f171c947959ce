"""The benchmark's workloads: a closed loop with one client.

``iterative_loops`` runs the seeded order of ``inputs.LOOP_QUERIES``
through the noop sink, one pass after another; ``telemetry_ingest`` runs one
cron-style cycle per pass into fresh sinks: pipeline runs, the
reference's monitoring SQL over those sinks, then a stream drain of
the landing directory. Passes repeat until ``seconds`` of measuring
would be exceeded; at least one always runs.

Outputs are checked after the timed region, never inside it.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import ExitStack, nullcontext
from dataclasses import dataclass, field

from perfbench import checks, inputs
from perfbench.layers import OPERATORS
from perfbench.spark_app import tree_cpu_s
from perfbench.trace import Tracer, patched

# monitoring SQL of the reference: its run-status breakdown, verbatim
# from docs/GITHUB_ACTIONS_SETUP.md, and its view_daily_cleanliness
MONITORING = (
    ("status_pct", """SELECT
  status,
  COUNT(*) as count,
  ROUND(100.0 * COUNT(*) / (SELECT COUNT(*) FROM etl_runs), 1) as pct
FROM etl_runs
GROUP BY status;"""),
    ("daily_cleanliness", "SELECT * FROM view_daily_cleanliness"),
)


@dataclass
class Outcome:
    """What a workload measured and checked."""
    passes: list[float] = field(default_factory=list)
    ops: list[float] = field(default_factory=list)    # op latencies, s
    attempted: int = 0
    errors: list[str] = field(default_factory=list)
    failed_ops: set = field(default_factory=set)
    window: tuple[float, float] = (0.0, 0.0)
    cpu_s: float = 0.0                                 # JVM + workers
    layer: dict[str, float] = field(default_factory=dict)

    def fail(self, msg: str, op=None) -> None:
        """Record a failure of operation ``op`` (default: its own)."""
        self.errors.append(msg)
        self.failed_ops.add(op if op is not None else len(self.errors))

    @property
    def failed(self) -> int:
        return min(len(self.failed_ops), self.attempted)


class NullTracer:
    """Tracing off: no spans, no job groups, nothing installed."""

    def span(self, name, label=""):
        return nullcontext()


def install_wrappers(tracer: Tracer, stack: ExitStack) -> None:
    """Wrap the public functions each layer is measured at. Plan
    functions import operators at call time, so module attributes
    patched here are what they call."""
    import importlib

    import flight_data_pipeline_spark.__main__ as main_mod
    from flight_data_pipeline_spark import sinks

    for mod, fn in OPERATORS:
        module = importlib.import_module(
            f"flight_data_pipeline_spark.operators.{mod}")
        stack.enter_context(patched(
            module, fn, tracer.wrap(getattr(module, fn),
                                    f"operators.{mod}.{fn}")))
    stack.enter_context(patched(
        sinks.TelemetrySink, "append_dedup",
        tracer.wrap(sinks.TelemetrySink.append_dedup, "sinks.append_dedup")))
    stack.enter_context(patched(
        sinks.AuditSink, "log_run",
        tracer.wrap(sinks.AuditSink.log_run, "sinks.audit_log_run")))
    stack.enter_context(patched(
        main_mod, "sql_client",
        tracer.wrap(main_mod.sql_client, "main.sql_client")))


def _keep_going(started: float, passes: list[float], seconds: float) -> bool:
    elapsed = time.time() - started
    return elapsed + statistics.median(passes) <= seconds


def run_loop_queries(spark, fixture_dir: str, seed: int, seconds: float,
                     tracer, cache_dir: str) -> Outcome:
    from flight_data_pipeline_spark.plans import registry

    order = inputs.query_order(seed)
    oracles = checks.oracle_hashes(fixture_dir, cache_dir, order,
                                   registry.ORACLE_SQL)
    out = Outcome()
    frames = []                     # ((pass, query), DataFrame)
    started, cpu0 = time.time(), tree_cpu_s()
    while True:
        spark.catalog.clearCache()
        p0 = time.time()
        with tracer.span("pass"):
            for name in order:
                out.attempted += 1
                o0 = time.perf_counter()
                try:
                    with tracer.span("query", name):
                        with tracer.span("plans.build", name):
                            df = registry.QUERIES[name](spark, fixture_dir)
                        with tracer.span("plans.execute", name):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - counted, run goes on
                    out.fail(f"{name} raised {type(e).__name__}: {e}"[:300],
                             (len(out.passes), name))
                    continue
                out.ops.append(time.perf_counter() - o0)
                frames.append(((len(out.passes), name), df))
        out.passes.append(time.time() - p0)
        if not _keep_going(started, out.passes, seconds):
            break
    out.window = (started, time.time())
    out.cpu_s = tree_cpu_s() - cpu0
    # untimed: collect every timed frame again and compare with DuckDB
    for op, df in frames:
        name = op[1]
        try:
            err = checks.check_query(name, df.toPandas(), oracles)
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            err = f"{name} check raised {type(e).__name__}: {e}"[:300]
        if err:
            out.fail(err, op)
    return out


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink, skipping markers and checksums."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def run_telemetry_ingest(spark, fixture_dir: str, seed: int, seconds: float,
                         tracer, run_dir: str) -> Outcome:
    import flight_data_pipeline_spark.__main__ as main_mod
    from flight_data_pipeline_spark.catalog import create_daily_cleanliness_view
    from flight_data_pipeline_spark.pipeline import run_pipeline
    from flight_data_pipeline_spark.sinks import AuditSink, TelemetrySink
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        stream_telemetry)

    plan = inputs.ingest_plan(seed)
    out = Outcome()
    cycles = []
    started, cpu0 = time.time(), tree_cpu_s()
    while True:
        d = os.path.join(run_dir, f"cycle-{len(cycles)}")
        paths = {k: os.path.join(d, k) for k in
                 ("telemetry", "audit", "landing", "stream_telemetry",
                  "stream_audit", "checkpoint")}
        inputs.write_landing(plan, paths["landing"])
        cycle = {"paths": paths, "runs": [], "monitoring": {}, "mon_s": []}
        p0 = time.time()
        with tracer.span("pass"):
            for run in plan.runs:
                out.attempted += 1
                o0 = time.perf_counter()
                with tracer.span("pipeline.run_pipeline", run.kind):
                    try:
                        res = run_pipeline(
                            spark, lambda r=run: r.intensity,
                            lambda r=run: r.mix, paths["telemetry"],
                            paths["audit"], sleep=lambda s: None)
                    except Exception as e:  # noqa: BLE001 - counted
                        res = None
                        out.fail(f"run_pipeline raised {e}"[:300],
                                 (len(cycles), run.kind))
                out.ops.append(time.perf_counter() - o0)
                cycle["runs"].append(res)
            for name, sql in MONITORING:
                out.attempted += 1
                m0 = time.perf_counter()
                try:
                    with tracer.span("main.monitoring", name):
                        if name == "daily_cleanliness":
                            create_daily_cleanliness_view(spark)
                        rows = main_mod.sql_client(
                            spark, sql, fixture_dir, paths["telemetry"],
                            paths["audit"]).collect()
                except Exception as e:  # noqa: BLE001 - counted
                    out.fail(f"monitoring {name} raised {e}"[:300],
                             (len(cycles), name))
                    continue
                cycle["mon_s"].append(time.perf_counter() - m0)
                cycle["monitoring"][name] = [r.asDict() for r in rows]
            out.attempted += 1
            s0 = time.perf_counter()
            cycle["progress"] = []
            try:
                with tracer.span("streaming.drain"):
                    query = stream_telemetry(
                        spark, paths["landing"], paths["stream_telemetry"],
                        paths["stream_audit"], paths["checkpoint"])
                    query.awaitTermination(120)
                if query.isActive or query.exception() is not None:
                    query.stop()
                    raise RuntimeError(f"did not drain: {query.exception()}")
                cycle["progress"] = query.recentProgress
            except Exception as e:  # noqa: BLE001 - counted
                out.fail(f"stream {e}"[:300], (len(cycles), "stream"))
            cycle["stream_s"] = time.perf_counter() - s0
        out.passes.append(time.time() - p0)
        cycles.append(cycle)
        if not _keep_going(started, out.passes, seconds):
            break
    out.window = (started, time.time())
    out.cpu_s = tree_cpu_s() - cpu0

    # untimed: sinks, audit rows, monitoring results and stream counts
    mon_s, files, size = [], 0, 0
    for c in cycles:
        p = c["paths"]
        errs = checks.check_runs(plan, c["runs"])
        tele = [r.asDict() for r in TelemetrySink(spark, p["telemetry"])
                .read().collect()]
        audit = [r.asDict() for r in AuditSink(spark, p["audit"])
                 .read().collect()]
        errs += checks.check_sinks(plan, tele, audit)
        if len(c["monitoring"]) == len(MONITORING):
            errs += checks.check_monitoring(plan, c["monitoring"])
        stream_rows = spark.read.parquet(p["stream_telemetry"]).count() \
            if os.path.isdir(p["stream_telemetry"]) else 0
        stream_audit = [r.asDict() for r in AuditSink(
            spark, p["stream_audit"]).read().collect()]
        errs += checks.check_stream(plan, stream_rows, stream_audit)
        for e in errs:
            out.fail(e)
        mon_s += c["mon_s"]
        for k in ("telemetry", "audit", "stream_telemetry", "stream_audit"):
            n, b = _dir_files(p[k])
            files += n
            size += b
    n = len(cycles)
    progress = [pr for c in cycles for pr in c["progress"]]

    def progress_s(key):
        return sum(pr["durationMs"].get(key, 0) for pr in progress) / 1e3 / n

    stream_s = sum(c["stream_s"] for c in cycles)
    out.layer = {
        "sinks.files_written": files / n,
        "sinks.bytes_written": size / n,
        "streaming.batches": len(progress) / n,
        "streaming.add_batch_s": progress_s("addBatch"),
        "streaming.planning_s": progress_s("queryPlanning"),
        "streaming.wal_commit_s": progress_s("walCommit"),
        "streaming.rows_per_s": sum(pr["numInputRows"] for pr in progress)
        / stream_s,
        "main.monitoring_p50_s": statistics.median(mon_s) if mon_s else 0.0,
    }
    return out
