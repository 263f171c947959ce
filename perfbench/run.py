"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload iterative_loops --seed 1 \
        --seconds 20 --trace 0

Run it from the repository root. It writes only under ``.perfbench/``
there: the DuckDB oracle hashes (computed once), a per-run scratch directory
(removed at the end) and, for traced runs, the span log.

Workloads (closed loop, one client, ``local[nproc]``):

- ``iterative_loops``: one consumer query per iterative operator, in a
  seeded order, each timed through the noop sink;
- ``telemetry_ingest``: cron-style ``run_pipeline`` calls into fresh
  sinks, the reference's monitoring SQL over them, then a
  ``stream_telemetry`` drain of seeded landing files.

With ``--trace 0`` the last line holds the end-to-end metrics: the cold
set-up time, and per pass the executor (task) CPU and shuffle bytes.
Pass and operation latencies, process CPU, bytes scanned and peak RSS
go to the ``perfbench-info`` line instead: on a shared host their
run-to-run spread can exceed any bound a metric may carry. With ``--trace 1`` spans with their own Spark job groups are
recorded around the engine's public functions and the last line holds
the per-layer metrics. The ``perfbench-info`` line before it records
the environment, sample counts, the latency tail, failures and, when
traced, self time per layer.

Exit status: 0 when every output matched, 1 on a mismatch (the result
line is still printed), 2 when the engine cannot be found or a run
fails outright (no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("iterative_loops", "telemetry_ingest")
# a byte copy of the engine's sf0.01 test fixtures (the scale its DuckDB
# oracle sweeps run at), so a bare checkout has them
FIXTURE_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
DRIVER_MEMORY = "2g"      # get_spark's default (24g) exceeds small hosts
DEADLINE_S = 170          # a run that has not finished by then is killed

END_TO_END = {
    "setup_s": "s",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> None:
    """Everything the Spark launch reads, set before it happens."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        # the progress bar interleaves with stdout lines
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run readable over REST
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    submit = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # get_spark defaults to a 24g heap, more than small hosts have
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import the engine from the repository root
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
        # no hsperfdata file in /tmp: the run writes only in the checkout
        "PYSPARK_SUBMIT_ARGS": (f"{submit} --driver-java-options "
                                f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
                                " pyspark-shell"),
    })
    time.tzset()


def start_watchdog() -> threading.Timer:
    def expire():
        from perfbench.spark_app import kill_descendants

        print(f"perfbench: run exceeded {DEADLINE_S}s, aborting",
              file=sys.stderr, flush=True)
        kill_descendants()
        os._exit(2)
    timer = threading.Timer(DEADLINE_S, expire)
    timer.daemon = True
    timer.start()
    return timer


def measure(args, run_dir: str, work_dir: str) -> tuple[dict, dict]:
    from contextlib import ExitStack

    from perfbench import layers, spark_app, stats, workloads
    from perfbench.counters import RestReader, scan_bytes, window_counters
    from perfbench.trace import Tracer

    phases = {"start": time.time()}
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    spark = None
    with ExitStack() as stack:
        tracer = workloads.NullTracer()
        if args.trace:
            tracer = Tracer(run_id)
            # before registry.load_all(), which the set-up runs
            workloads.install_wrappers(tracer, stack)
        try:
            spark, setup = spark_app.set_up(FIXTURE_DIR)
            phases["setup"] = time.time()
            env = spark_app.environment(spark)
            if args.trace:
                tracer.sc = spark.sparkContext
            if args.workload == "iterative_loops":
                out = workloads.run_loop_queries(
                    spark, FIXTURE_DIR, args.seed, args.seconds, tracer,
                    work_dir)
            else:
                out = workloads.run_telemetry_ingest(
                    spark, FIXTURE_DIR, args.seed, args.seconds, tracer,
                    run_dir)
            phases["workload"] = time.time()
            jobs, stages, sql = RestReader(spark.sparkContext).snapshot()
            total = window_counters(jobs, stages, *out.window)
            rss = spark_app.peak_rss_mib()
            phases["counters"] = time.time()
        finally:
            spark_app.stop_spark(spark)
            spark_app.reap()
    phases["stop"] = time.time()

    n = len(out.passes)
    op_p50 = stats.median(out.ops) if out.ops else 0.0
    info = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "env": env, "passes": out.passes,
            "pass_s": stats.median(out.passes), "op_p50_s": op_p50,
            "process_cpu_s": out.cpu_s / n,
            "scan_bytes": scan_bytes(sql, *out.window) / n,
            "peak_rss_mib": rss,
            "op_samples": len(out.ops),
            "op_tail": stats.tail(out.ops),
            "failed_ops_ratio": out.failed / max(out.attempted, 1),
            # seconds spent in each phase of the run, in order
            "phases_s": {k: round(phases[k] - phases[p], 3) for p, k
                         in zip(phases, list(phases)[1:])},
            "errors": out.errors[:20]}
    if not args.trace:
        metrics = {
            "setup_s": setup["setup_s"],
            "executor_cpu_s": total.cpu_s / n,
            "shuffle_write_bytes": total.sums["shuffle_write_bytes"] / n,
        }
        units = END_TO_END
    else:
        metrics = dict.fromkeys(layers.PER_LAYER, 0.0)
        metrics.update({k: setup[k] for k in
                        ("session.start_s", "plans.registry_load_s")})
        metrics.update(layers.span_metrics(tracer, jobs, stages, sql))
        metrics.update(out.layer)
        metrics["memory.peak_rss_mb"] = rss["jvm"] + rss["workers"]
        metrics["trace.process_cpu_s"] = out.cpu_s / n
        metrics["plans.query_p50_s" if args.workload == "iterative_loops"
                else "pipeline.run_p50_s"] = op_p50
        metrics["trace.instrument_s"] = tracer.instrument_s / n
        units = {k: u for k, (u, _) in layers.PER_LAYER.items()}
        info["self_s"] = layers.self_times(tracer)
        trace_dir = os.path.join(work_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        info["spans"] = os.path.relpath(
            os.path.join(trace_dir, f"{run_id}.jsonl"), ROOT)
        tracer.dump(os.path.join(ROOT, info["spans"]))
    result = {
        "correct": not out.errors,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }
    return result, info


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "flight_data_pipeline_spark",
                                       "__init__.py")):
        print("perfbench: the engine package flight_data_pipeline_spark "
              f"is not under {ROOT}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work_dir, "runs", f"{os.getpid()}")
    pin_environment(run_dir)
    watchdog = start_watchdog()
    try:
        result, info = measure(args, run_dir, work_dir)
    except Exception:  # noqa: BLE001 - reported; no result line
        import traceback

        traceback.print_exc()
        return 2
    finally:
        watchdog.cancel()
        shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench-info " + json.dumps(info, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
