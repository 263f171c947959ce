#!/usr/bin/env python
"""Per-query Spark profile: after bench.py's warm-up family, run each
named query once through the noop sink under its own job group and
print one JSON line per query, then a summary line:

    wall_sec        the run's wall time
    n_jobs          jobs the run submitted
    n_stages        stages it executed (skipped stages not counted)
    n_tasks         tasks of those stages
    stage_wall_sec  sum of stage durations (first task launch to end)
    task_time_sec   sum of executor run time over the tasks
    driver_gap_sec  wall minus the union of the run's job intervals:
                    driver-side planning and scheduling no job covers
    shuffle_write_bytes, shuffle_read_bytes
                    shuffle bytes those stages wrote and read

Counters and REST timestamps come from ``perfbench.counters``.

    python scripts/query_profile.py [--jobs] [--plans DIR] [--loop-plans DIR] <query>...

``--jobs`` also prints, after each query's line, one JSON line per job
it submitted: job id, stages, tasks, executor CPU seconds (task CPU
plus task deserialization CPU, the benchmark's ``executor_cpu_s``) and
shuffle write bytes. A job that costs seconds of CPU for little data
shows up there without the Spark UI.

``--plans DIR`` also writes each query's formatted physical plan to
``DIR/<query>.txt``. ``--loop-plans DIR`` points
``$SPARK_GRAFT_LOOP_PLAN_DIR`` at ``DIR/<query>/`` while that query
runs, so the iterative operators write their round-1 loop-body plans
there (see ``session.dump_loop_plan``); the variable is restored
afterwards even when the query fails.

Run from the repo root: Spark's Python workers inherit the working
directory and must import the engine. Reads $SPARK_GRAFT_SF_DIR and
$SPARK_GRAFT_CPUS with bench.py's defaults.
"""
import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flight_data_pipeline_spark.session import get_spark  # noqa: E402
from perfbench.counters import (RestReader, driver_gap,  # noqa: E402
                                job_counters, parse_time)
from perfbench.trace import Span  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LOOP_PLAN_ENV = "SPARK_GRAFT_LOOP_PLAN_DIR"


def stage_wall(stages: list[dict], ids: set[int]) -> float:
    """Summed durations of the executed stages among ``ids``."""
    return sum(parse_time(s["completionTime"])
               - parse_time(s["firstTaskLaunchedTime"])
               for s in stages
               if s["stageId"] in ids and s["status"] == "COMPLETE")


def write_plan(spark, df, path: str) -> None:
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    with open(path, "w") as f:
        f.write(plan.strip() + "\n")


def main(argv: list[str] | None = None, spark=None) -> None:
    """Profile the queries named in ``argv`` (default: the command
    line) on ``spark``, else on a session of its own."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--jobs", action="store_true")
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--loop-plans", metavar="DIR")
    args = ap.parse_args(argv)

    spark = spark or get_spark(app_name="fdps-profile")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    reader = RestReader(sc)
    import __spark_entry__ as entrymod
    qs = entrymod.queries()

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # same warmup family as bench.py so codegen/JIT is paid up front
    for warm in ("scalar_counts", "tokenization_stats",
                 "label_centroid_stats"):
        run(qs[warm](spark, SF_DIR))

    out = {}
    for name in args.queries:
        prev = os.environ.get(LOOP_PLAN_ENV)
        if args.loop_plans:
            os.environ[LOOP_PLAN_ENV] = os.path.join(args.loop_plans, name)
        try:
            sc.setJobGroup(f"profile:{name}", name)
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            run(df)
            t1 = time.time()
        finally:
            if prev is None:
                os.environ.pop(LOOP_PLAN_ENV, None)
            else:
                os.environ[LOOP_PLAN_ENV] = prev
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            write_plan(spark, df, os.path.join(args.plans, f"{name}.txt"))

        jobs, stages, _ = reader.snapshot()
        mine = [j for j in jobs if j.group == f"profile:{name}"]
        per_job = job_counters(jobs, stages)
        counted = [per_job[j.id] for j in mine]
        span = Span(0, name, "", t0, t1)
        rec = {
            "wall_sec": round(t1 - t0, 3),
            "n_jobs": len(mine),
            "n_stages": sum(c.stages for c in counted),
            "n_tasks": sum(c.tasks for c in counted),
            "stage_wall_sec": round(stage_wall(
                stages, {sid for j in mine for sid in j.stages}), 3),
            "task_time_sec": round(sum(c.sums["executor_run_s"]
                                       for c in counted), 3),
            "driver_gap_sec": round(driver_gap(span, mine), 3),
            **{k: int(sum(c.sums[k] for c in counted))
               for k in ("shuffle_write_bytes", "shuffle_read_bytes")},
        }
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
        if args.jobs:
            for j in sorted(mine, key=lambda j: j.id):
                c = per_job[j.id]
                print(json.dumps({"job": {
                    "query": name, "id": j.id, "stages": c.stages,
                    "tasks": c.tasks, "executor_cpu_s": round(c.cpu_s, 3),
                    "shuffle_write_bytes": int(
                        c.sums["shuffle_write_bytes"])}}), flush=True)
    print(json.dumps({"summary": out}))


if __name__ == "__main__":
    main()
