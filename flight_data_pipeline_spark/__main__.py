"""Batch CLI entry point — EP2 parity.

The reference runs as ``python etl_job.py`` under a cron workflow
(etl_job.py:290-293; .github/workflows/etl.yml:4-6 schedules it every
30 minutes). This module is the spark-submit-able equivalent:

    python -m flight_data_pipeline_spark [--telemetry PATH] [--audit PATH]

One invocation = one pipeline run (fetch → validate → dedup → load →
audit), exiting non-zero on the failure status exactly as the workflow
expects. Cadence stays external (cron / Airflow, which may also call
the availableNow stream drain in streaming/pipeline_stream.py —
SURVEY.md EP2).

Also the ad-hoc query runner (EP3 parity — the reference's analytics
surface is "any SQL client against the sink"; this is the engine's
client):

    python -m flight_data_pipeline_spark query --list
    python -m flight_data_pipeline_spark query daily_rollup \
        [--sf-dir DIR] [--limit N] [--explain]
    python -m flight_data_pipeline_spark query \
        --sql "SELECT COUNT(*) FROM etl_runs" [--audit PATH]

``--sql`` accepts arbitrary Spark SQL over the registered fixture
views (region … embeddings) PLUS the engine's own sink tables
(``grid_telemetry``, ``etl_runs``) — so the reference's documented
monitoring queries (README.md:171-195,546-563;
docs/GITHUB_ACTIONS_SETUP.md:79-106) run VERBATIM against this
engine's sinks, exactly as they run against the reference's Postgres
(tests/test_flow.py::TestSqlCli executes them verbatim).
"""

from __future__ import annotations

import argparse
import os
import re
import sys


def sql_client(spark, sql: str, sf_dir: str | None = None,
               telemetry: str = "spark-warehouse/grid_telemetry",
               audit: str = "spark-warehouse/etl_runs"):
    """The EP3 any-SQL-client surface behind ``query --sql``: register
    the engine's own sink tables (``grid_telemetry``, ``etl_runs`` —
    empty-but-typed when never written) plus each fixture table whose
    name is a word of the statement as temp views, and run ONE raw
    Spark SQL statement. A fixture view costs a file listing and a
    schema-inference job, so a statement pays only for the tables it
    names (a word that matches by chance registers an unused view);
    the sink views are always registered because views such as
    ``view_daily_cleanliness`` read ``grid_telemetry`` by name. The
    reference's documented monitoring SQL (README.md:171-195,546-563;
    docs/GITHUB_ACTIONS_SETUP.md:79-106) runs verbatim here — a
    trailing ';' (the psql habit of the docs) is stripped since Spark
    parses single statements only."""
    from flight_data_pipeline_spark.sinks import AuditSink, TelemetrySink
    from flight_data_pipeline_spark.tables import TABLES, load_table

    for name in set(TABLES).intersection(re.findall(r"\w+", sql.lower())):
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
    TelemetrySink(spark, telemetry).read() \
        .createOrReplaceTempView("grid_telemetry")
    AuditSink(spark, audit).read().createOrReplaceTempView("etl_runs")
    return spark.sql(sql.strip().rstrip(";"))


def query_main(argv: list[str]) -> int:
    """Run a registered query against the fixture tables and print
    the head — the engine-side SQL client (SURVEY.md EP3)."""
    parser = argparse.ArgumentParser(
        prog="flight_data_pipeline_spark query")
    parser.add_argument("name", nargs="?", help="registered query name")
    parser.add_argument("--list", action="store_true", dest="list_queries")
    parser.add_argument("--sql", help="raw Spark SQL over the fixture "
                        "views + grid_telemetry/etl_runs sink views "
                        "(the reference's any-SQL-client surface)")
    parser.add_argument("--sf-dir",
                        default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                               "/root/testdata/sf0.01"))
    parser.add_argument("--telemetry",
                        default=os.environ.get("TELEMETRY_PATH",
                                               "spark-warehouse/grid_telemetry"))
    parser.add_argument("--audit",
                        default=os.environ.get("AUDIT_PATH",
                                               "spark-warehouse/etl_runs"))
    parser.add_argument("--limit", type=int, default=20)
    parser.add_argument("--explain", action="store_true")
    args = parser.parse_args(argv)

    if args.sql:
        if args.name:
            print("pass a registered name OR --sql, not both",
                  file=sys.stderr)
            return 2
        from flight_data_pipeline_spark.session import get_spark

        spark = get_spark(app_name="fdps-sql")
        spark.sparkContext.setLogLevel("ERROR")
        df = sql_client(spark, args.sql, args.sf_dir,
                        args.telemetry, args.audit)
        if args.explain:
            df.explain("formatted")
        df.show(args.limit, truncate=False)
        return 0

    from flight_data_pipeline_spark.plans import registry

    registry.load_all()
    if args.list_queries or not args.name:
        for name in registry.QUERIES:
            kind = "checked" if name in registry.ORACLE_SQL else "rows-only"
            print(f"{name}\t{kind}")
        return 0
    if args.name not in registry.QUERIES:
        print(f"unknown query: {args.name!r} (try --list)", file=sys.stderr)
        return 2

    from flight_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"fdps-query-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = registry.QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None,
         fetch_intensity=None, fetch_mix=None) -> int:
    """Run one batch pipeline. ``fetch_*`` are injectable for tests;
    the defaults fetch the reference's public API endpoints through
    the retry envelope (etl_job.py:96-137)."""
    argv = list(sys.argv[1:]) if argv is None else list(argv)
    if argv[:1] == ["query"]:
        return query_main(argv[1:])
    use_flow = argv[:1] == ["flow"]
    if use_flow:
        # orchestrated form (the reference's `python prefect_flow.py`
        # vs `python etl_job.py` split): task-level retries + the two
        # endpoint fetches in parallel, same pipeline underneath
        argv = argv[1:]
    parser = argparse.ArgumentParser(prog="flight_data_pipeline_spark")
    parser.add_argument("--telemetry",
                        default=os.environ.get("TELEMETRY_PATH",
                                               "spark-warehouse/grid_telemetry"))
    parser.add_argument("--audit",
                        default=os.environ.get("AUDIT_PATH",
                                               "spark-warehouse/etl_runs"))
    args = parser.parse_args(argv)

    if fetch_intensity is None or fetch_mix is None:  # pragma: no cover - network
        from flight_data_pipeline_spark.sources.carbon_datasource import API_BASE
        from flight_data_pipeline_spark.sources.rest_json import fetch_json

        fetch_intensity = fetch_intensity or (
            lambda: fetch_json(f"{API_BASE}/intensity"))
        fetch_mix = fetch_mix or (lambda: fetch_json(f"{API_BASE}/generation"))

    from flight_data_pipeline_spark.pipeline import run_pipeline
    from flight_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="flight_data_pipeline_spark.batch")
    if use_flow:
        from flight_data_pipeline_spark.flow import grid_etl_flow

        flow_run = grid_etl_flow(spark, fetch_intensity, fetch_mix,
                                 args.telemetry, args.audit)
        for t in flow_run.tasks:
            print(f"task={t.name} ok={t.ok} attempts={t.attempts} "
                  f"ms={t.ms}" + (f" error={t.error!r}" if t.error else ""))
        result = flow_run.result
    else:
        result = run_pipeline(spark, fetch_intensity, fetch_mix,
                              args.telemetry, args.audit)
    print(f"status={result.status} rows_inserted={result.rows_inserted} "
          f"execution_time_ms={result.execution_time_ms}"
          + (f" error={result.error_message!r}" if result.error_message else ""))
    return 1 if result.status == "failure" else 0


if __name__ == "__main__":  # pragma: no cover - exercised via main()
    sys.exit(main())
