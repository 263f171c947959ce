"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``flight_data_pipeline_spark``; this module
just adapts the engine's query registry to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Runs the daily rollup (the reference's ``view_daily_cleanliness``,
    README.md:394-404) — scan → partial/final hash aggregate → sort.
    """
    from flight_data_pipeline_spark.plans import registry

    registry.load_all()
    return registry.QUERIES["daily_rollup"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    from flight_data_pipeline_spark.plans import registry

    registry.load_all()
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each SQL-expressible query."""
    from flight_data_pipeline_spark.plans import registry

    registry.load_all()
    return dict(registry.ORACLE_SQL)
