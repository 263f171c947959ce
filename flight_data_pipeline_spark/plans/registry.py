"""Query registry: every public operator as (Spark callable, oracle SQL).

This is the single source of truth behind ``__spark_entry__.queries()``
and ``__spark_entry__.oracle_sql()``. Each registered query is a
function ``(spark, sf_dir) -> DataFrame``; the optional ``oracle`` is
the ANSI-SQL twin DuckDB runs on the same parquet tables for the
driver's hash-compare (row count + schema + order-insensitive value
hash). Non-SQL-expressible operators register with ``oracle=None`` and
get a rows-only check.

Determinism rules (SURVEY.md §7.4):
- no ``current_timestamp()`` in checked queries — "now" is a pinned
  literal shared by both sides;
- every computed column aliased identically on both sides;
- float aggregates rounded (ROUND(x, 4)) on both sides so partial-sum
  ordering differences can't flip the value hash;
- ties in top-k / dedup broken by a unique key so row selection is
  deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Register a query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from flight_data_pipeline_spark.plans import (  # noqa: F401
        reference_queries,
        relational_queries,
        temporal_queries,
        text_queries,
        dedup_queries,
        vector_queries,
    )
