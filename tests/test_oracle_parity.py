"""Local mirror of the driver's t2 correctness gate.

For every query registered with an oracle: run the Spark form and the
DuckDB form on the same parquet fixtures (sf0.001 for speed; the
driver uses sf0.01), then compare row count, column names, and
order-insensitive canonicalized values — the same contract as
CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from flight_data_pipeline_spark.plans import registry
from tests.conftest import SF_DIR

registry.load_all()

ORACLE_QUERIES = sorted(registry.ORACLE_SQL)
ROWS_ONLY_QUERIES = sorted(set(registry.QUERIES) - set(registry.ORACLE_SQL))


def canonicalize(df: pd.DataFrame) -> list[tuple]:
    """Sort columns by name, canonicalize cell values, sort rows —
    approximates the driver's order-insensitive value hash."""
    df = df[sorted(df.columns)]
    out_rows = []
    for row in df.itertuples(index=False):
        canon = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
                canon.append("∅")
            elif isinstance(v, float):
                # queries round explicitly; this guards repr noise only
                canon.append(f"{v:.9g}")
            elif isinstance(v, pd.Timestamp):
                canon.append(v.isoformat())
            elif hasattr(v, "isoformat"):
                canon.append(v.isoformat())
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                canon.append(str([f"{x:.6g}" if isinstance(x, float) else str(x) for x in v]))
            else:
                canon.append(str(v))
        out_rows.append(tuple(canon))
    return sorted(out_rows)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(name, spark, duck):
    spark_df = registry.QUERIES[name](spark, SF_DIR).toPandas()
    duck_df = duck.execute(registry.ORACLE_SQL[name]).fetchdf()

    assert sorted(spark_df.columns) == sorted(duck_df.columns), (
        f"{name}: column mismatch spark={sorted(spark_df.columns)} "
        f"duck={sorted(duck_df.columns)}"
    )
    assert len(spark_df) == len(duck_df), (
        f"{name}: row count spark={len(spark_df)} duck={len(duck_df)}"
    )
    s_rows, d_rows = canonicalize(spark_df), canonicalize(duck_df)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(name, spark):
    """Queries without an oracle still must run and return a stable schema."""
    df = registry.QUERIES[name](spark, SF_DIR)
    assert df.columns  # schema resolves
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
    assert list(e.queries()) == list(registry.QUERIES)
