from __future__ import annotations

import duckdb
import pytest

from flight_data_pipeline_spark.session import get_spark
from flight_data_pipeline_spark.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="fdps-tests", master="local[4]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the fixture tables registered as views —
    mirrors the driver's oracle setup."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def run_observed(spark, fn):
    """Call ``fn()`` under a fresh job group → (its result, the ids of
    the Spark jobs it submitted, the physical plan text of each SQL
    execution it started)."""
    import uuid

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = {e.executionId() for e in executions()}
    group = f"observed-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "run_observed")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() not in seen]
    return out, list(sc.statusTracker().getJobIdsForGroup(group)), plans
