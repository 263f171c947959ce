"""Session conf pins: the block codec is set where a core key takes
effect (build time), and the runtime dict holds only keys that
``spark.conf.set`` accepts on a live session. Driver-built rows are a
LocalRelation, built in one place."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib

from flight_data_pipeline_spark import session

PKG = pathlib.Path(__file__).parent.parent / "flight_data_pipeline_spark"


def test_get_spark_session_uses_zstd_block_codec(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.io.compression.codec") == "zstd"


def test_runtime_conf_holds_only_sql_keys():
    # apply_runtime_conf swallows the error a core key's set raises, so
    # a core key moved here would silently do nothing
    assert [k for k in session._RUNTIME_CONF
            if not k.startswith("spark.sql.")] == []


def test_local_frame_matches_create_dataframe(spark):
    schema = ("ts timestamp, d date, s string, n int, "
              "a array<double>, b bigint")
    rows = [(dt.datetime(2025, 6, 1, 12), dt.date(2025, 6, 1), "x", 1,
             [1.0, 2.0], 3),
            (dt.datetime(2025, 6, 1, 12, tzinfo=dt.timezone.utc), None,
             None, None, None, None)]
    df = session.local_frame(spark, rows, schema)
    assert df.collect() == spark.createDataFrame(rows, schema).collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan")


def test_empty_local_frame_is_typed_and_empty(spark):
    df = session.local_frame(spark, [], "k long, segment string")
    assert df.schema.simpleString() == "struct<k:bigint,segment:string>"
    assert df.collect() == []
    assert "LocalTableScan <empty>" in (
        df._jdf.queryExecution().executedPlan().toString())


def test_create_dataframe_only_inside_local_frame():
    # one construction point for driver rows: every other call would
    # build a Python RDD that the optimizer cannot fold
    tree = ast.parse((PKG / "session.py").read_text())
    (helper,) = [n for n in tree.body if isinstance(n, ast.FunctionDef)
                 and n.name == "local_frame"]
    inside = range(helper.lineno, helper.end_lineno + 1)
    offenders = []
    for py in PKG.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if "createDataFrame(" in line and not (
                    py.name == "session.py" and i in inside):
                offenders.append(f"{py.relative_to(PKG)}:{i}")
    assert offenders == []
