"""Session conf pins: the block codec is set where a core key takes
effect (build time), and the runtime dict holds only keys that
``spark.conf.set`` accepts on a live session."""

from __future__ import annotations

from flight_data_pipeline_spark import session


def test_get_spark_session_uses_zstd_block_codec(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.io.compression.codec") == "zstd"


def test_runtime_conf_holds_only_sql_keys():
    # apply_runtime_conf swallows the error a core key's set raises, so
    # a core key moved here would silently do nothing
    assert [k for k in session._RUNTIME_CONF
            if not k.startswith("spark.sql.")] == []
