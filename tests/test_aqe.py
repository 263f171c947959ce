"""Adaptive Query Execution evidence: the 100 TB claims lean on AQE
for runtime re-planning (skew-join splitting, partition coalescing,
join-strategy demotion). These tests pin that the engine's sessions
actually get those behaviors — not just that the configs are set."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_aqe_splits_skewed_sort_merge_join(spark):
    """A hot key whose partition dwarfs the median must trigger
    OptimizeSkewedJoin under thresholds scaled to test data: the
    final adaptive plan reports the skew split (isSkew=true /
    skewed-partition annotation), and results equal the plain join.

    This is the path skew_split_join deliberately complements: AQE
    only splits SORT-MERGE joins, and only at join time — aggregation
    skew and broadcastable-hot-minority cases still need the explicit
    operators (salted_groupby_agg / skew_split_join)."""
    conf = spark.conf
    old = {k: conf.get(k) for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
    )}
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "20KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        # forbid broadcast so the join stays sort-merge (the only
        # shape AQE's skew split handles)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        left = spark.range(60_000).select(
            F.when(F.col("id") % 10 == 0, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pl"))
        right = spark.createDataFrame(
            [(i, f"r{i}") for i in range(0, 2000)], "k long, rv string")

        joined = left.join(right, "k")
        n = joined.toPandas().shape[0]
        # plain-join cardinality: hot key 0 has 6000 left rows x 1
        # right row; other matching keys (1..1999 excl. multiples of
        # 10) 1 x 1
        assert n == 6000 + sum(1 for i in range(1, 2000) if i % 10 != 0)

        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in final_plan
        assert "isSkew=true" in final_plan or "skewed" in final_plan.lower()
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE must collapse the 32 configured shuffle partitions of a
    tiny aggregate into few post-shuffle partitions
    (AQEShuffleRead coalesced) — the behavior that keeps
    small-dimension aggregates from scheduling 200 empty tasks at
    cluster scale."""
    conf = spark.conf
    old_en = conf.get("spark.sql.adaptive.enabled")
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        df = spark.range(1000).groupBy((F.col("id") % 5).alias("g")) \
            .agg(F.count("*").alias("n"))
        df.toPandas()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead" in plan and "coalesced" in plan
    finally:
        if old_en is None:
            conf.unset("spark.sql.adaptive.enabled")
        else:
            conf.set("spark.sql.adaptive.enabled", old_en)


def _failing_conf_set(spark, monkeypatch, fail_on: str):
    """Make ``spark.conf.set`` raise once when it is asked to write
    ``fail_on`` to the AQE key; every other call goes through."""
    real_set = spark.conf.set
    state = {"failed": False}

    def flaky(key, value):
        if (key == "spark.sql.adaptive.enabled" and value == fail_on
                and not state["failed"]):
            state["failed"] = True
            raise RuntimeError("conf.set failed")
        real_set(key, value)

    monkeypatch.setattr(spark.conf, "set", flaky)
    return state


def test_loop_conf_scope_survives_failing_set_on_entry(spark, monkeypatch):
    """A raising ``conf.set`` on entry must not leave the reentrancy
    depth set (a leaked depth would make every later scope a no-op
    inner scope) nor change the session's AQE value."""
    from flight_data_pipeline_spark import session

    monkeypatch.delenv("SPARK_GRAFT_LOOP_AQE", raising=False)
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    state = _failing_conf_set(spark, monkeypatch, "false")
    with pytest.raises(RuntimeError, match="conf.set failed"):
        with session.loop_materialization_conf(spark):
            pass
    assert state["failed"]
    assert session._LOOP_CONF_DEPTH == 0
    assert spark.conf.get("spark.sql.adaptive.enabled") == prior
    # the scope still works afterwards
    with session.loop_materialization_conf(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == prior


def test_loop_conf_scope_survives_failing_set_on_restore(spark,
                                                         monkeypatch):
    """A raising restore propagates to the caller, but the depth is back
    to 0: the next scope is an outermost one again, which captures and
    restores the session's value itself."""
    from flight_data_pipeline_spark import session

    monkeypatch.delenv("SPARK_GRAFT_LOOP_AQE", raising=False)
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    assert prior != "false"
    state = _failing_conf_set(spark, monkeypatch, prior)
    with pytest.raises(RuntimeError, match="conf.set failed"):
        with session.loop_materialization_conf(spark):
            pass
    assert state["failed"]
    assert session._LOOP_CONF_DEPTH == 0
    # the failed write left AQE off; the caller that saw the error
    # repairs it
    spark.conf.set("spark.sql.adaptive.enabled", prior)
    with session.loop_materialization_conf(spark):
        assert session._LOOP_CONF_DEPTH == 1
    assert session._LOOP_CONF_DEPTH == 0
    assert spark.conf.get("spark.sql.adaptive.enabled") == prior
