"""SparkSession construction with engine-wide defaults.

Pins the configuration decisions called out in SURVEY.md §7.4:

- ``spark.sql.session.timeZone=UTC`` — the reference stores
  TIMESTAMPTZ and parses ``Z``-suffixed ISO8601 (etl_job.py:85-94);
  every timestamp in this engine is UTC, matching the DuckDB oracle.
- AQE on — runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast decisions; essential at 100 TB where static
  partition counts are always wrong for *some* stage.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the test fixtures
  carry TIMESTAMP(NANOS) parquet columns which Spark 4 refuses by
  default; we read them as long and convert (see tables.py).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Settings that must be present at session build time.
_BUILD_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # fixtures use TIMESTAMP(NANOS); read as long, convert in loaders
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for pandas_udf / applyInPandas fast paths
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Settings we also (re)apply at runtime on externally-built sessions —
# the verification driver builds its own SparkSession, so anything the
# engine depends on must be runtime-settable and set lazily.
_RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(app_name: str = "flight_data_pipeline_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``). ``shuffle_partitions`` defaults to the core count —
    on a real cluster you would size this to ~2-3× total cores and let
    AQE coalesce; at 100 TB target ~128 MB per shuffle partition.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    # Local mode runs every executor thread inside the ONE driver JVM,
    # whose default heap is 1 GiB — 32 threads sharing 1 GiB is the
    # wrong sizing on this 128 GiB box and OOMs the 8x scale-curve
    # corpora (first hit: the 19M-edge graph family at 8x). Size the
    # heap like the single fat executor this process actually is; a
    # real cluster sets executor memory per node instead. Only
    # effective when this call launches the JVM — the verification
    # driver's own session keeps its own sizing.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    builder = (SparkSession.builder.appName(app_name).master(master)
               .config("spark.driver.memory", mem))
    for k, v in _BUILD_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    apply_runtime_conf(spark)
    return spark


def cpu_dense_partitions(spark: SparkSession) -> int:
    """Partition count for CPU-DENSE-PER-BYTE shuffle stages (posting
    self-joins, per-pair set verification): stages whose work scales
    with row *expansion* (a token shared by m docs contributes m²
    join rows; a candidate pair costs an array intersection), not
    with shuffle bytes. AQE's coalescing uses bytes as the work proxy
    — guide §2.2's correct default for IO-bound stages — so a stage
    whose compressed shuffle input is ~2 MB but whose CPU cost is
    seconds gets coalesced to ONE task and serializes on a single
    core (measured round 13: near_dup_jaccard_pairs 5.4 s → 1.4 s at
    sf0.1/local[32] once the verify stage ran wide). Operators mark
    such stages with an explicit column repartition at this count,
    which AQE leaves alone.

    Default = the session default parallelism (1× cores) —
    core-derived, so the driver's lower-core-count bench scales it
    down automatically. Measured r13 (interleaved A/B at sf0.1): 2×
    cores lost 8-29% to per-task fixed cost on every marked stage,
    while ½× starved the heaviest verify stage 19% — 1× is the
    plateau. Override with $SPARK_GRAFT_CPU_DENSE_PARTITIONS when the
    posting volume is large enough that per-partition memory
    (guide §5) matters more than core coverage."""
    env = os.environ.get("SPARK_GRAFT_CPU_DENSE_PARTITIONS")
    if env:
        # validate here, not deep inside query construction where a
        # bad value would surface as an opaque repartition error
        # (ADVICE r13)
        try:
            n = int(env)
        except ValueError:
            raise ValueError(
                "SPARK_GRAFT_CPU_DENSE_PARTITIONS must be a positive "
                f"integer, got {env!r}") from None
        if n <= 0:
            raise ValueError(
                "SPARK_GRAFT_CPU_DENSE_PARTITIONS must be a positive "
                f"integer, got {env!r}")
        return n
    return spark.sparkContext.defaultParallelism


# reentrancy depth for loop_materialization_conf — module-level is
# correct under the engine's single-threaded driver model (see the
# manager's docstring)
_LOOP_CONF_DEPTH = 0


@contextmanager
def loop_materialization_conf(spark: SparkSession):
    """Scope AQE OFF around the EAGER materializations inside
    iterative loops (the per-round localCheckpoint / isEmpty jobs of
    connected_components, pagerank_integer, label propagation,
    Bellman-Ford).

    Under AQE every materialization runs stage-by-stage as separate
    jobs with a driver re-optimization between each — the right trade
    for one big query, pure overhead for a loop that materializes a
    tiny state frame 3-10 times per call whose join strategies are
    already pinned by explicit broadcast hints (measured r13 at
    sf0.1/local[32]: copurchase_pagerank 35 jobs → 13, the
    driver-side planning gap was ~1.6 s of a 4.8 s query). Only the
    loop-internal jobs are affected: the conf is restored before the
    operator returns, so the RETURNED frame still plans and runs
    under the session's AQE setting, as does every non-loop query.

    Set $SPARK_GRAFT_LOOP_AQE=1 to keep AQE on inside loops — the
    right call when per-round state is fact-sized and skewed (AQE
    skew-split is the only thing lost; broadcasts are explicit).

    Scope/threading contract (ADVICE r13): the conf is SESSION-global
    runtime state, so this manager assumes the engine's single-
    threaded driver model — a concurrent query submitted on another
    thread of the same session while a loop round materializes would
    plan without AQE. A reentrancy counter makes NESTED/interleaved
    loop scopes on one thread safe (only the outermost scope captures
    and restores the pre-loop value, so an inner scope can never
    capture 'false' and leave AQE off); cross-thread isolation would
    need a cloned session (spark.newSession()) per loop, which the
    engine avoids because cloned sessions don't share runtime conf
    updates from the driver harness."""
    if os.environ.get("SPARK_GRAFT_LOOP_AQE") == "1":
        yield
        return
    global _LOOP_CONF_DEPTH
    if _LOOP_CONF_DEPTH > 0:
        _LOOP_CONF_DEPTH += 1
        try:
            yield
        finally:
            _LOOP_CONF_DEPTH -= 1
        return
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    _LOOP_CONF_DEPTH = 1
    # exception-safe: the depth is back to 0 and the captured value is
    # written back even when the entry set or the body raises; a
    # failing restore still propagates, but cannot leave the depth set
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        yield
    finally:
        _LOOP_CONF_DEPTH = 0
        spark.conf.set("spark.sql.adaptive.enabled", old)


def dump_loop_plan(frame, name: str) -> None:
    """Loop-body plan evidence hook (VERDICT r13 item 7): the
    iterative operators' per-round plans are invisible to
    ``.explain`` on the returned query — every round ends in a
    localCheckpoint, so the final frame's lineage only reaches back
    to the last checkpoint. When ``$SPARK_GRAFT_LOOP_PLAN_DIR`` is
    set, the operators call this on the ROUND-1 frame *before* its
    checkpoint truncates lineage, writing ``<dir>/<name>.txt``
    (first writer per file wins, so one run captures one plan per
    loop). No-op — a single getenv — when the env var is unset, so
    the hook costs nothing in production or benches."""
    d = os.environ.get("SPARK_GRAFT_LOOP_PLAN_DIR")
    if not d:
        return
    path = os.path.join(d, f"{name}.txt")
    if os.path.exists(path):
        return
    os.makedirs(d, exist_ok=True)
    plan = frame._jdf.queryExecution().explainString(
        frame.sparkSession._jvm.org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted"))
    with open(path, "w") as f:
        f.write(plan.strip() + "\n")


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime-settable conf to an existing session.

    Called by every loader so the engine behaves identically whether it
    built the session itself or received one from the driver harness.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable in some builds; loaders have fallbacks
            pass
    return spark
