"""Idempotent parquet sinks + run-audit log (reference S4-S6).

The reference writes to Postgres with per-row INSERTs and relies on a
pre-insert COUNT(*) probe for idempotency (etl_job.py:226-260) and a
try/except-swallowing audit append (etl_job.py:168-182). Spark has no
multi-table transactions on plain parquet (SURVEY.md §7.3), so
durability here is *design*: dedup-before-append (D1) makes re-runs
no-ops, and writes are ordered telemetry-first, audit-second.

Scale posture: the telemetry sink is hour-partitioned on disk
(``bucket_date=``) so (a) the dedup anti-join's sink side reads only
partition metadata + distinct bucket keys, and (b) re-ingesting a time
range prunes to the affected partitions. At 100 TB you'd swap the
directory listing for a transactional table format's snapshot — the
operator code above this module does not change.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from flight_data_pipeline_spark.operators.dedup import (
    dedup_against_sink, first_per_bucket)
from flight_data_pipeline_spark.session import checkpoint_observed, local_frame

# grid_telemetry DDL analogue (etl_job.py:141-151). BIGSERIAL id is
# omitted: Spark has no serial generator and the reference never
# queries it (SURVEY.md §7.3).
TELEMETRY_SCHEMA = T.StructType([
    T.StructField("timestamp", T.TimestampType()),
    T.StructField("overall_intensity", T.DoubleType()),
    T.StructField("fuel_gas_perc", T.DoubleType()),
    T.StructField("fuel_nuclear_perc", T.DoubleType()),
    T.StructField("fuel_wind_perc", T.DoubleType()),
    T.StructField("fuel_solar_perc", T.DoubleType()),
])

# etl_runs DDL analogue (etl_job.py:152-161)
AUDIT_SCHEMA = T.StructType([
    T.StructField("run_timestamp", T.TimestampType()),
    T.StructField("status", T.StringType()),
    T.StructField("rows_inserted", T.IntegerType()),
    T.StructField("execution_time_ms", T.IntegerType()),
    T.StructField("error_message", T.StringType()),
])


class ParquetSink:
    """Append-only parquet table rooted at ``path`` with a declared
    schema — the CREATE TABLE IF NOT EXISTS analogue (etl_job.py:139-166):
    reading a not-yet-written sink yields an empty, correctly-typed
    LocalRelation instead of failing, which the optimizer folds (an
    anti-join against it drops out of the plan). Only a sink with no
    data files yet (a missing path, or a directory with none) reads as
    empty: any other read error (a corrupt file, say) propagates, since
    an unreadable sink read as an empty one would let ``append_dedup``
    append hours the sink already holds."""

    def __init__(self, spark: SparkSession, path: str, schema: T.StructType):
        self.spark = spark
        self.path = path
        self.schema = schema

    def _read_or_empty(self, read) -> DataFrame:
        try:
            return read()
        except AnalysisException as e:
            if e.getCondition() not in ("PATH_NOT_FOUND",
                                        "UNABLE_TO_INFER_SCHEMA"):
                raise
            return local_frame(self.spark, [], self.schema)

    def read(self) -> DataFrame:
        return self._read_or_empty(
            lambda: self.spark.read.schema(self.schema).parquet(self.path))

    def append(self, df: DataFrame) -> None:
        (df.select(*[F.col(f.name).cast(f.dataType) for f in self.schema.fields])
           .write.mode("append").parquet(self.path))


class JdbcSink:
    """Literal-parity S4 sink: the reference's actual destination is
    Postgres (psycopg INSERT + commit, etl_job.py:222,239-260). The
    Spark-native form is one appending JDBC write — Spark batches the
    inserts per partition and the database provides the transactional
    commit the reference gets from psycopg.

    Executed in-container against embedded Derby (the JDBC driver
    Spark ships in its own jars/ for the Hive metastore) —
    tests/test_pipeline.py::TestJdbcSinkEmbeddedDerby appends the
    telemetry + audit two-table shape and reads both back. It shares
    ``ParquetSink``'s append/read interface, but the parquet sinks
    remain the engine's only pipeline path: ``run_pipeline`` and the
    streaming writers take sink paths and write parquet, so a JDBC
    destination is written by calling ``append`` directly.
    ``properties`` passes driver options (user, password, driver)."""

    def __init__(self, spark: SparkSession, url: str, table: str,
                 properties: dict | None = None):
        self.spark = spark
        self.url = url
        self.table = table
        self.properties = properties or {}

    def read(self) -> DataFrame:
        return self.spark.read.jdbc(self.url, self.table,
                                    properties=self.properties)

    def append(self, df: DataFrame) -> None:
        (df.write.mode("append")
           .jdbc(self.url, self.table, properties=self.properties))


class TelemetrySink(ParquetSink):
    """grid_telemetry sink with hour-bucket idempotent append
    (etl_job.py:226-260): rows whose DATE_TRUNC('hour', timestamp)
    already exists in the sink are skipped, not overwritten.

    ``partition_by_day=True`` lays the sink out as
    ``bucket_date=YYYY-MM-DD/`` directories (SURVEY.md §7.3 / SCALE.md):
    interval filters become partition pruning, and the dedup
    anti-join's sink scan touches only the days the incoming batch
    spans. The 100 TB layout; off by default so tiny test sinks stay
    single-directory."""

    def __init__(self, spark: SparkSession, path: str,
                 partition_by_day: bool = False):
        super().__init__(spark, path, TELEMETRY_SCHEMA)
        self.partition_by_day = partition_by_day

    def read(self) -> DataFrame:
        if not self.partition_by_day:
            return super().read()
        # timestamp is stored in the data files; bucket_date is the
        # partition directory column — project back to the schema
        return self._read_or_empty(
            lambda: self.spark.read.parquet(self.path).select(
                *self.schema.fieldNames()))

    def read_range(self, start_date: str, end_date: str) -> DataFrame:
        """Date-bounded read that filters on the PARTITION column
        (``bucket_date``), not the timestamp — Spark cannot infer a
        directory-pruning predicate from a timestamp filter, so a
        plain ``read().where(timestamp >= X)`` scans every partition.
        This is the scan interval queries must use at scale; the plan
        shows PartitionFilters + only the matching directories listed.
        Bounds are inclusive ISO dates ('2025-12-09')."""
        if not self.partition_by_day:
            return self.read().where(
                F.to_date("timestamp").between(start_date, end_date))
        return self._read_or_empty(
            lambda: self.spark.read.parquet(self.path)
            .where(F.col("bucket_date").between(start_date, end_date))
            .select(*self.schema.fieldNames()))

    def append(self, df: DataFrame) -> None:
        if not self.partition_by_day:
            return super().append(df)
        (df.select(*[F.col(f.name).cast(f.dataType) for f in self.schema.fields])
           .withColumn("bucket_date", F.to_date("timestamp"))
           .write.mode("append").partitionBy("bucket_date").parquet(self.path))

    def overwrite_days(self, df: DataFrame) -> None:
        """Rerun/backfill path (SURVEY §7.3 durability discipline):
        replace exactly the date partitions the batch touches, leaving
        every other day's files untouched — dynamic partition
        overwrite (`spark.sql.sources.partitionOverwriteMode=dynamic`
        scoped to this write). This is the correction story the
        reference gets from Postgres UPSERT semantics: a recomputed
        day lands atomically per partition instead of appending
        duplicates or truncating the table. Requires
        ``partition_by_day=True`` (there is no partition unit to
        overwrite otherwise)."""
        if not self.partition_by_day:
            raise ValueError("overwrite_days needs partition_by_day=True")
        (df.select(*[F.col(f.name).cast(f.dataType) for f in self.schema.fields])
           .withColumn("bucket_date", F.to_date("timestamp"))
           .write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy("bucket_date").parquet(self.path))

    def append_dedup(self, df: DataFrame) -> int:
        """Append rows for not-yet-seen hours; returns rows written
        (0 ⇒ the reference's 'skipped' status, etl_job.py:236-237).

        The sink read, the anti-join and the hour-window exchange run
        once: one eager checkpoint job both materializes the fresh rows
        and counts them, and the write reads the checkpoint, so ``n``
        is exactly what is written. An empty batch writes no file."""
        bucket = F.date_trunc("hour", F.col("timestamp"))
        fresh = dedup_against_sink(df, self.read(), bucket=bucket)
        # also collapse duplicate hours *within* the batch — the
        # distributed generalization of the reference's 1-row runs
        fresh = first_per_bucket(fresh, bucket, ["timestamp"])
        # localCheckpoint truncates lineage, so a lost block fails the
        # write instead of recomputing it against a sink that may have
        # changed since; run_pipeline audits that as a write failure
        # and the next cron run retries
        fresh, n = checkpoint_observed(fresh, F.count(F.lit(1)))
        if n:
            self.append(fresh)
        return n


class AuditSink(ParquetSink):
    """etl_runs audit sink. ``log_run`` mirrors log_etl_run
    (etl_job.py:168-182): it must never raise — an audit failure is
    logged and swallowed so it can't mask the pipeline's own status."""

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path, AUDIT_SCHEMA)

    def log_run(self, status: str, rows_inserted: int,
                execution_time_ms: int, error_message: str | None = None,
                run_timestamp=None) -> None:
        try:
            row = [(run_timestamp, status, rows_inserted,
                    int(execution_time_ms), error_message)]
            df = local_frame(self.spark, row, AUDIT_SCHEMA)
            if run_timestamp is None:
                df = df.withColumn("run_timestamp", F.current_timestamp())
            self.append(df)
        except Exception:  # pragma: no cover - audit must not raise
            import logging
            logging.getLogger(__name__).error("Failed to log ETL run metadata")
