"""EP1 orchestration: extract → validate → dedup → load → audit.

The distributed re-expression of run_pipeline (etl_job.py:184-288),
preserving its control flow and status machine exactly:

- fetch failure (after retries)        → status='failure', audit still written
  (the reference reconnects just to audit, etl_job.py:276-286)
- any validation failing               → status='partial', row STILL written
  (flag-don't-drop, etl_job.py:213-218)
- hour bucket already in sink          → status='skipped', rows_inserted=0
  (etl_job.py:234-237)
- clean write                          → status='success', rows_inserted=n
- write failure                        → status carries last pre-write value,
  error_message set, audit written (etl_job.py:269-274)

Validation checks are the reference's six (etl_job.py:204-211):
intensity range, timestamp non-null, four fuel-percentage ranges.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from flight_data_pipeline_spark.operators.quality import (
    quality_gate,
    valid_fuel_pct,
    valid_intensity,
    valid_timestamp,
)
from flight_data_pipeline_spark.session import local_frame
from flight_data_pipeline_spark.sinks import (
    TELEMETRY_SCHEMA,
    AuditSink,
    TelemetrySink,
)
from flight_data_pipeline_spark.sources.rest_json import (
    FUELS,
    parse_telemetry,
    retry_with_backoff,
)


@dataclass
class RunResult:
    status: str
    rows_inserted: int
    execution_time_ms: int
    error_message: str | None = None


def telemetry_checks() -> dict[str, Column]:
    """The reference's six conjunctive validations (etl_job.py:204-211)."""
    checks: dict[str, Column] = {
        "intensity": valid_intensity(F.col("overall_intensity")),
        "timestamp": valid_timestamp(F.col("timestamp")),
    }
    for fuel in FUELS:
        checks[fuel] = valid_fuel_pct(F.col(f"fuel_{fuel}_perc"))
    return checks


TELEMETRY_COLS = tuple(TELEMETRY_SCHEMA.fieldNames())


def _telemetry_batch_flagged(spark: SparkSession, intensity_payload: str,
                             mix_payload: str,
                             now: Column | None = None) -> DataFrame:
    """Parse both payloads as one 2-column row — the implicit J2 zip
    (etl_job.py:199-200,249-259): the reference pairs the two
    single-record fetches of the same half-hour by position.

    The row is a LocalRelation (``session.local_frame``), and
    ``parse_telemetry`` is 1:1, so the result has exactly one row and
    the optimizer folds the parse on the driver. It carries the
    per-source ``int_found`` / ``mix_found`` flags instead of probing
    them eagerly, so the caller reads them in the one ``.first()`` it
    already runs."""
    return parse_telemetry(local_frame(
        spark, [(intensity_payload, mix_payload)],
        "int_payload string, mix_payload string"), now=now)


def _raise_for_missing(missing_intensity: bool, missing_mix: bool) -> None:
    """The reference's payload errors, in its order (etl_job.py:102-103,
    118-119 raise ValueError before any insert)."""
    if missing_intensity:
        raise ValueError("No intensity data returned")
    if missing_mix:
        raise ValueError("No generation data returned")


def _first_row_probe(frame: DataFrame, **extra: Column):
    """The one batch row's flags in ONE ``.first()``: the missing-
    payload flags, plus ``extra`` columns, raising the reference's
    payload errors. ``frame`` is built from one input row by 1:1
    projections, so it has exactly one row: this is a projection, not
    an aggregate, and over the LocalRelation it runs no Spark job."""
    probe = frame.select(
        (~F.col("int_found")).alias("missing_intensity"),
        (~F.col("mix_found")).alias("missing_mix"),
        *[c.alias(name) for name, c in extra.items()],
    ).first()
    _raise_for_missing(probe.missing_intensity, probe.missing_mix)
    return probe


def build_telemetry_batch(spark: SparkSession, intensity_payload: str,
                          mix_payload: str, now: Column | None = None) -> DataFrame:
    """``_telemetry_batch_flagged`` with the reference's eager
    missing-payload contract: raises ValueError on an empty/malformed
    side, returns clean telemetry columns. Both probes are one
    ``.first()`` of the one-row frame, folded on the driver: no job."""
    flagged = _telemetry_batch_flagged(
        spark, intensity_payload, mix_payload, now=now)
    _first_row_probe(flagged)
    return flagged.select(*TELEMETRY_COLS)


def run_pipeline(spark: SparkSession,
                 fetch_intensity: Callable[[], str],
                 fetch_mix: Callable[[], str],
                 telemetry_path: str,
                 audit_path: str,
                 now: Column | None = None,
                 sleep: Callable[[float], None] = time.sleep) -> RunResult:
    """One pipeline run (etl_job.py:184-288). ``fetch_*`` return raw
    JSON payload strings (injectable; production wraps fetch_json);
    ``now`` pins wall-clock-dependent defaults for deterministic tests."""
    start = time.time()
    rows_inserted = 0
    status = "failure"
    error_message = None
    audit = AuditSink(spark, audit_path)

    def elapsed_ms() -> int:
        return int((time.time() - start) * 1000)

    try:
        intensity_payload = retry_with_backoff(fetch_intensity, sleep=sleep)()
        mix_payload = retry_with_backoff(fetch_mix, sleep=sleep)()
        flagged = _telemetry_batch_flagged(
            spark, intensity_payload, mix_payload, now=now)

        # validate: flag, don't drop (etl_job.py:213-218). The
        # missing-payload flags and the partial status are one
        # projection of the gated one-row frame, read by ONE .first()
        # that the optimizer folds on the driver: the parse and the
        # probe run no Spark job. The raise order matches the reference.
        gated = quality_gate(flagged, telemetry_checks())
        probe = _first_row_probe(
            gated, partial=F.col("run_status") == "partial")
        batch = flagged.select(*TELEMETRY_COLS)
        if probe.partial:
            error_message = "Data quality validation failed"
            status = "partial"

        try:
            sink = TelemetrySink(spark, telemetry_path)
            rows_inserted = sink.append_dedup(batch)
            # NB: matches the reference exactly — a successful insert
            # sets 'success' even after a failed validation
            # (etl_job.py:262 is unconditional), so 'partial' only
            # survives to the audit log via the write-failure path;
            # and the normal-path audit carries no error_message
            # (etl_job.py:267). Per-row validity lives in the gated
            # frame's check_*/run_status columns.
            status = "skipped" if rows_inserted == 0 else "success"
            audit.log_run(status, rows_inserted, elapsed_ms())
        except Exception as e:
            error_message = f"Database write failed: {e}"
            audit.log_run(status, rows_inserted, elapsed_ms(), error_message)

    except Exception as e:
        # fetch/parse failure: audit anyway (etl_job.py:276-286)
        error_message = f"Pipeline failed: {e}"
        audit.log_run(status, rows_inserted, elapsed_ms(), error_message)

    return RunResult(status, rows_inserted, elapsed_ms(), error_message)


def build_telemetry_batch_multi(
        spark: SparkSession,
        pairs: list[tuple[str, str, str]]) -> DataFrame:
    """Backfill form of the batch builder: N window-aligned payload
    pairs, the J2 zip (etl_job.py:199-200) once more than one window
    is in flight.

    ``pairs`` is [(window_key, intensity_payload, mix_payload)]. Each
    pair is one row parsed by ``parse_telemetry``, so the two payloads
    stay paired by row whatever the keys (two pairs that share a
    ``window_key`` give two rows, not a cross product). Records whose
    payload carried no data are dead-lettered (dropped), the
    multi-window analogue of the single-run raise — callers that need
    the count difference compare input vs output windows. An
    unparseable ``from`` gives a NULL timestamp: a backfill has no
    "now" to default to. The pairs are a LocalRelation and the whole
    build is one projection and filter over it: no join, no shuffle.
    """
    base = local_frame(
        spark, pairs,
        "window_key string, int_payload string, mix_payload string")
    return (
        parse_telemetry(base, now=F.lit(None).cast("timestamp"))
        .where(F.col("int_found") & F.col("mix_found"))
        .select(*TELEMETRY_COLS)
    )
