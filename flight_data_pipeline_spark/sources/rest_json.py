"""REST JSON ingestion (reference S1-S3, P1-P6).

The reference fetches two carbon-intensity API payloads driver-side
(etl_job.py:96-137) and flattens them imperatively. Here the *parsing*
is fully declarative — raw JSON strings become typed DataFrames via
``from_json`` + higher-order array functions — so the identical plan
ingests one payload (driver-fetched, a ``LocalRelation`` built by
``session.local_frame`` that the optimizer folds on the driver) or a
100 TB landing zone of payload files (``spark.read.text`` /
``readStream``): the JSON is never parsed in driver Python.

Fetching stays a thin driver-side layer with the reference's retry
envelope (3 attempts, 2·2^n backoff — etl_job.py:32-49), injectable
for tests; at scale you'd land payloads to storage and point the same
parsers at the directory.
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, SparkSession

from flight_data_pipeline_spark.functions.scalars import (
    coalesce_falsy,
    default_to,
    parse_iso8601,
)
from flight_data_pipeline_spark.session import local_frame

# --- retry envelope (etl_job.py:32-49) --------------------------------------

MAX_RETRIES = 3
RETRY_DELAY = 2.0  # seconds; waits are 2, 4, 8


def _network_errors() -> tuple:
    """The reference retries only requests.RequestException
    (etl_job.py:41) — a ValueError from a malformed payload propagates
    immediately. Mirror that: requests' exception when available, else
    the stdlib network-error types."""
    try:
        import requests  # noqa: PLC0415 — optional, container may lack it

        return (requests.RequestException, ConnectionError, TimeoutError)
    except ImportError:
        return (ConnectionError, TimeoutError, OSError)


def retry_with_backoff(func: Callable, *, max_retries: int = MAX_RETRIES,
                       base_delay: float = RETRY_DELAY,
                       sleep: Callable[[float], None] = time.sleep,
                       retryable: type[BaseException] | tuple | None = None):
    """Exponential-backoff retry (etl_job.py:35-49): ``max_retries``
    attempts with 2·2^n-second waits, re-raising on exhaustion.
    ``sleep`` is injectable so tests don't wall-clock wait.
    ``retryable`` defaults to network errors only (etl_job.py:41
    retries requests.RequestException; parse errors fail fast)."""
    if retryable is None:
        retryable = _network_errors()

    def wrapper(*args, **kwargs):
        for attempt in range(max_retries):
            try:
                return func(*args, **kwargs)
            except retryable:
                if attempt == max_retries - 1:
                    raise
                sleep(base_delay * (2 ** attempt))
        return None

    return wrapper


# --- payload schemas ---------------------------------------------------------

# {"data": [{"from": ..., "to": ..., "intensity": {"actual", "forecast"}}]}
INTENSITY_SCHEMA = T.StructType([
    T.StructField("data", T.ArrayType(T.StructType([
        T.StructField("from", T.StringType()),
        T.StructField("to", T.StringType()),
        T.StructField("intensity", T.StructType([
            T.StructField("actual", T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
        ])),
    ]))),
])

_MIX_ENTRY = T.ArrayType(T.StructType([
    T.StructField("fuel", T.StringType()),
    T.StructField("perc", T.DoubleType()),
]))

# "data" drifts between a list and a dict (etl_job.py:121) — parse both
GENERATION_SCHEMA_LIST = T.StructType([
    T.StructField("data", T.ArrayType(T.StructType([
        T.StructField("generationmix", _MIX_ENTRY),
    ]))),
])
GENERATION_SCHEMA_DICT = T.StructType([
    T.StructField("data", T.StructType([
        T.StructField("generationmix", _MIX_ENTRY),
    ])),
])

FUELS = ("gas", "nuclear", "wind", "solar")


# --- parsers (raw json string column → typed columns) ------------------------

def parse_intensity(df: DataFrame, json_col: str = "payload",
                    now: Column | None = None,
                    keep: tuple[str, ...] = ()) -> DataFrame:
    """Intensity payload → (overall_intensity, window_start, window_end).

    Reference semantics preserved exactly (etl_job.py:101-110):
    - unwrap ``data[0]`` (P1 nested-struct projection);
    - ``actual or forecast`` with Python falsy-zero semantics (P2,
      etl_job.py:106 — actual==0 falls through to forecast);
    - unparseable/missing ``from`` defaults to "now" (P3) — ``now`` is
      injectable (a literal in tests/checked runs) and defaults to
      current_timestamp() like the reference;
    - ISO8601 ``Z``-suffix parse, invalid → NULL (P4).
    """
    now = F.current_timestamp() if now is None else now
    # F.get (not [0]): ANSI-safe on empty `data`, yielding NULL columns
    rec = F.get(F.from_json(F.col(json_col), INTENSITY_SCHEMA)["data"], 0)
    return df.select(
        *keep,
        coalesce_falsy(rec["intensity"]["actual"], rec["intensity"]["forecast"])
        .alias("overall_intensity"),
        default_to(parse_iso8601(rec["from"]), now).alias("window_start"),
        parse_iso8601(rec["to"]).alias("window_end"),
        # empty/missing `data` is an error upstream (etl_job.py:102-103
        # raises ValueError) — surfaced as a flag so callers can raise
        # without a second scan
        rec.isNotNull().alias("record_found"),
    )


def parse_generation_mix(df: DataFrame, json_col: str = "payload",
                         keep: tuple[str, ...] = ()) -> DataFrame:
    """Generation-mix payload → one double column per fuel
    (fuel_gas_perc, fuel_nuclear_perc, fuel_wind_perc, fuel_solar_perc).

    Reference semantics (etl_job.py:117-135):
    - tolerate ``data`` as list or dict (etl_job.py:121) — both
      schemas parsed, first non-null wins;
    - first case-insensitive fuel-name match (etl_job.py:124-127) via
      higher-order ``filter(...)[0]`` — no explode/shuffle;
    - missing fuel or missing perc → 0.0 (etl_job.py:127-128).
    """
    as_list = F.get(
        F.from_json(F.col(json_col), GENERATION_SCHEMA_LIST)["data"], 0
    )["generationmix"]
    as_dict = F.from_json(F.col(json_col), GENERATION_SCHEMA_DICT)["data"]["generationmix"]
    mix = F.coalesce(as_list, as_dict)

    def fuel_perc(fuel: str) -> Column:
        matches = F.filter(mix, lambda e: F.lower(F.coalesce(e["fuel"], F.lit(""))) == fuel)
        # F.get: first match or NULL (ANSI-safe on no-match), then 0.0 default
        return F.coalesce(F.get(matches, 0)["perc"], F.lit(0.0)).alias(f"fuel_{fuel}_perc")

    return df.select(
        *keep,
        *[fuel_perc(f) for f in FUELS],
        # missing `data` raises upstream (etl_job.py:118-119)
        mix.isNotNull().alias("record_found"),
    )


def parse_telemetry(df: DataFrame, now: Column | None = None,
                    keep: tuple[str, ...] = ()) -> DataFrame:
    """One row of both payloads (``int_payload``, ``mix_payload``) →
    (keep…, timestamp, overall_intensity, fuel_*_perc, int_found,
    mix_found): ``parse_intensity`` chained into
    ``parse_generation_mix`` on the same frame, so every ingest path
    (single run, backfill, stream, dead-letter replay) pairs the two
    payloads by row — no join — and shares one parse. ``now`` is
    ``parse_intensity``'s unparseable-``from`` default; a NULL
    timestamp literal keeps such rows NULL. The ``*_found`` flags are
    each parser's ``record_found``."""
    ints = parse_intensity(df, "int_payload", now=now,
                           keep=(*keep, "mix_payload"))
    ints = ints.withColumnsRenamed(
        {"window_start": "timestamp", "record_found": "int_found"})
    mix = parse_generation_mix(
        ints, "mix_payload",
        keep=(*keep, "timestamp", "overall_intensity", "int_found"))
    return mix.select(*keep, "timestamp", "overall_intensity",
                      *[f"fuel_{f}_perc" for f in FUELS], "int_found",
                      F.col("record_found").alias("mix_found"))


def payload_df(spark: SparkSession, payloads: list[str]) -> DataFrame:
    """Wrap raw JSON payload strings as a LocalRelation (driver-side
    single-record path; the file-landing path is spark.read.text)."""
    return local_frame(spark, [(p,) for p in payloads], "payload string")


def fetch_json(url: str, timeout: float = 10.0) -> str:
    """Driver-side GET with the reference's 10s timeout +
    raise-for-status (etl_job.py:99-100). Gated import: requests may
    be absent in the test container."""
    import requests  # deferred: optional dependency

    resp = requests.get(url, timeout=timeout)
    resp.raise_for_status()
    return resp.text
