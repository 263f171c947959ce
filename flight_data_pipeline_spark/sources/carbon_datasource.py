"""Spark 4 Python DataSource for the carbon-intensity REST API
(S1-S3's scale-path primitive, SURVEY.md §2.1).

Registers a ``carbon_intensity`` batch format so ingestion is a plain
scan in the plan::

    spark.dataSource.register(CarbonIntensityDataSource)
    df = (spark.read.format("carbon_intensity")
          .option("windows", "2025-12-09T14:00Z,2025-12-09T14:30Z")
          .load())

Each requested half-hour window becomes one input partition, so a
backfill of N windows fans out across executors — the distributed
form of the reference's one-fetch-per-run loop (etl_job.py:96-137),
with the same retry envelope (3 attempts, 2·2^n backoff,
etl_job.py:32-49) applied per partition inside the reader.

For tests/offline use, option ``payload_json`` short-circuits HTTP
with an inline payload per window (executors must never require
network in CI). Rows come out typed exactly like parse_intensity ∘
parse_generation_mix: (window_start, overall_intensity, fuel_*_perc).
"""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
import pyspark.sql.types as T

from flight_data_pipeline_spark.sources.rest_json import (
    FUELS,
    fetch_json,
    retry_with_backoff,
)

SCHEMA = T.StructType([
    T.StructField("window_start", T.TimestampType()),
    T.StructField("overall_intensity", T.DoubleType()),
    T.StructField("fuel_gas_perc", T.DoubleType()),
    T.StructField("fuel_nuclear_perc", T.DoubleType()),
    T.StructField("fuel_wind_perc", T.DoubleType()),
    T.StructField("fuel_solar_perc", T.DoubleType()),
])

API_BASE = "https://api.carbonintensity.org.uk"


def _parse_window_payload(payload: dict):
    """Flatten one combined payload — the plain-Python mirror of the
    declarative parsers (kept tiny: the heavy/batch path is
    sources.rest_json; this runs once per partition-window)."""
    int_data = (payload.get("intensity") or {}).get("data") or []
    gen_data = (payload.get("generation") or {}).get("data")
    if not int_data:
        raise ValueError("No intensity data returned")  # etl_job.py:102-103
    rec = int_data[0]
    intensity = rec.get("intensity", {})
    value = intensity.get("actual") or intensity.get("forecast")  # falsy-0: etl_job.py:106
    ts_str = (rec.get("from") or "").replace("Z", "+00:00")
    try:
        ts = datetime.fromisoformat(ts_str)
    except ValueError:
        ts = None
    gen_rec = (gen_data[0] if isinstance(gen_data, list) else gen_data) or {}
    mix = gen_rec.get("generationmix") or []

    def fuel_perc(name: str) -> float:  # etl_job.py:124-128
        for entry in mix:
            if (entry.get("fuel") or "").lower() == name:
                return float(entry.get("perc") or 0)
        return 0.0

    return (ts, float(value) if value is not None else None,
            *[fuel_perc(f) for f in FUELS])


class WindowPartition(InputPartition):
    def __init__(self, window: str, payload_json: str | None):
        self.window = window
        self.payload_json = payload_json


class CarbonIntensityReader(DataSourceReader):
    def __init__(self, options: dict):
        self.windows = [w for w in (options.get("windows") or "now").split(",") if w]
        self.payloads = json.loads(options["payload_json"]) \
            if options.get("payload_json") else {}

    def partitions(self):
        # one partition per requested window → fetch fan-out scales
        # with the backfill size, not the driver
        return [WindowPartition(w, self.payloads.get(w)) for w in self.windows]

    def read(self, partition: WindowPartition):
        if partition.payload_json is not None:
            payload = json.loads(partition.payload_json)
        else:  # pragma: no cover - network path, exercised in prod only
            suffix = "" if partition.window == "now" else f"/{partition.window}"
            payload = {
                "intensity": json.loads(
                    retry_with_backoff(fetch_json)(f"{API_BASE}/intensity{suffix}")),
                "generation": json.loads(
                    retry_with_backoff(fetch_json)(f"{API_BASE}/generation{suffix}")),
            }
        yield _parse_window_payload(payload)


class CarbonIntensityDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "carbon_intensity"

    def schema(self):
        return SCHEMA

    def reader(self, schema) -> CarbonIntensityReader:
        return CarbonIntensityReader(self.options)
