"""Streaming Python DataSource: the reference's cron poll loop as a
Structured Streaming SOURCE.

The reference ingests by re-running a batch script on a 30-minute cron
(docs/GITHUB_ACTIONS_SETUP.md:79-106) — every run re-fetches the API
(etl_job.py:96-137) and relies on the sink's idempotent upsert to
absorb the overlap. This module re-expresses that loop the
Spark-native way: a ``SimpleDataSourceStreamReader`` whose OFFSET is
the poll counter, so the engine owns cadence (trigger), restart
(checkpointed offsets), and exactly-once delivery (offset-ranged
replay) instead of cron + upsert-dedup.

    spark.dataSource.register(CarbonIntensityStreamDataSource)
    raw = (spark.readStream.format("carbon_intensity_stream")
                .option("url", INTENSITY_URL).load())
    typed = telemetry_stream(raw)         # same parse_telemetry as
                                          # batch, plus the hour dedup

Design notes:

- One poll per microbatch: ``read(start)`` fetches the API once
  (inside the reference's retry envelope — rest_json.retry_with_backoff)
  and advances the offset by 1. Trigger interval = the reference's
  cron cadence; ``availableNow`` = the reference's single-shot run.
- Rows are ``(poll, payload)`` — the raw JSON string plus its offset.
  Parsing stays declarative in rest_json.parse_telemetry exactly as
  on the batch path; the fetched bytes never get flattened in driver
  Python.
- Replay: payloads fetched this process are kept in an offset-keyed
  cache until ``commit()`` evicts them, so ``readBetweenOffsets``
  (Spark's recovery path for an uncommitted batch) returns the same
  bytes, not a re-fetch — a re-fetch could observe a NEWER payload
  and silently break exactly-once. Replay across a driver restart
  needs the payload staged durably; production would land each poll
  to storage first (the WAL pattern Spark's own prefetching wrapper
  uses) — here the cache covers in-process recovery and the contract
  is documented rather than faked.
- ``file://`` URLs read via stdlib so tests (and air-gapped runs)
  need neither ``requests`` nor network; http(s) delegates to
  rest_json.fetch_json (requests + raise_for_status, etl_job.py:99).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import LongType, StringType, StructField, StructType

from flight_data_pipeline_spark.sources.rest_json import (
    fetch_json,
    retry_with_backoff,
)

STREAM_SCHEMA = StructType([
    StructField("poll", LongType(), nullable=False),
    StructField("payload", StringType(), nullable=True),
])


def _read_url(url: str, timeout: float = 10.0) -> str:
    """file:// via stdlib (tests, replayed landing zones); http(s) via
    the reference's requests GET."""
    if url.startswith("file://"):
        from urllib.request import urlopen

        with urlopen(url) as resp:  # local-scheme only in tests
            return resp.read().decode("utf-8")
    return fetch_json(url, timeout=timeout)


class CarbonPollStreamReader(SimpleDataSourceStreamReader):
    """Driver-side poller with poll-counter offsets ``{"poll": n}``.

    ``stage_dir`` (optional but production-required): a directory each
    poll's payload lands in (``{n}.json``) BEFORE the batch is
    planned — the WAL that makes restart recovery work. A restarted
    query replays its last planned-but-uncommitted batch through
    ``readBetweenOffsets`` on a FRESH reader whose in-memory cache is
    empty; with staging the bytes come back from disk, without it the
    replay fails loud (a silent re-fetch could observe a newer
    payload and break exactly-once). Staged files below the committed
    offset are pruned on ``commit`` alongside the cache."""

    def __init__(self, options: dict):
        url = options.get("url")
        if not url:
            raise ValueError("carbon_intensity_stream requires .option('url', ...)")
        self._url = url
        self._timeout = float(options.get("timeout", 10.0))
        # retry envelope identical to the batch path (etl_job.py:35-49);
        # base delay tunable so tests don't wall-clock the backoff
        self._fetch = retry_with_backoff(
            lambda: _read_url(self._url, self._timeout),
            base_delay=float(options.get("retry_base_delay", 2.0)))
        self._cache: dict[int, str] = {}
        self._stage_dir = options.get("stage_dir")
        if self._stage_dir:
            os.makedirs(self._stage_dir, exist_ok=True)

    def _stage_path(self, n: int) -> str:
        return os.path.join(self._stage_dir, f"{n}.json")

    def _lookup(self, n: int) -> str | None:
        if n in self._cache:
            return self._cache[n]
        if self._stage_dir and os.path.exists(self._stage_path(n)):
            with open(self._stage_path(n)) as fh:
                payload = fh.read()
            self._cache[n] = payload
            return payload
        return None

    def initialOffset(self) -> dict:
        return {"poll": 0}

    def read(self, start: dict):
        n = int(start["poll"])
        payload = self._lookup(n)  # re-entry / crash-after-stage replay
        if payload is None:
            payload = self._fetch()
            if self._stage_dir:
                # stage-then-plan: write via temp + rename so a crash
                # mid-write never leaves a torn payload behind
                tmp = self._stage_path(n) + ".tmp"
                with open(tmp, "w") as fh:
                    fh.write(payload)
                os.replace(tmp, self._stage_path(n))
            self._cache[n] = payload
        return iter([(n, payload)]), {"poll": n + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = int(start["poll"]), int(end["poll"])
        out = [(n, self._lookup(n)) for n in range(lo, hi)]
        missing = [n for n, p in out if p is None]
        if missing:
            raise RuntimeError(
                f"polls {missing} neither cached nor staged — replay across "
                "a driver restart requires .option('stage_dir', ...) so each "
                "poll lands durably before its batch is planned")
        return iter(out)

    def commit(self, end: dict) -> None:
        hi = int(end["poll"])
        for n in [k for k in self._cache if k < hi]:
            del self._cache[n]
        if self._stage_dir:
            for name in os.listdir(self._stage_dir):
                stem = name.split(".", 1)[0]
                if stem.isdigit() and int(stem) < hi:
                    os.remove(os.path.join(self._stage_dir, name))


class CarbonIntensityStreamDataSource(DataSource):
    """``spark.readStream.format("carbon_intensity_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "carbon_intensity_stream"

    def schema(self) -> StructType:
        return STREAM_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> CarbonPollStreamReader:
        return CarbonPollStreamReader(self.options)
