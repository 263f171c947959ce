"""E2E pipeline tests (SURVEY.md §5 item 3): synthetic API payloads →
full pipeline → sink rows, dedup-skip behavior, status machine, audit
rows — mirroring run_pipeline's control flow (etl_job.py:184-288).
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from flight_data_pipeline_spark.pipeline import build_telemetry_batch, run_pipeline
from flight_data_pipeline_spark.sinks import AuditSink, TelemetrySink
from flight_data_pipeline_spark.sources.rest_json import (
    parse_generation_mix,
    parse_intensity,
    payload_df,
    retry_with_backoff,
)

INTENSITY = json.dumps({"data": [{
    "from": "2025-12-09T14:00Z", "to": "2025-12-09T14:30Z",
    "intensity": {"actual": 90, "forecast": 95},
}]})
MIX = json.dumps({"data": [{"generationmix": [
    {"fuel": "gas", "perc": 45.5}, {"fuel": "WIND", "perc": 25.3},
    {"fuel": "nuclear", "perc": 20.0}, {"fuel": "solar", "perc": 5.2},
]}]})


@pytest.fixture
def paths(tmp_path):
    return str(tmp_path / "telemetry"), str(tmp_path / "audit")


def run(spark, paths, intensity=INTENSITY, mix=MIX, **kw):
    tele, audit = paths
    return run_pipeline(
        spark,
        fetch_intensity=lambda: intensity,
        fetch_mix=lambda: mix,
        telemetry_path=tele,
        audit_path=audit,
        sleep=lambda s: None,
        **kw,
    )


class TestParsing:
    def test_intensity_parse(self, spark):
        row = parse_intensity(payload_df(spark, [INTENSITY])).first()
        assert row.overall_intensity == 90.0
        assert (row.window_start.year, row.window_start.hour,
                row.window_start.minute) == (2025, 14, 0)
        assert row.window_end.minute == 30

    def test_intensity_actual_zero_uses_forecast(self, spark):
        p = json.dumps({"data": [{"from": "2025-12-09T14:00Z",
                                  "intensity": {"actual": 0, "forecast": 95}}]})
        assert parse_intensity(payload_df(spark, [p])).first().overall_intensity == 95.0

    def test_intensity_bad_from_defaults_to_now(self, spark):
        p = json.dumps({"data": [{"from": "garbage",
                                  "intensity": {"actual": 90}}]})
        now = F.lit("2025-12-09 16:00:00").cast("timestamp")
        row = parse_intensity(payload_df(spark, [p]), now=now).first()
        assert row.window_start.hour == 16

    def test_mix_list_and_dict_drift(self, spark):
        # etl_job.py:121 — data may be a dict rather than a list
        as_dict = json.dumps({"data": {"generationmix": [
            {"fuel": "Gas", "perc": 40.0}]}})
        for payload in (MIX, as_dict):
            row = parse_generation_mix(payload_df(spark, [payload])).first()
            assert row.fuel_gas_perc in (45.5, 40.0)

    def test_mix_case_insensitive_and_missing_default(self, spark):
        row = parse_generation_mix(payload_df(spark, [MIX])).first()
        assert row.fuel_wind_perc == 25.3  # "WIND" matched case-insensitively
        only_gas = json.dumps({"data": [{"generationmix": [
            {"fuel": "gas", "perc": 45.5}]}]})
        row = parse_generation_mix(payload_df(spark, [only_gas])).first()
        assert (row.fuel_nuclear_perc, row.fuel_wind_perc, row.fuel_solar_perc) \
            == (0.0, 0.0, 0.0)


class TestPipelineRuns:
    def test_first_run_success(self, spark, paths):
        res = run(spark, paths)
        assert (res.status, res.rows_inserted) == ("success", 1)
        tele = TelemetrySink(spark, paths[0]).read()
        assert tele.count() == 1
        audit = AuditSink(spark, paths[1]).read().first()
        assert audit.status == "success" and audit.rows_inserted == 1

    def test_second_run_same_hour_skipped(self, spark, paths):
        run(spark, paths)
        res = run(spark, paths)  # same hour → dedup skip (etl_job.py:234-237)
        assert (res.status, res.rows_inserted) == ("skipped", 0)
        assert TelemetrySink(spark, paths[0]).read().count() == 1
        statuses = {r.status for r in AuditSink(spark, paths[1]).read().collect()}
        assert statuses == {"success", "skipped"}

    def test_different_hour_inserted(self, spark, paths):
        run(spark, paths)
        later = INTENSITY.replace("T14:00Z", "T15:00Z").replace("T14:30Z", "T15:30Z")
        res = run(spark, paths, intensity=later)
        assert (res.status, res.rows_inserted) == ("success", 1)
        assert TelemetrySink(spark, paths[0]).read().count() == 2

    def test_invalid_data_still_written(self, spark, paths):
        # flag-don't-drop + the reference's success-overwrites-partial
        # quirk (etl_job.py:213-218, 262): row written, status 'success'
        bad_mix = json.dumps({"data": [{"generationmix": [
            {"fuel": "gas", "perc": 150.0}]}]})
        res = run(spark, paths, mix=bad_mix)
        assert res.status == "success"
        row = TelemetrySink(spark, paths[0]).read().first()
        assert row.fuel_gas_perc == 150.0  # written, not dropped/clamped

    def test_fetch_failure_audited(self, spark, paths):
        def boom():
            raise ValueError("api down")
        tele, audit = paths
        res = run_pipeline(spark, boom, lambda: MIX, tele, audit,
                           sleep=lambda s: None)
        assert res.status == "failure"
        assert "api down" in res.error_message
        audit_row = AuditSink(spark, audit).read().first()
        assert audit_row.status == "failure"
        assert "api down" in audit_row.error_message


class TestBatchCli:
    def test_main_runs_one_pipeline_and_exits_zero(self, spark, paths, capsys):
        """EP2 parity: `python -m flight_data_pipeline_spark` runs one
        batch pipeline (etl_job.py:290-293) and exits 0 on success,
        1 on failure — what the cron workflow keys its status on."""
        from flight_data_pipeline_spark.__main__ import main

        tele, audit = paths
        rc = main(["--telemetry", tele, "--audit", audit],
                  fetch_intensity=lambda: INTENSITY, fetch_mix=lambda: MIX)
        assert rc == 0
        assert "status=success rows_inserted=1" in capsys.readouterr().out
        assert TelemetrySink(spark, tele).read().first().overall_intensity == 90.0

    def test_main_exit_code_on_failure(self, paths):
        from flight_data_pipeline_spark.__main__ import main

        def boom():
            raise ValueError("api down")

        tele, audit = paths
        rc = main(["--telemetry", tele, "--audit", audit],
                  fetch_intensity=boom, fetch_mix=lambda: MIX)
        assert rc == 1


class TestRetry:
    def test_backoff_schedule_and_reraise(self):
        calls, waits = [], []

        def flaky():
            calls.append(1)
            raise ConnectionError("nope")

        with pytest.raises(ConnectionError):
            retry_with_backoff(flaky, sleep=waits.append)()
        assert len(calls) == 3            # etl_job.py:32 MAX_RETRIES
        assert waits == [2.0, 4.0]        # 2·2^n, no sleep after last

    def test_parse_errors_fail_fast(self):
        """The reference retries only requests.RequestException
        (etl_job.py:41): a ValueError from a malformed payload must
        propagate on the first attempt, with zero backoff waits."""
        calls, waits = [], []

        def malformed():
            calls.append(1)
            raise ValueError("bad payload")

        with pytest.raises(ValueError):
            retry_with_backoff(malformed, sleep=waits.append)()
        assert len(calls) == 1
        assert waits == []

    def test_recovers_after_transient(self):
        attempts = []

        def flaky():
            attempts.append(1)
            if len(attempts) < 3:
                raise ConnectionError("transient")
            return "ok"

        assert retry_with_backoff(flaky, sleep=lambda s: None)() == "ok"


class TestBatchJoin:
    def test_single_row_zip(self, spark):
        row = build_telemetry_batch(spark, INTENSITY, MIX).first()
        assert row.overall_intensity == 90.0
        assert row.fuel_gas_perc == 45.5
        assert row.timestamp.hour == 14


class TestEmptyPayloads:
    # etl_job.py:102-103,118-119 — empty/malformed payloads raise, the
    # run is audited as 'failure', and NO row reaches the sink
    def test_garbage_json_is_failure(self, spark, paths):
        res = run(spark, paths, intensity="not json {")
        assert res.status == "failure"
        assert "No intensity data returned" in res.error_message
        assert TelemetrySink(spark, paths[0]).read().count() == 0

    def test_empty_data_is_failure(self, spark, paths):
        res = run(spark, paths, intensity=json.dumps({"data": []}))
        assert res.status == "failure"
        assert TelemetrySink(spark, paths[0]).read().count() == 0
        assert AuditSink(spark, paths[1]).read().first().status == "failure"

    def test_empty_mix_is_failure(self, spark, paths):
        res = run(spark, paths, mix=json.dumps({"data": []}))
        assert res.status == "failure"
        assert "No generation data returned" in res.error_message


class TestMultiWindowBatch:
    def test_backfill_equi_join_pairs_by_window(self, spark):
        from flight_data_pipeline_spark.pipeline import build_telemetry_batch_multi

        def mk_int(h, actual):
            return json.dumps({"data": [{"from": f"2025-12-09T{h:02d}:00Z",
                                         "intensity": {"actual": actual}}]})

        def mk_mix(gas):
            return json.dumps({"data": [{"generationmix": [
                {"fuel": "gas", "perc": gas}]}]})

        pairs = [
            ("w14", mk_int(14, 90), mk_mix(40.0)),
            ("w15", mk_int(15, 80), mk_mix(50.0)),
            ("w16", "garbage {", mk_mix(60.0)),          # dead-lettered
            ("w17", mk_int(17, 70), json.dumps({"data": []})),  # dead-lettered
        ]
        rows = {r.timestamp.hour: r
                for r in build_telemetry_batch_multi(spark, pairs).collect()}
        assert sorted(rows) == [14, 15]  # bad windows dropped, not mis-paired
        assert rows[14].overall_intensity == 90.0 and rows[14].fuel_gas_perc == 40.0
        assert rows[15].overall_intensity == 80.0 and rows[15].fuel_gas_perc == 50.0

    def test_shared_window_key_pairs_by_row(self, spark):
        """Two pairs that carry the same window_key are still two
        windows: each row keeps its own pair's generation mix, never
        the other pair's (a join on the key would cross-pair them)."""
        from flight_data_pipeline_spark.pipeline import build_telemetry_batch_multi

        def pair(h, gas):
            return ("w", json.dumps({"data": [{
                        "from": f"2025-12-09T{h:02d}:00Z",
                        "intensity": {"actual": 90}}]}),
                    json.dumps({"data": [{"generationmix": [
                        {"fuel": "gas", "perc": gas}]}]}))

        rows = build_telemetry_batch_multi(
            spark, [pair(14, 40.0), pair(15, 50.0)]).collect()
        assert sorted((r.timestamp.hour, r.fuel_gas_perc) for r in rows) \
            == [(14, 40.0), (15, 50.0)]


def _variant(from_="2025-12-09T14:00Z", intensity=None, mix_data=None):
    intensity = {"actual": 90, "forecast": 95} if intensity is None \
        else intensity
    mix_data = [{"generationmix": [
        {"fuel": "gas", "perc": 45.5}, {"fuel": "nuclear", "perc": 20.0},
        {"fuel": "wind", "perc": 25.3}, {"fuel": "solar", "perc": 5.2},
    ]}] if mix_data is None else mix_data
    return ({"data": [{"from": from_, "intensity": intensity}]},
            {"data": mix_data})


PARSE_VARIANTS = {  # name: (intensity doc, generation doc, expected fields)
    "list_data": (*_variant(), {"overall_intensity": 90.0,
                                "fuel_wind_perc": 25.3}),
    "dict_data": (*_variant(mix_data={"generationmix": [
        {"fuel": "gas", "perc": 40.0}, {"fuel": "wind", "perc": 30.0}]}),
        {"fuel_gas_perc": 40.0, "fuel_wind_perc": 30.0}),
    "actual_zero_uses_forecast": (
        *_variant(intensity={"actual": 0, "forecast": 95}),
        {"overall_intensity": 95.0}),
    "missing_fuel_is_zero": (*_variant(mix_data=[{"generationmix": [
        {"fuel": "gas", "perc": 45.5}]}]),
        {"fuel_gas_perc": 45.5, "fuel_nuclear_perc": 0.0,
         "fuel_wind_perc": 0.0, "fuel_solar_perc": 0.0}),
    "mixed_case_fuels": (*_variant(mix_data=[{"generationmix": [
        {"fuel": "GAS", "perc": 41.0}, {"fuel": "Nuclear", "perc": 21.0},
        {"fuel": "wInD", "perc": 22.0}, {"fuel": "SOLAR", "perc": 3.0}]}]),
        {"fuel_gas_perc": 41.0, "fuel_nuclear_perc": 21.0,
         "fuel_wind_perc": 22.0, "fuel_solar_perc": 3.0}),
    "unparseable_from": (*_variant(from_="garbage"),
                         {"overall_intensity": 90.0}),
}


class TestSharedParse:
    """Batch run, backfill and stream all parse through
    ``rest_json.parse_telemetry``; each variant of payload drift gives
    the same row on every path. The one pinned difference: an
    unparseable ``from`` defaults to ``now`` in a batch run and stays
    NULL in the backfill and the stream (neither has a single now)."""

    NOW = "2025-12-09 16:00:00"

    @pytest.mark.parametrize("name", sorted(PARSE_VARIANTS))
    def test_batch_backfill_and_stream_rows_equal(self, spark, name):
        from flight_data_pipeline_spark.pipeline import (
            TELEMETRY_COLS,
            build_telemetry_batch_multi,
        )
        from flight_data_pipeline_spark.streaming.pipeline_stream import (
            _payload_rows,
        )

        int_doc, mix_doc, expect = PARSE_VARIANTS[name]
        int_p, mix_p = json.dumps(int_doc), json.dumps(mix_doc)
        batch = build_telemetry_batch(
            spark, int_p, mix_p,
            now=F.lit(self.NOW).cast("timestamp")).collect()
        backfill = build_telemetry_batch_multi(
            spark, [("w", int_p, mix_p)]).collect()
        raw = spark.createDataFrame(
            [(json.dumps({"intensity": int_doc, "generation": mix_doc}),)],
            "payload string")
        stream = _payload_rows(raw)
        assert tuple(stream.columns) == (*TELEMETRY_COLS, "int_found",
                                         "mix_found")
        stream = stream.where("int_found").select(*TELEMETRY_COLS).collect()
        assert len(batch) == len(backfill) == len(stream) == 1
        assert backfill == stream
        got = stream[0].asDict()
        assert {k: got[k] for k in expect} == expect
        if name == "unparseable_from":
            assert batch[0].timestamp.hour == 16
            assert stream[0].timestamp is None
            batch = [batch[0].asDict() | {"timestamp": None}]
            stream = [stream[0].asDict()]
        assert batch == stream

    def test_generation_less_record_written_by_no_path(self, spark, paths,
                                                       tmp_path):
        """An intensity record whose generation payload has no data is
        no record on any path: the batch run fails, the backfill
        builder drops it, and the stream writes nothing."""
        from flight_data_pipeline_spark.pipeline import (
            build_telemetry_batch_multi,
        )
        from flight_data_pipeline_spark.streaming.pipeline_stream import (
            stream_telemetry,
        )

        empty_mix = {"data": []}
        res = run(spark, paths, mix=json.dumps(empty_mix))
        assert res.status == "failure"
        assert "No generation data returned" in res.error_message
        assert TelemetrySink(spark, paths[0]).read().count() == 0
        assert build_telemetry_batch_multi(
            spark, [("w", INTENSITY, json.dumps(empty_mix))]).count() == 0
        landing = tmp_path / "landing"
        landing.mkdir()
        (landing / "p.json").write_text(json.dumps(
            {"intensity": json.loads(INTENSITY), "generation": empty_mix}))
        tele = str(tmp_path / "stream_tele")
        q = stream_telemetry(spark, str(landing), tele,
                             str(tmp_path / "stream_audit"),
                             str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        assert not q.isActive
        assert TelemetrySink(spark, tele).read().count() == 0


class TestPartitionedSink:
    def test_day_partitioned_sink_round_trip_and_dedup(self, spark, tmp_path):
        import datetime as dt
        from flight_data_pipeline_spark.sinks import TelemetrySink

        sink = TelemetrySink(spark, str(tmp_path / "tele"), partition_by_day=True)
        batch = spark.createDataFrame(
            [(dt.datetime(2025, 12, 9, 14), 90.0, 1.0, 2.0, 3.0, 4.0),
             (dt.datetime(2025, 12, 10, 9), 80.0, 1.0, 2.0, 3.0, 4.0)],
            sink.schema)
        assert sink.append_dedup(batch) == 2
        # directory layout: one bucket_date= dir per day (partition pruning)
        dirs = {p.name for p in (tmp_path / "tele").iterdir() if p.is_dir()}
        assert {"bucket_date=2025-12-09", "bucket_date=2025-12-10"} <= dirs
        # re-run: same hours -> 0 inserted; new hour same day -> 1
        assert sink.append_dedup(batch) == 0
        more = spark.createDataFrame(
            [(dt.datetime(2025, 12, 9, 15), 85.0, 1.0, 2.0, 3.0, 4.0)],
            sink.schema)
        assert sink.append_dedup(more) == 1
        assert sink.read().count() == 3

    def test_read_range_prunes_partitions(self, spark, tmp_path):
        import datetime as dt
        from flight_data_pipeline_spark.sinks import TelemetrySink

        sink = TelemetrySink(spark, str(tmp_path / "tele"), partition_by_day=True)
        batch = spark.createDataFrame(
            [(dt.datetime(2025, 12, d, 14), 90.0, 1.0, 2.0, 3.0, 4.0)
             for d in (9, 10, 11)],
            sink.schema)
        sink.append_dedup(batch)
        df = sink.read_range("2025-12-10", "2025-12-10")
        assert df.count() == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket_date" in plan

    def test_overwrite_days_replaces_only_touched_partitions(self, spark, tmp_path):
        """Rerun/backfill discipline: dynamic partition overwrite
        replaces exactly the days in the corrected batch; untouched
        days keep their rows (SURVEY §7.3 — the engine's answer to
        the reference's Postgres upsert correction path)."""
        import datetime as dt
        from flight_data_pipeline_spark.sinks import TelemetrySink

        sink = TelemetrySink(spark, str(tmp_path / "tele"), partition_by_day=True)
        batch = spark.createDataFrame(
            [(dt.datetime(2025, 12, 9, 14), 90.0, 1.0, 2.0, 3.0, 4.0),
             (dt.datetime(2025, 12, 9, 15), 91.0, 1.0, 2.0, 3.0, 4.0),
             (dt.datetime(2025, 12, 10, 9), 80.0, 1.0, 2.0, 3.0, 4.0)],
            sink.schema)
        sink.append_dedup(batch)
        # recompute day 9 with corrected values, one row instead of two
        fixed = spark.createDataFrame(
            [(dt.datetime(2025, 12, 9, 14), 55.5, 9.0, 2.0, 3.0, 4.0)],
            sink.schema)
        sink.overwrite_days(fixed)
        rows = {(r.timestamp, r.overall_intensity)
                for r in sink.read().collect()}
        assert rows == {
            (dt.datetime(2025, 12, 9, 14), 55.5),   # replaced
            (dt.datetime(2025, 12, 10, 9), 80.0),   # untouched day kept
        }
        with pytest.raises(ValueError, match="partition_by_day"):
            TelemetrySink(spark, str(tmp_path / "flat")).overwrite_days(fixed)

    def test_unreadable_sink_raises_instead_of_reading_empty(
            self, spark, tmp_path):
        """Only a sink with no data files reads as an empty sink. A sink
        whose data file is corrupt must fail the dedup: read as empty,
        it would append the hour it already holds."""
        import datetime as dt
        from flight_data_pipeline_spark.sinks import TelemetrySink

        root = tmp_path / "tele"
        sink = TelemetrySink(spark, str(root), partition_by_day=True)
        assert sink.read().count() == 0
        root.mkdir()
        (root / "_SUCCESS").touch()
        assert sink.read().count() == 0
        batch = spark.createDataFrame(
            [(dt.datetime(2025, 12, 9, 14), 90.0, 1.0, 2.0, 3.0, 4.0)],
            sink.schema)
        assert sink.append_dedup(batch) == 1
        assert sink.append_dedup(batch) == 0
        (data,) = [p for p in root.rglob("*.parquet")
                   if not p.name.startswith((".", "_"))]
        data.write_bytes(b"not a parquet file")
        with pytest.raises(Exception):
            sink.append_dedup(batch)
        assert [p for p in root.rglob("*.parquet")
                if not p.name.startswith((".", "_"))] == [data]


class TestContiguousIds:
    def test_assign_contiguous_ids(self, spark):
        """0..n−1, unique, contiguous — over a multi-partition frame,
        without any global sort (the BIGSERIAL stand-in)."""
        from flight_data_pipeline_spark.operators.relational import (
            assign_contiguous_ids,
        )

        df = spark.range(0, 1000, 1, 7).withColumnRenamed("id", "k")
        out = assign_contiguous_ids(df, order_within_partition=("k",))
        rows = out.collect()
        assert sorted(r.row_id for r in rows) == list(range(1000))
        # ids ascend with k (spark.range partitions are contiguous
        # ranges and offsets accumulate in partition order, so the
        # declared order key implies globally k-sorted ids here)
        by_k = sorted(rows, key=lambda r: r.k)
        assert [r.row_id for r in by_k] == list(range(1000))

    def test_assign_contiguous_ids_default_path_shuffle_free(self, spark):
        """Default (arrival-order) path: ids still 0..n−1 and the
        data row stream never crosses an exchange — the local index
        is decomposed from monotonically_increasing_id, offsets
        arrive via broadcast, and the only hashpartitioning exchange
        in the plan belongs to the per-partition COUNT aggregate
        (partial-aggregated: it ships one row per partition)."""
        from flight_data_pipeline_spark.operators.relational import (
            assign_contiguous_ids,
        )

        df = spark.range(0, 1000, 1, 7).withColumnRenamed("id", "k")
        out = assign_contiguous_ids(df)
        assert sorted(r.row_id for r in out.collect()) == list(range(1000))
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the data (streamed) side prints before the broadcast child:
        # it must cross no exchange at all. The offsets subtree keeps
        # its two tiny ones (partial count agg + partition-count-row
        # running-sum window).
        data_side = plan.split("BroadcastExchange")[0]
        assert "Exchange" not in data_side
        # no Window over the data in the default path
        assert "row_number" not in data_side

    def test_assign_contiguous_ids_ordered_path_no_single_partition(self, spark):
        from flight_data_pipeline_spark.operators.relational import (
            assign_contiguous_ids,
        )

        df = spark.range(0, 1000, 1, 7).withColumnRenamed("id", "k")
        plan = assign_contiguous_ids(df, order_within_partition=("k",)) \
            ._jdf.queryExecution().executedPlan().toString()
        # the data-side window partitions by spark_partition_id — no
        # single-partition Exchange of the full data (the scale trap
        # of row_number() OVER (ORDER BY ...))
        assert "Exchange SinglePartition" not in plan.split("BroadcastExchange")[0]


class TestQueryCli:
    def test_list_names_all_queries(self, capsys):
        from flight_data_pipeline_spark.__main__ import main
        from flight_data_pipeline_spark.plans import registry

        registry.load_all()
        assert main(["query", "--list"]) == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert len(out) == len(registry.QUERIES)
        assert any(line.startswith("daily_rollup\tchecked") for line in out)

    def test_unknown_query_exits_2(self, capsys):
        from flight_data_pipeline_spark.__main__ import main

        assert main(["query", "no_such_query"]) == 2

    def test_runs_query_and_prints_head(self, spark, capsys):
        from flight_data_pipeline_spark.__main__ import main
        from tests.conftest import SF_DIR

        assert main(["query", "scalar_counts", "--sf-dir", SF_DIR]) == 0
        assert "n_events" in capsys.readouterr().out


class TestSqlCli:
    """EP3 raw-SQL parity (VERDICT r7 #6): the reference's documented
    monitoring SQL runs VERBATIM through `query --sql` against this
    engine's sinks, and each result equals its checked-query twin's
    DataFrame logic computed over the same sink rows."""

    # verbatim from the reference docs — do not reformat
    SQL_SUCCESS_RATE = """SELECT
  DATE(run_timestamp) AS day,
  COUNT(*) AS total_runs,
  SUM(CASE WHEN status = 'success' THEN 1 ELSE 0 END) AS successful,
  ROUND(100.0 * SUM(CASE WHEN status = 'success' THEN 1 ELSE 0 END) / COUNT(*), 2) AS success_pct
FROM etl_runs
WHERE run_timestamp >= NOW() - INTERVAL '7 days'
GROUP BY 1
ORDER BY 1 DESC;"""  # README.md:171-181
    SQL_RECENT = """SELECT run_timestamp, status, rows_inserted, execution_time_ms, error_message
FROM etl_runs
ORDER BY run_timestamp DESC
LIMIT 10;"""  # README.md:184-188
    SQL_STATUS_PCT = """SELECT
  status,
  COUNT(*) as count,
  ROUND(100.0 * COUNT(*) / (SELECT COUNT(*) FROM etl_runs), 1) as pct
FROM etl_runs
GROUP BY status;"""  # docs/GITHUB_ACTIONS_SETUP.md:83-89
    SQL_TREND = """SELECT
  DATE_TRUNC('day', run_timestamp) as day,
  AVG(execution_time_ms) as avg_ms,
  MAX(execution_time_ms) as max_ms
FROM etl_runs
WHERE status = 'success'
GROUP BY 1
ORDER BY 1 DESC;"""  # docs/GITHUB_ACTIONS_SETUP.md:97-105
    SQL_TOTAL = "SELECT COUNT(*) FROM etl_runs;"       # docs:81
    SQL_TELE = "SELECT COUNT(*) FROM grid_telemetry;"  # README.md:193

    @pytest.fixture
    def populated(self, spark, paths):
        """Three pipeline runs → etl_runs rows with success / skipped /
        failure statuses and one telemetry row."""
        run(spark, paths)                       # success
        run(spark, paths)                       # same hour → skipped

        def boom():
            raise ValueError("api down")

        tele, audit = paths
        run_pipeline(spark, boom, lambda: MIX, tele, audit,
                     sleep=lambda s: None)      # failure
        return paths

    def _sql(self, spark, populated, sql):
        from flight_data_pipeline_spark.__main__ import sql_client
        from tests.conftest import SF_DIR

        tele, audit = populated
        return sql_client(spark, sql, SF_DIR, tele, audit)

    def test_verbatim_success_rate_equals_twin(self, spark, populated):
        got = self._sql(spark, populated, self.SQL_SUCCESS_RATE).collect()
        audit = AuditSink(spark, populated[1]).read()
        twin = (
            audit.groupBy(F.to_date("run_timestamp").alias("day"))
            .agg(F.count("*").alias("total_runs"),
                 F.sum(F.when(F.col("status") == "success", 1)
                       .otherwise(0)).alias("successful"))
            .collect()
        )
        assert len(got) == len(twin) == 1
        assert (got[0].total_runs, got[0].successful) \
            == (twin[0].total_runs, twin[0].successful) == (3, 1)
        # Spark types ROUND(100.0 * …, 2) as DECIMAL — compare as float
        assert float(got[0].success_pct) == round(100.0 * 1 / 3, 2)

    def test_verbatim_recent_runs_equals_twin(self, spark, populated):
        got = self._sql(spark, populated, self.SQL_RECENT).collect()
        audit = AuditSink(spark, populated[1]).read()
        twin = (audit.orderBy(F.desc("run_timestamp")).limit(10)
                .select("run_timestamp", "status", "rows_inserted",
                        "execution_time_ms", "error_message").collect())
        assert [tuple(r) for r in got] == [tuple(r) for r in twin]
        assert {r.status for r in got} == {"success", "skipped", "failure"}

    def test_verbatim_status_distribution_equals_twin(self, spark,
                                                      populated):
        got = {r.status: (r["count"], float(r.pct))
               for r in self._sql(spark, populated,
                                  self.SQL_STATUS_PCT).collect()}
        assert got == {"success": (1, 33.3), "skipped": (1, 33.3),
                       "failure": (1, 33.3)}

    def test_verbatim_trend_and_scalar_counts(self, spark, populated):
        trend = self._sql(spark, populated, self.SQL_TREND).collect()
        audit = AuditSink(spark, populated[1]).read()
        ms = [r.execution_time_ms for r in
              audit.where(F.col("status") == "success").collect()]
        assert len(trend) == 1
        assert trend[0].avg_ms == sum(ms) / len(ms)
        assert trend[0].max_ms == max(ms)
        assert self._sql(spark, populated,
                         self.SQL_TOTAL).first()[0] == 3
        assert self._sql(spark, populated, self.SQL_TELE).first()[0] == 1

    def test_cli_flag_prints_result(self, spark, populated, capsys):
        from flight_data_pipeline_spark.__main__ import main
        from tests.conftest import SF_DIR

        tele, audit = populated
        rc = main(["query", "--sql", self.SQL_TOTAL, "--sf-dir", SF_DIR,
                   "--telemetry", tele, "--audit", audit])
        assert rc == 0
        assert "3" in capsys.readouterr().out

    def test_statement_registers_the_fixture_it_names(self, spark, paths):
        from flight_data_pipeline_spark.__main__ import sql_client
        from flight_data_pipeline_spark.tables import load_table
        from tests.conftest import SF_DIR

        got = sql_client(spark, "SELECT COUNT(*) FROM lineitem", SF_DIR,
                         *paths).first()[0]
        assert got == load_table(spark, "lineitem", SF_DIR).count()

    def test_sinks_only_statement_reads_no_fixture(self, spark, paths):
        from flight_data_pipeline_spark.__main__ import sql_client
        from tests.conftest import SF_DIR, run_observed

        # a fixture view would cost a schema-inference job here; the
        # never-written sinks are empty LocalRelations and cost none
        _, jobs, _ = run_observed(
            spark, lambda: sql_client(spark, self.SQL_TOTAL, SF_DIR, *paths))
        assert jobs == []

    def test_name_and_sql_are_exclusive(self, capsys):
        from flight_data_pipeline_spark.__main__ import main

        assert main(["query", "daily_rollup", "--sql", "SELECT 1"]) == 2


class TestSingleProbeAction:
    def test_run_pipeline_uses_one_driver_probe(self, spark, paths,
                                                monkeypatch):
        """VERDICT r4 item 8: missing-payload detection and the
        partial-validation probe fold into ONE driver round-trip per
        run (a single .first() of a projection of the one-row batch;
        zero isEmpty calls) — the write is the only other action."""
        # patch the CONCRETE class (Spark 4's classic DataFrame
        # subclass defines these itself, shadowing the abstract base)
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # older layout
            from pyspark.sql import DataFrame

        calls = {"first": 0, "isEmpty": 0, "collect": 0, "count": 0}
        for name in calls:
            orig = getattr(DataFrame, name)

            def wrapped(self, *a, _n=name, _o=orig, **kw):
                calls[_n] += 1
                return _o(self, *a, **kw)

            monkeypatch.setattr(DataFrame, name, wrapped)

        res = run(spark, paths)
        assert res.status == "success"
        assert calls["isEmpty"] == 0
        assert calls["first"] == 1
        # (collect is not asserted: first() routes through it)
        assert calls["count"] == 0


class TestLocalRelationIngest:
    """The cron batch is built on the driver as a LocalRelation, so its
    parse and probe fold on the driver and its writes are one slice."""

    def test_parse_and_probe_run_no_spark_job(self, spark, paths,
                                              monkeypatch):
        import uuid

        sc = spark.sparkContext
        group = f"ingest-{uuid.uuid4().hex}"
        before_write = []
        orig = TelemetrySink.append_dedup

        def append_dedup(self, df):
            before_write.extend(
                sc.statusTracker().getJobIdsForGroup(group))
            return orig(self, df)

        monkeypatch.setattr(TelemetrySink, "append_dedup", append_dedup)
        sc.setJobGroup(group, "run_pipeline on fresh sinks")
        try:
            res = run(spark, paths)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert res.status == "success"
        assert before_write == []
        # the tracker does see the run's jobs: the dedup checkpoint and writes
        assert sc.statusTracker().getJobIdsForGroup(group)

    def test_batch_plans_as_local_table_scan(self, spark):
        plan = (build_telemetry_batch(spark, INTENSITY, MIX)
                ._jdf.queryExecution().executedPlan().toString())
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan

    def test_fresh_sink_drops_out_of_the_dedup_plan(self, spark, paths):
        from flight_data_pipeline_spark.operators.dedup import (
            dedup_against_sink)

        batch = build_telemetry_batch(spark, INTENSITY, MIX)
        fresh = dedup_against_sink(
            batch, TelemetrySink(spark, paths[0]).read(),
            bucket=F.date_trunc("hour", F.col("timestamp")))
        plan = fresh._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan

    @pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
    def test_naive_run_timestamp_keeps_local_time_meaning(
            self, spark, tmp_path, tz):
        """A naive ``run_timestamp`` means the Python process's local
        time, as ``createDataFrame(list, schema)`` reads it."""
        import datetime as dt
        import os
        import time

        naive = dt.datetime(2025, 6, 1, 12, 0)
        old_tz = os.environ.get("TZ")
        os.environ["TZ"] = tz
        time.tzset()
        try:
            AuditSink(spark, str(tmp_path / "audit")).log_run(
                "success", 1, 5, run_timestamp=naive)
            got = AuditSink(spark, str(tmp_path / "audit")).read().selectExpr(
                "unix_micros(run_timestamp) AS us").first().us
            want = spark.createDataFrame(
                [(naive,)], "t timestamp").selectExpr(
                "unix_micros(t) AS us").first().us
            assert got == want == int(naive.timestamp()) * 1_000_000
        finally:
            if old_tz is None:
                os.environ.pop("TZ", None)
            else:
                os.environ["TZ"] = old_tz
            time.tzset()

    def test_log_run_writes_one_data_file(self, spark, tmp_path):
        root = tmp_path / "audit"
        audit = AuditSink(spark, str(root))

        def data_files():
            return [p for p in root.iterdir()
                    if not p.name.startswith((".", "_"))]

        audit.log_run("success", 1, 5)
        assert len(data_files()) == 1
        audit.log_run("skipped", 0, 5)
        assert len(data_files()) == 2
        assert audit.read().count() == 2


class TestAppendDedupWritesOnce:
    """``append_dedup`` runs its plan once: one checkpoint job holds
    the fresh rows and their count, and the write reads that
    checkpoint, so ``n`` is what lands in the sink."""

    @staticmethod
    def _rows(spark, *hours):
        import datetime as dt

        from flight_data_pipeline_spark.session import local_frame
        from flight_data_pipeline_spark.sinks import TELEMETRY_SCHEMA

        return local_frame(
            spark, [(dt.datetime(2025, 12, 9, h), 90.0, 45.5, 20.0, 25.3, 5.2)
                    for h in hours], TELEMETRY_SCHEMA)

    def test_sink_read_runs_once(self, spark, tmp_path):
        from flight_data_pipeline_spark.operators.dedup import (
            dedup_against_sink, first_per_bucket)
        from tests.conftest import run_observed

        sink = TelemetrySink(spark, str(tmp_path / "t"))
        sink.append(self._rows(spark, 10))
        batch = self._rows(spark, 10, 11, 12)
        hour = F.date_trunc("hour", F.col("timestamp"))
        plan = first_per_bucket(
            dedup_against_sink(batch, sink.read(), bucket=hour),
            hour, ["timestamp"])
        _, plan_jobs, _ = run_observed(
            spark, lambda: plan.write.format("noop").mode("overwrite").save())

        n, jobs, plans = run_observed(spark, lambda: sink.append_dedup(batch))
        assert n == 2 == sink.read().count() - 1
        # the checkpoint scans the sink; the write scans the checkpoint
        assert sum("Scan parquet" in p for p in plans) == 1
        # the plan's jobs once, then the write's one job
        assert len(jobs) == len(plan_jobs) + 1

    @pytest.mark.parametrize("hours", [(), (10,)], ids=["empty", "all-seen"])
    def test_nothing_fresh_returns_zero_and_writes_no_file(
            self, spark, tmp_path, hours):
        import threading

        root = tmp_path / "t"
        sink = TelemetrySink(spark, str(root))
        sink.append(self._rows(spark, 10))
        files = sorted(root.iterdir())
        got = {}
        t = threading.Thread(
            target=lambda: got.update(
                n=sink.append_dedup(self._rows(spark, *hours))),
            daemon=True)
        t.start()
        t.join(120)
        assert not t.is_alive(), "append_dedup blocked on its count"
        assert got["n"] == 0
        assert sorted(root.iterdir()) == files


class TestJdbcSinkEmbeddedDerby:
    """Execute the literal-parity S4 JDBC sink (sinks.JdbcSink,
    mirroring etl_job.py:222-260's psycopg INSERT + commit) against
    embedded Derby — previously the one reference behavior never run
    in-container (VERDICT r6 "what's missing" item 3). Derby ships in
    pyspark/jars (Spark's Hive-metastore dependency), so local-mode
    executors can always load org.apache.derby.jdbc.EmbeddedDriver;
    skip — rather than fail — if a trimmed distribution dropped it."""

    PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def _sink(self, spark, tmp_path, table):
        from flight_data_pipeline_spark.sinks import JdbcSink

        url = f"jdbc:derby:{tmp_path}/db;create=true"
        return JdbcSink(spark, url, table, dict(self.PROPS))

    def test_telemetry_and_audit_append_roundtrip(self, spark, tmp_path):
        import datetime as dt

        from flight_data_pipeline_spark.sinks import (
            AUDIT_SCHEMA,
            TELEMETRY_SCHEMA,
        )

        tele = self._sink(spark, tmp_path, "grid_telemetry")
        rows = [
            (dt.datetime(2025, 12, 9, 14, 0), 90.0, 45.5, 20.0, 25.3, 5.2),
            (dt.datetime(2025, 12, 9, 15, 0), 85.0, 44.0, 21.0, 26.0, 6.0),
        ]
        df = spark.createDataFrame(rows, TELEMETRY_SCHEMA)
        try:
            tele.append(df)
        except Exception as exc:  # pragma: no cover - non-local setups
            if "EmbeddedDriver" in str(exc) or "ClassNotFound" in str(exc):
                pytest.skip(f"embedded Derby driver unavailable: {exc}")
            raise

        # the reference's two-table shape: telemetry first, audit second
        audit = self._sink(spark, tmp_path, "etl_runs")
        audit.append(spark.createDataFrame(
            [(dt.datetime(2025, 12, 9, 14, 0, 5), "success", 2, 120, None)],
            AUDIT_SCHEMA))

        got = tele.read()
        assert got.count() == 2
        assert {f.name for f in got.schema.fields} \
            == {f.name for f in TELEMETRY_SCHEMA.fields}
        assert {r.overall_intensity for r in got.collect()} == {90.0, 85.0}
        arow = audit.read().first()
        assert (arow.status, arow.rows_inserted) == ("success", 2)

        # JDBC append is plain SQL INSERT (the database commits it, as
        # psycopg did for the reference): a re-append adds rows — the
        # idempotency discipline lives ABOVE the sink (append_dedup)
        tele.append(df)
        assert tele.read().count() == 4
