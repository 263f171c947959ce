"""Structured Streaming pipeline tests (§2.10): landing files →
parse → validate → watermarked hour-dedup → sink + audit, driven with
availableNow triggers over real file sources."""

from __future__ import annotations

import json

import pytest

from flight_data_pipeline_spark.sinks import AuditSink, TelemetrySink
from flight_data_pipeline_spark.streaming.pipeline_stream import (
    stream_telemetry,
    streaming_hourly_rollup,
)


def payload(hour: int, minute: int = 0, actual: int = 90) -> str:
    t0 = f"2025-12-09T{hour:02d}:{minute:02d}Z"
    return json.dumps({
        "intensity": {"data": [{"from": t0, "to": t0,
                                "intensity": {"actual": actual, "forecast": 95}}]},
        "generation": {"data": [{"generationmix": [
            {"fuel": "gas", "perc": 45.5}, {"fuel": "wind", "perc": 25.3}]}]},
    })


def run_stream(spark, landing, tele, audit, ckpt):
    q = stream_telemetry(spark, str(landing), str(tele), str(audit), str(ckpt))
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_dedups_within_hour_and_audits(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    tele, audit, ckpt = tmp_path / "t", tmp_path / "a", tmp_path / "c"

    # batch 1: two same-hour payloads (the 30-min cadence against the
    # hour dedup, SURVEY.md §7.4 item 3) + one distinct hour
    (landing / "p1.json").write_text(payload(14, 0))
    (landing / "p2.json").write_text(payload(14, 30, actual=91))
    (landing / "p3.json").write_text(payload(15, 0))
    run_stream(spark, landing, tele, audit, ckpt)

    rows = TelemetrySink(spark, str(tele)).read().collect()
    hours = sorted(r.timestamp.hour for r in rows)
    assert hours == [14, 15]  # second 14:xx sample deduped

    # batch 2 (restart from checkpoint): replay of hour 14 within the
    # watermark is dropped by dedup state; hour 16 passes
    (landing / "p4.json").write_text(payload(14, 0))
    (landing / "p5.json").write_text(payload(16, 0))
    run_stream(spark, landing, tele, audit, ckpt)

    rows = TelemetrySink(spark, str(tele)).read().collect()
    assert sorted(r.timestamp.hour for r in rows) == [14, 15, 16]

    audits = AuditSink(spark, str(audit)).read().collect()
    assert len(audits) >= 2  # one per micro-batch
    # a micro-batch whose rows were all dedup-dropped audits as
    # 'skipped' with 0 rows — the reference's status machine
    # (etl_job.py:236-237) at micro-batch granularity
    assert {a.status for a in audits} <= {"success", "skipped"}
    assert sum(a.rows_inserted for a in audits) == 3
    assert all(a.rows_inserted == 0 for a in audits if a.status == "skipped")


def test_stream_runs_each_microbatch_plan_once(spark, tmp_path):
    """A drain plans no count aggregate: each micro-batch's rows are
    counted inside its checkpoint job. A micro-batch whose rows were
    all seen audits 'skipped' and writes no data file."""
    from tests.conftest import run_observed

    landing = tmp_path / "landing"
    landing.mkdir()
    tele, audit, ckpt = tmp_path / "t", tmp_path / "a", tmp_path / "c"

    def drain():
        _, _, plans = run_observed(
            spark, lambda: run_stream(spark, landing, tele, audit, ckpt))
        assert plans and not any("Aggregate" in p for p in plans)
        return sorted(p.name for p in tele.iterdir()
                      if not p.name.startswith((".", "_")))

    (landing / "p1.json").write_text(payload(14, 0))
    (landing / "p2.json").write_text(payload(15, 0))
    files = drain()
    n_audits = len(AuditSink(spark, str(audit)).read().collect())
    (landing / "p3.json").write_text(payload(14, 30, actual=91))
    assert drain() == files

    audits = AuditSink(spark, str(audit)).read().collect()
    assert len(audits) == n_audits + 1
    got = sorted((a.status, a.rows_inserted) for a in audits)
    assert got[-1] == ("success", 2) and set(got[:-1]) == {("skipped", 0)}


def test_stream_audits_only_microbatches_that_read_input(spark, tmp_path):
    """A drain runs no watermark-only micro-batch, so each drain audits
    exactly the runs that read payloads: two fresh payloads give one
    'success' row, an all-seen payload one 'skipped' row. The session's
    no-data-batch setting is back once the query has started."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)
    landing = tmp_path / "landing"
    landing.mkdir()
    tele, audit, ckpt = tmp_path / "t", tmp_path / "a", tmp_path / "c"

    def drain():
        q = stream_telemetry(spark, str(landing), str(tele), str(audit),
                             str(ckpt))
        assert spark.conf.get(key) == before
        q.awaitTermination(120)
        assert not q.isActive
        return [p["numInputRows"] for p in q.recentProgress]

    def audits():
        return sorted((a.status, a.rows_inserted) for a in
                      AuditSink(spark, str(audit)).read().collect())

    (landing / "p1.json").write_text(payload(14, 0))
    (landing / "p2.json").write_text(payload(15, 0))
    assert drain() == [2]
    assert audits() == [("success", 2)]

    (landing / "p3.json").write_text(payload(14, 30, actual=91))
    assert drain() == [1]
    assert audits() == [("skipped", 0), ("success", 2)]


def test_stream_flags_but_keeps_invalid_rows(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "bad.json").write_text(payload(14, 0, actual=5000))  # out of range
    run_stream(spark, landing, tmp_path / "t", tmp_path / "a", tmp_path / "c")
    rows = TelemetrySink(spark, str(tmp_path / "t")).read().collect()
    assert len(rows) == 1 and rows[0].overall_intensity == 5000.0


def test_streaming_hourly_rollup_availablenow(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    rows = [json.dumps({"ts": f"2024-01-01T{h:02d}:{m:02d}:00",
                        "value": float(10 * h)})
            for h in (0, 1) for m in (5, 35)]
    (src / "ev.json").write_text("\n".join(rows))

    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .json(str(src))
    )
    out = streaming_hourly_rollup(stream)
    # complete mode: append would emit only watermark-closed windows,
    # and a single availableNow run never advances past its own data
    q = (out.writeStream.format("memory").queryName("rollup_test")
         .outputMode("complete").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "c2")).start())
    q.awaitTermination(120)
    got = {r.window_start.hour: (r.n, r.avg_value)
           for r in spark.sql("SELECT * FROM rollup_test").collect()}
    assert got == {0: (2, 0.0), 1: (2, 10.0)}


def test_stream_dead_letters_malformed_payloads(spark, tmp_path):
    """Batch raises on malformed payloads (run failure); a stream
    dead-letters them instead — the bad record must never reach the
    sink, and good records in the same batch must survive."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "good.json").write_text(payload(14, 0))
    (landing / "garbage.json").write_text("not json at all {")
    (landing / "empty.json").write_text(json.dumps({"intensity": {"data": []},
                                                    "generation": {"data": []}}))
    run_stream(spark, landing, tmp_path / "t", tmp_path / "a", tmp_path / "c")
    rows = TelemetrySink(spark, str(tmp_path / "t")).read().collect()
    assert len(rows) == 1
    assert rows[0].timestamp is not None and rows[0].overall_intensity == 90.0


def test_stateful_user_stats_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user count+EWMA must accumulate
    across micro-batches AND across checkpointed restarts, and the
    final values must equal the batch-computed EWMA over the full
    history (the oracle twin)."""
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        stateful_user_stats,
    )

    src = tmp_path / "ev"
    src.mkdir()

    def write_batch(name, rows):
        (src / name).write_text("\n".join(
            json.dumps({"user_id": u, "ts": f"2024-01-01T{h:02d}:00:00",
                        "value": v}) for u, h, v in rows))

    out = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double").json(str(src))
        # foreachBatch (not memory sink): memory can't recover from a
        # checkpoint, and recovery is exactly what's under test
        q = (stateful_user_stats(stream).writeStream
             .foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
             .outputMode("update").trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ck")).start())
        q.awaitTermination(120)

    write_batch("b1.json", [(1, 0, 10.0), (1, 1, 20.0), (2, 0, 5.0)])
    run_once()
    write_batch("b2.json", [(1, 2, 30.0)])
    run_once()  # restart from checkpoint — state must survive

    rows = spark.read.parquet(out).collect()
    latest = {}
    for r in sorted(rows, key=lambda r: r.n_events):
        latest[r.user_id] = (r.n_events, r.ewma_value)

    # batch oracle: EWMA over full per-user history, alpha=0.3
    def ewma(vals, a=0.3):
        e = vals[0]
        for v in vals[1:]:
            e = a * v + (1 - a) * e
        return e

    assert latest[1][0] == 3
    assert abs(latest[1][1] - ewma([10.0, 20.0, 30.0])) < 1e-9
    assert latest[2] == (1, 5.0)


def test_stream_stream_join_pairs_windows(spark, tmp_path):
    """Watermarked stream-stream join: intensity and mix rows landing
    in separate streams pair on their window; a window present on only
    one side emits nothing."""
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        join_telemetry_streams,
    )

    idir, mdir = tmp_path / "int", tmp_path / "mix"
    idir.mkdir(); mdir.mkdir()
    (idir / "a.json").write_text("\n".join([
        json.dumps({"window_start": "2025-12-09T14:00:00", "intensity": 90.0}),
        json.dumps({"window_start": "2025-12-09T15:00:00", "intensity": 80.0}),
        json.dumps({"window_start": "2025-12-09T16:00:00", "intensity": 70.0}),
    ]))
    (mdir / "b.json").write_text("\n".join([
        json.dumps({"window_start": "2025-12-09T14:00:00", "gas": 40.0}),
        json.dumps({"window_start": "2025-12-09T15:00:00", "gas": 50.0}),
        # 16:00 missing — intensity-only window must not emit
    ]))

    i = spark.readStream.schema("window_start timestamp, intensity double").json(str(idir))
    m = spark.readStream.schema("window_start timestamp, gas double").json(str(mdir))
    out = join_telemetry_streams(i, m)
    q = (out.writeStream.format("memory").queryName("ssjoin")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination(120)

    rows = {r.window_start.hour: (r.intensity, r.gas)
            for r in spark.sql("SELECT * FROM ssjoin").collect()}
    assert rows == {14: (90.0, 40.0), 15: (80.0, 50.0)}


def test_streaming_doc_dedup_on_fingerprint(spark, tmp_path):
    """Streaming document dedup: same token set (even permuted) within
    the watermark horizon keeps only the first arrival; distinct
    content passes; replay after restart stays deduped (state in the
    checkpoint)."""
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        streaming_doc_dedup,
    )

    ddir = tmp_path / "docs"
    ddir.mkdir()
    (ddir / "a.json").write_text("\n".join([
        json.dumps({"doc_id": 1, "ingest_ts": "2025-12-09T14:00:00",
                    "text": "alpha beta gamma"}),
        json.dumps({"doc_id": 2, "ingest_ts": "2025-12-09T14:05:00",
                    "text": "gamma beta alpha"}),   # permuted dup of 1
        json.dumps({"doc_id": 3, "ingest_ts": "2025-12-09T14:10:00",
                    "text": "delta epsilon zeta"}),
    ]))

    out = tmp_path / "out"

    def run_once():
        docs = spark.readStream.schema(
            "doc_id long, ingest_ts timestamp, text string").json(str(ddir))
        q = (streaming_doc_dedup(docs).writeStream.format("parquet")
             .option("path", str(out)).outputMode("append")
             .trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ck")).start())
        q.awaitTermination(120)

    run_once()
    kept = sorted(r.doc_id for r in spark.read.parquet(str(out)).collect())
    assert kept == [1, 3]  # permuted duplicate dropped

    # restart: replay doc 1's content + one new doc within the watermark
    (ddir / "b.json").write_text(json.dumps(
        {"doc_id": 4, "ingest_ts": "2025-12-09T14:20:00",
         "text": "beta gamma alpha"}) + "\n" + json.dumps(
        {"doc_id": 5, "ingest_ts": "2025-12-09T14:25:00",
         "text": "eta theta iota"}))
    run_once()
    kept2 = sorted(r.doc_id for r in spark.read.parquet(str(out)).collect())
    assert kept2 == [1, 3, 5]  # replayed content deduped by checkpointed state


def test_transform_with_state_matches_applyinpandas_twin(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 successor API, RocksDB
    state store): same per-user count+EWMA as stateful_user_stats,
    accumulated across micro-batches and checkpoint restarts; final
    values must equal the batch EWMA oracle over the full history.

    Skipped where python protobuf is unavailable: the TWS state
    server speaks protobuf to the Python worker
    (pyspark/sql/streaming/proto/StateMessage_pb2), so the operator
    cannot execute in a container without it — same untestable-in-
    container status as the JDBC sink. The applyInPandasWithState
    twin above covers the semantics either way."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs python protobuf (state "
               "server protocol); not installed in this container")
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        stateful_user_stats_tws,
    )

    src = tmp_path / "ev"
    src.mkdir()

    def write_batch(name, rows):
        (src / name).write_text("\n".join(
            json.dumps({"user_id": u, "ts": f"2024-01-01T{h:02d}:00:00",
                        "value": v}) for u, h, v in rows))

    out = str(tmp_path / "out")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        def run_once():
            stream = spark.readStream.schema(
                "user_id long, ts timestamp, value double").json(str(src))
            q = (stateful_user_stats_tws(stream).writeStream
                 .foreachBatch(
                     lambda df, _id: df.write.mode("append").parquet(out))
                 .outputMode("update").trigger(availableNow=True)
                 .option("checkpointLocation", str(tmp_path / "ck")).start())
            q.awaitTermination(120)

        write_batch("b1.json", [(1, 0, 10.0), (1, 1, 20.0), (2, 0, 5.0)])
        run_once()
        write_batch("b2.json", [(1, 2, 30.0)])
        run_once()  # restart from checkpoint — state must survive
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)

    rows = spark.read.parquet(out).collect()
    latest = {}
    for r in sorted(rows, key=lambda r: r.n_events):
        latest[r.user_id] = (r.n_events, r.ewma_value)

    def ewma(vals, a=0.3):
        e = vals[0]
        for v in vals[1:]:
            e = a * v + (1 - a) * e
        return e

    assert latest[1] == (3, pytest.approx(ewma([10.0, 20.0, 30.0])))
    assert latest[2] == (1, pytest.approx(ewma([5.0])))


def test_tws_processor_logic_via_fake_handle():
    """Drive the transformWithStateInPandas StatefulProcessor directly
    (init → handleInputRows across two 'micro-batches' → close) with a
    dict-backed fake handle, so its state-transition logic is proven
    in-container even though TWS *execution* needs the protobuf state
    server the container lacks. Semantics pinned to the
    applyInPandasWithState twin through the shared ewma_fold."""
    import pandas as pd

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        ewma_fold,
        make_user_stats_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, FakeValueState())

    proc = make_user_stats_processor(alpha=0.3)
    handle = FakeHandle()
    proc.init(handle)

    # micro-batch 1: rows arrive ts-unordered; the processor must fold
    # them in event-time order (20 then 10 by arrival, 10 then 20 by ts)
    b1 = pd.DataFrame({"ts": [pd.Timestamp("2024-01-01T01:00:00"),
                              pd.Timestamp("2024-01-01T00:00:00")],
                       "value": [20.0, 10.0]})
    (out1,) = proc.handleInputRows((1,), iter([b1]), None)
    assert out1.loc[0, "n_events"] == 2
    assert out1.loc[0, "ewma_value"] == pytest.approx(0.3 * 20 + 0.7 * 10)

    # micro-batch 2: state carried across calls (checkpoint analogue)
    b2 = pd.DataFrame({"ts": [pd.Timestamp("2024-01-01T02:00:00")],
                       "value": [30.0]})
    (out2,) = proc.handleInputRows((1,), iter([b2]), None)
    expected_n, expected_ewma = ewma_fold(0, None, [10.0, 20.0, 30.0], 0.3)
    assert out2.loc[0, "n_events"] == expected_n == 3
    assert out2.loc[0, "ewma_value"] == pytest.approx(expected_ewma)
    assert handle.states["stats"].get() == (3, pytest.approx(expected_ewma))
    proc.close()


def test_streaming_session_window_matches_batch_sessionize(spark, tmp_path):
    """Native session_window on a watermarked stream: sessions emit
    (append mode) once the watermark passes their end, and the emitted
    boundaries/counts equal the batch lag+cumsum sessionize on the
    same events. A far-future sentinel event advances the watermark in
    the second micro-batch so user 1's sessions finalize."""
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        streaming_user_sessions,
    )

    src = tmp_path / "ev"
    src.mkdir()
    rows1 = [
        {"user_id": 1, "ts": "2024-01-01T10:00:00", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01T10:10:00", "value": 2.0},
        {"user_id": 1, "ts": "2024-01-01T11:30:00", "value": 3.0},
    ]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows1))

    out = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double").json(str(src))
        q = (streaming_user_sessions(stream).writeStream
             .format("parquet").option("path", out)
             .outputMode("append").trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ck")).start())
        q.awaitTermination(120)

    run_once()
    # watermark only reached 2024-01-01T09:30 — nothing finalized yet;
    # the sentinel pushes it far past user 1's sessions
    (src / "b.json").write_text(json.dumps(
        {"user_id": 99, "ts": "2024-01-02T12:00:00", "value": 0.0}))
    run_once()

    got = {
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(),
         r.n_events, r.session_value)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, "2024-01-01T10:00:00", "2024-01-01T10:40:00", 2, 3.0),
        (1, "2024-01-01T11:30:00", "2024-01-01T12:00:00", 1, 3.0),
    }

    # batch twin: same events through operators/temporal.sessionize
    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.operators.temporal import sessionize

    batch = spark.createDataFrame(
        [(1, "2024-01-01T10:00:00", 1.0), (1, "2024-01-01T10:10:00", 2.0),
         (1, "2024-01-01T11:30:00", 3.0)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    sess = sessionize(batch, user_col="user_id", ts_col="ts",
                      gap_minutes=30)
    counts = {
        (r.user_id, r.session_id, r.n)
        for r in sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n")).collect()
    }
    assert counts == {(1, 1, 2), (1, 2, 1)}  # same 2+1 session split


def test_stream_rollup_upsert_maintains_view(spark, tmp_path):
    """Two availableNow runs over a growing events dir keep the
    persistent rollup view equal to a full recompute, and a replayed
    micro-batch is skipped by the marker (no double counting)."""
    import json

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_rollup_delta,
        stream_rollup_upsert,
    )

    src = tmp_path / "ev"
    src.mkdir()
    view = str(tmp_path / "view")

    def write_file(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    def read_stream():
        return spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).json(str(src))

    def view_rows():
        return {
            (r.day, r.event_type): (r.n_events, r.sum_value)
            for r in spark.read.parquet(view + "/data").collect()
        }

    write_file("a.json", [
        {"ts": "2024-01-01T05:00:00", "event_type": "view", "value": 1.0},
        {"ts": "2024-01-01T06:00:00", "event_type": "view", "value": 2.0},
        {"ts": "2024-01-02T05:00:00", "event_type": "buy", "value": 5.0},
    ])
    stream_rollup_upsert(
        read_stream(), view, str(tmp_path / "ck")).awaitTermination(60)
    assert view_rows() == {
        ("2024-01-01", "view"): (2, 3.0),
        ("2024-01-02", "buy"): (1, 5.0),
    }

    # second run picks up only the new file (checkpointed offsets) and
    # merges it into existing keys + a new key
    write_file("b.json", [
        {"ts": "2024-01-01T07:00:00", "event_type": "view", "value": 4.0},
        {"ts": "2024-01-03T05:00:00", "event_type": "view", "value": 7.0},
    ])
    stream_rollup_upsert(
        read_stream(), view, str(tmp_path / "ck")).awaitTermination(60)
    assert view_rows() == {
        ("2024-01-01", "view"): (3, 7.0),
        ("2024-01-02", "buy"): (1, 5.0),
        ("2024-01-03", "view"): (1, 7.0),
    }

    # a replay of an already-applied batch id must be a no-op
    replay = spark.createDataFrame(
        [("2024-01-01T05:00:00", "view", 100.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert apply_rollup_delta(view, replay, 0) is False
    assert view_rows()[("2024-01-01", "view")] == (3, 7.0)


def test_state_swap_crash_window_recovery(spark, tmp_path):
    """A crash between rename(data, old) and rename(tmp, data) leaves
    no live dir; the next apply must restore the newest .old-* (roll
    back), treat the interrupted batch as unapplied, and fold it in —
    prior state is never lost. Orphaned .tmp-* dirs are purged."""
    import os

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_rollup_delta,
    )

    view = str(tmp_path / "view")

    def batch(rows):
        return spark.createDataFrame(
            rows, "ts string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))

    def view_rows():
        return {
            (r.day, r.event_type): (r.n_events, r.sum_value)
            for r in spark.read.parquet(view + "/data").collect()
        }

    assert apply_rollup_delta(
        view, batch([("2024-01-01T05:00:00", "view", 1.0)]), 0) is True
    base = view_rows()

    # simulate the crash window of batch 1: live dir renamed aside,
    # plus an orphaned half-written tmp dir
    os.rename(os.path.join(view, "data"), os.path.join(view, ".old-1"))
    os.makedirs(os.path.join(view, ".tmp-1"))
    with open(os.path.join(view, ".tmp-1", "junk"), "w") as fh:
        fh.write("partial")

    # replaying batch 1 after the crash applies it exactly once on top
    # of the RESTORED base state
    assert apply_rollup_delta(
        view, batch([("2024-01-01T06:00:00", "view", 2.0)]), 1) is True
    assert view_rows() == {("2024-01-01", "view"): (2, 3.0)}
    leftovers = [e for e in os.listdir(view)
                 if e.startswith(".old-") or e.startswith(".tmp-")]
    assert leftovers == []

    # the restored marker still suppresses replays of batch 0
    assert apply_rollup_delta(
        view, batch([("2024-01-01T05:00:00", "view", 100.0)]), 0) is False
    assert view_rows() == {("2024-01-01", "view"): (2, 3.0)}
    # ... and base state was what recovery restored, not empty
    assert base == {("2024-01-01", "view"): (1, 1.0)}


def test_frequent_items_crash_window_recovery(spark, tmp_path):
    """Same crash-window contract on the heavy-hitters sink: the
    summary folds the replayed batch into the RESTORED state instead
    of rebuilding from empty (the pre-fix failure mode)."""
    import os

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_frequent_items_delta,
    )

    summary = str(tmp_path / "summary")

    def batch(items):
        return spark.createDataFrame([(i,) for i in items], "item string")

    def counts():
        return {
            r.item: r.cnt
            for r in spark.read.parquet(summary + "/data").collect()
        }

    assert apply_frequent_items_delta(
        summary, batch(["a", "a", "b"]), 0, "item", 8) is True
    os.rename(os.path.join(summary, "data"), os.path.join(summary, ".old-1"))
    assert apply_frequent_items_delta(
        summary, batch(["a", "c"]), 1, "item", 8) is True
    assert counts() == {"a": 3, "b": 1, "c": 1}


def test_stream_enrich_picks_up_dim_updates(spark, tmp_path):
    """Each micro-batch joins the dimension as it exists AT THAT
    TRIGGER: rows arriving after a dim overwrite carry the new
    attributes, and facts without a dim row survive the left join."""
    import json

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        stream_enrich,
    )

    src = tmp_path / "ev"
    src.mkdir()
    dim_path = str(tmp_path / "dim")
    out = str(tmp_path / "out")

    def read_stream():
        return spark.readStream.schema(
            "user_id long, value double").json(str(src))

    spark.createDataFrame(
        [(1, "bronze"), (2, "silver")], "user_id long, tier string"
    ).write.mode("overwrite").parquet(dim_path)
    (src / "a.json").write_text(json.dumps(
        {"user_id": 1, "value": 1.0}) + "\n" + json.dumps(
        {"user_id": 9, "value": 9.0}))
    stream_enrich(read_stream(), dim_path, "user_id", out,
                  str(tmp_path / "ck")).awaitTermination(60)

    # dim changes between triggers: user 1 upgraded
    spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    ).write.mode("overwrite").parquet(dim_path)
    (src / "b.json").write_text(json.dumps({"user_id": 1, "value": 2.0}))
    stream_enrich(read_stream(), dim_path, "user_id", out,
                  str(tmp_path / "ck")).awaitTermination(60)

    rows = {(r.user_id, r.value): r.tier
            for r in spark.read.parquet(out).collect()}
    assert rows[(1, 1.0)] == "bronze"   # batch 1 saw the old dim
    assert rows[(1, 2.0)] == "gold"     # batch 2 saw the refreshed dim
    assert rows[(9, 9.0)] is None       # keyless fact kept by left join


def test_streaming_hourly_ohlc_bars(spark, tmp_path):
    """The OHLC downsample (hourly_value_ohlc) running as a streaming
    windowed aggregate: min_by/max_by champions are decomposable, so
    the same bars build incrementally under a streaming trigger —
    the continuous-aggregate form of the batch query."""
    import json as _json

    import pyspark.sql.functions as F

    src = tmp_path / "ohlc_events"
    src.mkdir()
    rows = [
        _json.dumps({"ts": f"2024-01-01T00:{m:02d}:00", "value": v})
        for m, v in ((5, 30.0), (20, 10.0), (40, 50.0), (55, 20.0))
    ] + [
        _json.dumps({"ts": f"2024-01-01T01:{m:02d}:00", "value": v})
        for m, v in ((10, 7.0), (30, 9.0))
    ]
    (src / "ev.json").write_text("\n".join(rows))

    stream = (
        spark.readStream.schema("ts timestamp, value double").json(str(src))
    )
    bars = (
        stream.groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.min_by("value", "ts").alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", "ts").alias("close_value"),
            F.count("*").alias("n"),
        )
        .select(F.col("win.start").alias("start"), "open_value",
                "high_value", "low_value", "close_value", "n")
    )
    q = (bars.writeStream.format("memory").queryName("ohlc_test")
         .outputMode("complete").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ohlc_ckpt")).start())
    q.awaitTermination(120)
    got = {
        r.start.hour: (r.open_value, r.high_value, r.low_value,
                       r.close_value, r.n)
        for r in spark.sql("SELECT * FROM ohlc_test").collect()
    }
    assert got == {
        0: (30.0, 50.0, 10.0, 20.0, 4),
        1: (7.0, 9.0, 7.0, 9.0, 2),
    }


def test_streaming_histogram_matches_batch_binning(spark, tmp_path):
    """The persisted-baseline histogram (value_psi_drift's 100 TB
    story): streaming bin counts after availableNow equal the batch
    binning of the same rows, including edge clamping."""
    import json as _json

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        streaming_value_histogram,
    )

    src = tmp_path / "hist_events"
    src.mkdir()
    values = [-5.0, 0.0, 12.5, 24.9, 25.0, 250.0, 499.9, 500.0, 730.0]
    (src / "ev.json").write_text("\n".join(
        _json.dumps({"value": v}) for v in values))

    stream = spark.readStream.schema("value double").json(str(src))
    q = (streaming_value_histogram(stream)
         .writeStream.format("memory").queryName("hist_test")
         .outputMode("complete").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "hist_ckpt")).start())
    q.awaitTermination(120)
    got = {r.bin: r.n for r in spark.sql("SELECT * FROM hist_test").collect()}

    batch = spark.createDataFrame([(v,) for v in values], "value double")
    raw = F.floor((F.col("value") - 0.0) * 20 / 500.0)
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(19)).cast("long")
    want = {r.bin: r.n for r in batch.groupBy(b.alias("bin"))
            .agg(F.count("*").alias("n")).collect()}
    assert got == want
    assert got[0] == 4 and got[19] == 3  # clamped lows / highs+edge


def test_streaming_classifier_gate_matches_batch(spark, tmp_path):
    """The hashed-classifier quality gate is a stateless expression
    (operators/text.classifier_weight_sum), so the SAME column runs
    unchanged under readStream — flag-don't-drop in flight. Scores
    and decisions from the stream must equal the batch computation on
    identical documents."""
    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.operators.text import (
        classifier_sigmoid,
        classifier_weight_sum,
    )

    ddir = tmp_path / "docs"
    ddir.mkdir()
    docs = [
        {"doc_id": 1, "text": "alpha beta gamma delta"},
        {"doc_id": 2, "text": "the quick brown fox jumps"},
        {"doc_id": 3, "text": "spark scan merge value table"},
    ]
    (ddir / "a.json").write_text(
        "\n".join(json.dumps(d) for d in docs))

    def gated(df):
        f = classifier_weight_sum(F.col("text")).alias("f")
        return df.select("doc_id", f).select(
            "doc_id",
            F.col("f.w_sum").alias("w_sum"),
            F.round(classifier_sigmoid(F.col("f.w_sum"),
                                       F.col("f.n_feat")), 6)
            .alias("score"),
            (F.col("f.w_sum") > 0).alias("accepted"),
        )

    out = tmp_path / "out"
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(ddir))
    q = (gated(stream).writeStream.format("parquet")
         .option("path", str(out)).outputMode("append")
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination(120)

    batch = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string")
    want = sorted(tuple(r) for r in gated(batch).collect())
    got = sorted(tuple(r) for r in spark.read.parquet(str(out)).collect())
    assert got == want


def test_mg_merge_bound_composes_across_merges(spark):
    """Chained Misra-Gries merges keep the composed guarantee:
    true − N/(k+1) ≤ cnt ≤ true, heavy items always present."""
    from flight_data_pipeline_spark.operators.sketches import mg_merge

    k = 4
    # three "batches" with a persistent heavy item and churn tails
    batches = [
        {"a": 50, "b": 20, "t1": 1, "t2": 1, "t3": 1},
        {"a": 40, "c": 25, "t4": 1, "t5": 1},
        {"a": 30, "b": 15, "t6": 1, "t7": 1, "t8": 1},
    ]
    summary = spark.createDataFrame([], "item string, cnt bigint")
    for b in batches:
        delta = spark.createDataFrame(list(b.items()),
                                      "item string, cnt bigint")
        summary = mg_merge(summary, delta, k_counters=k)
    out = {r.item: r.cnt for r in summary.collect()}
    true = {}
    for b in batches:
        for i, c in b.items():
            true[i] = true.get(i, 0) + c
    n_total = sum(true.values())
    assert len(out) <= k
    for item, t in true.items():
        if t > n_total / (k + 1):
            assert item in out, f"heavy {item} (true {t}) evicted"
    for item, cnt in out.items():
        assert cnt <= true[item]
        assert cnt >= true[item] - n_total / (k + 1)


def test_stream_frequent_items_maintains_bounded_summary(spark, tmp_path):
    """Two availableNow runs over a growing item stream maintain the
    bounded summary; a replayed micro-batch is skipped by the marker;
    the persistent heavy item is never evicted."""
    import json

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_frequent_items_delta,
        stream_frequent_items,
    )

    src = tmp_path / "items"
    src.mkdir()
    summary = str(tmp_path / "summary")

    def write_file(name, counts):
        rows = [{"item": i} for i, n in counts.items() for _ in range(n)]
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    def read_stream():
        return spark.readStream.schema("item string").json(str(src))

    def summary_rows():
        return {r.item: r.cnt
                for r in spark.read.parquet(summary + "/data").collect()}

    write_file("b0.json", {"hot": 40, "warm": 10, "x1": 1, "x2": 1})
    stream_frequent_items(
        read_stream(), summary, str(tmp_path / "ck"),
        "item", k_counters=3).awaitTermination(60)
    s1 = summary_rows()
    assert len(s1) <= 3 and "hot" in s1

    write_file("b1.json", {"hot": 30, "cold": 5, "x3": 1})
    stream_frequent_items(
        read_stream(), summary, str(tmp_path / "ck"),
        "item", k_counters=3).awaitTermination(60)
    s2 = summary_rows()
    assert len(s2) <= 3
    assert "hot" in s2 and s2["hot"] <= 70
    # composed MG bound over N=89 items, k=3: underestimate by < 22.25
    assert s2["hot"] >= 70 - 89 / 4
    # replay of an applied batch is a no-op
    df0 = spark.read.schema("item string").json(str(src / "b0.json"))
    assert apply_frequent_items_delta(summary, df0, 0, "item", 3) is False
    assert summary_rows() == s2


def test_stream_attribution_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join lands exactly the
    batch range_join_binned match set across two micro-batch runs
    (touch paths split across files, join state carried through the
    checkpoint), and batch U-shaped credit over the landed match log
    equals the pure-batch attribution on the same events — the
    stream/batch pairing the sessionize/rollup/dedup families have."""
    import json

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from flight_data_pipeline_spark.operators.relational import (
        range_join_binned,
    )
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        stream_attribution,
    )

    src = tmp_path / "ev"
    src.mkdir()
    matches = str(tmp_path / "matches")
    ck = str(tmp_path / "ck")

    def ev(eid, ts, uid, etype):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": etype}

    # user 1: 3-touch path; user 2: 1-touch; user 3: touch outside 24h
    # (no match); user 4: 2-touch path split ACROSS the two files
    batch1 = [
        ev(1, "2024-01-02T08:00:00", 1, "view"),
        ev(2, "2024-01-02T09:00:00", 1, "click"),
        ev(3, "2024-01-02T10:00:00", 1, "view"),
        ev(4, "2024-01-02T11:00:00", 1, "purchase"),
        ev(5, "2024-01-02T07:00:00", 2, "view"),
        ev(6, "2024-01-02T08:30:00", 2, "purchase"),
        ev(7, "2024-01-01T05:00:00", 3, "view"),
        ev(8, "2024-01-04T12:00:00", 4, "view"),
    ]
    batch2 = [
        ev(9, "2024-01-03T09:00:00", 3, "purchase"),   # >24h after touch
        ev(10, "2024-01-04T13:00:00", 4, "click"),
        ev(11, "2024-01-04T14:00:00", 4, "purchase"),
    ]

    def read_stream():
        return spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        ).json(str(src))

    (src / "a.json").write_text(
        "\n".join(json.dumps(r) for r in batch1))
    stream_attribution(read_stream(), matches, ck,
                       watermark="30 days").awaitTermination(120)
    (src / "b.json").write_text(
        "\n".join(json.dumps(r) for r in batch2))
    stream_attribution(read_stream(), matches, ck,
                       watermark="30 days").awaitTermination(120)

    all_events = spark.createDataFrame(
        [tuple(r.values()) for r in batch1 + batch2],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))

    purchases = all_events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts"))
    touches = all_events.where(
        F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("event_id").alias("vid"),
        F.col("event_type").alias("touch_type"), F.col("ts").alias("vts"))
    batch_matches = range_join_binned(
        purchases, touches, key_cols=["user_id"],
        left_ts="pts", right_ts="vts",
        lower_sec=-86400, upper_sec=0, bin_sec=86400, how="inner")

    got = {(r.pid, r.vid)
           for r in spark.read.parquet(matches).collect()}
    want = {(r.pid, r.vid) for r in batch_matches.collect()}
    assert got == want
    assert (4, 1) in got and (11, 8) in got   # cross-file path joined
    assert all(p != 9 for p, _ in got)        # outside-lookback dropped

    def credit_totals(mdf):
        w = Window.partitionBy("pid")
        rk = F.row_number().over(w.orderBy("vts", "vid"))
        n = F.count("*").over(w)
        credit_e6 = (
            F.when(F.col("n") == 1, F.lit(1_000_000))
            .when(F.col("n") == 2, F.lit(500_000))
            .when((F.col("rk") == 1) | (F.col("rk") == F.col("n")),
                  F.lit(400_000))
            .otherwise(F.floor(F.lit(200000.0) / (F.col("n") - 2))
                       .cast("long"))
        )
        return {
            (r.day, r.touch_type): (r.credit, r.n_touches)
            for r in (
                mdf.select("pid", "pts", "touch_type", "vts", "vid")
                .select("pid", "pts", "touch_type",
                        rk.alias("rk"), n.alias("n"))
                .groupBy(F.date_format(F.col("pts").cast("date"),
                                       "yyyy-MM-dd").alias("day"),
                         "touch_type")
                .agg((F.sum(credit_e6) / 1000000.0).alias("credit"),
                     F.count("*").alias("n_touches"))
                .collect()
            )
        }

    assert credit_totals(spark.read.parquet(matches)) == credit_totals(
        batch_matches)


def test_stream_distinct_registers_maintains_hll(spark, tmp_path):
    """HLL registers MAX-merged across micro-batch runs must equal
    the batch sketch over the full history (merge associativity end
    to end), the estimate must be readable from the stored registers
    at any time, and a replayed batch must be a no-op."""
    import json

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_estimate_from_registers,
    )
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_hll_delta,
        stream_distinct_registers,
    )

    src = tmp_path / "ev"
    src.mkdir()
    regs = str(tmp_path / "regs")

    def write_file(name, items):
        (src / name).write_text("\n".join(
            json.dumps({"g": g, "item": i}) for g, i in items))

    def read_stream():
        return spark.readStream.schema("g string, item string") \
            .json(str(src))

    b1 = [("a", f"x{i}") for i in range(400)] + [("b", "only")]
    b2 = [("a", f"x{i}") for i in range(200, 600)] + [("b", "other")]
    write_file("b1.json", b1)
    stream_distinct_registers(
        read_stream(), regs, str(tmp_path / "ck"), "item",
        ("g",)).awaitTermination(120)
    write_file("b2.json", b2)
    stream_distinct_registers(
        read_stream(), regs, str(tmp_path / "ck"), "item",
        ("g",)).awaitTermination(120)

    stored = spark.read.parquet(regs + "/data")
    streamed = {
        r.g: r.hll_est
        for r in hll_estimate_from_registers(
            stored, ["g"], bucket_col="b", rho_col="r").collect()
    }
    full = spark.createDataFrame(b1 + b2, "g string, item string")
    batch = {r.g: r.hll_est
             for r in hll_estimate(full, "item", ["g"]).collect()}
    assert streamed == batch          # merged registers == one-shot sketch
    assert streamed["b"] == 2         # LinearCounting regime exact-ish

    # replay of an applied batch id is a no-op
    replay = spark.createDataFrame([("b", "third?")], "g string, item string")
    assert apply_hll_delta(regs, replay, 0, "item", ("g",)) is False
    assert {r.g: r.hll_est for r in hll_estimate_from_registers(
        spark.read.parquet(regs + "/data"), ["g"],
        bucket_col="b", rho_col="r").collect()} == streamed


def test_stream_attribution_credits_converge_to_batch(spark, tmp_path):
    """The full streaming attribution pipeline (interval join ->
    per-purchase credit delta maintenance): after two micro-batch
    runs — the second GROWING an already-credited purchase's touch
    path, which must re-split its credit — the stored credit table
    aggregated to (day, touch_type) equals the batch U-shaped
    computation over all events; a replayed batch id is a no-op."""
    import json

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_attribution_credits_delta,
        stream_attribution_credits,
    )

    src = tmp_path / "ev"
    src.mkdir()
    state = str(tmp_path / "attr")
    ck = str(tmp_path / "ck")

    def ev(eid, ts, uid, etype):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": etype}

    # user 1's purchase arrives in batch 1 with ONE touch; batch 2
    # delivers a second (late) touch inside the window -> its credit
    # must re-split 1.0 -> 0.5/0.5. user 2 is a 3-touch path.
    batch1 = [
        ev(1, "2024-01-02T08:00:00", 1, "view"),
        ev(2, "2024-01-02T11:00:00", 1, "purchase"),
        ev(3, "2024-01-02T07:00:00", 2, "view"),
        ev(4, "2024-01-02T08:00:00", 2, "click"),
        ev(5, "2024-01-02T09:00:00", 2, "view"),
        ev(6, "2024-01-02T10:00:00", 2, "purchase"),
    ]
    batch2 = [
        ev(7, "2024-01-02T09:30:00", 1, "click"),
    ]

    def read_stream():
        return spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        ).json(str(src))

    (src / "a.json").write_text("\n".join(json.dumps(r) for r in batch1))
    stream_attribution_credits(
        read_stream(), state, ck, watermark="30 days").awaitTermination(120)
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in batch2))
    stream_attribution_credits(
        read_stream(), state, ck, watermark="30 days").awaitTermination(120)

    stored = spark.read.parquet(state + "/credits/data")
    got = {
        (r.day, r.touch_type): (r.credit, r.n_touches)
        for r in stored.groupBy("day", "touch_type")
        .agg((F.sum("credit_e6") / 1000000.0).alias("credit"),
             F.sum("n_touches").alias("n_touches")).collect()
    }

    # batch oracle over all events
    all_events = spark.createDataFrame(
        [tuple(r.values()) for r in batch1 + batch2],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    p = all_events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts"))
    t = all_events.where(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("event_id").alias("vid"),
        F.col("event_type").alias("touch_type"), F.col("ts").alias("vts"))
    m = p.join(t, "user_id").where(
        (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 24 HOUR"))
        & (F.col("vts") < F.col("pts")))
    w = Window.partitionBy("pid")
    rk = F.row_number().over(w.orderBy("vts", "vid"))
    n = F.count("*").over(w)
    credit_e6 = (
        F.when(F.col("n") == 1, F.lit(1_000_000))
        .when(F.col("n") == 2, F.lit(500_000))
        .when((F.col("rk") == 1) | (F.col("rk") == F.col("n")),
              F.lit(400_000))
        .otherwise(F.floor(F.lit(200000.0) / (F.col("n") - 2))
                   .cast("long"))
    )
    want = {
        (r.day, r.touch_type): (r.credit, r.n_touches)
        for r in m.select("pid", "pts", "touch_type",
                          rk.alias("rk"), n.alias("n"))
        .groupBy(F.date_format(F.col("pts").cast("date"), "yyyy-MM-dd")
                 .alias("day"), "touch_type")
        .agg((F.sum(credit_e6) / 1000000.0).alias("credit"),
             F.count("*").alias("n_touches")).collect()
    }
    assert got == want
    # the grown path re-split: purchase 2 now has two touches 0.5/0.5
    pid2 = {(r.touch_type): r.credit_e6
            for r in stored.where(F.col("pid") == 2).collect()}
    assert pid2 == {"view": 500_000, "click": 500_000}

    # replay no-op
    replay = spark.createDataFrame(
        [(2, "2024-01-02T11:00:00", "view", "2024-01-02T08:00:00", 99)],
        "pid long, pts string, touch_type string, vts string, vid long",
    ).withColumn("pts", F.to_timestamp("pts")) \
     .withColumn("vts", F.to_timestamp("vts"))
    assert apply_attribution_credits_delta(state, replay, 0) is False


def test_stream_near_dup_flags_match_batch_lsh(spark, tmp_path):
    """Incremental LSH over two micro-batch runs: the cumulative flag
    table must mark exactly the docs that the BATCH
    minhash_lsh_candidates over the full corpus marks as non-minimal
    pair members (ids grow with arrival, so keep-min == flag-later) —
    including a cross-batch near-dup pair; a replayed batch is a
    no-op."""
    import json

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_lsh_dedup_delta,
        stream_near_dup_flags,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    uniq = [
        "completely different words about spark adaptive execution",
        "yet another text regarding parquet column pruning today",
        "unrelated content concerning watermark state eviction path",
    ]
    docs1 = [
        (1, base),
        (2, uniq[0]),
        (3, base + " extra"),       # near-dup of 1 (same batch)
    ]
    docs2 = [
        (4, base + " indeed"),      # near-dup of 1/3 (cross batch)
        (5, uniq[1]),
        (6, uniq[2]),
    ]

    src = tmp_path / "docs"
    src.mkdir()
    state = str(tmp_path / "lsh")
    ck = str(tmp_path / "ck")

    def write(name, rows):
        (src / name).write_text("\n".join(
            json.dumps({"doc_id": i, "text": t}) for i, t in rows))

    def read_stream():
        return spark.readStream.schema("doc_id long, text string") \
            .json(str(src))

    write("a.json", docs1)
    stream_near_dup_flags(read_stream(), state, ck).awaitTermination(120)
    write("b.json", docs2)
    stream_near_dup_flags(read_stream(), state, ck).awaitTermination(120)

    flags = {r.doc: r.is_near_dup
             for r in spark.read.parquet(state + "/flags/data").collect()}
    assert set(flags) == {1, 2, 3, 4, 5, 6}

    full = spark.createDataFrame(docs1 + docs2, "doc_id long, text string")
    pairs = minhash_lsh_candidates(full, "doc_id", "text").collect()
    flagged_batch = {p.id_b for p in pairs}   # keep-min convention
    assert {d for d, f in flags.items() if f} == flagged_batch
    assert flags[3] and flags[4] and not flags[1]

    # replay no-op: marker suppresses, state unchanged
    replay = spark.createDataFrame([(1, base)], "doc_id long, text string")
    assert apply_lsh_dedup_delta(state, replay, 0) is False
    assert {r.doc: r.is_near_dup
            for r in spark.read.parquet(state + "/flags/data").collect()
            } == flags


def test_progress_audit_listener_captures_batches(spark, tmp_path):
    """The listener must record a started event, one progress row per
    micro-batch with the right input-row count, and a clean
    terminated event — without touching the query's own sink path."""
    import json
    import time

    from flight_data_pipeline_spark.streaming.observability import (
        attach_progress_audit,
    )

    src = tmp_path / "ev"
    src.mkdir()
    (src / "a.json").write_text("\n".join(
        json.dumps({"v": i}) for i in range(7)))
    audit = str(tmp_path / "progress.jsonl")
    listener = attach_progress_audit(spark, audit)
    try:
        q = (
            spark.readStream.schema("v long").json(str(src))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener bus is async — wait for the terminated event
        for _ in range(100):
            lines = [json.loads(ln) for ln in
                     open(audit)] if __import__("os").path.exists(
                         audit) else []
            if any(r["event"] == "terminated" for r in lines):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    events = [r["event"] for r in lines]
    assert "started" in events and "terminated" in events
    progress = [r for r in lines if r["event"] == "progress"]
    assert sum(r["num_input_rows"] for r in progress) == 7
    assert all(r["duration_ms"] is not None for r in progress)
    term = [r for r in lines if r["event"] == "terminated"][0]
    assert term["exception"] is None


def test_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream interval join: a purchase with no
    touches must emit exactly once with NULL touch columns — and only
    AFTER the watermark passes the end of its join window (batch 1
    must NOT contain it; the batch whose data advances the watermark
    must). Matched purchases emit their matches normally."""
    import json

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        stream_attribution_matches,
    )

    src = tmp_path / "ev"
    src.mkdir()
    out = str(tmp_path / "matches")
    ck = str(tmp_path / "ck")

    def ev(eid, ts, uid, etype):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": etype}

    def run():
        q = (
            stream_attribution_matches(
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long,"
                    " event_type string").json(str(src)),
                lookback_sec=3600, watermark="10 minutes",
                how="left_outer")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: an organic purchase (no touches) + a matched one
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in [
        ev(1, "2024-01-02T10:00:00", 1, "purchase"),      # organic
        ev(2, "2024-01-02T09:30:00", 2, "view"),
        ev(3, "2024-01-02T10:00:00", 2, "purchase"),      # matched
    ]))
    run()
    rows1 = spark.read.parquet(out).collect()
    # the matched pair flows; the organic purchase is still OPEN
    # (a touch inside its 1 h window could arrive until the watermark
    # passes 2024-01-02 11:00) — it must NOT have emitted yet
    assert {(r.pid, r.vid) for r in rows1} == {(3, 2)}

    # batch 2 ADVANCES the watermark past every open window — BOTH
    # branches must move: the global watermark is the MIN over every
    # watermark node, so a quiet purchase branch pins it forever (the
    # trap this test exists to document). The watermark moves at
    # batch END, and batch 3 — the next trigger — is where state
    # older than it flushes as null rows: outer emission is one
    # trigger late by design.
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in [
        ev(9, "2024-01-03T00:00:00", 3, "view"),
        ev(10, "2024-01-03T00:00:00", 4, "purchase"),
    ]))
    run()
    (src / "c.json").write_text("\n".join(json.dumps(r) for r in [
        ev(11, "2024-01-03T01:00:00", 3, "view"),
        ev(12, "2024-01-03T01:00:00", 4, "purchase"),
    ]))
    run()
    rows2 = spark.read.parquet(out).collect()
    organic = [r for r in rows2 if r.pid == 1]
    assert len(organic) == 1 and organic[0].vid is None \
        and organic[0].touch_type is None
    assert {(r.pid, r.vid) for r in rows2 if r.pid == 3} == {(3, 2)}
    # still exactly-once for the matched pair
    assert len([r for r in rows2 if r.pid == 3]) == 1


def test_stream_corpus_intake_incremental_funnel(spark, tmp_path):
    """The streaming curation funnel across two micro-batch runs:
    per-doc decisions must apply quality + corpus-so-far near-dup
    rules (first copy admitted, its cross-batch near-dup rejected),
    funnel counts must equal a recount of the decision table, and a
    replayed batch must change nothing."""
    import json

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_corpus_intake_delta,
        stream_corpus_intake,
    )

    good = ("the quick brown fox jumps over the lazy dog while the "
            "green forest waits in the quiet morning light today")
    short = "too short"
    b1 = [(1, good, "web"), (2, short, "web"),
          (3, ("a wholly distinct passage where different animals "
               "wander through another valley beneath a red evening "
               "sky and nothing repeats the first text"), "books")]
    b2 = [(4, good + " again", "web"),       # near-dup of 1 -> reject
          (5, ("completely different sentences about spark and the "
               "parquet format with many common little words in them"),
           "books")]

    src = tmp_path / "docs"
    src.mkdir()
    state = str(tmp_path / "intake")
    ck = str(tmp_path / "ck")

    def write(name, rows):
        (src / name).write_text("\n".join(
            json.dumps({"doc_id": i, "text": t, "source": s})
            for i, t, s in rows))

    def read_stream():
        return spark.readStream.schema(
            "doc_id long, text string, source string").json(str(src))

    write("a.json", b1)
    stream_corpus_intake(read_stream(), state, ck).awaitTermination(120)
    write("b.json", b2)
    stream_corpus_intake(read_stream(), state, ck).awaitTermination(120)

    dec = {r.doc: (r.accepted, r.dup, r.quality_ok)
           for r in spark.read.parquet(state + "/decisions/data").collect()}
    assert dec[1] == (True, False, True)    # first copy admitted
    assert dec[2][2] is False               # quality reject
    assert dec[4] == (False, True, True)    # cross-batch near-dup
    assert dec[3][0] and dec[5][0]

    funnel = {r.source: (r.n_docs, r.n_dups, r.n_low_quality, r.n_accepted)
              for r in spark.read.parquet(state + "/funnel/data").collect()}
    recount = {
        r.source: (r.n, r.d, r.q, r.a)
        for r in spark.read.parquet(state + "/decisions/data")
        .groupBy("source")
        .agg(F.count("*").alias("n"),
             F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("d"),
             F.sum(F.when(~F.col("quality_ok"), 1).otherwise(0)).alias("q"),
             F.sum(F.when(F.col("accepted"), 1).otherwise(0)).alias("a"))
        .collect()
    }
    assert funnel == recount
    assert funnel["web"] == (3, 1, 1, 1)

    # replay no-op on both stores
    replay = spark.createDataFrame([(9, good, "web")],
                                   "doc_id long, text string, source string")
    assert apply_corpus_intake_delta(state, replay, 0) is False
    assert {r.doc for r in
            spark.read.parquet(state + "/decisions/data").collect()
            } == {1, 2, 3, 4, 5}


def test_corpus_intake_replay_completes_funnel_after_crash(spark, tmp_path):
    """A crash after the decisions swap but before the funnel swap
    leaves batch 1 in the decisions table only. Its replay must fold
    batch 1 into the funnel, leave the decisions alone, and report
    that a store took the batch: the funnel again equals a recount of
    the decisions."""
    import shutil

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_corpus_intake_delta,
    )

    good = ("the quick brown fox jumps over the lazy dog while the "
            "green forest waits in the quiet morning light today")
    state = str(tmp_path / "intake")
    funnel = state + "/funnel"
    saved = str(tmp_path / "funnel-after-batch-0")

    def batch(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string")

    b1 = batch([(3, ("a wholly distinct passage where different animals "
                     "wander through another valley beneath a red "
                     "evening sky and nothing repeats the first text"),
                 "books"),
                (4, good + " again", "web")])
    assert apply_corpus_intake_delta(
        state, batch([(1, good, "web"), (2, "too short", "web")]), 0)
    shutil.copytree(funnel, saved)
    assert apply_corpus_intake_delta(state, b1, 1)
    # the crash: batch 1's funnel swap never happened
    shutil.rmtree(funnel)
    shutil.copytree(saved, funnel)

    assert apply_corpus_intake_delta(state, b1, 1) is True
    decisions = spark.read.parquet(state + "/decisions/data")
    assert sorted(r.doc for r in decisions.collect()) == [1, 2, 3, 4]
    recount = {
        r.source: (r.n, r.d, r.q, r.a)
        for r in decisions.groupBy("source")
        .agg(F.count("*").alias("n"),
             F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("d"),
             F.sum(F.when(~F.col("quality_ok"), 1).otherwise(0)).alias("q"),
             F.sum(F.when(F.col("accepted"), 1).otherwise(0)).alias("a"))
        .collect()
    }
    assert {r.source: (r.n_docs, r.n_dups, r.n_low_quality, r.n_accepted)
            for r in spark.read.parquet(funnel + "/data").collect()
            } == recount
    assert recount == {"web": (3, 1, 1, 1), "books": (1, 0, 0, 1)}
    assert apply_corpus_intake_delta(state, b1, 1) is False


def test_store_swap_and_stream_trigger_only_inside_helpers():
    # one copy of the store protocol and of the drain: every state
    # store publishes through _fold_store, every stream starts through
    # _drain, so no store or stream can drift from the others
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "flight_data_pipeline_spark"
    mod = pkg / "streaming" / "pipeline_stream.py"
    helpers = {
        n.name: range(n.lineno, n.end_lineno + 1)
        for n in ast.parse(mod.read_text()).body
        if isinstance(n, ast.FunctionDef)
        and n.name in ("_fold_store", "_drain")
    }
    offenders = []
    for py in pkg.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            for pattern, helper in (("_swap_in_state(", "_fold_store"),
                                    (".trigger(", "_drain")):
                if pattern in line and not (py == mod and (
                        i in helpers.get(helper, ())
                        or line.startswith("def _swap_in_state("))):
                    offenders.append(f"{py.relative_to(pkg)}:{i}")
    assert offenders == []


def test_dead_letter_capture_and_reprocess(spark, tmp_path):
    """The full dead-letter loop: malformed landing payloads are
    quarantined with reasons; after in-place repair, reprocessing
    recovers them through the same parse/validate/dedup path into the
    telemetry sink idempotently (a second replay is a no-op); an
    unrepairable file stays quarantined."""
    from flight_data_pipeline_spark.sinks import TelemetrySink
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        quarantine_malformed,
        reprocess_dead_letters,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    dlq = str(tmp_path / "dlq")
    tele = str(tmp_path / "tele")
    audit = str(tmp_path / "audit")

    (landing / "good.json").write_text(payload(14, 0))
    (landing / "empty.json").write_text(
        '{"intensity": {"data": []}, "generation": {"data": []}}')
    (landing / "garbage.json").write_text("not json at all {")

    # capture: the two recordless payloads quarantine, the good one
    # does not
    assert quarantine_malformed(spark, str(landing), dlq) == 2
    import os
    assert sorted(f for f in os.listdir(dlq)
                  if not f.endswith(".reason")) == [
        "empty.json", "garbage.json"]

    # run the live stream over the landing dir so the sink exists
    run_stream(spark, landing, tele, tmp_path / "a0", tmp_path / "c0")
    assert len(TelemetrySink(spark, tele).read().collect()) == 1

    # repair ONE quarantined file in place (the fetcher re-delivered
    # hour 16); the garbage file stays broken
    (tmp_path / "dlq" / "empty.json").write_text(payload(16, 0))
    res = reprocess_dead_letters(spark, dlq, tele, audit)
    assert res == {"recovered_rows": 1, "recovered_files": 1,
                   "still_dead": 1}
    hours = sorted(r.timestamp.hour
                   for r in TelemetrySink(spark, tele).read().collect())
    assert hours == [14, 16]

    # double replay: the recovered hour is already in the sink -> no-op
    (tmp_path / "dlq" / "again.json").write_text(payload(16, 30))
    res2 = reprocess_dead_letters(spark, dlq, tele, audit)
    assert res2["recovered_rows"] == 0
    assert sorted(r.timestamp.hour
                  for r in TelemetrySink(spark, tele).read().collect()
                  ) == [14, 16]


def test_dead_letter_replay_dedups_hour_and_writes_sink_schema(
        spark, tmp_path):
    """Two repaired dead letters for one hour replay like a batch
    run's append: the sink keeps one row for the hour, the earliest
    timestamp (first_per_bucket), and its files carry exactly the
    telemetry schema's columns — no validation flags."""
    import os

    from flight_data_pipeline_spark.sinks import TELEMETRY_SCHEMA
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        quarantine_malformed,
        reprocess_dead_letters,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    dlq = tmp_path / "dlq"
    tele = str(tmp_path / "tele")
    for name in ("late.json", "early.json"):
        (landing / name).write_text(
            '{"intensity": {"data": []}, "generation": {"data": []}}')
    assert quarantine_malformed(spark, str(landing), str(dlq)) == 2

    (dlq / "late.json").write_text(payload(16, 30))
    (dlq / "early.json").write_text(payload(16, 0))
    res = reprocess_dead_letters(spark, str(dlq), tele,
                                 str(tmp_path / "audit"))
    assert res == {"recovered_rows": 1, "recovered_files": 2,
                   "still_dead": 0}
    assert os.listdir(dlq) == []
    rows = spark.read.parquet(tele).collect()
    assert [(r.timestamp.hour, r.timestamp.minute) for r in rows] \
        == [(16, 0)]
    assert spark.read.parquet(tele).columns == TELEMETRY_SCHEMA.fieldNames()


def test_dead_letter_names_missing_half_and_replays_only_full_records(
        spark, tmp_path):
    """A payload missing either half is quarantined, its ``.reason``
    naming the missing half; a replay writes only files that carry
    both halves."""
    import os

    from flight_data_pipeline_spark.sinks import TelemetrySink
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        quarantine_malformed,
        reprocess_dead_letters,
    )

    full = json.loads(payload(14, 0))
    landing = tmp_path / "landing"
    landing.mkdir()
    dlq = tmp_path / "dlq"
    tele = str(tmp_path / "tele")
    (landing / "good.json").write_text(json.dumps(full))
    (landing / "no_mix.json").write_text(json.dumps(
        {"intensity": full["intensity"], "generation": {"data": []}}))
    (landing / "no_int.json").write_text(json.dumps(
        {"intensity": {"data": []}, "generation": full["generation"]}))
    (landing / "neither.json").write_text("not json at all {")
    assert quarantine_malformed(spark, str(landing), str(dlq)) == 3
    reasons = {f.removesuffix(".reason"): (dlq / f).read_text()
               for f in os.listdir(dlq) if f.endswith(".reason")}
    assert reasons == {
        "no_mix.json": "no generation mix data",
        "no_int.json": "no parseable intensity record",
        "neither.json": "no parseable intensity record; "
                        "no generation mix data"}

    # replay before any repair: nothing has both halves, nothing is
    # written and every file stays quarantined
    res = reprocess_dead_letters(spark, str(dlq), tele,
                                 str(tmp_path / "audit"))
    assert res == {"recovered_rows": 0, "recovered_files": 0,
                   "still_dead": 3}
    assert TelemetrySink(spark, tele).read().count() == 0


def test_join_ivm_matches_recompute_with_late_dims(spark, tmp_path):
    """Delta-join IVM: interleave fact and dim arrivals across three
    batches — including facts whose dimension arrives ONE BATCH LATER
    (the case stream_enrich leaves NULL forever) — and the maintained
    per-segment view must equal a full join recompute after every
    batch. A replayed batch id is a no-op."""
    import json

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_join_ivm_delta,
        stream_join_ivm,
    )

    state = str(tmp_path / "ivm")
    src = tmp_path / "feed"
    src.mkdir()

    def write_file(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    def read_feed():
        return spark.readStream.schema(
            "side string, k long, cents long, segment string"
        ).json(str(src))

    def run():
        stream_join_ivm(read_feed(), state,
                        str(tmp_path / "ck")).awaitTermination(60)

    def view():
        return {
            r.segment: (r.n_orders, r.cents)
            for r in spark.read.parquet(state + "/view/data").collect()
        }

    def fact(k, cents):
        return {"side": "fact", "k": k, "cents": cents, "segment": None}

    def dim(k, segment):
        return {"side": "dim", "k": k, "cents": None, "segment": segment}

    # batch 0: dim 1 + facts on 1 (immediate join) and on 2 (dim
    # arrives in batch 1 — the late-dim case)
    write_file("b0.json",
               [dim(1, "GOLD"), fact(1, 100), fact(1, 50), fact(2, 70)])
    run()
    assert view() == {"GOLD": (2, 150)}

    # batch 1: dim 2 lands -> the stored fact on 2 heals; more facts
    write_file("b1.json", [dim(2, "SILVER"), fact(2, 30), fact(1, 1)])
    run()
    assert view() == {"GOLD": (3, 151), "SILVER": (2, 100)}

    # batch 2: both-new term (ΔF ⋈ ΔD) plus another late fact
    write_file("b2.json", [dim(3, "GOLD"), fact(3, 9), fact(2, 11)])
    run()
    assert view() == {"GOLD": (4, 160), "SILVER": (3, 111)}

    # replay of batch 0 must be skipped by the marker
    replay = spark.createDataFrame(
        [("fact", 1, 999, None)],
        "side string, k long, cents long, segment string")
    assert apply_join_ivm_delta(state, replay, 0) is False
    assert view() == {"GOLD": (4, 160), "SILVER": (3, 111)}

    # invariant: the view equals a full recompute over all rows seen
    facts = spark.read.parquet(*[f"{state}/facts/batch={i}" for i in range(3)])
    dims = spark.read.parquet(*[f"{state}/dims/batch={i}" for i in range(3)])
    full = {
        r.segment: (r.n_orders, r.cents)
        for r in facts.join(dims, "k").groupBy("segment")
        .agg(F.count("*").alias("n_orders"),
             F.sum("cents").alias("cents")).collect()
    }
    assert full == view()


def test_join_ivm_crash_between_side_write_and_view_swap(spark, tmp_path):
    """The IVM-specific crash window: side stores for batch N are
    written but the view swap never happened. On replay the delta
    terms read only PRIOR batch dirs (the current batch's dirs are
    excluded by name), so the rewritten side dirs are identical and
    the view folds batch N exactly once."""
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_join_ivm_delta,
    )

    state = str(tmp_path / "ivm")

    def batch(rows):
        return spark.createDataFrame(
            rows, "side string, k long, cents long, segment string")

    b0 = batch([("dim", 1, None, "GOLD"), ("fact", 1, 100, None)])
    assert apply_join_ivm_delta(state, b0, 0) is True

    # simulate the crash: batch 1's side dirs land, view untouched
    b1 = batch([("fact", 1, 50, None), ("dim", 2, None, "SILVER"),
                ("fact", 2, 30, None)])
    b1.where("side = 'fact'").select("k", "cents").write.mode(
        "overwrite").parquet(f"{state}/facts/batch=1")
    b1.where("side = 'dim'").select("k", "segment").write.mode(
        "overwrite").parquet(f"{state}/dims/batch=1")

    # replay of batch 1 through the normal path must apply ONCE
    assert apply_join_ivm_delta(state, b1, 1) is True
    view = {
        r.segment: (r.n_orders, r.cents)
        for r in spark.read.parquet(state + "/view/data").collect()
    }
    assert view == {"GOLD": (2, 150), "SILVER": (1, 30)}
    # and a second replay is a no-op
    assert apply_join_ivm_delta(state, b1, 1) is False


def test_stream_sliding_distinct_matches_batch(spark, tmp_path):
    """The stream-maintained day×user store, read through the
    explode-by-offset consumer, must equal the batch
    sliding_7d_distinct_users recompute over the same events — and a
    replayed batch id must be a no-op on the store."""
    import json

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.plans import registry
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_day_user_delta,
        sliding_distinct_users_view,
        stream_sliding_distinct,
    )
    from tests.conftest import SF_DIR

    registry.load_all()
    from flight_data_pipeline_spark.tables import load_table

    ev = load_table(spark, "events", SF_DIR).select(
        F.col("ts").cast("string").alias("ts"), "user_id")
    rows = ev.collect()
    half = len(rows) // 2

    src = tmp_path / "ev"
    src.mkdir()

    def write_file(name, chunk):
        (src / name).write_text("\n".join(
            json.dumps({"ts": r.ts, "user_id": r.user_id})
            for r in chunk))

    def read_stream():
        return spark.readStream.schema("ts string, user_id long") \
            .json(str(src))

    state = str(tmp_path / "du")
    # two micro-batch runs over a growing directory (restart replay
    # of batch 0 exercises the idempotence path on the second run)
    write_file("b1.json", rows[:half])
    stream_sliding_distinct(
        read_stream(), state, str(tmp_path / "ck")).awaitTermination(120)
    write_file("b2.json", rows[half:])
    stream_sliding_distinct(
        read_stream(), state, str(tmp_path / "ck")).awaitTermination(120)

    streamed = {r.wd: r.n_users
                for r in sliding_distinct_users_view(spark, state).collect()}
    batch = {r.day: r.n_users_7d
             for r in registry.QUERIES["sliding_7d_distinct_users"](
                 spark, SF_DIR).collect()}
    # same days, same counts (batch keys are date strings)
    import datetime as dt

    streamed_by_day = {
        (dt.date(1970, 1, 1) + dt.timedelta(days=int(wd))).isoformat(): n
        for wd, n in streamed.items()}
    assert streamed_by_day == batch

    # replay of an applied batch id is a no-op
    extra = spark.createDataFrame(
        [("2030-01-01 00:00:00", 999999)], "ts string, user_id long")
    assert apply_day_user_delta(state, extra, 0) is False
    assert {r.wd: r.n_users
            for r in sliding_distinct_users_view(spark, state).collect()
            } == streamed


def test_stream_bm25_index_matches_batch_scorer(spark, tmp_path):
    """BM25 scores served from the stream-maintained posting-list
    index must EXACTLY equal the batch scorer over the same corpus
    (shared integer-micro-unit expression), and a replayed batch id
    must be a no-op on both index stores."""
    import json

    import pyspark.sql.functions as F

    from flight_data_pipeline_spark.plans.text_queries import (
        BM25_TERMS,
        bm25_doc_scores,
    )
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_posting_delta,
        bm25_topk_from_index,
        stream_bm25_index,
    )
    from flight_data_pipeline_spark.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    rows = docs.collect()
    half = len(rows) // 2

    src = tmp_path / "docs"
    src.mkdir()

    def write_file(name, chunk):
        (src / name).write_text("\n".join(
            json.dumps({"doc_id": r.doc_id, "text": r.text})
            for r in chunk))

    def read_stream():
        return spark.readStream.schema("doc_id long, text string") \
            .json(str(src))

    idx = str(tmp_path / "idx")
    write_file("b1.json", rows[:half])
    stream_bm25_index(
        read_stream(), idx, str(tmp_path / "ck")).awaitTermination(120)
    write_file("b2.json", rows[half:])
    stream_bm25_index(
        read_stream(), idx, str(tmp_path / "ck")).awaitTermination(120)

    served = {r.doc_id: (r.bm25_u, r.n_terms)
              for r in bm25_topk_from_index(
                  spark, idx, BM25_TERMS, k=len(rows)).collect()}
    batch = {r.doc_id: (r.bm25_u, r.n_terms)
             for r in bm25_doc_scores(spark, SF_DIR).collect()}
    assert served == batch

    # replayed batch id: no-op on both stores
    extra = spark.createDataFrame([(999999, "spark spark spark")],
                                  "doc_id long, text string")
    assert apply_posting_delta(idx, extra, 0) is False
    assert {r.doc_id: (r.bm25_u, r.n_terms)
            for r in bm25_topk_from_index(
                spark, idx, BM25_TERMS, k=len(rows)).collect()} == served


def test_stream_pagerank_maintenance_converges_to_batch(spark, tmp_path):
    """The stream-maintained PageRank snapshot after edge deltas must
    converge to the batch recompute over the same accumulated edge
    set (damping<1 → unique fixed point regardless of the warm
    start), and a replayed batch id must be a no-op on both the edge
    store and the rank snapshot."""
    import json

    from pyspark.sql import functions as F

    from flight_data_pipeline_spark.operators.graph import pagerank
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_rank_delta,
        rank_snapshot,
        stream_rank_maintenance,
    )

    # a small weighted digraph delivered as two edge-delta batches;
    # b2 repeats an edge (weights must SUM across deltas) and adds a
    # brand-new node so the warm start exercises the 1/N seeding
    b1 = [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (1, 3, 1.0)]
    b2 = [(1, 2, 1.0), (3, 4, 2.0), (4, 1, 1.0)]

    src = tmp_path / "edges"
    src.mkdir()

    def write_file(name, chunk):
        (src / name).write_text("\n".join(
            json.dumps({"src": s, "dst": d, "w": w})
            for s, d, w in chunk))

    def read_stream():
        return spark.readStream.schema("src long, dst long, w double") \
            .json(str(src))

    state = str(tmp_path / "pr")
    write_file("b1.json", b1)
    stream_rank_maintenance(
        read_stream(), state, str(tmp_path / "ck")).awaitTermination(120)
    write_file("b2.json", b2)
    stream_rank_maintenance(
        read_stream(), state, str(tmp_path / "ck")).awaitTermination(120)

    streamed = {r.v: r.rank for r in rank_snapshot(spark, state).collect()}

    all_edges = spark.createDataFrame(
        b1 + b2, "src long, dst long, w double") \
        .groupBy("src", "dst").agg(F.sum("w").alias("w"))
    batch = {r.v: r.rank
             for r in pagerank(all_edges, weight="w", tol=1e-9,
                               max_iter=60).collect()}
    assert set(streamed) == set(batch)
    for v, rank in batch.items():
        assert abs(streamed[v] - rank) < 1e-6, (v, streamed[v], rank)
    assert abs(sum(streamed.values()) - 1.0) < 1e-6

    # replayed batch id: no-op on both stores
    extra = spark.createDataFrame([(8, 9, 5.0)],
                                  "src long, dst long, w double")
    assert apply_rank_delta(state, extra, 0) is False
    assert {r.v: r.rank
            for r in rank_snapshot(spark, state).collect()} == streamed


def test_stream_cluster_map_matches_batch_cc(spark, tmp_path):
    """The stream-maintained (doc, cluster) map after pair-delta
    batches must equal the batch connected-components labels over the
    union of all pairs — including the nasty case where a LATER batch
    introduces a doc id smaller than an existing cluster's min (the
    whole component must relabel) and where one batch MERGES two
    previously separate clusters. Replayed batch ids are no-ops."""
    import json

    from flight_data_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_cluster_map_delta,
        cluster_map_snapshot,
        stream_cluster_map,
    )

    # b1: two separate clusters {10,11,12} and {20,21}
    b1 = [(10, 11), (11, 12), (20, 21)]
    # b2: merge the two clusters (12-20), relabel via a smaller id
    # (5-21 drags both below 10), plus a fresh pair {30,31}
    b2 = [(12, 20), (5, 21), (30, 31)]

    src = tmp_path / "pairs"
    src.mkdir()

    def write_file(name, chunk):
        (src / name).write_text("\n".join(
            json.dumps({"doc_a": a, "doc_b": b}) for a, b in chunk))

    def read_stream():
        return spark.readStream.schema("doc_a long, doc_b long") \
            .json(str(src))

    state = str(tmp_path / "cc")
    write_file("b1.json", b1)
    stream_cluster_map(
        read_stream(), state, str(tmp_path / "ck")).awaitTermination(120)
    mid = {r.doc: r.cluster
           for r in cluster_map_snapshot(spark, state).collect()}
    assert mid == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    write_file("b2.json", b2)
    stream_cluster_map(
        read_stream(), state, str(tmp_path / "ck")).awaitTermination(120)
    streamed = {r.doc: r.cluster
                for r in cluster_map_snapshot(spark, state).collect()}

    all_pairs = spark.createDataFrame(b1 + b2, "doc_a long, doc_b long")
    batch = {r.v: r.label
             for r in connected_components(
                 all_pairs, src="doc_a", dst="doc_b").collect()}
    assert streamed == batch
    # the merged mega-cluster relabeled to the late-arriving min 5
    assert streamed[10] == 5 and streamed[21] == 5
    assert streamed[30] == 30 and streamed[31] == 30

    # replayed batch id: no-op
    extra = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    assert apply_cluster_map_delta(state, extra, 0) is False
    assert {r.doc: r.cluster
            for r in cluster_map_snapshot(spark, state).collect()} \
        == streamed


def test_stream_centroid_stats_match_batch(spark, tmp_path):
    """The stream-maintained k-means sufficient stats (per-centroid
    counts, integer inertia, per-dim milli-unit sums) after two
    vector batches must equal the one-shot batch aggregate over the
    union — everything is integer and SUM-mergeable, so equality is
    exact, not approximate. Replay of a folded batch id is a no-op."""
    from pyspark.sql import functions as F

    from flight_data_pipeline_spark.operators.vectors import (
        md5_seed_centroids,
        quantized_lloyd_assignment,
    )
    from flight_data_pipeline_spark.streaming.pipeline_stream import (
        apply_centroid_stats_delta,
        centroid_stats_snapshot,
        stream_centroid_stats,
    )
    from flight_data_pipeline_spark.tables import load_table

    K, DIM = 4, 64
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001") \
        .select("vec_id", "embedding").where(F.col("vec_id") < 60)
    src = tmp_path / "vecs"
    emb.where("vec_id < 30").write.parquet(str(src / "b1"))
    state = str(tmp_path / "km")

    def read_stream():
        return spark.readStream.schema(emb.schema).option(
            "recursiveFileLookup", "true").parquet(str(src))

    stream_centroid_stats(read_stream(), state, str(tmp_path / "ck"),
                          k=K, dim=DIM).awaitTermination(120)
    emb.where("vec_id >= 30").write.parquet(str(src / "b2"))
    stream_centroid_stats(read_stream(), state, str(tmp_path / "ck"),
                          k=K, dim=DIM).awaitTermination(120)

    counts, dims = centroid_stats_snapshot(spark, state)
    got_counts = {r.k: (r.n, r.inertia) for r in counts.collect()}
    got_dims = {(r.k, r.pos): r.s for r in dims.collect()}

    batch = quantized_lloyd_assignment(
        emb, md5_seed_centroids(spark, K, DIM))
    want_counts = {r.k: (r.n, r.inertia)
                   for r in batch.groupBy("k")
                   .agg(F.count("*").alias("n"),
                        F.sum("d2").alias("inertia")).collect()}
    want_dims = {(r.k, r.pos): r.s
                 for r in batch.select("k", F.posexplode("q")
                                       .alias("pos", "v"))
                 .groupBy("k", "pos")
                 .agg(F.sum("v").alias("s")).collect()}
    assert got_counts == want_counts
    assert got_dims == want_dims
    assert sum(n for n, _ in got_counts.values()) == 60

    # the maintained stats ARE the Lloyd update input: refreshed
    # centroid = per-dim mean; sanity-check it stays in milli-range
    refreshed = {(k, p): s / got_counts[k][0]
                 for (k, p), s in got_dims.items()}
    assert all(-1200 <= v <= 1200 for v in refreshed.values())

    # replayed batch id: no-op on both stores
    extra = emb.limit(5)
    assert apply_centroid_stats_delta(state, extra, 0, k=K, dim=DIM) \
        is False
    counts2, _ = centroid_stats_snapshot(spark, state)
    assert {r.k: (r.n, r.inertia) for r in counts2.collect()} == got_counts


class TestSqlCliOverStreamSinks:
    """VERDICT r8 #8: the reference's documented monitoring SQL runs
    verbatim through `query --sql` against sinks the STREAMING
    pipeline wrote — same views (grid_telemetry / etl_runs), same SQL
    text, audit rows produced by foreachBatch micro-batches instead
    of the batch scheduler."""

    # verbatim from the reference docs — do not reformat
    SQL_STATUS_PCT = """SELECT
  status,
  COUNT(*) as count,
  ROUND(100.0 * COUNT(*) / (SELECT COUNT(*) FROM etl_runs), 1) as pct
FROM etl_runs
GROUP BY status;"""  # docs/GITHUB_ACTIONS_SETUP.md:83-89
    SQL_TOTAL = "SELECT COUNT(*) FROM etl_runs;"       # docs:81
    SQL_TELE = "SELECT COUNT(*) FROM grid_telemetry;"  # README.md:193
    SQL_RECENT = """SELECT run_timestamp, status, rows_inserted, execution_time_ms, error_message
FROM etl_runs
ORDER BY run_timestamp DESC
LIMIT 10;"""  # README.md:184-188

    @pytest.fixture
    def stream_sinks(self, spark, tmp_path):
        landing = tmp_path / "landing"
        landing.mkdir()
        tele, audit, ckpt = tmp_path / "t", tmp_path / "a", tmp_path / "c"
        # two micro-batches: 2 hours inserted, then an all-dup batch
        # that audits as 'skipped' — both statuses reach etl_runs
        (landing / "p1.json").write_text(payload(14, 0))
        (landing / "p2.json").write_text(payload(15, 0))
        run_stream(spark, landing, tele, audit, ckpt)
        (landing / "p3.json").write_text(payload(14, 30, actual=91))
        run_stream(spark, landing, tele, audit, ckpt)
        return str(tele), str(audit)

    def _sql(self, spark, sinks, sql):
        from flight_data_pipeline_spark.__main__ import sql_client

        tele, audit = sinks
        return sql_client(spark, sql, None, tele, audit)

    def test_totals_match_stream_written_sinks(self, spark, stream_sinks):
        tele, audit = stream_sinks
        n_runs = AuditSink(spark, audit).read().count()
        n_tele = TelemetrySink(spark, tele).read().count()
        assert n_runs >= 2 and n_tele == 2
        assert self._sql(spark, stream_sinks,
                         self.SQL_TOTAL).collect()[0][0] == n_runs
        assert self._sql(spark, stream_sinks,
                         self.SQL_TELE).collect()[0][0] == n_tele

    def test_status_pct_reflects_microbatch_statuses(self, spark,
                                                     stream_sinks):
        got = {r["status"]: (r["count"], float(r["pct"]))
               for r in self._sql(spark, stream_sinks,
                                  self.SQL_STATUS_PCT).collect()}
        audits = AuditSink(spark, stream_sinks[1]).read().collect()
        n = len(audits)
        from collections import Counter

        expect = Counter(a.status for a in audits)
        assert "skipped" in expect  # the all-dup micro-batch audited
        for status, cnt in expect.items():
            assert got[status][0] == cnt
            assert abs(got[status][1] - round(100.0 * cnt / n, 1)) < 1e-9

    def test_recent_runs_verbatim(self, spark, stream_sinks):
        rows = self._sql(spark, stream_sinks, self.SQL_RECENT).collect()
        assert 2 <= len(rows) <= 10
        ts = [r.run_timestamp for r in rows]
        assert ts == sorted(ts, reverse=True)
        assert all(r.error_message is None for r in rows)
