"""The bench.py per-query regression tripwire: pure-function tests that
the counter gate flags a plan regression (more jobs, more stages, or
shuffle bytes beyond the slack) and ignores wall time, one-job flakes
and missing pins, plus the pinned-baseline loader, the official
line's size budget and ``scripts/query_profile.py --jobs``."""

from __future__ import annotations

import argparse
import json
import os

import pytest

import bench
from scripts import record_baseline


def rec(jobs, stages, shuffle_bytes, sec=1.0):
    return {"sec": sec, "jobs": jobs, "stages": stages,
            "shuffle_bytes": shuffle_bytes}


class TestFindRegressions:
    PINS = {"q_loop": {"jobs": 19, "stages": 23, "shuffle_bytes": 1_000_000},
            "q_scan": {"jobs": 2, "stages": 2, "shuffle_bytes": 0}}

    def test_job_rise_is_flagged(self):
        flags = bench.find_regressions(
            {"q_loop": [rec(21, 23, 1_000_000)] * 2}, self.PINS)
        assert [f["query"] for f in flags] == ["q_loop"]
        assert flags[0]["jobs"] == [21, 19] and "stages" not in flags[0]

    def test_stage_rise_is_flagged(self):
        flags = bench.find_regressions(
            {"q_loop": [rec(19, 24, 1_000_000)] * 2}, self.PINS)
        assert [f["query"] for f in flags] == ["q_loop"]
        assert flags[0]["stages"] == [24, 23] and "jobs" not in flags[0]

    def test_flags_sorted_worst_first(self):
        flags = bench.find_regressions(
            {"q_loop": [rec(20, 23, 1_000_000)] * 2,
             "q_scan": [rec(4, 4, 0)] * 2}, self.PINS)
        assert [f["query"] for f in flags] == ["q_scan", "q_loop"]

    def test_within_threshold_not_flagged(self):
        # counters at or below the pin are never flagged
        assert bench.find_regressions(
            {"q_loop": [rec(19, 23, 1_000_000), rec(18, 22, 900_000)]},
            self.PINS) == []

    def test_small_absolute_drift_exempt(self):
        # shuffle bytes within SHUFFLE_SLACK of the pin are drift...
        near = int(1_000_000 * (1 + bench.SHUFFLE_SLACK))
        assert bench.find_regressions(
            {"q_loop": [rec(19, 23, near)] * 2}, self.PINS) == []
        # ...bytes beyond it are flagged, as is any shuffle where the
        # pin recorded none
        far = int(1_000_000 * (1 + 2 * bench.SHUFFLE_SLACK))
        flags = bench.find_regressions(
            {"q_loop": [rec(19, 23, far)] * 2,
             "q_scan": [rec(2, 2, 10)] * 2}, self.PINS)
        assert {f["query"] for f in flags} == {"q_loop", "q_scan"}
        assert all(list(f) == ["query", "ratio", "shuffle_bytes"]
                   for f in flags)

    def test_equal_counters_double_wall_not_flagged(self):
        runs = {"q_loop": [rec(19, 23, 1_000_000, sec=8.0)] * 2}
        assert bench.find_regressions(runs, self.PINS) == []

    def test_noise_scale_query_exempt(self):
        # a query whose job count flickers 14/15 between runs: the pin
        # is the max over the recorded sessions, the gate reads the min
        # over the bench's runs, so the flake never flags...
        sessions = {"q_levels": [rec(14, 14, 0), rec(15, 15, 0),
                                 rec(14, 14, 0)]}
        pins = record_baseline.pin_counters(sessions)
        assert pins["q_levels"]["jobs"] == 15
        for runs in ([rec(15, 15, 0)] * 2, [rec(15, 15, 0), rec(14, 14, 0)]):
            assert bench.find_regressions({"q_levels": runs}, pins) == []
        # ...even when every recorded session happened to read 14
        low = record_baseline.pin_counters({"q_levels": [rec(14, 14, 0)]})
        assert bench.find_regressions(
            {"q_levels": [rec(15, 15, 0), rec(14, 14, 0)]}, low) == []
        # while a plan regression raises every run and does flag
        assert bench.find_regressions(
            {"q_levels": [rec(16, 16, 0), rec(17, 17, 0)]}, pins) != []

    def test_error_and_unknown_entries_skipped(self):
        # a query whose runs all failed has no counted run; a query
        # with no pin (new headliner) is not gated
        runs = {"q_loop": [], "q_new": [rec(99, 99, 10**9)]}
        assert bench.find_regressions(runs, self.PINS) == []

    def test_missing_pin_gives_zero_flags(self, tmp_path):
        (tmp_path / "BENCH_BASELINE.json").write_text(json.dumps(
            {"counters": {"0.1": {"32": self.PINS}}}))
        pins = bench.load_baseline(str(tmp_path), "0.1", 8)
        assert pins is None
        runs = {"q_loop": [rec(99, 99, 10**9)] * 2}
        assert bench.find_regressions(runs, pins) == []


class TestLoadBaseline:
    def test_pinned_baseline_file_wins(self, tmp_path):
        # the pinned file is the only source: the pins for the
        # requested (sf, cpus) pair come back, any other pair is None
        pins = {"a": {"jobs": 3, "stages": 4, "shuffle_bytes": 5}}
        (tmp_path / "BENCH_BASELINE.json").write_text(json.dumps(
            {"cal_sec": 0.45,
             "counters": {"0.1": {"32": pins, "8": {}}}}))
        assert bench.load_baseline(str(tmp_path), "0.1", 32) == pins
        assert bench.load_baseline(str(tmp_path), "0.01", 32) is None
        assert bench.load_baseline(str(tmp_path / "missing"), "0.1",
                                   32) is None

    def test_compact_line_fits_tail_capture_worst_case(self):
        # worst case: 80 queries with 40-char names, every one flagged
        # on every counter. The printed official line must stay well
        # under the round driver's ~2.3 KB stdout tail capture (round
        # 6's full line overflowed it; the artifact recorded "parsed":
        # null).
        timings = {f"query_with_a_really_long_name_{i:04d}_xxxx": 99.999
                   for i in range(80)}
        regs = [{"query": n, "ratio": 81.037,
                 "jobs": [9999, 9998], "stages": [99999, 99998],
                 "shuffle_bytes": [99_999_999_999, 99_999_999_998]}
                for n in timings]
        line = bench.compact_line(timings, 7999.92, 0.1, 80, regs,
                                  cal={"sec": 0.4512, "base": 0.3333,
                                       "x": 1.354})
        assert len(line) < 2000, len(line)
        parsed = json.loads(line)
        assert parsed["queries_total_n"] == 80
        assert len(parsed["queries"]) == 12
        assert parsed["flags"] == 80 and len(parsed["regressions"]) == 6
        assert parsed["regressions"][0]["jobs"] == [9999, 9998]

    def test_cal_loaded_from_pinned_file(self, tmp_path):
        (tmp_path / "BENCH_BASELINE.json").write_text(json.dumps(
            {"cal_sec": 0.45, "counters": {}}))
        assert bench.load_baseline_cal(str(tmp_path)) == 0.45
        # baseline file without the probe pin → None (x reported null)
        (tmp_path / "BENCH_BASELINE.json").write_text(json.dumps(
            {"counters": {}}))
        assert bench.load_baseline_cal(str(tmp_path)) is None
        assert bench.load_baseline_cal(str(tmp_path / "missing")) is None

    def test_repo_baseline_covers_headline(self):
        # the committed pins cover every headline query, with all three
        # counters, at sf0.1 on 32 and on 8 cores
        repo = os.path.dirname(os.path.abspath(bench.__file__))
        for cpus in (32, 8):
            pins = bench.load_baseline(repo, "0.1", cpus)
            assert pins is not None, cpus
            missing = [q for q in bench.HEADLINE
                       if set(pins.get(q, {})) != set(bench.COUNTERS)]
            assert missing == [], (cpus, missing)


class TestMergePins:
    OLD = {"q_a": {"jobs": 5, "stages": 6, "shuffle_bytes": 100},
           "q_b": {"jobs": 2, "stages": 2, "shuffle_bytes": 0}}
    META = {"unix": 1, "sessions": 3, "runs_per_query": 6}

    def baseline(self):
        return {"counters": {"0.1": {"8": dict(self.OLD),
                                     "32": {"q_a": dict(self.OLD["q_a"])}}},
                "recorded": {"0.1": {"8": {"unix": 0, "sessions": 5,
                                           "runs_per_query": 4}}}}

    def test_only_merges_named_rows_and_notes_changes(self):
        base = self.baseline()
        new = {"q_a": {"jobs": 5, "stages": 6, "shuffle_bytes": 40}}
        changed = record_baseline.merge_pins(base, "0.1", "8", new,
                                             self.META, only=True)
        assert changed == ["q_a (shuffle_bytes 100→40)"]
        assert base["counters"]["0.1"]["8"] == {**self.OLD, **new}
        assert base["counters"]["0.1"]["32"] == {"q_a": self.OLD["q_a"]}
        rec = base["recorded"]["0.1"]["8"]
        assert (rec["unix"], rec["sessions"], rec["runs_per_query"]) \
            == (0, 3, 4)
        assert "q_a: re-recorded" in rec["merge"]
        assert "changed: q_a (shuffle_bytes 100→40)." in rec["merge"]

    def test_only_with_unchanged_pins_notes_none(self):
        base = self.baseline()
        changed = record_baseline.merge_pins(
            base, "0.1", "8", {"q_b": dict(self.OLD["q_b"])}, self.META,
            only=True)
        assert changed == []
        assert base["counters"]["0.1"]["8"] == self.OLD
        assert base["recorded"]["0.1"]["8"]["merge"].endswith(
            "changed: none.")

    def test_full_record_replaces_the_pair(self):
        base = self.baseline()
        new = {"q_a": {"jobs": 4, "stages": 6, "shuffle_bytes": 100}}
        changed = record_baseline.merge_pins(base, "0.1", "8", new,
                                             self.META)
        assert changed == ["q_a (jobs 5→4)"]
        assert base["counters"]["0.1"]["8"] == new
        assert base["recorded"]["0.1"]["8"] == self.META
        assert base["counters"]["0.1"]["32"] == {"q_a": self.OLD["q_a"]}

    def test_only_rejects_unknown_query(self):
        assert bench.parse_only(" copurchase_pagerank,daily_rollup") == [
            "daily_rollup", "copurchase_pagerank"]
        with pytest.raises(argparse.ArgumentTypeError, match="no_such_q"):
            bench.parse_only("daily_rollup,no_such_q")


class TestQueryProfileJobs:
    def test_jobs_lines_cover_each_query_run(self, spark, capsys,
                                             monkeypatch):
        from scripts import query_profile
        from tests.conftest import SF_DIR

        monkeypatch.setattr(query_profile, "SF_DIR", SF_DIR)
        names = ["scalar_counts", "tokenization_stats"]
        query_profile.main(["--jobs", *names], spark=spark)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()
                 if x.startswith("{")]
        summary = lines[-1]["summary"]
        jobs = [x["job"] for x in lines if "job" in x]
        for name in names:
            mine = [j for j in jobs if j["query"] == name]
            rec = summary[name]
            assert len(mine) == rec["n_jobs"] > 0
            assert sum(j["stages"] for j in mine) == rec["n_stages"]
            assert sum(j["tasks"] for j in mine) == rec["n_tasks"]
            assert (sum(j["shuffle_write_bytes"] for j in mine)
                    == rec["shuffle_write_bytes"])
            assert all(j["executor_cpu_s"] >= 0 for j in mine)
        ids = [j["id"] for j in jobs]
        assert ids == sorted(set(ids))
