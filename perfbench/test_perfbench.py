"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
from datetime import date

import pandas as pd
import pytest

from perfbench import checks, counters, inputs, stats
from perfbench.trace import Span, Tracer, self_time, union_length


# --- span arithmetic ---------------------------------------------------------

def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(1, 3), (2, 5), (7, 8)], 2.5, 7.5) == 3
    assert union_length([], 0, 10) == 0
    assert union_length([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_covered_part_once():
    parent = Span(0, "run", "", start=0.0, end=10.0)
    kids = [Span(1, "a", "", 1.0, 4.0), Span(2, "b", "", 3.0, 6.0),
            Span(3, "c", "", 9.0, 12.0)]     # overlaps, and runs past
    assert self_time(parent, kids) == pytest.approx(10 - 5 - 1)


def test_tracer_nesting_and_outermost():
    t = Tracer("r")
    with t.span("pass"):
        with t.span("op"):
            with t.span("op"):
                pass
        with t.span("op"):
            pass
    root = t.named("pass")[0]
    assert len(t.descendants(root)) == 3
    assert len(t.named("op")) == 2            # the nested one is inside
    assert len(t.named("op", outermost=False)) == 3
    assert [s.parent for s in t.spans] == [None, 0, 1, 0]


def test_driver_gap_is_wall_minus_job_union():
    span = Span(0, "q", "", 100.0, 110.0)
    jobs = [counters.Job(1, None, 101.0, 104.0, []),
            counters.Job(2, None, 103.0, 105.0, []),
            counters.Job(3, None, 108.0, 111.0, [])]
    assert counters.driver_gap(span, jobs) == pytest.approx(10 - 4 - 2)


def test_jobs_assigned_by_group_then_time():
    spans = [Span(0, "pass", "", 0.0, 10.0, group="g0"),
             Span(1, "op", "", 2.0, 5.0, parent=0, group="g1")]
    jobs = [counters.Job(1, "g1", 9.0, 9.5, []),      # group wins
            counters.Job(2, None, 3.0, 3.5, []),      # innermost by time
            counters.Job(3, "stream-run", 6.0, 7.0, []),
            counters.Job(4, None, 20.0, 21.0, [])]    # outside every span
    got = counters.assign_jobs(jobs, spans)
    assert [j.id for j in got[1]] == [1, 2]
    assert [j.id for j in got[0]] == [3]


def test_stage_counted_once_across_jobs():
    stage = {"stageId": 7, "status": "COMPLETE", "numCompleteTasks": 4,
             "shuffleWriteBytes": 100, "executorCpuTime": 2e9}
    jobs = [counters.Job(1, None, 0, 1, [7]), counters.Job(2, None, 1, 2, [7])]
    per = counters.job_counters(jobs, [stage])
    assert (per[1].stages, per[2].stages) == (1, 0)
    total = counters.window_counters(jobs, [stage], 0, 5)
    assert total.jobs == 2 and total.tasks == 4
    assert total.sums["shuffle_write_bytes"] == 100
    assert total.cpu_s == pytest.approx(2.0)


def test_scan_bytes_sums_file_scans_in_window():
    def execution(t, *sizes):
        return {"submissionTime": t, "nodes": [
            {"nodeName": "Scan parquet", "metrics": [
                {"name": "size of files read", "value": v},
                {"name": "number of output rows", "value": "10,000"}]}
            for v in sizes] + [{"nodeName": "Scan ExistingRDD",
                                "metrics": []}]}
    execs = [execution("2026-01-01T00:00:01.000GMT", "1018.0 KiB", "12 B"),
             execution("2026-01-01T00:00:09.000GMT", "2.5 MiB")]
    lo = counters.parse_time("2026-01-01T00:00:00.000GMT")
    assert counters.scan_bytes(execs, lo, lo + 5) == 1018 * 1024 + 12
    assert counters.scan_bytes(execs, lo, lo + 10) \
        == 1018 * 1024 + 12 + 2.5 * 2**20
    assert counters.parse_size("total (min, med, max)\n1,024.0 KiB (1 B,"
                               " 2 B, 3 B)") == 2**20
    assert counters.parse_size("n/a") == 0.0


# --- percentile rule ---------------------------------------------------------

@pytest.mark.parametrize("n,p", [(19, None), (20, 0.5), (39, 0.5), (40, 0.75),
                                 (100, 0.9), (199, 0.9), (200, 0.95),
                                 (1000, 0.99)])
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    values = [float(i) for i in range(n)]
    got = stats.tail(values)
    if p is None:
        assert got is None
        return
    assert got["p"] == p and got["n"] == n
    assert sum(v > got["value"] for v in values) >= stats.MIN_BEYOND


# --- seeded inputs -----------------------------------------------------------

def test_same_seed_same_inputs(tmp_path):
    assert inputs.query_order(5) == inputs.query_order(5)
    assert sorted(inputs.query_order(5)) == sorted(inputs.LOOP_QUERIES)
    a, b = inputs.ingest_plan(5), inputs.ingest_plan(5)
    assert a == b
    assert inputs.ingest_plan(6) != a
    digests = []
    for d in ("x", "y"):
        inputs.write_landing(a, str(tmp_path / d))
        h = hashlib.sha256()
        for f in sorted(os.listdir(tmp_path / d)):
            h.update((tmp_path / d / f).read_bytes())
        digests.append(h.hexdigest())
    assert digests[0] == digests[1]


def test_ingest_plan_shape_is_seed_independent():
    for seed in range(20):
        plan = inputs.ingest_plan(seed)
        assert [r.kind for r in plan.runs] == ["fresh", "empty"]
        assert [r.status for r in plan.runs] == ["success", "failure"]
        assert 0 < plan.stream_rows <= len(plan.landing) // 2


# --- output checks -----------------------------------------------------------

def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.25],
                         "s": ["a", "b", "c"]})


def test_check_query_accepts_reordered_and_rejects_perturbed():
    oracles = {"q": checks.result_hash(_frame())}
    shuffled = _frame().iloc[::-1][["s", "v", "k"]]
    assert checks.check_query("q", shuffled, oracles) is None
    bad = _frame()
    bad.loc[0, "v"] = 0.5000001
    assert "hash" in checks.check_query("q", bad, oracles)
    assert "rows" in checks.check_query("q", _frame().head(2), oracles)
    renamed = _frame().rename(columns={"s": "t"})
    assert "columns" in checks.check_query("q", renamed, oracles)
    assert "no oracle" in checks.check_query("other", _frame(), oracles)


class _Res:
    def __init__(self, status, rows, msg=None):
        self.status, self.rows_inserted, self.error_message = status, rows, msg


def _good_results(plan):
    return [_Res(r.status, r.rows, "err" if r.status == "failure" else None)
            for r in plan.runs]


def test_check_runs_and_sinks():
    plan = inputs.ingest_plan(3)
    assert checks.check_runs(plan, _good_results(plan)) == []
    bad = _good_results(plan)
    bad[1] = _Res("success", 1)
    assert checks.check_runs(plan, bad)
    tele = [dict(plan.runs[0].row)]
    audit = [{"status": r.status} for r in plan.runs]
    assert checks.check_sinks(plan, tele, audit) == []
    tele[0]["overall_intensity"] += 1
    assert checks.check_sinks(plan, tele, audit)
    assert checks.check_sinks(plan, [], audit)


def _monitoring(plan):
    row = plan.runs[0].row
    return {
        "status_pct": [{"status": r.status, "count": 1, "pct": 50.0}
                       for r in plan.runs],
        "daily_cleanliness": [{
            "day": plan.runs[0].hour.date(), "samples": 1,
            "avg_intensity": checks.round_half_up(
                row["overall_intensity"], 0)}],
    }


def test_check_monitoring_detects_a_wrong_value():
    plan = inputs.ingest_plan(4)
    good = _monitoring(plan)
    assert checks.check_monitoring(plan, good) == []
    bad = _monitoring(plan)
    bad["status_pct"][0]["count"] = 2
    assert checks.check_monitoring(plan, bad)
    bad = _monitoring(plan)
    bad["daily_cleanliness"][0]["day"] = date(1999, 1, 1)
    assert checks.check_monitoring(plan, bad)


def test_check_stream():
    plan = inputs.ingest_plan(8)
    audit = [{"rows_inserted": plan.stream_rows}, {"rows_inserted": 0}]
    assert checks.check_stream(plan, plan.stream_rows, audit) == []
    assert checks.check_stream(plan, plan.stream_rows + 1, audit)


def test_round_half_up_matches_spark_round():
    assert checks.round_half_up(795.5, 0) == 796.0
    assert checks.round_half_up(33.35, 1) == 33.4
    assert checks.round_half_up(-10.5, 0) == -11.0


# --- descriptor --------------------------------------------------------------

def test_benchmark_json_matches_the_command():
    import json
    import re

    from perfbench import layers, run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} \
        == layers.PER_LAYER
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    names += [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
               for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
