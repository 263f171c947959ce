"""Spark counters per span, read from the Spark REST API.

After the timed region the benchmark fetches every job and stage of the
application once. A job belongs to the span whose job group it carries;
a job without one of our groups (streaming micro-batches run on their
own thread) belongs to the innermost span open at its submission time.
Stage metrics are summed per job, counting each stage once even when a
later job lists it again as skipped.

Bytes read from tables come from the SQL executions instead: the
``size of files read`` metric of each file scan node. A stage's
``inputBytes`` would also count reads of cached and checkpointed
blocks, which the iterative operators re-read on every round.
"""

from __future__ import annotations

import json
import re
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

from perfbench.trace import Span, union_length

STAGE_SUMS = {
    # counter name → (REST stage field, scale)
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "deserialize_cpu_s": ("executorDeserializeCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
}


def parse_time(s: str | None) -> float | None:
    """REST timestamps look like ``2026-10-16T23:42:42.954GMT``."""
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: list[int]


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    sums: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(STAGE_SUMS, 0.0))

    def add(self, other: "Counters") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        for k, v in other.sums.items():
            self.sums[k] += v

    @property
    def cpu_s(self) -> float:
        return self.sums["executor_cpu_s"] + self.sums["deserialize_cpu_s"]


class RestReader:
    """Reads jobs and stages of the running application."""

    def __init__(self, sc):
        # the UI listens on every interface; talk to it over loopback
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, settle_s: float = 0.2, tries: int = 50):
        """(jobs, stages, SQL executions) once no job is still running."""
        for _ in range(tries):
            jobs = self._get("/jobs")
            if not any(j["status"] == "RUNNING" for j in jobs):
                break
            time.sleep(settle_s)
        stages = self._get("/stages")
        executions = self._get("/sql?details=true&planDescription=false"
                               "&length=1000000")
        return ([Job(j["jobId"], j.get("jobGroup"),
                     parse_time(j["submissionTime"]),
                     parse_time(j.get("completionTime"))
                     or parse_time(j["submissionTime"]),
                     list(j["stageIds"])) for j in jobs], stages, executions)


def job_counters(jobs: list[Job], stages: list[dict]) -> dict[int, Counters]:
    """Counters per job id; each executed stage counts once, for the
    first job that lists it."""
    by_stage: dict[int, dict] = {}
    for s in stages:
        if s["status"] in ("COMPLETE", "FAILED"):
            by_stage.setdefault(s["stageId"], s)  # one attempt per stage
    out: dict[int, Counters] = {}
    claimed: set[int] = set()
    for j in sorted(jobs, key=lambda j: j.id):
        c = Counters(jobs=1)
        for sid in j.stages:
            s = by_stage.get(sid)
            if s is None or sid in claimed:
                continue
            claimed.add(sid)
            c.stages += 1
            c.tasks += s["numCompleteTasks"]
            for k, (fld, scale) in STAGE_SUMS.items():
                c.sums[k] += s.get(fld, 0) * scale
        out[j.id] = c
    return out


def assign_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Jobs per span id: by job group, else by submission time."""
    by_group = {s.group: s for s in spans if s.group}
    out: dict[int, list[Job]] = {s.id: [] for s in spans}
    for j in jobs:
        s = by_group.get(j.group)
        if s is None:
            # innermost (latest-started) span open at submission
            open_ = [s for s in spans if s.start <= j.start <= s.end]
            if not open_:
                continue
            s = max(open_, key=lambda s: s.start)
        out[s.id].append(j)
    return out


def window_counters(jobs: list[Job], stages: list[dict],
                    lo: float, hi: float) -> Counters:
    """Totals over jobs submitted within [lo, hi] (tracing off)."""
    per_job = job_counters(jobs, stages)
    total = Counters()
    for j in jobs:
        if lo <= j.start <= hi:
            total.add(per_job[j.id])
    return total


def driver_gap(span: Span, jobs: list[Job]) -> float:
    """Wall time of a call minus the union of its jobs' intervals."""
    return span.duration - union_length(
        [(j.start, j.end) for j in jobs], span.start, span.end)


SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
              "TiB": 2**40}


def parse_size(text: str) -> float:
    """Bytes of a SQL size metric as the UI prints it, e.g.
    ``1018.0 KiB``; a per-task breakdown starts with its total."""
    m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)\b", text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * SIZE_UNITS[m.group(2)]


def scan_bytes(executions: list[dict], lo: float, hi: float) -> float:
    """Bytes of files read by the scans of SQL executions submitted
    within [lo, hi]."""
    total = 0.0
    for e in executions:
        if not lo <= parse_time(e["submissionTime"]) <= hi:
            continue
        for node in e["nodes"]:
            for m in node["metrics"]:
                if m["name"] == "size of files read":
                    total += parse_size(m["value"])
    return total
