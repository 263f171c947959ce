"""Seeded workload inputs and their expected outcomes.

Everything a workload feeds the engine comes from here, derived from
the ``--seed`` argument alone: the query order of ``iterative_loops``, and for
``telemetry_ingest`` the cron-style payload sequence, the landing files
for the stream, and what each should produce. The mix of operation
kinds is the same for every seed, so seeds change values and order,
not the amount of work.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

# one consumer per iterative operator: connected components, integer
# PageRank, label propagation and Bellman-Ford
LOOP_QUERIES = (
    "near_dup_clusters",
    "copurchase_pagerank",
    "copurchase_label_communities",
    "copurchase_shortest_paths",
)

FUEL_NAMES = ("gas", "nuclear", "wind", "solar")
# out-of-range values the validation flags but the sink still keeps
OUT_OF_RANGE = {"intensity": (-10, 1500), "fuel": (-5.0, 150.0)}


def query_order(seed: int) -> list[str]:
    order = list(LOOP_QUERIES)
    random.Random(seed).shuffle(order)
    return order


@dataclass
class PipelineRun:
    kind: str                 # fresh | empty
    intensity: str            # raw API payloads, as fetched
    mix: str
    status: str               # expected RunResult.status
    rows: int                 # expected rows_inserted
    hour: datetime | None = None
    row: dict | None = None   # expected sink row when one is written


@dataclass
class IngestPlan:
    runs: list[PipelineRun]
    landing: list[str]        # one JSON document per landing file
    stream_rows: int          # distinct hours among non-empty records


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%MZ")


def _intensity(t: datetime, actual) -> dict:
    return {"data": [{"from": _iso(t), "to": _iso(t + timedelta(minutes=30)),
                      "intensity": {"actual": actual, "forecast": actual + 5}}]}


def _mix(percs: dict, rng: random.Random) -> dict:
    # the reference's feed mixes case and may send ``data`` as a dict
    entries = [{"fuel": f.upper() if rng.random() < 0.3 else f, "perc": p}
               for f, p in percs.items()]
    body = {"generationmix": entries}
    return {"data": body if rng.random() < 0.3 else [body]}


def _reading(rng: random.Random):
    actual = rng.randint(20, 400)
    percs = {f: round(rng.uniform(0, 60), 1) for f in FUEL_NAMES}
    return actual, percs


def ingest_plan(seed: int, n_landing: int = 8) -> IngestPlan:
    """Two pipeline runs into fresh sinks — a fresh hour whose payload
    carries an out-of-range value (flagged, still written) and an empty
    payload (a failure with an audit row) — then ``n_landing`` landing
    records, two per hour (the second a replay of the hour the stream
    must drop), some of them empty."""
    rng = random.Random(seed)
    day = datetime(2025, 1, 1, tzinfo=timezone.utc) + timedelta(
        days=rng.randint(0, 360))
    t = day + timedelta(hours=rng.randint(0, 23))
    actual, percs = _reading(rng)
    if rng.random() < 0.5:
        actual = rng.choice(OUT_OF_RANGE["intensity"])
    else:
        percs[rng.choice(FUEL_NAMES)] = rng.choice(OUT_OF_RANGE["fuel"])
    # Spark hands timestamps back as naive UTC (the run pins TZ=UTC)
    row = {"timestamp": t.replace(tzinfo=None),
           "overall_intensity": float(actual),
           **{f"fuel_{f}_perc": float(p) for f, p in percs.items()}}
    runs = [PipelineRun("fresh", json.dumps(_intensity(t, actual)),
                        json.dumps(_mix(percs, rng)), "success", 1, t, row)]
    actual, percs = _reading(rng)
    empty = json.dumps({"data": []})
    if rng.random() < 0.5:
        runs.append(PipelineRun("empty", empty, json.dumps(_mix(percs, rng)),
                                "failure", 0))
    else:
        runs.append(PipelineRun("empty", json.dumps(_intensity(t, actual)),
                                empty, "failure", 0))

    # landing records: hour k gets the records 2k (:00) and 2k+1 (:30),
    # so a duplicate never trails the newest hour by more than the
    # stream's two-hour watermark and dedup, not lateness, drops it
    start = day + timedelta(days=1)
    landing, hours = [], set()
    empties = set(rng.sample(range(n_landing), max(1, n_landing // 8)))
    for i in range(n_landing):
        t = start + timedelta(hours=i // 2, minutes=30 * (i % 2))
        actual, percs = _reading(rng)
        if i in empties:
            intensity = {"data": []}
        else:
            intensity = _intensity(t, actual)
            hours.add(i // 2)
        landing.append(json.dumps({"intensity": intensity,
                                   "generation": _mix(percs, rng)}))
    return IngestPlan(runs, landing, len(hours))


def write_landing(plan: IngestPlan, landing_dir: str) -> None:
    """One file per record, modification times in record order, so the
    file source reads them oldest first."""
    os.makedirs(landing_dir, exist_ok=True)
    base = 1_700_000_000
    for i, doc in enumerate(plan.landing):
        path = os.path.join(landing_dir, f"payload-{i:04d}.json")
        with open(path, "w") as f:
            f.write(doc + "\n")
        os.utime(path, (base + i, base + i))
