"""Untimed output checks.

Query results are compared with their DuckDB ``ORACLE_SQL`` twin on the
same fixture tables: same column names and the same hash of the rows in
the canonical form of ``scripts.canon_util``, the compare the repo's
driver simulation uses. Every query the benchmark runs has an oracle.
The oracle hashes depend only on the fixture tables and the SQL, so
they are cached under a digest of the fixture files.

Ingest checks compare sink rows, audit statuses, the monitoring SQL
results and the stream's row counts with what the input generator
expects.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from scripts.canon_util import canon


def result_hash(df: pd.DataFrame) -> dict:
    """Order-insensitive digest of a result frame."""
    rows = canon(df)
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"columns": sorted(df.columns), "rows": len(rows), "hash": h}


def _tables(fixture_dir: str) -> list[str]:
    return sorted(f[:-len(".parquet")] for f in os.listdir(fixture_dir)
                  if f.endswith(".parquet"))


def fixture_digest(fixture_dir: str) -> str:
    h = hashlib.sha256()
    for t in _tables(fixture_dir):
        with open(os.path.join(fixture_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode() + b"\0" + f.read())
    return h.hexdigest()


def oracle_hashes(fixture_dir: str, cache_dir: str, names,
                  oracle_sql: dict) -> dict:
    """DuckDB oracle digests per query, cached in ``cache_dir`` under
    the digest of the fixture tables."""
    path = os.path.join(cache_dir,
                        f"oracle-{fixture_digest(fixture_dir)[:16]}.json")
    try:
        with open(path) as f:
            cache = json.load(f)
    except (OSError, json.JSONDecodeError):
        cache = {}
    missing = [n for n in names if n in oracle_sql
               and cache.get(n, {}).get("sql") != oracle_sql[n]]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            for t in _tables(fixture_dir):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{fixture_dir}/{t}.parquet')")
            for n in missing:
                cache[n] = {"sql": oracle_sql[n],
                            **result_hash(con.execute(oracle_sql[n]).fetchdf())}
        finally:
            con.close()
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return cache


def check_query(name: str, got: pd.DataFrame, oracles: dict) -> str | None:
    """None when ``got`` is right, else a one-line reason."""
    digest = result_hash(got)
    want = oracles.get(name)
    if want is None:
        return f"{name}: no oracle to check against"
    for key in ("columns", "rows", "hash"):
        if digest[key] != want[key]:
            return f"{name}: {key} differs from the oracle"
    return None


def round_half_up(x: float, digits: int) -> float:
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def check_runs(plan, results) -> list[str]:
    errors = []
    for i, (run, res) in enumerate(zip(plan.runs, results)):
        if res is None:
            errors.append(f"run {i} ({run.kind}) raised")
            continue
        if (res.status, res.rows_inserted) != (run.status, run.rows):
            errors.append(f"run {i} ({run.kind}): {res.status}/"
                          f"{res.rows_inserted}, expected "
                          f"{run.status}/{run.rows}")
        if run.status == "failure" and not res.error_message:
            errors.append(f"run {i} ({run.kind}): failure without message")
    return errors


def check_sinks(plan, telemetry_rows, audit_rows) -> list[str]:
    """``telemetry_rows``/``audit_rows`` are lists of dicts."""
    errors = []
    want = sorted((r.row for r in plan.runs if r.row),
                  key=lambda r: r["timestamp"])
    got = sorted(telemetry_rows, key=lambda r: r["timestamp"])
    if len(got) != len(want):
        errors.append(f"telemetry sink: {len(got)} rows, want {len(want)}")
    for g, w in zip(got, want):
        for k, v in w.items():
            if g[k] != v:
                errors.append(f"telemetry sink {k}: {g[k]!r} != {v!r}")
    statuses = Counter(r["status"] for r in audit_rows)
    if statuses != Counter(r.status for r in plan.runs):
        errors.append(f"audit statuses {dict(statuses)}")
    return errors


def expected_monitoring(plan) -> dict:
    status = Counter(r.status for r in plan.runs)
    n = len(plan.runs)
    days: dict = {}
    for r in plan.runs:
        if r.row:
            days.setdefault(r.hour.date(), []).append(r.row)
    return {"status": {s: (c, round_half_up(100.0 * c / n, 1))
                       for s, c in status.items()},
            "days": days}


def check_monitoring(plan, results: dict) -> list[str]:
    """``results`` maps statement name → list of row dicts."""
    exp = expected_monitoring(plan)
    errors = []

    def want(cond, msg):
        if not cond:
            errors.append(f"monitoring {msg}")

    dist = {r["status"]: (r["count"], float(r["pct"]))
            for r in results["status_pct"]}
    want(dist == exp["status"], f"status_pct {dist}")
    view = {r["day"]: r for r in results["daily_cleanliness"]}
    want(set(view) == set(exp["days"]), "daily_cleanliness days")
    for day, rows in exp["days"].items():
        r = view.get(day)
        if r is None:
            continue
        avg = sum(x["overall_intensity"] for x in rows) / len(rows)
        want(r["samples"] == len(rows)
             and r["avg_intensity"] == round_half_up(avg, 0),
             f"daily_cleanliness {day}")
    return errors


def check_stream(plan, stream_rows: int, audit_rows) -> list[str]:
    errors = []
    if stream_rows != plan.stream_rows:
        errors.append(f"stream sink: {stream_rows} rows, "
                      f"want {plan.stream_rows}")
    inserted = sum(r["rows_inserted"] for r in audit_rows)
    if inserted != plan.stream_rows:
        errors.append(f"stream audit: {inserted} rows inserted, "
                      f"want {plan.stream_rows}")
    return errors
