"""Record BENCH_BASELINE.json's counter pins for one (sf, cpus) pair.

Runs bench.py SESSIONS times, each in a fresh process, and pins per
headline query the MAX of each counter (jobs, stages, shuffle-write
bytes) over every run of every session. bench.py's gate compares the
MIN over its own runs against the pin, so a counter that flickers
between runs (one extra job now and then) never flags. Counters depend
on the plan, the data and local[N]'s partition counts, not on host
speed, so the pins can be recorded on any host and in any window.
Pins for other (sf, cpus) pairs are kept. Prints the run-to-run spread
of each counter, the evidence for bench.SHUFFLE_SLACK.

``--only q1,q2`` runs just the named headline queries and merges their
pins into the pair's existing ones: every other query keeps its pin,
and the pair's ``recorded`` entry gains a ``merge`` note naming the
re-recorded queries and the rows whose pins changed.

Usage:  SPARK_GRAFT_CPUS=8 python scripts/record_baseline.py [--only q1,q2]
"""
import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import COUNTERS, parse_only  # noqa: E402

SESSIONS = 3


def pin_counters(runs: dict[str, list[dict]]) -> dict[str, dict[str, int]]:
    """Per query, the max of each counter over all its recorded runs."""
    return {q: {k: max(r[k] for r in recs) for k in COUNTERS}
            for q, recs in runs.items() if recs}


def spread(recs: list[dict], k: str) -> float:
    """Run-to-run spread of counter ``k``: max/min - 1."""
    return max(r[k] for r in recs) / max(min(r[k] for r in recs), 1) - 1


def merge_pins(baseline: dict, sf: str, cpus: str,
               pins: dict[str, dict[str, int]], meta: dict,
               only: bool = False) -> list[str]:
    """Write ``pins`` into ``baseline`` (in place) as
    ``counters[sf][cpus]`` and ``meta`` as ``recorded[sf][cpus]``;
    returns one ``query (counter old→new, …)`` entry per pin that
    changed. With ``only``, the pair's other pins are kept, and its
    record keeps the fewest sessions / runs per query behind any pin
    and gains a ``merge`` note listing the re-recorded queries and the
    changed rows."""
    counters = baseline.setdefault("counters", {}).setdefault(sf, {})
    recorded = baseline.setdefault("recorded", {}).setdefault(sf, {})
    old = counters.get(cpus, {})
    changed = []
    for q in sorted(pins):
        prev = old.get(q, {})
        diff = [f"{k} {prev.get(k)}→{pins[q][k]}" for k in COUNTERS
                if prev.get(k) != pins[q][k]]
        if diff:
            changed.append(f"{q} ({', '.join(diff)})")
    if not only:
        counters[cpus] = pins
        recorded[cpus] = meta
        return changed
    counters[cpus] = {**old, **pins}
    rec = recorded.setdefault(cpus, dict(meta))
    for k in ("sessions", "runs_per_query"):
        rec[k] = min(rec.get(k, meta[k]), meta[k])
    note = (f"{', '.join(sorted(pins))}: re-recorded by record_baseline.py"
            f" --only (unix {meta['unix']}, {meta['sessions']} sessions);"
            f" changed: {'; '.join(changed) or 'none'}.")
    rec["merge"] = " ".join(filter(None, (rec.get("merge"), note)))
    return changed


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", type=parse_only, default=None,
                    help="comma-separated headline queries to re-record "
                         "and merge (default: all, replacing the pair)")
    only = ap.parse_args().only
    bench_cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    if only:
        bench_cmd += ["--only", ",".join(only)]
    t0 = time.time()
    runs: dict[str, list[dict]] = {}
    for i in range(SESSIONS):
        proc = subprocess.run(bench_cmd, cwd=REPO, capture_output=True,
                              text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-2000:])
            sys.exit(f"bench session {i} failed rc={proc.returncode}")
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            detail = json.load(f)
        for name, recs in detail["counters"].items():
            runs.setdefault(name, []).extend(recs)
        print(f"session {i}: total {detail['value']} s, "
              f"errors {detail['errors']}, flags {len(detail['regressions'])}")

    pins = pin_counters(runs)
    worst = {k: max((spread(recs, k), q) for q, recs in runs.items() if recs)
             for k in COUNTERS}

    path = os.path.join(REPO, "BENCH_BASELINE.json")
    with open(path) as f:
        baseline = json.load(f)
    sf, cpus = detail["pin"]["sf"], str(detail["pin"]["cpus"])
    changed = merge_pins(baseline, sf, cpus, pins, {
        "unix": int(t0), "sessions": SESSIONS,
        "runs_per_query": min(len(r) for r in runs.values())},
        only=bool(only))
    with open(path, "w") as f:
        json.dump(baseline, f, indent=1, sort_keys=True)
    print(json.dumps({"pinned": f"counters[{sf}][{cpus}]", "n": len(pins),
                      "changed": changed,
                      "missing": sorted(set(runs) - set(pins)),
                      "max_spread": {k: [round(x, 4), q]
                                     for k, (x, q) in worst.items()},
                      "wall_s": round(time.time() - t0)}))


if __name__ == "__main__":
    main()
