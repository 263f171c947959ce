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

Usage:  SPARK_GRAFT_CPUS=8 python scripts/record_baseline.py
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import COUNTERS  # noqa: E402

SESSIONS = 3


def pin_counters(runs: dict[str, list[dict]]) -> dict[str, dict[str, int]]:
    """Per query, the max of each counter over all its recorded runs."""
    return {q: {k: max(r[k] for r in recs) for k in COUNTERS}
            for q, recs in runs.items() if recs}


def spread(recs: list[dict], k: str) -> float:
    """Run-to-run spread of counter ``k``: max/min - 1."""
    return max(r[k] for r in recs) / max(min(r[k] for r in recs), 1) - 1


def main() -> None:
    t0 = time.time()
    runs: dict[str, list[dict]] = {}
    for i in range(SESSIONS):
        proc = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                              cwd=REPO, capture_output=True, text=True)
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
    baseline.setdefault("counters", {}).setdefault(sf, {})[cpus] = pins
    baseline.setdefault("recorded", {}).setdefault(sf, {})[cpus] = {
        "unix": int(t0), "sessions": SESSIONS,
        "runs_per_query": min(len(r) for r in runs.values())}
    with open(path, "w") as f:
        json.dump(baseline, f, indent=1, sort_keys=True)
    print(json.dumps({"pinned": f"counters[{sf}][{cpus}]", "n": len(pins),
                      "missing": sorted(set(runs) - set(pins)),
                      "max_spread": {k: [round(x, 4), q]
                                     for k, (x, q) in worst.items()},
                      "wall_s": round(time.time() - t0)}))


if __name__ == "__main__":
    main()
