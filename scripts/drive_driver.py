"""Simulate the verification driver: vanilla session, sf0.01, DuckDB compare.

Set DRIVE_SF_DIR to spot-check another scale (e.g.
DRIVE_SF_DIR=/root/testdata/sf0.1 — FULL sweeps re-verified 2026-08-16
r9 session 2: all 230 checked queries MATCH at BOTH sf0.01 and sf0.1,
DRIVER-SIM PASS at each; earlier full-sweep history: r6s2 188/188 at
sf0.1; the 2026-08-14 sweep caught and fixed the one latent half-tie,
rolling_median_daily_value's even-frame interpolated half-cent under
ROUND(.,2)). Set DRIVE_ONLY=a,b to run a subset."""
import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
import duckdb, pandas as pd, math

# vanilla session — deliberately NOT using the engine's get_spark()
spark = (SparkSession.builder.master('local[8]')
         .appName('driver-sim').getOrCreate())

import __spark_entry__ as e

# t1 smoke
df = e.entry(spark)
rows = df.collect()
print(f"t1 entry(): {len(rows)} rows, schema={df.columns}")
assert len(rows) > 0

# t2 at sf0.01 (or DRIVE_SF_DIR)
SF = os.environ.get('DRIVE_SF_DIR', '/root/testdata/sf0.01')
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

# Type-faithful dtype-tagged canonicalizer, shared with
# standalone_smoke.py so the two harnesses compare identically.
from canon_util import canon

qs, osql = e.queries(), e.oracle_sql()
only = os.environ.get('DRIVE_ONLY')  # comma-separated query names: spot-run a subset
if only:
    keep = set(only.split(','))
    qs = {k: v for k, v in qs.items() if k in keep}
print(f"t2: {len(qs)} queries, {len(osql)} with oracles")
fails = 0
for name, fn in sorted(qs.items()):
    sdf = fn(spark, SF).toPandas()
    if name in osql:
        ddf = con.execute(osql[name]).fetchdf()
        ok_schema = sorted(sdf.columns) == sorted(ddf.columns)
        ok_rows = len(sdf) == len(ddf)
        ok_vals = canon(sdf) == canon(ddf)
        status = 'MATCH' if (ok_schema and ok_rows and ok_vals) else 'MISMATCH'
        if status == 'MISMATCH':
            fails += 1
            print(f"  {name}: {status} schema={ok_schema} rows={ok_rows} ({len(sdf)} vs {len(ddf)}) vals={ok_vals}")
            if ok_schema and ok_rows:
                s, d = canon(sdf), canon(ddf)
                diff = [(a,b) for a,b in zip(s,d) if a != b][:2]
                print(f"    first diffs: {diff}")
        else:
            print(f"  {name}: {status} ({len(sdf)} rows)")
    else:
        print(f"  {name}: rows-only ({len(sdf)} rows)")
print("DRIVER-SIM", "FAIL" if fails else "PASS")
