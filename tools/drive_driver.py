"""Simulate the grading driver: entry() smoke + queries() vs oracle_sql()
through DuckDB at sf0.01 with an order-insensitive value-hash.

Usage: python tools/drive_driver.py [N]        # first N keys of queries() order
       python tools/drive_driver.py key [key…] # only the named keys
(vendored from the /verify skill recipe; the driver runs ~50 keys/round)
"""
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import __spark_entry__ as E
from pyspark.sql import SparkSession

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF_DIR = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")
CONTRACT_SF_DIR = "/root/testdata/sf0.01"
try:
    from bigdatawork_spark.registry import ORACLE_FIXED_SF as FIXED_SF_ORACLE_KEYS
except ImportError:  # older tree without the declaration
    FIXED_SF_ORACLE_KEYS = frozenset()

args = sys.argv[1:]
limit = int(args[0]) if len(args) == 1 and args[0].isdigit() else None
only = None if limit is not None or not args else set(args)

spark = (
    SparkSession.builder.master("local[8]")
    .appName("drive-driver")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.driver.memory", "12g")
    .getOrCreate()
)

rows = E.entry(spark).collect()
assert len(rows) > 0, "entry() returned 0 rows"
print(f"entry(): OK ({len(rows)} rows)")

con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
    )

def canon_hash(df):
    cols = sorted(df.columns)
    df = df[cols]
    tuples = sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256()
    for t in tuples:
        h.update("\x1f".join(t).encode())
        h.update(b"\x1e")
    return h.hexdigest()

qs = E.queries()
oracles = E.oracle_sql()
if only is not None:
    unknown = only - set(qs)
    assert not unknown, f"unknown keys: {sorted(unknown)}"
    keys = [k for k in qs if k in only]
else:
    keys = list(qs)[:limit] if limit else list(qs)
fails = []
t0 = time.time()
for i, k in enumerate(keys):
    tk = time.time()
    try:
        sdf = qs[k](spark, SF_DIR).toPandas()
    except Exception as ex:
        fails.append((k, f"SPARK ERR: {type(ex).__name__}: {ex}"))
        print(f"[{i+1}/{len(keys)}] {k}: SPARK ERR {type(ex).__name__}: {str(ex)[:200]}")
        continue
    if k not in oracles:
        print(f"[{i+1}/{len(keys)}] {k}: rows-only OK ({len(sdf)} rows, {time.time()-tk:.1f}s)")
        continue
    if k in FIXED_SF_ORACLE_KEYS and SF_DIR.rstrip("/") != CONTRACT_SF_DIR:
        # the oracle names the contract's sf0.01 path literally (see
        # registry.ORACLE_FIXED_SF) — hash-comparing it against the
        # engine at THIS sf_dir would diff two different inputs
        print(
            f"[{i+1}/{len(keys)}] {k}: rows-only OK at non-contract SF"
            f" (fixed-sf0.01 oracle; {len(sdf)} rows, {time.time()-tk:.1f}s)"
        )
        continue
    try:
        odf = con.execute(oracles[k]).fetchdf()
    except Exception as ex:
        fails.append((k, f"ORACLE ERR: {ex}"))
        print(f"[{i+1}/{len(keys)}] {k}: ORACLE ERR {str(ex)[:200]}")
        continue
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"schema {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    elif canon_hash(sdf) != canon_hash(odf):
        problems.append("hash mismatch")
    if problems:
        fails.append((k, "; ".join(problems)))
        print(f"[{i+1}/{len(keys)}] {k}: FAIL {'; '.join(problems)}")
    else:
        print(f"[{i+1}/{len(keys)}] {k}: HASH OK ({len(sdf)} rows, {time.time()-tk:.1f}s)")

print(f"\n{len(keys)-len(fails)}/{len(keys)} pass in {time.time()-t0:.0f}s")
for k, msg in fails:
    print(f"  FAIL {k}: {msg[:300]}")
sys.exit(1 if fails else 0)
