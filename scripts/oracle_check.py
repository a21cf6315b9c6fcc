"""Targeted oracle check: run the NAMED queries() entries under a
VANILLA SparkSession and compare against their DuckDB twins at
sf0.01 (the full_oracle_sweep.py comparison, without the other ~270
entries) — the optimization round's per-change correctness gate.

Checks the checkout this script lives in, on $SPARK_GRAFT_CPUS cores
(default: every core this process may run on).

Usage: python scripts/oracle_check.py <query> [<query> ...]
"""
import hashlib
import math
import os
import sys
import time
from pathlib import Path

import duckdb
from pyspark.sql import SparkSession

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
# Spark's Python workers unpickle this checkout's code too.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
import __spark_entry__ as m  # noqa: E402

if not Path(m.__file__).resolve().is_relative_to(ROOT):
    raise SystemExit(f"imported {m.__file__}, not the checkout at {ROOT}")

SF = "/root/testdata/sf0.01"


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return s[:-6] if s.endswith("+00:00") else s
    return str(v)


def main() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    qs, osql = m.queries(), m.oracle_sql()
    rc = 0
    for name in sys.argv[1:]:
        t0 = time.time()
        sdf = qs[name](spark, SF)
        cols = sorted(sdf.columns)
        srows = sorted(
            tuple(canon(r[c]) for c in cols) for r in sdf.collect())
        # the first 16 hex of SHA-256 over the sorted canonical rows:
        # equal across two checkouts iff they return the same rows
        digest = hashlib.sha256(repr(srows).encode()).hexdigest()[:16]
        if name not in osql:
            print(f"{name} ROWS-ONLY {len(srows)} rows {digest} "
                  f"{time.time()-t0:.1f}s", flush=True)
            continue
        tbl = con.execute(osql[name]).fetch_arrow_table()
        drows = sorted(
            tuple(canon(r[c]) for c in sorted(tbl.column_names))
            for r in tbl.to_pylist())
        ok = "MATCH" if srows == drows else "MISMATCH"
        if ok != "MATCH":
            rc = 1
        print(f"{name} {ok} {len(srows)} {digest} "
              f"{time.time()-t0:.1f}s", flush=True)
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
