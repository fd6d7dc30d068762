#!/usr/bin/env python3
"""Local replica of the driver's correctness gate. This script does NOT run
graft.Verify itself — run it separately first to populate outdir
(`sbt "runMain graft.Verify <sfdir> <outdir>"`); this script then runs each
oracle SQL from outdir/oracle_sql.json in DuckDB over the same parquet
tables and compares results THROUGH THE SAME TYPE PATHS THE DRIVER USES:

  - Spark side: parquet read via pyarrow -> .to_pandas()  (decimal columns
    arrive as python Decimal objects, int64 as int64, double as float64)
  - DuckDB side: relation -> .df()  (pandas conversion: DECIMAL and HUGEINT
    become float64)

and canonicalizes every value with str(). This reproduces the driver's
failure mode exactly: a Decimal("1400362.00") on the Spark side vs a
float64 1400362.0 on the DuckDB side string-mismatch even though the
values are numerically equal — which is why no query may emit DECIMAL or
un-cast SUM output columns (see graft.functions.Money).

Every query named in outdir/failures.json (Verify's record of the queries
that threw) is a FAIL with its cause, whether or not outdir holds a
directory for it: Verify writes a query's parquet only on success, so such
a directory is a stale earlier run's output.

Usage:
    python3 tools/selfcheck.py [sfdir] [outdir]
"""
import datetime
import json
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """Driver-style canonical string of one value."""
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    # date32 arrives as datetime.date from pyarrow but as datetime64 from
    # duckdb's .df(); the driver matches these (q_pivot_daily_events was
    # hash-green with a DATE column), so normalize to one form
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return str(pd.Timestamp(v))
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (np.floating,)):
        return str(float(v))
    if isinstance(v, (np.bool_,)):
        return str(bool(v))
    return str(v)


def frame_rows(df):
    """Rows of a pandas frame with columns sorted by name, canonicalized."""
    cols = sorted(df.columns)
    return sorted(
        tuple(canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def array_cols(df):
    """Columns holding ndarray/list values — the driver's sort_values
    crashes on these (unhashable ndarray), so they must never reach an
    oracle-checked output."""
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            nonnull = df[c].dropna()
            if len(nonnull) and isinstance(nonnull.iloc[0], (np.ndarray, list)):
                bad.append(c)
    return bad


def compare(spark_df, duck_df):
    bad = sorted(set(array_cols(spark_df)) | set(array_cols(duck_df)))
    if bad:
        return f"ARRAY OUTPUT COLUMNS {bad}: driver sort_values would crash"
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return (f"SCHEMA MISMATCH spark={sorted(spark_df.columns)} "
                f"duck={sorted(duck_df.columns)}")
    rs, rd = frame_rows(spark_df), frame_rows(duck_df)
    if len(rs) != len(rd):
        return f"ROWCOUNT MISMATCH spark={len(rs)} duck={len(rd)}"
    for i, (a, b) in enumerate(zip(rs, rd)):
        if a != b:
            return f"VALUE MISMATCH at sorted-row {i}:\n  spark={a}\n  duck ={b}"
    return None


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SFDIR}/{t}.parquet'")
    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    failures_file = OUT / "failures.json"
    results = json.loads(failures_file.read_text()) if failures_file.exists() else {}
    failed = set(results)
    for name, sql in sorted(oracle.items()):
        if name in failed:
            continue
        pdir = OUT / name
        if not pdir.exists():
            results[name] = "NO SPARK OUTPUT"
            continue
        # the driver's Spark-side path: pyarrow -> pandas (decimals stay Decimal)
        spark_df = pq.read_table(pdir).to_pandas()
        try:
            # the driver's oracle-side path: duckdb -> pandas (DECIMAL/HUGEINT -> float64)
            duck_df = con.sql(sql).df()
        except Exception as e:
            results[name] = f"ORACLE ERROR: {e}"
            continue
        try:
            # the driver sorts result frames; array-typed columns crash there
            # (unhashable ndarray) exactly like they crash a naive sort here
            results[name] = compare(spark_df, duck_df)
        except Exception as e:
            results[name] = f"COMPARE ERROR ({type(e).__name__}): {e}"
    # queries without oracle: report rows-only
    for pdir in sorted(OUT.iterdir()):
        if pdir.is_dir() and pdir.name not in oracle and pdir.name not in failed:
            n = pq.read_table(pdir).num_rows
            results[pdir.name] = f"(no oracle) rows={n}"
    ok = True
    for name, err in sorted(results.items()):
        if err is None:
            print(f"  OK   {name}")
        elif err.startswith("(no oracle)"):
            print(f"  INFO {name} {err}")
        else:
            ok = False
            print(f"  FAIL {name}: {err}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
