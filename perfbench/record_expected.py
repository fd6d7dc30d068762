#!/usr/bin/env python3
"""Record the expected answers under perfbench/expected/ and cross-check
them against the DuckDB oracles.

    python3 perfbench/record_expected.py

Runs `perfbench.Record` (see its doc) on the benchmark's data, then checks
in DuckDB that every registry query's row count equals its oracle's
(`SparkEntry.oracleSql`) and that, for every events.user_id, the TVF
answer's row count, sum(column1) and summed datetime micros equal what the
`udf_datamart` oracle SQL gives for that id. Run it only when the engine's
answers are meant to change; the benchmark checks every op against these.
"""

import json
import shutil
import subprocess
import sys

import duckdb

import run

ORACLE_ID = "WHERE id = '13'"


def duck(data_dir):
    con = duckdb.connect()
    for p in sorted(data_dir.glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    return con


def main():
    work = run.WORK_DIR / "record"
    shutil.rmtree(work, ignore_errors=True)
    oracle_file = work / "oracle.json"
    try:
        cmd, env = run.java_command(work, "perfbench.Record")
        cmd += ["--events-data", str(run.BENCH / "data" / run.DATA["reference_pipeline"]),
                "--query-data", str(run.BENCH / "data" / run.DATA["operator_batch"]),
                "--expected", str(run.BENCH / "expected"), "--oracle", str(oracle_file)]
        subprocess.run(cmd, cwd=work, env=env, check=True, stdout=sys.stderr)
        oracle = json.loads(oracle_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = 0
    con = duck(run.BENCH / "data" / run.DATA["operator_batch"])
    for q in oracle["queries"]:
        n = con.sql(f"SELECT count(*) FROM ({q['sql']})").fetchone()[0]
        status = "ok" if n == q["rows"] else "MISMATCH"
        bad += status != "ok"
        print(f"{q['name']:<32} rows {q['rows']:>8} oracle {n:>8} {status}")

    sql = oracle["udf_datamart"]
    if ORACLE_ID not in sql:
        sys.exit("udf_datamart oracle no longer filters on id = '13'; update this check")
    per_id = sql.replace(ORACLE_ID, "WHERE id = $id").replace("ORDER BY column1", "")
    con = duck(run.BENCH / "data" / run.DATA["reference_pipeline"])
    for id_, rows, sum_c1, sum_us in oracle["tvf_ids"]:
        got = con.execute(
            f"SELECT count(*), sum(column1), sum(epoch_us(datetime)) FROM ({per_id})", {"id": id_}).fetchone()
        if tuple(got) != (rows, sum_c1, sum_us):
            bad += 1
            print(f"tvf id {id_}: recorded {(rows, sum_c1, sum_us)} oracle {tuple(got)} MISMATCH")
    print(f"{len(oracle['tvf_ids'])} TVF ids cross-checked")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
