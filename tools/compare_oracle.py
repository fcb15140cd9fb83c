"""Local replica of the driver's correctness gate: run each
queries() entry on Spark AND its oracle_sql() on DuckDB over the same
parquet dir; compare row count, column names/types, and exact values
(rows+columns sorted). Usage:

    python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    from promptner_spark.plans.queries import ORACLE_SQL, QUERIES
    from promptner_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or sorted(QUERIES)
    # one local core per CPU this process may run on, as perfbench does
    spark = build_session(cores=len(os.sched_getaffinity(0)))
    con = duck_con(sf_dir)
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(exc).__name__}: {exc}")
            failures += 1
            continue
        if name not in ORACLE_SQL:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(ORACLE_SQL[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(exc).__name__}: {exc}")
            failures += 1
            continue
        s, o = normalize(sdf), normalize(odf)
        status = []
        if list(s.columns) != list(o.columns):
            status.append(f"cols spark={list(s.columns)} oracle={list(o.columns)}")
        if len(s) != len(o):
            status.append(f"rows spark={len(s)} oracle={len(o)}")
        if not status:
            try:
                pd.testing.assert_frame_equal(s, o, check_dtype=False)
            except AssertionError as exc:
                status.append(f"values differ: {str(exc)[:400]}")
        if status:
            failures += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s): " + "; ".join(status))
        else:
            print(f"OK   {name}: {len(s)} rows ({time.time()-t0:.1f}s)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
