"""Simulate the grading driver: vanilla session, __spark_entry__ contract,
DuckDB oracle hash-compare at sf=0.01. Run with TZ=America/New_York to
probe timezone stability.

Usage: python scripts/driver_sim.py [qNN_name ...]   (no names: all 50)

A query is RED when its result differs from the oracle's, or when running
it changed the session's shuffle partitions or time zone (queries leave
the session as they found it). A mismatch prints both sides' heads and
column dtypes (a dtype difference is the usual cause of a hash mismatch).
Prints each query's wall seconds and the total."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# session conf no query may change
CONTRACT = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    import __spark_entry__ as E

    n = E.entry(spark).count()
    print(f"entry: {n} rows")
    qs, osql = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    n_green = n_bad = n_noracle = 0
    total_s = 0.0
    only = sys.argv[1:]
    for name, fn in qs.items():
        if only and name not in only:
            continue
        conf = {k: spark.conf.get(k) for k in CONTRACT}
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {str(e)[:300]}")
            n_bad += 1
            continue
        dt = time.time() - t0
        total_s += dt
        changed = {k: (v, spark.conf.get(k)) for k, v in conf.items()
                   if spark.conf.get(k) != v}
        sql = osql.get(name)
        if sql is None:
            print(f"{name}: no_oracle ({len(sdf)} rows)")
            n_noracle += 1
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {str(e)[:300]}")
            n_bad += 1
            continue
        s, o = norm(sdf), norm(odf)
        ok = len(s) == len(o) and list(s.columns) == list(o.columns)
        if ok:
            try:
                pd.testing.assert_frame_equal(
                    s, o, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
                )
            except AssertionError as e:
                ok = False
                print(f"{name}: HASH MISMATCH\n{str(e)[:400]}")
                print("  spark:\n", s.head(3).to_string())
                print("  oracle:\n", o.head(3).to_string())
        else:
            print(f"{name}: ROWS/SCHEMA {len(s)}/{len(o)} "
                  f"{list(s.columns)} vs {list(o.columns)}")
        if not ok:
            print("  dtypes spark:", dict(s.dtypes.astype(str)),
                  "oracle:", dict(o.dtypes.astype(str)))
        if changed:
            ok = False
            print(f"{name}: CHANGED SESSION CONF {changed}")
        if ok:
            n_green += 1
        else:
            n_bad += 1
        print(f"{name}: {'GREEN' if ok else 'RED'} {dt:.2f} s")
    print(f"\nTOTAL green={n_green} bad={n_bad} no_oracle={n_noracle} "
          f"wall={total_s:.2f} s")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
