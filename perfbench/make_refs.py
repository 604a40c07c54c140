"""Build the stored query references the benchmark checks results against.

    python3 perfbench/make_refs.py [qNN_name ...]

Runs each registry query's DuckDB oracle (``__spark_entry__.oracle_sql``)
over the benchmark's tables (``perfbench/data/sf0.01``, a copy of the
engine's sf 0.01 test data) and writes the oracle result, normalized the
way ``scripts/driver_sim.py`` normalizes it, to
``perfbench/data/ref/<query>.parquet``. No Spark is involved: every
reference is the oracle's answer, not the engine's.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench.checks import REF_DIR, SF_DIR, TABLES, norm  # noqa: E402


def main(only: list[str]) -> int:
    import duckdb

    import __spark_entry__ as E

    oracle_sql = E.oracle_sql()
    os.makedirs(REF_DIR, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    for name in E.queries():
        if only and name not in only:
            continue
        t = time.time()
        ref = norm(con.execute(oracle_sql[name]).fetchdf())
        ref.to_parquet(os.path.join(REF_DIR, f"{name}.parquet"), index=False)
        print(f"{name}: {len(ref)} rows, oracle {time.time() - t:.1f} s")
    con.close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
