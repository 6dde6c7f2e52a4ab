"""Local stand-in for the driver's correctness gate: run every queries()
entry at a given sf_dir, run its oracle_sql() in DuckDB, compare row count,
column names, and order-insensitive values.

Usage: python scripts/check_correctness.py [sf_dir] [query_name ...]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    master = os.environ.get("QFS_CHECK_MASTER", "local[8]")
    shuffle = os.environ.get("QFS_CHECK_SHUFFLE", "8")
    spark = (SparkSession.builder.master(master)
             .config("spark.sql.shuffle.partitions", shuffle)
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = normalize(fn(spark, sf_dir).toPandas())
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows={len(got)} ({el:.1f}s) [no oracle: rows-only]")
            continue
        try:
            want = normalize(con.execute(oracles[name]).df())
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle error {e}")
            continue
        problems = []
        if list(got.columns) != list(want.columns):
            problems.append(f"columns {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want):
            problems.append(f"rows {len(got)} != {len(want)}")
        else:
            for c in got.columns:
                a, w = got[c], want[c]
                try:
                    import numpy as np
                    if a.dtype.kind == 'f' or w.dtype.kind == 'f':
                        eq = np.allclose(a.astype(float), w.astype(float), rtol=0, atol=0)
                    else:
                        eq = a.astype(object).equals(w.astype(object))
                except Exception as e:
                    eq = False
                if not eq:
                    problems.append(f"col {c}: got {list(a)[:5]} want {list(w)[:5]}")
        if problems:
            failures.append(name)
            print(f"FAIL {name} ({el:.1f}s): " + "; ".join(problems))
        else:
            print(f"PASS {name}: rows={len(got)} ({el:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
