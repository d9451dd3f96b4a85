"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, column names, and
an order-insensitive value hash. Each query's Spark side runs under its
own job group, and its ``ok``/``FAIL`` line ends with ``jobs=<n>``, the
number of Spark jobs that group ran. The cache is cleared before each
query, so a count does not depend on the order the queries run in.
Usage:

    python tools/verify_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")
import __spark_entry__ as entry_mod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].round(9)
        elif np.issubdtype(pdf[c].dtype, np.integer):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _jobs(sc, group: str) -> int:
    """Spark jobs the named job group has run so far."""
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from online_centrality_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    sc = spark.sparkContext
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # an entry an earlier query left cached would hide this query's
        # own jobs, so every count starts from an empty cache
        spark.catalog.clearCache()
        sc.setJobGroup(name, name)
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:300]} "
                  f"jobs={_jobs(sc, name)}")
            continue
        jobs = f"jobs={_jobs(sc, name)}"
        if name not in oracles:
            print(f"ok   {name}: rows={len(got)} (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s] {jobs}")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]} {jobs}")
            continue
        g, w = normalize(got), normalize(want)
        status = []
        if len(g) != len(w):
            status.append(f"rows {len(g)} != {len(w)}")
        if list(g.columns) != list(w.columns):
            status.append(f"cols {list(g.columns)} != {list(w.columns)}")
        if not status:
            try:
                pd.testing.assert_frame_equal(
                    g, w, check_dtype=False, check_exact=False, atol=1e-9, rtol=0
                )
            except AssertionError as e:
                status.append("values differ: " + str(e).split("\n")[-2][:200])
        if status:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(status)} "
                  f"[{time.time()-t0:.1f}s] {jobs}")
            if len(g) == len(w) and list(g.columns) == list(w.columns):
                diff = (g != w)
                for c in g.columns:
                    if diff[c].any():
                        i = diff[c].idxmax()
                        print(f"     first diff col={c} row={i}: "
                              f"got={g[c][i]} want={w[c][i]}")
        else:
            print(f"ok   {name}: rows={len(g)} [{time.time()-t0:.1f}s] {jobs}")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
