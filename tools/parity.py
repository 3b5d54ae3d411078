"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet dir, compare
row count, column set, and order-insensitive values.

Usage: python tools/parity.py [sf_dir] [query ...]
Env: SPARK_GRAFT_CPUS (default: the CPUs this process may use).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df, float_dp=6):
    """Order-insensitive canonical form: sort columns by name, stringify."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(float_dp)
    rows = sorted(
        tuple("NULL" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    )
    return rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from hdstats_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    # the CPUs this process may use unless SPARK_GRAFT_CPUS says otherwise,
    # as in tools/scaling_bench.py
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark(app="parity", cores=cpus, driver_memory="8g")
    qs = entrymod.queries()
    if only:
        # explicitly-named queries may come from the bench-only registry
        # (retired from the ≤50-entry ledger but still oracle-equipped —
        # COVERAGE.md); the default sweep mirrors the driver gate exactly
        from hdstats_spark import driver_queries as dq

        qs = {**qs, **{k: v for k, v in dq.bench_only_queries().items() if k in only}}
        unknown = only - set(qs)
        if unknown:
            # a typo'd name silently matching nothing would print "0
            # failures" without comparing anything — a false-green gate
            sys.exit(f"unknown query name(s): {sorted(unknown)}")
    sqls = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir).toPandas()
        if name not in sqls:
            print(f"{name:24s} rows-only: {len(sdf)} rows")
            continue
        ddf = con.sql(sqls[name]).df()
        status = []
        if len(sdf) != len(ddf):
            status.append(f"ROWS {len(sdf)} vs {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            status.append(f"COLS {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        if not status:
            a, b = canon(sdf), canon(ddf)
            if a != b:
                bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
                status.append(f"VALUES (first diffs: {bad})")
        if status:
            failures.append(name)
            print(f"{name:24s} MISMATCH: {'; '.join(status)}")
        else:
            print(f"{name:24s} OK ({len(sdf)} rows)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
