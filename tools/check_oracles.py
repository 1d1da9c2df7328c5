"""Emulate the driver's correctness gate: run every queries() entry on
Spark AND its oracle_sql() on DuckDB, compare row count, column names,
and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [name...]  (the engine is
imported from the checkout this script lives in)
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None or v != v:  # NaN
        return "NULL"
    if isinstance(v, float):
        # driver-style canonicalization of floats
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = ["\x1f".join(norm_cell(v) for v in rec)
            for rec in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from duplicate_finder_spark.session import get_spark

    # Fail loudly on unknown names BEFORE starting Spark: a typo (or a
    # --flag mistaken for a name) must not filter every query out and
    # then report "all oracle checks passed" vacuously.
    known = set(entrymod.queries())
    unknown = sorted(only - known)
    if unknown:
        print("ERROR: unknown query name(s): " + ", ".join(unknown))
        print("valid names:\n  " + "\n  ".join(sorted(known)))
        sys.exit(2)

    spark = get_spark(app_name="oracle-check", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
        except duckdb.Error:
            pass

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    n_ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({el:.1f}s, rows-only)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs "
                            f"{sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
            cols = sorted(sdf.columns)
            a = set("\x1f".join(norm_cell(v) for v in r) for r in
                    sdf[cols].itertuples(index=False, name=None))
            b = set("\x1f".join(norm_cell(v) for v in r) for r in
                    odf[cols].itertuples(index=False, name=None))
            for label, diff in (("spark-only", a - b), ("duck-only", b - a)):
                for row in sorted(diff)[:3]:
                    problems.append(f"  {label}: {row!r}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print("      " + p)
        else:
            print(f"OK    {name}: {len(sdf)} rows ({el:.1f}s)")
    spark.stop()
    if failures:
        print("FAILURES:", ", ".join(failures))
        sys.exit(1)
    if n_ran == 0:
        print("ERROR: zero queries ran — refusing to report success")
        sys.exit(2)
    print(f"all oracle checks passed ({n_ran} queries)")


if __name__ == "__main__":
    main()
