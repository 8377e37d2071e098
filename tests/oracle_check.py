"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB at sf0.01, compares row count, sorted
column names, and order-insensitive cell values (exact equality — stricter
than any hash the driver might use).

Usage:  python tests/oracle_check.py [query ...]
"""

from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import os

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(rows, columns):
    """Sort columns by name, rows by value repr — order-insensitive compare."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = repr(round(v, 9))
            else:
                v = repr(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return [columns[i] for i in order], out


def main() -> int:
    import duckdb
    import __spark_entry__ as e
    from restructure_hdfs_topic_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    wanted = sys.argv[1:]
    qs = e.queries()
    oracles = e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if wanted and name not in wanted:
            continue
        t0 = time.time()
        sdf = fn(spark, SF_DIR)
        srows = sdf.collect()
        scols = sdf.columns
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"  {name}: NO-ORACLE rows={len(srows)} ({spark_s:.1f}s)")
            continue
        t0 = time.time()
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        duck_s = time.time() - t0
        sc, sr = normalize([tuple(r) for r in srows], scols)
        dc, dr = normalize(drows, dcols)
        # Arrow-level type compare: the driver's value-hash is type-aware
        # (Spark decimal(24,2) vs DuckDB decimal(38,2) hash differently even
        # when the values repr-match).
        try:
            # limit(0) / LIMIT 0: schemas only — re-executing both full
            # queries here doubled suite runtime (the rows were already
            # collected above).
            satypes = {f.name: str(f.type) for f in sdf.limit(0).toArrow().schema}
            datypes = {
                f.name: str(f.type)
                for f in con.execute(
                    f"SELECT * FROM ({oracles[name]}) LIMIT 0"
                ).arrow().schema
            }
            def _canon(t):
                # Spark session tz yields tz-aware arrow timestamps; DuckDB's
                # are naive.  The driver's hash tolerates this (every ts
                # column passed round 1), so ignore tz-only differences.
                return t.replace(", tz=UTC", "") if t else t

            type_diff = {
                k: (satypes.get(k), datypes.get(k))
                for k in set(satypes) | set(datypes)
                if _canon(satypes.get(k)) != _canon(datypes.get(k))
            }
        except Exception as exc:  # arrow conversion unsupported for some types
            type_diff = {}
            print(f"  {name}: (arrow type check skipped: {exc})")
        status = "OK"
        if type_diff:
            status = f"TYPE-DIFF {type_diff}"
        elif sc != dc:
            status = f"SCHEMA-MISMATCH spark={sc} duck={dc}"
        elif len(sr) != len(dr):
            status = f"ROWCOUNT-MISMATCH spark={len(sr)} duck={len(dr)}"
        elif sr != dr:
            n_bad = sum(1 for a, b in zip(sr, dr) if a != b)
            first_bad = next((a, b) for a, b in zip(sr, dr) if a != b)
            status = f"VALUE-MISMATCH {n_bad}/{len(sr)} rows differ; first: spark={first_bad[0]} duck={first_bad[1]}"
        if status != "OK":
            failures += 1
        print(f"  {name}: {status} rows={len(sr)} (spark {spark_s:.1f}s, duck {duck_s:.1f}s)")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
