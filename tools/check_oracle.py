"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry at a given SF next to its
``oracle_sql()`` DuckDB twin and compare row count, schema arity, and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

# the checkout this script lives in, not whatever is installed or cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return repr(round(v, 9))
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (SparkSession.builder.master("local[8]")
             .appName("oracle-check")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        rows = df.collect()
        cols = df.columns
        if name not in oracles:
            print(f"  {name:28s} rows={len(rows):6d}  (rows-only)")
            if len(rows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        want = con.execute(oracles[name])
        wcols = [d[0] for d in want.description]
        wrows = want.fetchall()
        ok_n = len(rows) == len(wrows)
        ok_c = sorted(cols) == sorted(wcols)
        gh = value_hash(cols, [tuple(r) for r in rows])
        wh = value_hash(wcols, wrows)
        ok_h = gh == wh
        status = "OK " if (ok_n and ok_c and ok_h) else "FAIL"
        print(f"  {name:28s} rows={len(rows):6d}/{len(wrows):6d} "
              f"cols={'=' if ok_c else cols} hash={'=' if ok_h else 'X'} "
              f"{status}")
        if status == "FAIL":
            failures.append((name, f"n={ok_n} cols={ok_c} hash={ok_h}"))
            if not ok_h and ok_n and ok_c:
                got = {tuple(_canon(v) for v in r) for r in rows}
                exp = {tuple(_canon(v) for v in r) for r in wrows}
                so = sorted(range(len(cols)), key=lambda i: cols[i])
                got = {tuple(t[i] for i in so) for t in
                       [tuple(_canon(v) for v in r) for r in rows]}
                so_w = sorted(range(len(wcols)), key=lambda i: wcols[i])
                exp = {tuple(t[i] for i in so_w) for t in
                       [tuple(_canon(v) for v in r) for r in wrows]}
                print("    spark-only:", list(got - exp)[:3])
                print("    oracle-only:", list(exp - got)[:3])

    print()
    if failures:
        print("FAILURES:")
        for n, why in failures:
            print(f"  {n}: {why}")
        sys.exit(1)
    print("all queries match")
    spark.stop()


if __name__ == "__main__":
    main()
