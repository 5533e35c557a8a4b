"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` in DuckDB at sf0.01, then compares row count, column names,
and an order-insensitive value hash (rows sorted, values stringified with
float canonicalization).  Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def row_set(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    import duckdb

    import __spark_entry__ as entry
    from imops_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows-only check), {len(srows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        # Typing guard: DuckDB silently widens integer SUMs to HUGEINT
        # (int128) and literal arithmetic to DECIMAL; the driver's value
        # hash serializes those differently from Spark's BIGINT/DOUBLE even
        # when the values are identical (cost 2 red gates in r4).  DESCRIBE
        # every oracle and fail hard on any wide output column so the
        # pattern can't be reintroduced.
        try:
            desc = con.execute(f"DESCRIBE ({oracles[name]})").fetchall()
            wide = [(c, t) for c, t, *_ in desc
                    if any(w in t.upper() for w in ("HUGEINT", "DECIMAL"))]
            if wide:
                problems.append(
                    f"oracle output typing: {wide} — CAST the column "
                    f"(BIGINT/DOUBLE) in oracle_sql()")
        except Exception as e:
            problems.append(f"oracle DESCRIBE failed: {e}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns {sorted(scols)} vs {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if not problems:
            s_set = row_set([tuple(r) for r in srows], scols)
            d_set = row_set(drows, dcols)
            if s_set != d_set:
                diff = [(a, b) for a, b in zip(s_set, d_set) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name} ({len(srows)} rows)")
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
