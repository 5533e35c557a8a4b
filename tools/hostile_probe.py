"""Hostile-session probe: run the driver contract with a vanilla SparkSession.

The external driver controls the SparkSession — non-UTC timezone, local[4],
none of imops_spark's tuned conf.  Every query must still hash-match the
DuckDB oracle under those conditions.  Run: python tools/hostile_probe.py
[query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession


def main() -> int:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("hostile_probe")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from check_oracle import row_set

    import duckdb

    sf_dir = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for tbl in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{sf_dir}/{tbl}.parquet')"
        )

    entry_df = entrymod.entry(spark)
    n = entry_df.count()
    print(f"entry() ok ({n} rows)")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    bad = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_rows = row_set(sdf.collect(), sdf.columns)
            if name in oracles:
                # fetchall keeps SQL NULLs as python None — fetchdf would
                # widen nullable integer columns to float64 and turn NULL
                # into NaN, which canon() renders differently ("nan" vs
                # "NULL") and would false-flag any gate with a nullable
                # numeric column (first hit: emb_semdedup.dup_of)
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                oracle_rows = row_set(res.fetchall(), ocols)
                status = "ok" if spark_rows == oracle_rows else "MISMATCH"
            else:
                status = "ok(rows-only)" if len(spark_rows) >= 0 else "??"
            print(f"{status:14s} {name} ({len(spark_rows)} rows)")
            if status == "MISMATCH":
                bad.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"ERR            {name}: {e}")
            bad.append(name)
    if bad:
        print(f"FAILED: {bad}")
        return 1
    print("hostile probe: all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
