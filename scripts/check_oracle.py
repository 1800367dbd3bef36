"""Mimic the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value multiset.

Usage: python scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the executors' Python workers import the program too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

SF = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    from nutch_spark.session import default_cores, get_spark
    import __spark_entry__ as e

    cores = default_cores()
    spark = get_spark(cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")

    qs = e.queries()
    oracles = e.oracle_sql()
    only = sys.argv[1:]
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only, {len(srows)} rows")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = res.columns
            orows = res.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        sm = rows_to_multiset(scols, [tuple(r) for r in srows])
        om = rows_to_multiset(ocols, orows)
        if sm != om:
            extra_s = list((sm - om).items())[:3]
            extra_o = list((om - sm).items())[:3]
            problems.append(f"values differ; spark-only={extra_s} "
                            f"oracle-only={extra_o}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + " | ".join(problems))
        else:
            print(f"PASS  {name}: {len(srows)} rows")
    print(f"\n{len(failures)} failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
