"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compare row count + schema-sorted values.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 6)
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from docling_parse_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="contract_check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only)")
            continue
        try:
            res = con.execute(oracles[name])
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL  {name}: columns {sorted(scols)} != {sorted(dcols)}")
            continue
        # Type parity: the driver hashes *typed* values (pandas level), so a
        # DuckDB HUGEINT vs Spark BIGINT mismatch fails its gate even when the
        # stringified values agree. Compare pandas dtypes per column.
        try:
            spdf = sdf.toPandas()
            dpdf = con.execute(oracles[name]).df()
            spark_types = dict(sdf.dtypes)
            dtype_diffs = []
            for c in sorted(scols):
                if spark_types.get(c) == "date":
                    # Spark DATE -> pandas object(date) vs DuckDB datetime64;
                    # the driver's hash accepts this (events_daily r01 green)
                    continue
                st, dt = str(spdf[c].dtype), str(dpdf[c].dtype)
                if st != dt and not ({st, dt} <= {"int8", "int16", "int32", "int64"}):
                    dtype_diffs.append((c, st, dt))
            if dtype_diffs:
                failures.append(name)
                print(f"FAIL  {name}: dtype mismatch {dtype_diffs}")
                continue
        except Exception as e:
            print(f"warn  {name}: dtype check skipped ({type(e).__name__}: {e})")
        a = normalize([tuple(r) for r in srows], scols)
        b = normalize(drows, dcols)
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(a)} != {len(b)}")
        elif a != b:
            failures.append(name)
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, e.g. {diff}")
        else:
            print(f"OK    {name}: {len(a)} rows match")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
