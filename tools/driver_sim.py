"""Simulate the driver's verify: run entry(spark) as a smoke check, then run
every queries()[name] at sf0.01 against its oracle_sql() twin in DuckDB and
compare row-count + schema + order-insensitive value hash.

Usage: python tools/driver_sim.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows, columns) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        tuple(repr(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for r in canon:
        h.update("|".join(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def norm_value(v):
    import datetime
    import decimal

    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_value(x) for x in v)
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from goldenretriever_spark.session import get_spark

    spark = get_spark("driver-sim")

    print("== smoke: entry(spark) ==")
    df = E.entry(spark)
    rows = df.collect()
    print(f"entry -> {len(rows)} rows, schema: {df.schema.simpleString()}")
    assert len(rows) >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(norm_value(v) for v in row) for row in sdf.collect()]
        scols = sdf.columns
        if name not in oracles:
            print(f"{name}: rows-only check -> {len(srows)} rows")
            continue
        ores = con.execute(oracles[name])
        ocols = [d[0] for d in ores.description]
        orows = [tuple(norm_value(v) for v in row) for row in ores.fetchall()]
        ok_count = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        s_hash = value_hash(srows, scols)
        ok_hash = s_hash == value_hash(orows, ocols)
        status = "OK" if (ok_count and ok_schema and ok_hash) else "FAIL"
        print(
            f"{name}: {status} rows={len(srows)}/{len(orows)} "
            f"schema={'OK' if ok_schema else f'{sorted(scols)} vs {sorted(ocols)}'} hash={'OK' if ok_hash else 'MISMATCH'} "
            f"value_hash={s_hash[:16]}"
        )
        if status == "FAIL":
            failures.append(name)
            if ok_schema and ok_count:
                s_set = set(map(tuple, srows))
                o_set = set(map(tuple, orows))
                diff1 = list(s_set - o_set)[:5]
                diff2 = list(o_set - s_set)[:5]
                print(f"  spark-only: {diff1}")
                print(f"  oracle-only: {diff2}")
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
