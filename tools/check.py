"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` twin in
DuckDB at the given scale factor, then compares row count, sorted column
names, and an order-insensitive canonical value hash. Stricter than the
driver can possibly be: floats must match to 1e-12 relative (report shows
max deviation so near-misses are visible).

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(df, float_sig: int = 12):
    """pandas DataFrame -> (rowcount, sorted cols, sorted row tuples)."""
    import pandas as pd

    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("<null>")
            elif isinstance(v, float):
                row.append(f"{v:.{float_sig}g}")
            elif isinstance(v, pd.Timestamp):
                row.append(v.isoformat())
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                row.append("[" + ",".join(canon_scalar(x, float_sig) for x in v) + "]")
            else:
                row.append(str(v))
        rows.append("\x1f".join(row))
    rows.sort()
    return len(rows), cols, rows


def canon_scalar(v, float_sig):
    import math as m

    if v is None or (isinstance(v, float) and m.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return f"{v:.{float_sig}g}"
    return str(v)


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
    from bcg_contacts_data_pipeline_spark.session import TABLES, get_spark

    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    if vanilla:
        # Driver-parity mode: the driver runs queries() under its OWN
        # bare SparkSession (ANSI on, default 200 shuffle partitions,
        # no Arrow conf, default driver memory) — none of get_spark's
        # tuning. Engine semantics must not depend on session config;
        # this mode proves it. Use a head-count arg (e.g. "head:50")
        # to replicate the driver's window.
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("correctness-check")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        import os

        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    head = None
    for o in list(only):
        if o.startswith("head:"):
            head = int(o.split(":", 1)[1])
            only.discard(o)

    failures = []
    for i, (name, fn) in enumerate(queries.items()):
        if head is not None and i >= head:
            break
        if only and name not in only:
            continue
        try:
            with PinScope():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        sn, scols, srows = canon(sdf)
        on, ocols, orows = canon(odf)
        if sn != on:
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={sn} oracle={on}")
            continue
        if scols != ocols:
            failures.append(name)
            print(f"FAIL {name}: cols spark={scols} oracle={ocols}")
            continue
        if srows != orows:
            failures.append(name)
            bad = sum(1 for a, b in zip(srows, orows) if a != b)
            print(f"FAIL {name}: {bad}/{sn} canonical rows differ")
            for a, b in list(zip(srows, orows))[:200]:
                if a != b:
                    print(f"  spark : {a[:220]}")
                    print(f"  oracle: {b[:220]}")
                    break
            continue
        print(f"OK   {name}: {sn} rows, {len(scols)} cols")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
