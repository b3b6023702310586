"""Simulate the driver's verification: entry() smoke at sf0.001, then every
queries()[name] vs oracle_sql()[name] at sf0.01 via DuckDB (row count +
schema + order-insensitive value compare). This is the engine's end-to-end
surface — run it before every commit.

Usage: python tools/driver_sim.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(left: pd.DataFrame, right: pd.DataFrame) -> str | None:
    if len(left) != len(right):
        return f"row count {len(left)} != {len(right)}"
    if list(left.columns) != list(right.columns):
        return f"columns {list(left.columns)} != {list(right.columns)}"
    for c in left.columns:
        lv, rv = left[c], right[c]
        if lv.dtype.kind == "f" or rv.dtype.kind == "f":
            if not (lv.astype("float64").values == rv.astype("float64").values).all():
                bad = (lv.astype("float64").values != rv.astype("float64").values).sum()
                return f"col {c}: {bad} float mismatches"
        else:
            if not (lv.astype(str).values == rv.astype(str).values).all():
                bad = (lv.astype(str).values != rv.astype(str).values).sum()
                return f"col {c}: {bad} mismatches"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from fagi_gis_spark.session import get_spark

    cores = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = get_spark("driver-sim", cores=cores, shuffle_partitions=8)

    t0 = time.time()
    edf = E.entry(spark)
    n = edf.count()
    print(f"entry(): {n} rows, schema={[f.name for f in edf.schema.fields]} "
          f"({time.time()-t0:.1f}s)")
    assert n > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = E.queries()
    os_ = E.oracle_sql()
    fails = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            fails.append(name)
            print(f"FAIL  {name}: spark error {str(ex)[:200]}")
            continue
        if name not in os_:
            print(f"ok?   {name}: {len(sdf)} rows (rows-only check; no oracle) "
                  f"({time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                fails.append(name)
            continue
        try:
            ddf = con.execute(os_[name]).df()
        except Exception as ex:  # noqa: BLE001
            fails.append(name)
            print(f"FAIL  {name}: duckdb error {str(ex)[:200]}")
            continue
        err = compare(normalize(sdf), normalize(ddf))
        if err:
            fails.append(name)
            print(f"FAIL  {name}: {err} ({time.time()-t0:.1f}s)")
        else:
            print(f"OK    {name}: {len(sdf)} rows match oracle ({time.time()-t0:.1f}s)")
    print(f"\n{len(fails)} failures" + (f": {fails}" if fails else ""))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
