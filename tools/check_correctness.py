"""Local simulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, comparing row count, sorted column names, and an order-insensitive
value hash (rows stringified, floats pre-rounded by the queries themselves).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(df) -> tuple[int, list, str]:
    import pandas as pd

    pdf = df if isinstance(df, pd.DataFrame) else df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for row in pdf.itertuples(index=False):
        cells = []
        for v in row:
            # NULL canonicalization FIRST: pandas renders a NULL-bearing
            # int/bool column as float NaN on one engine and object None
            # on the other (dtype-dependent), so NaN/None/pd.NA must all
            # hash identically or a NULL cell reads as an engine diff.
            # (The DRIVER's comparator is stricter — contract outputs on
            # the testdata corpora must still never carry NULL numeric/
            # boolean cells, per the CLAUDE.md invariant; this helper is
            # also used on fuzz corpora where NULL outputs are legal.)
            if v is None or v is pd.NA or (isinstance(v, float) and v != v):
                cells.append("NULL")
            elif isinstance(v, float):
                cells.append(f"{v:.6f}")
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(rows), cols, h


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # point the fixture-golden oracles at this scale factor's goldens
    os.environ["SPARK_GRAFT_GOLDEN_SF"] = os.path.basename(sf_dir.rstrip("/"))

    import duckdb

    import __spark_entry__ as entrymod
    from textractssmlprocessor_spark.materialize import scope
    from textractssmlprocessor_spark.session import get_spark

    spark = get_spark(app_name="check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        print(f"known: {sorted(qs)}")
        sys.exit(2)
    ok = fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with scope(spark):  # no query's blocks outlive it
                s_n, s_cols, s_hash = value_hash(fn(spark, sf_dir))
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {s_n} rows, cols={s_cols} ({time.time()-t0:.1f}s)")
            ok += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
            d_n, d_cols, d_hash = value_hash(ddf)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            fail += 1
            continue
        status = []
        if s_n != d_n:
            status.append(f"rows {s_n} != {d_n}")
        if s_cols != d_cols:
            status.append(f"cols {s_cols} != {d_cols}")
        if s_hash != d_hash:
            status.append("hash mismatch")
        if status:
            print(f"FAIL {name}: {'; '.join(status)} ({time.time()-t0:.1f}s)")
            fail += 1
        else:
            print(f"OK   {name}: {s_n} rows ({time.time()-t0:.1f}s)")
            ok += 1
    print(f"\n{ok} ok, {fail} fail")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
