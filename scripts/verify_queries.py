#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query at a given sf and compare to its DuckDB oracle
(row count, column names, order-insensitive values)."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

TABLES = ["documents"]


def canon(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c] if isinstance(r, dict) else r[cols.index(c)]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main(sf_dir: str, only: list[str]) -> int:
    import duckdb

    import __spark_entry__ as E
    from high_performance_docling_spark.pipeline import get_spark

    spark = get_spark("verify", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = E.queries(), E.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        dcols = sorted(ddf.columns.tolist())
        if cols != dcols:
            print(f"FAIL {name}: columns {cols} != {dcols}")
            failed.append(name)
            continue
        drows = ddf.to_dict("records")
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(drows)}")
            failed.append(name)
            continue
        cs, cd = canon(srows, cols), canon(drows, cols)
        if cs != cd:
            bad = next(i for i, (a, b) in enumerate(zip(cs, cd)) if a != b)
            print(f"FAIL {name}: value mismatch at sorted row {bad}:")
            print(f"  spark : {cs[bad]}")
            print(f"  duckdb: {cd[bad]}")
            failed.append(name)
            continue
        print(f"ok   {name}: {len(srows)} rows match")
    spark.stop()
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(main(sf, sys.argv[2:]))
