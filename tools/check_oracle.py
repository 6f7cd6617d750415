"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables, compare row count, column names, and
order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from textalyzer_spark.session import get_spark

    # one Spark core per host core (bench.py's SPARK_GRAFT_CPUS contract):
    # more would oversubscribe the host the DuckDB side shares
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark("oracle-check", cores=cores, shuffle_partitions=cores)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sorted(sdf.columns)
        sset = sorted(
            tuple(normalize(r[c]) for c in scols) for r in srows
        )
        if name not in oracles:
            print(f"{name}: NO ORACLE (rows={len(srows)}) — rows-only check")
            continue
        ddf = con.sql(oracles[name])
        dcols_raw = ddf.columns
        dcols = sorted(dcols_raw)
        drows = ddf.fetchall()
        dset = sorted(
            tuple(normalize(r[dcols_raw.index(c)]) for c in dcols) for r in drows
        )
        ok_cols = scols == dcols
        ok_count = len(sset) == len(dset)
        ok_vals = sset == dset
        status = "OK" if (ok_cols and ok_count and ok_vals) else "FAIL"
        print(f"{name}: {status} spark_rows={len(sset)} duck_rows={len(dset)} "
              f"cols_match={ok_cols} vals_match={ok_vals}")
        if status == "FAIL":
            failed.append(name)
            if not ok_cols:
                print(f"  spark cols: {scols}\n  duck cols:  {dcols}")
            if ok_cols:
                for a, b in list(zip(sset, dset))[:2000]:
                    if a != b:
                        print(f"  first diff:\n   spark: {a}\n   duck:  {b}")
                        break
                else:
                    extra = len(sset) - len(dset)
                    print(f"  row count differs by {extra}")
                    sd, dd = set(sset), set(dset)
                    for x in list(sd - dd)[:3]:
                        print(f"   only-spark: {x}")
                    for x in list(dd - sd)[:3]:
                        print(f"   only-duck:  {x}")
    spark.stop()
    if failed:
        print("FAILED:", failed)
        return 1
    print("all oracle checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
