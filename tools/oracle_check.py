"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry in Spark AND its oracle_sql() in DuckDB
on the same parquet tables, compare row-count + schema-width +
order-insensitive value hash.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from warp_pipe_spark.io import TABLES  # noqa: E402
from warp_pipe_spark.session import get_spark  # noqa: E402


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def table_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    args = sys.argv[2:]
    qs = entrymod.queries()
    # --window: exactly the FIRST 50 queries() entries — the driver's
    # verification window for the round being built, so a pre-round
    # dry-run replays precisely what CORRECTNESS_r{N} will record
    if args and args[0] == "--window":
        only = set(list(qs)[:50]) | set(args[1:])
    else:
        only = set(args)
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        sh = table_hash(srows, scols)
        dh = table_hash(drows, dcols)
        ok_hash = sh == dh
        status = "ok" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(
            f"{status:5} {name}: rows {len(srows)}/{len(drows)}"
            f" cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'}"
            f" hash={'ok' if ok_hash else f'{sh[:8]} vs {dh[:8]}'}"
            f"  ({time.time()-t0:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_hash and ok_rows and ok_cols:
                # print first differing rows to debug
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in srows)
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
                dset = sorted("\x01".join(norm_cell(r[i]) for i in dorder) for r in drows)
                for a, b in zip(sset, dset):
                    if a != b:
                        print(f"   spark : {a[:200]}")
                        print(f"   duckdb: {b[:200]}")
                        break
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
