"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column-name
set, and an order-insensitive value hash (rows stringified, columns sorted
by name — mirroring the driver contract's description).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    # STRICT stringification — no integral-float normalization.  Round 2
    # lesson: normalizing "7.0" -> "7" here masked an oracle HUGEINT->float
    # type bug that the driver's gate (which stringifies raw) caught, so the
    # local twin silently disagreed with the gate of record.  A type
    # divergence between Spark and DuckDB must FAIL locally too.
    if v is None:
        return ""
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda idx: cols[idx])
    lines = sorted("\x1f".join(norm_cell(r[idx]) for idx in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))  # this checkout
    import __spark_entry__ as entrymod
    from gmx.session import get_spark

    spark = get_spark("correctness")  # width: SPARK_GRAFT_CPUS or nproc
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        spark_s = time.time() - t0
        if name not in osql:
            print(f"{name:32s} rows-only: {len(rows):>8} rows   ({spark_s:5.1f}s)")
            if not rows:
                print(f"  !! EMPTY result for rows-only query {name}")
                failures += 1
            continue
        t0 = time.time()
        res = con.sql(osql[name])
        ocols = [c for c in res.columns]
        orows = res.fetchall()
        duck_s = time.time() - t0
        ok_cols = sorted(cols) == sorted(ocols)
        ok_rows = len(rows) == len(orows)
        ok_hash = frame_hash(cols, rows) == frame_hash(ocols, orows)
        status = "OK " if (ok_cols and ok_rows and ok_hash) else "FAIL"
        print(
            f"{name:32s} {status} rows {len(rows):>8}/{len(orows):<8} "
            f"cols={ok_cols} hash={ok_hash}  (spark {spark_s:5.1f}s duck {duck_s:4.1f}s)"
        )
        if status == "FAIL":
            failures += 1
            if not ok_cols:
                print(f"  spark cols: {cols}\n  duck  cols: {ocols}")
            if ok_cols and (not ok_hash or not ok_rows):
                sset = {tuple(norm_cell(v) for v in r) for r in rows}
                oset = {tuple(norm_cell(v) for v in r) for r in orows}
                so = sorted(sset - oset)[:3]
                os_ = sorted(oset - sset)[:3]
                print(f"  spark-only: {so}\n  duck-only:  {os_}")
    print("FAILURES:", failures)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
