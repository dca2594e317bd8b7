#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at sf0.01 (or --sf-dir), compares row count, column names, and
an order-insensitive value hash (rows sorted, columns sorted by name,
floats rounded to 9 significant-ish decimals before hashing).

Usage: python tools/check_oracle.py [-k substring] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def canon(v):
    """Canonical string for one cell, TYPE-SENSITIVE on float vs int.

    The driver's gate fetches DuckDB results via pandas, where an
    un-cast integer SUM (HUGEINT) or a nullable int column becomes
    float64 — so float 5.0 must NOT collapse to "5" or the local gate
    passes queries the driver hash-fails (round-2 lesson:
    events_sessionize / events_props_extract).
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        s = f"{v:.9g}"
        # keep the float-ness visible: 5.0 -> "5.0", not "5"
        return s if any(c in s for c in ".einf") else s + ".0"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x02")
    return h.hexdigest()[:16]


def duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def duck_rows(con, sql: str):
    """(columns, rows) of the oracle. Fetched via pandas, NOT
    fetchall(): through pandas/arrow, HUGEINT and nullable-int columns
    surface as float64, as they do for any arrow consumer of the
    oracle. fetchall() hides that class of mismatch (returns HUGEINT
    as Python int)."""
    ddf = con.execute(sql).df()
    dcols = list(ddf.columns)
    return dcols, list(zip(*[ddf[c].tolist() for c in dcols], strict=True))


def compare(scols, srows, dcols, drows) -> list[str]:
    """Row count, column names, then the value hash; [] when equal."""
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rowcount {len(srows)} != {len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
    if not problems:
        hs, hd = frame_hash(scols, srows), frame_hash(dcols, drows)
        if hs != hd:
            problems.append(f"value hash {hs} != {hd}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-k", default="", help="only keys containing this substring")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("-v", action="store_true", help="print sample mismatching rows")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a stock SparkSession like the driver does (no "
        "session.py confs) — catches anything that silently depends "
        "on our tuned session (the round-3 failure mode)",
    )
    args = ap.parse_args()

    import __spark_entry__ as e

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from tgres_spark.session import get_spark

        spark = get_spark("check_oracle", shuffle_partitions=8)
    con = duck_connect(args.sf_dir)

    qs, sqls = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for key, fn in qs.items():
        if args.k and args.k not in key:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {key}: spark error: {ex}")
            n_fail += 1
            continue
        finally:
            # several operators persist() intermediates that must
            # outlive their collect (minhash signatures, prep_full's
            # cleaned corpus); drop them here so a 280-query sweep in
            # one session doesn't accumulate every query's cache.
            spark.catalog.clearCache()
        if key not in sqls:
            print(f"ROWS  {key}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            dcols, drows = duck_rows(con, sqls[key])
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {key}: duckdb error: {ex}")
            n_fail += 1
            continue
        problems = compare(scols, srows, dcols, drows)
        if args.v and problems and problems[-1].startswith("value hash"):
            so = sorted(range(len(scols)), key=lambda i: scols[i])
            do = sorted(range(len(dcols)), key=lambda i: dcols[i])
            sset = {tuple(canon(r[i]) for i in so) for r in srows}
            dset = {tuple(canon(r[i]) for i in do) for r in drows}
            for r in list(sset - dset)[:3]:
                print(f"        spark-only: {r}")
            for r in list(dset - sset)[:3]:
                print(f"        duck-only:  {r}")
        if problems:
            print(f"FAIL  {key}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS  {key}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
