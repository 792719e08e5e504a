#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
(column names) and an order-insensitive value hash. Rows-only queries are just
executed and row-counted.

Usage: python scripts/check_correctness.py [--sf-dir /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "␀"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    t_sweep = time.time()

    from knowledge_extraction_pipeline_spark.queries import ORACLE, QUERIES
    from knowledge_extraction_pipeline_spark.session import get_spark

    spark = get_spark(app_name="check-correctness")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')")

    names = args.names or list(QUERIES)
    failures = vacuous = 0
    for name in names:
        fn = QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"✗ {name}: SPARK ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        dt_spark = time.time() - t0
        if name not in ORACLE:
            print(f"· {name}: rows-only, {len(srows)} rows ({dt_spark:.1f}s)")
            continue
        try:
            res = con.execute(ORACLE[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"✗ {name}: DUCKDB ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        sh = value_hash(scols, srows)
        dh = value_hash(dcols, drows)
        ok_hash = sh == dh
        # both engines empty: the hash compare shows nothing about values
        vacuous += not srows and not drows
        status = "✓" if (ok_cols and ok_count and ok_hash) else "✗"
        if status == "✗":
            failures += 1
        print(f"{status} {name}: spark={len(srows)} duck={len(drows)} "
              f"cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'} "
              f"hash={'ok' if ok_hash else f'{sh} vs {dh}'} ({dt_spark:.1f}s)")
        if not ok_hash and ok_cols and ok_count:
            # print a sample of differing lines for debugging
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = {"\x1f".join(norm_cell(r[i]) for i in order) for r in srows}
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            dset = {"\x1f".join(norm_cell(r[i]) for i in dorder) for r in drows}
            for x in list(sset - dset)[:3]:
                print("   spark-only:", x.replace("\x1f", " | "))
            for x in list(dset - sset)[:3]:
                print("   duck-only: ", x.replace("\x1f", " | "))

    print(f"\n{len(names) - failures}/{len(names)} ok, {vacuous} vacuous"
          f" (spark=0 duck=0) in {time.time() - t_sweep:.1f}s")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
