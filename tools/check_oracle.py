"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, then compares row count,
schema width, and an order-insensitive value hash (rows sorted by
their string form, columns sorted by name). Exit code 1 on any
mismatch. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from baronbatch_etl_spark.io import TABLES, table_path
from baronbatch_etl_spark.queries import load_all
from baronbatch_etl_spark.session import get_spark


def _norm_cell(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr-level exactness: driver-style hashing has no tolerance,
        # so engines must agree bit-for-bit; surface drift here.
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    registry = load_all()
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    failures: list[str] = []
    n_checked = 0
    for name, spec in registry.items():
        if only and name not in only:
            continue
        n_checked += 1
        # drop any frame a query left cached, so the 200-query session
        # stays cache-flat
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: SPARK ERROR {e}")
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if spec.oracle is None:
            print(f"ok*   {name}: rows={len(srows)} (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            if len(srows) == 0:
                print(f"      WARNING {name}: 0 rows")
            continue
        try:
            res = con.execute(spec.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: DUCKDB ERROR {e}")
            print(f"FAIL  {name}: duckdb error: {e}")
            continue

        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows spark={len(srows)} duck={len(drows)}")
        if not problems:
            hs, hd = _hash_rows(scols, srows), _hash_rows(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show a few differing lines to debug
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("|".join(_norm_cell(r[i]) for i in order_s) for r in srows)
                ld = sorted("|".join(_norm_cell(r[i]) for i in order_d) for r in drows)
                diffs = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
                for a, b in diffs:
                    print(f"      spark: {a}\n      duck : {b}")
        if problems:
            failures.append(f"{name}: {'; '.join(problems)}")
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: rows={len(srows)} hash-match "
                  f"[{time.time()-t0:.1f}s]")

    # denominate in queries actually CHECKED — a name filter must not
    # report skipped queries as passes
    print(f"\n{n_checked - len(failures)}/{n_checked} pass")
    missing = only - set(registry)
    if missing:
        print(f"WARNING unknown names (not checked): {sorted(missing)}")
    if failures:
        print("FAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
