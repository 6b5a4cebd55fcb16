"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry at the given SF, runs the matching
``oracle_sql()`` in DuckDB over the same parquet tables, and compares
row count, (sorted) column names, and an order-insensitive value hash.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

# the one table registry (lours_spark.session.TABLES) — a second
# hand-maintained copy here would miss new tables silently
from lours_spark.session import TABLES


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):  # int(inf) raises before the == comparison
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    import __spark_entry__ as entrymod
    from lours_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = sdf.collect()
            s_hash = value_hash(srows, scols)
            elapsed = time.time() - t0
        except Exception as e:
            results[name] = {"status": "SPARK_ERROR", "error": str(e)[:500]}
            print(f"[FAIL-SPARK] {name}: {str(e)[:300]}")
            continue
        if name not in oracles:
            results[name] = {
                "status": "ROWS_ONLY",
                "rows": len(srows),
                "sec": round(elapsed, 2),
            }
            print(f"[rows-only] {name}: {len(srows)} rows ({elapsed:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
            d_hash = value_hash(drows, dcols)
        except Exception as e:
            results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:500]}
            print(f"[FAIL-ORACLE] {name}: {str(e)[:300]}")
            continue
        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_hash = s_hash == d_hash
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
        results[name] = {
            "status": status,
            "rows": len(srows),
            "oracle_rows": len(drows),
            "cols_match": ok_cols,
            "hash_match": ok_hash,
            "sec": round(elapsed, 2),
        }
        flag = "ok" if status == "OK" else "XX"
        print(
            f"[{flag}] {name}: rows {len(srows)}/{len(drows)} "
            f"cols={ok_cols} hash={ok_hash} ({elapsed:.1f}s)"
        )
        if status == "MISMATCH" and not ok_cols:
            print(f"     spark cols:  {sorted(scols)}")
            print(f"     oracle cols: {sorted(dcols)}")
        if status == "MISMATCH" and ok_cols and not ok_hash and len(srows) < 20 and len(drows) < 20:
            print(f"     spark:  {sorted(map(str, srows))[:5]}")
            print(f"     oracle: {sorted(map(str, drows))[:5]}")

    n_ok = sum(1 for r in results.values() if r["status"] == "OK")
    n_ro = sum(1 for r in results.values() if r["status"] == "ROWS_ONLY")
    print(
        f"\n{n_ok} OK, {n_ro} rows-only, "
        f"{len(results) - n_ok - n_ro} failing, of {len(results)}"
    )
    with open("/tmp/oracle_check.json", "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
