"""Snapshot an order-insensitive value hash of every ALL_QUERIES entry.

Used during optimization rounds to prove a restructured query computes
the identical result: snapshot before, re-run after, diff hashes.

Usage: python scripts/snapshot_hashes.py <out.json> [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import value_hash  # noqa: E402

OUT = sys.argv[1]
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
ONLY = sys.argv[3:]


def main() -> None:
    from lours_spark.session import get_spark
    from lours_spark.suite import ALL_QUERIES

    spark = get_spark("hash-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    names = ONLY or list(ALL_QUERIES)
    for name in names:
        t0 = time.time()
        try:
            df = ALL_QUERIES[name](spark, SF_DIR)
            rows = df.collect()
            out[name] = {
                "rows": len(rows),
                "hash": value_hash(rows, df.columns),
                "cols": sorted(df.columns),
            }
            print(f"[ok] {name}: {len(rows)} rows {out[name]['hash'][:12]} "
                  f"({time.time()-t0:.1f}s)")
        except Exception as e:
            out[name] = {"error": str(e)[:300]}
            print(f"[ERR] {name}: {str(e)[:200]}")
        spark.catalog.clearCache()
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {OUT} ({len(out)} queries)")


if __name__ == "__main__":
    main()
