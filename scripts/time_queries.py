"""bench.py-methodology timing for a subset of queries: warm JVM +
worker pool, clearCache between runs, N runs per query, min kept.

Usage: python scripts/time_queries.py [-n N] query [query ...]
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    n_runs = 3
    if args and args[0] == "-n":
        n_runs = int(args[1])
        args = args[2:]

    from lours_spark.session import get_spark
    from lours_spark.suite import ALL_QUERIES

    spark = get_spark("r11-time")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    from pyspark.sql.functions import pandas_udf as _pudf

    _warm = _pudf(lambda s: s * 1.0, "double")
    spark.range(1000, numPartitions=32).select(_warm("id")).count()

    for name in args:
        times = []
        for _ in range(n_runs):
            t0 = time.time()
            ALL_QUERIES[name](spark, SF_DIR).count()
            times.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            gc.collect()
        print(f"{name}: min {min(times)}s  runs {times}")


if __name__ == "__main__":
    main()
