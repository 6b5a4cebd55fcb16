"""Per-query profiling: bench.py methodology + Spark REST API stage
breakdown, so optimization targets are chosen on evidence.

For each query: construction wall (fn call), action wall (count),
number of jobs, per-stage (name, wall, task-time sum, shuffle bytes).

Usage: python scripts/profile_queries.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.load(r)


def main() -> None:
    from lours_spark.session import get_spark
    from lours_spark.suite import ALL_QUERIES

    names = sys.argv[1:]
    spark = get_spark("r11-profile", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    # warmups identical to bench.py
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    from pyspark.sql.functions import pandas_udf as _pudf

    _warm = _pudf(lambda s: s * 1.0, "double")
    spark.range(1000, numPartitions=32).select(_warm("id")).count()

    import gc

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        # run 1: warm JIT/codegen exactly like bench.py's min-of-2
        tw0 = time.time()
        ALL_QUERIES[name](spark, SF_DIR).count()
        warm_s = time.time() - tw0
        spark.catalog.clearCache()
        gc.collect()
        jobs_before = {j["jobId"] for j in _api(base, "/jobs")}
        t0 = time.time()
        df = ALL_QUERIES[name](spark, SF_DIR)
        t1 = time.time()
        n = df.count()
        t2 = time.time()
        jobs = [j for j in _api(base, "/jobs") if j["jobId"] not in jobs_before]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                for att in _api(base, f"/stages/{sid}"):
                    if att["status"] == "SKIPPED":
                        continue
                    dur = None
                    if att.get("firstTaskLaunchedTime") and att.get("completionTime"):
                        from datetime import datetime

                        def _p(s):
                            return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")

                        dur = (
                            _p(att["completionTime"]) - _p(att["firstTaskLaunchedTime"])
                        ).total_seconds()
                    stages.append(
                        {
                            "id": sid,
                            "name": att["name"].split("\n")[0][:70],
                            "wall_s": dur,
                            "task_s": round(att.get("executorRunTime", 0) / 1000, 2),
                            "tasks": att.get("numCompleteTasks"),
                            "shuf_r_mb": round(
                                att.get("shuffleReadBytes", 0) / 1e6, 2
                            ),
                            "shuf_w_mb": round(
                                att.get("shuffleWriteBytes", 0) / 1e6, 2
                            ),
                        }
                    )
            except Exception as e:  # stage may be missing (skipped)
                stages.append({"id": sid, "err": str(e)[:60]})
        out[name] = {
            "warm_run_s": round(warm_s, 3),
            "construct_s": round(t1 - t0, 3),
            "count_s": round(t2 - t1, 3),
            "total_s": round(t2 - t0, 3),
            "rows": n,
            "n_jobs": len(jobs),
            "stages": stages,
        }
        print(
            f"== {name}: warm {warm_s:.2f}s | construct {t1 - t0:.2f}s + "
            f"count {t2 - t1:.2f}s = {t2 - t0:.2f}s, {n} rows, "
            f"{len(jobs)} jobs, {len(stages)} stages"
        )
        for s in stages:
            if "err" in s:
                continue
            w = f"{s['wall_s']:.2f}" if s["wall_s"] is not None else "?"
            print(
                f"   stage {s['id']:>4} wall={w:>6}s task={s['task_s']:>7}s "
                f"tasks={s['tasks']:>3} shufR={s['shuf_r_mb']:>7}MB "
                f"shufW={s['shuf_w_mb']:>7}MB  {s['name']}"
            )
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext.setJobDescription(None)
    with open("/tmp/profile_queries.json", "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
