"""100x scale-evidence runner: the document-dedup pipelines and the
matcher at a 100x replica (`make_scale_data.py <dir> 100`), with the
same calm-gated min-of-2 protocol as run_scaling.py.

Two decades of scale (1x -> 10x -> 100x) for the paths whose cost is
corpus-shaped: LSH candidate volume, CC edge counts / convergence
rounds, matcher group fan-out. Usage:

    python scripts/run_scaling100.py [scaled_dir]

Prints one JSON line (the committed latest run is
scripts/scaling100_last.json).
"""

from __future__ import annotations

import json
import os

import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _calm import calibration as _calibration  # noqa: E402
from _calm import cc_stats, rss_mb, wait_for_calm  # noqa: E402
from _probes import (  # noqa: E402
    balanced_split_auto_probe,
    detection_confusion_probe,
    neardup_decade,
    webdataset_probe,
)

BASE = "/root/testdata/sf0.1"
QUERIES = [
    "minhash_lsh_pairs",
    "paragraph_dedup",
    "dedup_clusters_distributed",
    "greedy_matching",
    # round 5: the relational/split side of the 100x decade
    "detection_pr_ap",
    "balanced_split",
    "balanced_split_approx",
    # round 6 (cont.): documents-driven curation additions
    "global_shuffle",
    "cap_per_group",
    "quality_percentile",
    "dup_spans",
    "remove_dup_spans",
    # late round 6: quality/entropy/bloom + the temporal layer
    "gopher_rules",
    "char_entropy",
    "ngram_logprob",
    "bloom_novel",
    "asof_join",
    "range_join",
    "rolling_agg",
    "funnel",
    # round 7: the remaining headline pipelines (VERDICT r6 item 5)
    "embedding_near_dup",
    "curation_pipeline",
    "minhash_incremental",
    # round 8: capped-LSH hot-bucket stress (VERDICT r7 item 1/6)
    "minhash_hot_bucket",
    # round 9: star-mode twin (capped family still collapses)
    "minhash_hot_bucket_star",
    # round 8 (cont.): vocabulary induction, weighted sampling, z-order
    "vocab_pair_stats",
    "weighted_sample",
    "zorder_layout",
    # round 8 (cont.): boilerplate removal + hashed n-gram classifier
    "boilerplate_removal",
    "classifier_score",
    "embedding_incremental",
]


def pr_ap_large_curve_probe(spark, sf_dir: str) -> dict:
    """Drive a LARGE curve frame through compute_precision_recall and
    record its row count and the AP wall time: detection_pr_ap's own
    data quantizes confidence to 97 levels (a tiny curve), so this
    probe uses near-unique confidences (what a real detector emits) on
    a prediction slice."""
    from pyspark.sql import functions as F

    from lours_spark.evaluation.evaluator import compute_precision_recall
    from lours_spark.functions.bbox import import_bbox
    from lours_spark.suite import _boxes

    ann = import_bbox(
        _boxes(spark, sf_dir), "CXCYWH", ["bcx", "bcy", "bw", "bh"]
    ).withColumn("category_id", (F.col("id") % 3).cast("int"))
    pred = (
        ann.withColumn("id", F.col("id") + 1_000_000_000)
        .withColumn("box_x_min", F.col("box_x_min") + 2.0)
        .withColumn(
            "confidence",
            (F.abs(F.xxhash64("id")) % 10_000_019).cast("double") / 10_000_019.0,
        )
        .filter(F.col("id") % 41 == 0)  # ~2.4% slice
    )
    t0 = time.time()
    res = compute_precision_recall(ann, pred, ious=[0.2, 0.5])
    pin_sec = time.time() - t0  # the matcher and the curve pin
    t0 = time.time()
    ap_rows = res["ap_both"].count()
    return {
        "curve_rows": res["curves"].count(),
        "ap_rows": ap_rows,
        "pin_sec": round(pin_sec, 2),
        "ap_sec": round(time.time() - t0, 2),
    }


def main() -> None:
    scaled = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/scale_data/sf1x100"

    from lours_spark import suite
    from lours_spark.session import get_spark

    # engine defaults (Arrow boundaries, AQE) — the same session shape
    # bench.py measures; a bare session silently disables Arrow and
    # penalizes every toPandas boundary ~10x
    # see run_scaling.py: only the driver-memory fallback differs
    # from get_spark's default (100x split histograms on the driver)
    spark = get_spark(
        "lours-scaling",
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
        },
    )
    suite.ALL_QUERIES["paragraph_dedup"](spark, BASE).count()  # warm

    def timed(name: str) -> tuple[float, int]:
        wait_for_calm()
        spark.catalog.clearCache()
        t0 = time.time()
        rows = suite.ALL_QUERIES[name](spark, scaled).count()
        return time.time() - t0, rows

    out: dict = {
        "scale": "100x",
        "rss_mb_before": round(rss_mb(), 1),
        "calibration": _calibration(spark),
    }
    for name in QUERIES:
        dt, rows = timed(name)
        dt = min(dt, timed(name)[0])
        out[name] = {"sec": round(dt, 2), "rows": rows}
        print(f"# 100x {name}: {dt:.2f}s ({rows} rows)", file=sys.stderr)

    # large-curve AP routing observability at 100x
    wait_for_calm()
    spark.catalog.clearCache()
    out["pr_ap_large_curve"] = pr_ap_large_curve_probe(spark, scaled)
    print(f"# 100x pr_ap_large_curve: {out['pr_ap_large_curve']}", file=sys.stderr)

    # round 7: matcher-fed confusion + WebDataset shard I/O at 100x
    wait_for_calm()
    spark.catalog.clearCache()
    out["detection_confusion"] = detection_confusion_probe(spark, scaled)
    print(
        f"# 100x detection_confusion: {out['detection_confusion']}",
        file=sys.stderr,
    )
    wait_for_calm()
    spark.catalog.clearCache()
    out["webdataset"] = webdataset_probe(
        spark, scaled, os.path.dirname(scaled.rstrip("/"))
    )
    print(f"# 100x webdataset: {out['webdataset']}", file=sys.stderr)

    # mode="auto" routing at 100x (VERDICT r7 item 4)
    wait_for_calm()
    spark.catalog.clearCache()
    out["balanced_split_auto"] = balanced_split_auto_probe(spark, scaled)
    print(
        f"# 100x balanced_split_auto: {out['balanced_split_auto']}",
        file=sys.stderr,
    )

    # LSH near-dup synthetic 100x point (see run_scaling.py's decade)
    out["neardup_synthetic_100x"] = neardup_decade(spark, wait_for_calm, 10_000_000)
    print(
        f"# neardup_synthetic_100x: {out['neardup_synthetic_100x']}",
        file=sys.stderr,
    )

    # CC observability at 100x
    wait_for_calm()
    out["cc"] = cc_stats(spark, scaled)
    out["rss_mb_after"] = round(rss_mb(), 1)
    # persist BEFORE the stdout print: a JVM-shutdown race once ate the
    # redirected stdout tail and cost a 70-minute run its JSON
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "scaling100_last.json")
    with open(path, "w") as f:
        json.dump(out, f)
        f.write("\n")
        f.flush()
        os.fsync(f.fileno())
    print(json.dumps(out))


if __name__ == "__main__":
    main()
