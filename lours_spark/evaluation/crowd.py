"""Crowd-counting error statistics.

Re-expresses reference ``crowd_detection_evaluator.py:24-236``: per-image
groundtruth counts vs prediction counts above a confidence threshold,
then error aggregates (MAE, RMSE, MRE, RMSRE, std, quantiles) — all
built-in Spark aggregations (``percentile`` exact when oracle parity is
needed, ``percentile_approx`` at scale).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def per_image_counts(
    groundtruth: DataFrame,
    predictions: DataFrame,
    confidence_threshold: float = 0.5,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """gt count ⟗ pred count per image (full outer, zero-filled —
    reference ``crowd_detection_evaluator.py:193``).

    >>> gt = spark.createDataFrame([(1, 1), (2, 1), (3, 2)],
    ...                            "id long, image_id long")
    >>> pr = spark.createDataFrame([(9, 1, 0.9), (8, 3, 0.2)],
    ...                            "id long, image_id long, confidence double")
    >>> out = per_image_counts(gt, pr).orderBy("image_id")
    >>> [(r["image_id"], r["gt_count"], r["pred_count"], r["error"])
    ...  for r in out.collect()]
    [(1, 2, 1, -1), (2, 1, 0, -1)]
    """
    group_cols = group_cols or []
    gt = groundtruth.groupBy("image_id", *group_cols).agg(
        F.count(F.lit(1)).alias("gt_count")
    )
    conf = (
        F.col("confidence")
        if "confidence" in predictions.columns
        else F.lit(1.0)
    )
    pred = (
        predictions.filter(conf >= confidence_threshold)
        .groupBy("image_id", *group_cols)
        .agg(F.count(F.lit(1)).alias("pred_count"))
    )
    return (
        gt.join(pred, ["image_id", *group_cols], "full_outer")
        .fillna({"gt_count": 0, "pred_count": 0})
        .withColumn("error", F.col("pred_count") - F.col("gt_count"))
    )


def count_error_stats(
    counts: DataFrame,
    group_cols: list[str] | None = None,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    exact_quantiles: bool = True,
) -> DataFrame:
    """MAE / RMSE / MRE / RMSRE / std / quantiles of the count error
    (reference ``crowd_detection_evaluator.py:207-232``)."""
    group_cols = group_cols or []
    err = F.col("error").cast("double")
    rel = F.when(
        F.col("gt_count") > 0, err / F.col("gt_count")
    ).otherwise(F.lit(None))
    qfun = F.percentile if exact_quantiles else F.percentile_approx
    aggs = [
        F.count(F.lit(1)).alias("n_images"),
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.avg(F.abs(rel)).alias("mre"),
        F.sqrt(F.avg(rel * rel)).alias("rmsre"),
        F.stddev_samp(err).alias("error_std"),
    ]
    for q in quantiles:
        aggs.append(qfun(err, F.lit(q)).alias(f"error_q{int(q * 100)}"))
    if group_cols:
        return counts.groupBy(*group_cols).agg(*aggs)
    return counts.agg(*aggs)


def count_error_curve(
    groundtruth: DataFrame,
    predictions: DataFrame,
    thresholds: "list[float]",
    group_cols: "list[str] | None" = None,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    exact_quantiles: bool = True,
) -> DataFrame:
    """Error statistics AT EVERY confidence threshold (the reference's
    per-confidence grouped curves, ``crowd_detection_evaluator.py:
    150-236``): one row per (group ×) distinct threshold with the
    :func:`count_error_stats` columns — each row equals
    ``count_error_stats(per_image_counts(gt, pred, t, group_cols))``
    (a repeated threshold gives one row).

    Shape: per ``(image_id, *group_cols)`` the groundtruth side keeps
    its count and the prediction side collects its confidences into
    one list; after the full outer join, ONE literal array of
    thresholds explodes each key into (key, threshold) rows and
    ``pred_count = size(filter(confidences, c -> c >= threshold))``.
    The plan is the same size for any grid length (a conditional
    count per grid point would grow it, and its driver-side build
    time, with the grid), and the prediction table is scanned once.
    Memory bound: a list holds at most one image's predictions of one
    group, the same per-group working set the greedy matcher keeps.
    """
    group_cols = group_cols or []
    keys = ["image_id", *group_cols]
    gt = groundtruth.groupBy(*keys).agg(F.count(F.lit(1)).alias("gt_count"))
    conf = (
        F.col("confidence")
        if "confidence" in predictions.columns
        else F.lit(1.0)
    )
    pred = predictions.groupBy(*keys).agg(F.collect_list(conf).alias("__confs"))
    grid = F.lit(np.unique(np.asarray(thresholds, dtype="float64")))
    long = (
        gt.join(pred, keys, "full_outer")
        .select(
            *keys,
            F.coalesce(F.col("gt_count"), F.lit(0)).alias("gt_count"),
            F.coalesce(F.col("__confs"), F.array()).alias("__confs"),
            F.explode(grid).alias("confidence"),
        )
        .withColumn(
            "pred_count",
            F.size(F.filter("__confs", lambda c: c >= F.col("confidence"))),
        )
        .withColumn("error", F.col("pred_count") - F.col("gt_count"))
        .filter(
            # a gt-less image whose predictions all fall below this
            # threshold is absent from BOTH sides of the reference's
            # per-threshold outer join — drop its synthetic (0,0) row
            (F.col("gt_count") > 0) | (F.col("pred_count") > 0)
        )
    )
    return count_error_stats(
        long,
        group_cols=[*group_cols, "confidence"],
        quantiles=quantiles,
        exact_quantiles=exact_quantiles,
    )
