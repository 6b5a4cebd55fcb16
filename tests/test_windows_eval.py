from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lours_spark.evaluation.confusion import confusion_counts, confusion_matrix_pivot
from lours_spark.evaluation.crowd import count_error_stats, per_image_counts
from lours_spark.evaluation.pr import evaluate_detections
from lours_spark.operators.windows import (
    average_precision,
    forward_fill,
    interpolated_precision,
    pr_curve,
    sessionize,
)


def test_pr_curve_simple(spark):
    # 4 predictions: TP TP FP TP by descending confidence
    df = spark.createDataFrame(
        [("g", 0.9, 1, 1), ("g", 0.8, 1, 2), ("g", 0.7, 0, 3), ("g", 0.6, 1, 4)],
        "grp string, confidence double, is_tp int, pid long",
    )
    curve = pr_curve(df, ["grp"], "confidence", "is_tp", tie_break="pid")
    rows = sorted(curve.collect(), key=lambda r: -r["confidence"])
    assert [r["precision"] for r in rows] == pytest.approx([1.0, 1.0, 2 / 3, 3 / 4])
    assert [r["recall"] for r in rows] == pytest.approx([1 / 3, 2 / 3, 2 / 3, 1.0])


def test_interpolated_precision_monotone(spark):
    df = spark.createDataFrame(
        [("g", 0.9, 1, 1), ("g", 0.8, 1, 2), ("g", 0.7, 0, 3), ("g", 0.6, 1, 4)],
        "grp string, confidence double, is_tp int, pid long",
    )
    curve = pr_curve(df, ["grp"], "confidence", "is_tp", tie_break="pid")
    interp = interpolated_precision(curve, ["grp"], "confidence")
    rows = sorted(interp.collect(), key=lambda r: -r["confidence"])
    vals = [r["precision_interp"] for r in rows]
    assert vals == sorted(vals, reverse=True)  # monotone non-increasing


def test_average_precision_perfect_detector(spark):
    df = spark.createDataFrame(
        [("g", 0.9, 1, 1), ("g", 0.8, 1, 2)],
        "grp string, confidence double, is_tp int, pid long",
    )
    curve = pr_curve(df, ["grp"], "confidence", "is_tp", tie_break="pid")
    ap = average_precision(curve, ["grp"])
    assert ap.first()["average_precision"] == pytest.approx(1.0)


def test_forward_fill(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (1, 3, None), (1, 4, 20.0), (2, 1, None)],
        "uid long, seq long, v double",
    )
    out = forward_fill(df, ["uid"], [F.asc("seq")], "v", out_name="f")
    rows = {(r["uid"], r["seq"]): r["f"] for r in out.collect()}
    assert rows[(1, 2)] == 10.0 and rows[(1, 3)] == 10.0
    assert rows[(1, 4)] == 20.0
    assert rows[(2, 1)] is None


def test_sessionize_gap(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, base),
        (2, 1, base + dt.timedelta(minutes=10)),  # same session
        (3, 1, base + dt.timedelta(minutes=70)),  # new session
        (4, 2, base),  # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = sessionize(df, gap_seconds=1800)
    sess = {r["event_id"]: r["session_seq"] for r in out.collect()}
    assert sess[1] == sess[2] == 1
    assert sess[3] == 2
    assert sess[4] == 1


def test_confusion_counts_and_pivot(spark):
    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("a", "a"), ("b", None)],
        "groundtruth_label string, prediction_label string",
    )
    counts = confusion_counts(df)
    m = {(r["groundtruth_label"], r["prediction_label"]): r for r in counts.collect()}
    assert m[("a", "a")]["count"] == 2
    assert m[("a", "a")]["share"] == pytest.approx(2 / 3)
    assert m[("b", "None")]["count"] == 1
    wide = confusion_matrix_pivot(counts)
    assert wide.count() == 2


def test_crowd_counts(spark):
    gt = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2)], "id long, image_id long"
    )
    pred = spark.createDataFrame(
        [(10, 1, 0.9), (11, 1, 0.9), (12, 1, 0.9), (13, 3, 0.9)],
        "id long, image_id long, confidence double",
    )
    counts = per_image_counts(gt, pred)
    rows = {r["image_id"]: r for r in counts.collect()}
    assert rows[1]["error"] == 1  # 3 pred vs 2 gt
    assert rows[2]["error"] == -1  # 0 pred vs 1 gt
    assert rows[3]["error"] == 1  # 1 pred vs 0 gt
    stats = count_error_stats(counts).first()
    assert stats["mae"] == pytest.approx(1.0)
    assert stats["n_images"] == 3


def test_evaluate_detections_end_to_end(tiny_dataset):
    ann = tiny_dataset.annotations
    pred = ann.withColumn("id", F.col("id") + 100000).withColumn(
        "confidence", F.lit(0.9)
    )
    result = evaluate_detections(ann, pred)
    ap = {r["category_id"]: r["average_precision"] for r in result["ap"].collect()}
    # identical predictions → perfect AP per category
    for v in ap.values():
        assert v == pytest.approx(1.0)


def test_count_error_curve(spark):
    """Per-confidence error curve equals per-threshold recomputation
    (reference crowd_detection_evaluator.py:150-236 curves) exactly,
    row for row: grouped and ungrouped, an image with predictions only,
    gt-less images whose predictions all fall below some thresholds
    (the dropped (0, 0) rows), a NULL confidence, a repeated threshold
    and a prediction frame without a confidence column."""
    import functools

    from pyspark.sql import DataFrame

    from lours_spark.evaluation.crowd import count_error_curve

    gt = spark.createDataFrame(
        [
            (i, img, cat)
            for i, (img, cat) in enumerate(
                [(0, 1), (0, 1), (0, 2), (1, 1), (1, 1), (1, 1), (1, 1), (2, 2)]
            )
        ],
        "id long, image_id long, category_id int",
    )
    pred = spark.createDataFrame(
        [
            (10, 0, 1, 0.9), (11, 0, 1, 0.6), (12, 0, 2, 0.3),
            (13, 1, 1, 0.8), (14, 1, 1, None), (15, 2, 2, 0.5),
            (16, 3, 1, 0.7),  # image 3: predictions only
            (17, 4, 2, 0.1), (18, 4, 2, None),  # image 4: below most cuts
            (19, 1, 2, 0.2),  # category 2 of image 1: no groundtruth
        ],
        "id long, image_id long, category_id int, confidence double",
    )
    thresholds = [0.55, 0.25, 0.85, 0.55, 0.0]

    def check(pred, group_cols):
        # the curve and every per-threshold reference in one action
        legs = [
            count_error_curve(gt, pred, thresholds, group_cols)
            .withColumn("curve", F.lit(True))
        ] + [
            count_error_stats(per_image_counts(gt, pred, t, group_cols), group_cols)
            .withColumn("confidence", F.lit(t))
            .withColumn("curve", F.lit(False))
            for t in set(thresholds)
        ]
        rows = {True: [], False: []}
        for r in functools.reduce(DataFrame.unionByName, legs).collect():
            d = r.asDict()
            rows[d.pop("curve")].append(sorted(d.items()))
        assert sorted(rows[True], key=repr) == sorted(rows[False], key=repr), group_cols

    check(pred, [])
    check(pred, ["category_id"])
    check(pred.drop("confidence"), ["category_id"])


def test_crowd_evaluator_facade(tiny_dataset):
    import pytest as _pytest

    from lours_spark.evaluation.detection_evaluator import (
        CrowdDetectionEvaluator,
    )

    preds = tiny_dataset.from_template(
        annotations=tiny_dataset.annotations.withColumn(
            "id", F.col("id") + 10_000
        ).withColumn("confidence", (F.col("id") % 10).cast("double") / 10.0)
    )
    ev = CrowdDetectionEvaluator(tiny_dataset, predictions=preds)
    stats, details = ev.compute_count_error(
        groups=(), confidence_index=(0.0, 0.5, 1.0)
    )
    rows = {r["confidence"]: r for r in stats.collect()}
    assert set(rows) == {0.0, 0.5, 1.0}
    # at threshold 0 every prediction counts → error 0 on every image
    assert rows[0.0]["mae"] == 0.0
    assert rows[0.5]["mae"] > 0.0
    assert all(r["model"] == "predictions" for r in stats.collect())
    assert details.count() == tiny_dataset.images.filter(
        F.col("id").isin(
            [r["image_id"] for r in tiny_dataset.annotations.select("image_id").distinct().collect()]
        )
    ).count()
    with _pytest.raises(NotImplementedError):
        ev.compute_normalized_precision_recall()


def test_evaluator_parquet_roundtrip(tiny_dataset, tmp_path, spark):
    import pytest as _pytest

    from lours_spark.evaluation.detection_evaluator import (
        CrowdDetectionEvaluator,
        DetectionEvaluator,
    )

    preds = tiny_dataset.from_template(
        annotations=tiny_dataset.annotations.withColumn(
            "id", F.col("id") + 50_000
        ).withColumn("confidence", F.lit(0.5))
    )
    ev = DetectionEvaluator(tiny_dataset, name="roundtrip", model_a=preds)
    out = str(tmp_path / "eval_pq")
    ev.to_parquet(out)
    back = DetectionEvaluator.from_parquet(spark, out)
    assert back.name == "roundtrip"
    assert list(back.predictions_dictionary) == ["model_a"]
    assert (
        back.predictions_dictionary["model_a"].len_annot() == preds.len_annot()
    )
    # class check mirrors the reference's __name__ guard
    with _pytest.raises(ValueError, match="DetectionEvaluator"):
        CrowdDetectionEvaluator.from_parquet(spark, out)
    # overwrite=False refuses to clobber
    with _pytest.raises(FileExistsError):
        ev.to_parquet(out)
    ev.to_parquet(out, overwrite=True)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under Spark job group ``group``; return its result and
    the ids of the jobs it started. A sentinel job in its own group
    runs afterwards: the listener bus registers jobs in start order, so
    once the sentinel is visible every job of ``fn`` is too."""
    import time

    sc = spark.sparkContext

    def run(g, f):
        sc.setJobGroup(g, g)
        try:
            return f()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    out = run(group, fn)
    sentinel = f"{group}|sentinel"
    run(sentinel, lambda: sc.parallelize([0], 1).count())
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
        time.sleep(0.05)
    return out, sorted(tracker.getJobIdsForGroup(group))


def test_functional_call_runs_one_curve_action(spark):
    """compute_precision_recall starts exactly the jobs of pinning the
    curve plan once: no row-count probe, and no AP job until an output
    is consumed."""
    from lours_spark.evaluation import evaluator as ev
    from lours_spark.evaluation.matching import compute_matches
    from lours_spark.operators._materialize import materialize

    gt = spark.createDataFrame(
        [(i, i % 10, i % 2, 5.0 * (i % 6), 4.0 * (i % 5), 10.0, 8.0)
         for i in range(60)],
        "id long, image_id long, category_id int, box_x_min double,"
        " box_y_min double, box_width double, box_height double",
    )
    pred = gt.select(
        (F.col("id") + 1000).alias("id"), "image_id", "category_id",
        (F.col("box_x_min") + 1.0).alias("box_x_min"), "box_y_min",
        "box_width", "box_height",
        ((F.col("id") % 13) / 13.0).alias("confidence"),
    )
    res, call_jobs = _jobs_in_group(
        spark, "pr-call",
        lambda: ev.compute_precision_recall(gt, pred, ious=[0.3]),
    )
    plan = ev.precision_recall_curves(
        compute_matches(gt, pred), [0.3], ["category_id"]
    )
    pinned, pin_jobs = _jobs_in_group(spark, "pr-pin", lambda: materialize(plan))
    assert len(call_jobs) == len(pin_jobs) > 0
    assert res["curves"].count() == pinned.count()


@pytest.mark.parametrize("rematch", [False, True])
def test_facade_precision_recall_is_lazy(spark, tiny_dataset, rematch):
    """DetectionEvaluator.compute_precision_recall builds only the
    frames it returns and starts no Spark job until they are consumed;
    its APs equal the functional compute_precision_recall's ``ap``."""
    from lours_spark.evaluation.detection_evaluator import DetectionEvaluator
    from lours_spark.evaluation.evaluator import compute_precision_recall

    preds = tiny_dataset.from_template(
        annotations=tiny_dataset.annotations.withColumn(
            "id", F.col("id") + 10_000
        )
        .withColumn("confidence", ((F.col("id") % 10) + 1).cast("double") / 10.0)
        .withColumn("box_x_min", F.col("box_x_min") + 1.0)
    )
    ev = DetectionEvaluator(tiny_dataset, model=preds)
    (curves, aps), jobs = _jobs_in_group(
        spark, f"facade-pr-{rematch}",
        lambda: ev.compute_precision_recall(
            ious=[0.2, 0.5], rematch_per_iou=rematch
        ),
    )
    assert jobs == []
    want = compute_precision_recall(
        tiny_dataset.annotations, preds.annotations, ious=[0.2, 0.5],
        rematch_per_iou=rematch,
    )["ap"].withColumn("model", F.lit("model"))
    assert aps.columns == want.columns
    assert sorted(map(tuple, aps.collect())) == sorted(map(tuple, want.collect()))
    assert curves.filter(~F.col("is_pad")).count() > 0
    ev.clear_cache()


def test_evaluator_needs_registered_prediction_sets(tiny_dataset):
    """Every metric call resolves its prediction-set names first: none
    registered is a ValueError, an unknown name a KeyError naming the
    registered sets."""
    from lours_spark.evaluation.detection_evaluator import CrowdDetectionEvaluator

    ev = CrowdDetectionEvaluator(tiny_dataset)
    calls = (
        ev.compute_precision_recall,
        ev.compute_confusion_matrix,
        ev.compute_count_error,
    )
    for call in calls:
        with pytest.raises(ValueError, match="no prediction sets"):
            call()
    ev.add_predictions_dataset("model", tiny_dataset)
    for call in calls:
        with pytest.raises(KeyError, match=r"registered: \['model'\]"):
            call("other")


def _ap_reference(points, n_points=101):
    """Both AP definitions over one key's curve points
    ``(recall, confidence, precision_env, is_pad)`` in NumPy: the
    Riemann sum of the envelope over recall, walking the points in
    (recall, confidence desc, precision_env, is_pad) order, and the
    mean over a recall grid of the largest non-pad envelope at recall
    ≥ r (0 past the last recall)."""
    import numpy as np

    rec, conf, env, pad = (np.array(c, dtype=float) for c in zip(*points))
    rec = np.nan_to_num(rec)  # zero-groundtruth keys have NULL recall
    order = np.lexsort((pad, env, -conf, rec))
    rec, env, pad = rec[order], env[order], pad[order].astype(bool)
    riemann = float(np.sum(env[1:] * np.diff(rec)))
    samples = [
        env[~pad & (rec >= r)].max(initial=0.0)
        for r in np.arange(n_points) / (n_points - 1)
    ]
    return riemann, float(np.mean(samples))


def test_average_precisions_match_numpy_reference(spark):
    """The one AP aggregation reproduces a NumPy evaluation of both AP
    definitions on the same curve frame, including a zero-groundtruth
    group and a true positive at confidence 0.0, whose point ties the
    tail pad's (recall, confidence)."""
    import random

    from lours_spark.evaluation.evaluator import compute_precision_recall

    rng = random.Random(3)
    gt_rows = [
        (i, i % 50, i % 4, 10.0 * (i % 7), 8.0 * (i % 5), 20.0, 16.0)
        for i in range(400)
    ]
    # category 7: three exact detections, the last at confidence 0.0
    gt_rows += [(500 + i, 60, 7, 30.0 * i, 0.0, 20.0, 16.0) for i in range(3)]
    gt = spark.createDataFrame(
        gt_rows,
        "id long, image_id long, category_id int, box_x_min double,"
        " box_y_min double, box_width double, box_height double",
    )
    # i % 5 (vs the groundtruth's i % 4) makes category 4 a
    # zero-groundtruth group: its recall is NULL end to end
    pred_rows = [
        (
            1000 + i,
            i % 50,
            i % 5,
            10.0 * (i % 7) + rng.uniform(-4, 4),
            8.0 * (i % 5) + rng.uniform(-4, 4),
            20.0,
            16.0,
            rng.random(),
        )
        for i in range(360)
    ]
    pred_rows += [
        (2000 + i, 60, 7, 30.0 * i, 0.0, 20.0, 16.0, c)
        for i, c in enumerate((0.9, 0.5, 0.0))
    ]
    pred = spark.createDataFrame(
        pred_rows,
        "id long, image_id long, category_id int, box_x_min double,"
        " box_y_min double, box_width double, box_height double,"
        " confidence double",
    )
    res = compute_precision_recall(gt, pred, ious=[0.3, 0.5])
    keys = ["category_id", "iou_threshold"]
    points: dict = {}
    for r in res["curves"].collect():
        points.setdefault(tuple(r[k] for k in keys), []).append(
            (r["recall"], r["confidence"], r["precision_env"], r["is_pad"])
        )
    assert any(
        c == 0.0 and not p for k, pts in points.items() if k[0] == 7
        for _, c, _, p in pts
    )
    got = {
        tuple(r[k] for k in keys): (r["average_precision"], r["ap"])
        for r in res["ap_both"].collect()
    }
    assert set(got) == set(points)
    assert [k for k in got if k[0] == 4], "category 4 must reach the curves"
    for k, pts in points.items():
        assert got[k] == pytest.approx(_ap_reference(pts), abs=1e-12), k
        if k[0] == 4:
            assert got[k] == (0.0, 0.0)
    # ap and ap_grid are the two columns of ap_both
    ap = {tuple(r[x] for x in keys): r["average_precision"] for r in res["ap"].collect()}
    grid = {tuple(r[x] for x in keys): r["ap"] for r in res["ap_grid"].collect()}
    assert {k: (ap[k], grid[k]) for k in ap} == got
