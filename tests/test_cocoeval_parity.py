"""COCO-protocol parity for the evaluation subsystem.

Mirrors the reference's own oracle tests
(``test_lours/test_evaluation/test_matches.py:30-79`` — exact match-set
equality against COCOeval — and ``test_pr.py:14-42`` — accumulated
precision at ious=[1e-5, 0.2, 0.5]). pycocotools is unavailable here,
so the oracle is ``tests/cocoeval_ref.py``, an independent NumPy
implementation of the published protocol.

Fixture design: float boxes from a seeded RNG → pairwise IoUs are
distinct and never land exactly on a threshold, so the engine's
(first-max ties, strict >) and COCO's (last-max ties, ≥) conventions
provably coincide (asserted explicitly below).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.cocoeval_ref import evaluate, xywh_iou_matrix

IOUS = [1e-5, 0.2, 0.5]


def _random_fixture(seed=7, n_images=25, n_cats=3):
    rng = np.random.default_rng(seed)
    gt, dt = [], []
    gid = did = 0
    for img in range(n_images):
        for cat in range(n_cats):
            for _ in range(rng.integers(0, 5)):
                x, y = rng.uniform(0, 80, 2)
                w, h = rng.uniform(4, 40, 2)
                gt.append(
                    {"id": gid, "image_id": img, "category_id": cat,
                     "box": [float(x), float(y), float(w), float(h)]}
                )
                gid += 1
            for _ in range(rng.integers(0, 6)):
                x, y = rng.uniform(0, 80, 2)
                w, h = rng.uniform(4, 40, 2)
                dt.append(
                    {"id": did, "image_id": img, "category_id": cat,
                     "box": [float(x), float(y), float(w), float(h)],
                     "score": float(rng.uniform(0.01, 0.99))}
                )
                did += 1
    return gt, dt


@pytest.fixture(scope="module")
def fixture():
    gt, dt = _random_fixture()
    # sanity for the convention-equivalence argument: no duplicate
    # scores, no IoU exactly equal to a threshold, no duplicate
    # positive IoUs within any (image, category) cell
    scores = [r["score"] for r in dt]
    assert len(set(scores)) == len(scores)
    cells = {(r["image_id"], r["category_id"]) for r in gt + dt}
    for img, cat in cells:
        g = np.array([r["box"] for r in gt
                      if (r["image_id"], r["category_id"]) == (img, cat)])
        d = np.array([r["box"] for r in dt
                      if (r["image_id"], r["category_id"]) == (img, cat)])
        if len(g) == 0 or len(d) == 0:
            continue
        ious = xywh_iou_matrix(g.reshape(-1, 4), d.reshape(-1, 4))
        pos = ious[ious > 0]
        assert len(set(pos.tolist())) == len(pos)
        # no IoU inside (0, 2e-5]: there the engine's strict-> and the
        # protocol's >= acceptance at t=1e-5 could disagree
        assert not np.any((pos > 0) & (pos <= 2e-5))
        for t in IOUS:
            assert not np.any(np.abs(ious - t) < 1e-12)
    return gt, dt


@pytest.fixture(scope="module")
def spark_frames(spark, fixture):
    gt, dt = fixture
    box = ["box_x_min", "box_y_min", "box_width", "box_height"]
    gt_rows = [(r["id"], r["image_id"], r["category_id"], *r["box"]) for r in gt]
    dt_rows = [
        (r["id"], r["image_id"], r["category_id"], *r["box"], r["score"])
        for r in dt
    ]
    g = spark.createDataFrame(
        gt_rows, f"id long, image_id long, category_id int, {', '.join(c + ' double' for c in box)}"
    )
    d = spark.createDataFrame(
        dt_rows,
        f"id long, image_id long, category_id int, {', '.join(c + ' double' for c in box)}, confidence double",
    )
    return g, d


@pytest.fixture(scope="module")
def oracle(fixture):
    gt, dt = fixture
    return evaluate(gt, dt, IOUS)


@pytest.mark.parametrize("t", IOUS)
def test_match_set_parity(spark_frames, oracle, t):
    """Exact gt↔dt match-set equality per threshold — the bar the
    reference asserts against pycocotools."""
    from lours_spark.evaluation.matching import compute_matches

    g, d = spark_frames
    rows = (
        compute_matches(g, d, min_iou=t)
        .filter(F.col("prediction_id").isNotNull()
                & F.col("groundtruth_id").isNotNull())
        .select("groundtruth_id", "prediction_id")
        .collect()
    )
    engine_gtm = {r.groundtruth_id: r.prediction_id for r in rows}
    oracle_gtm, oracle_dtm = oracle["matches"][t]
    assert engine_gtm == oracle_gtm
    assert {p: g_ for g_, p in engine_gtm.items()} == oracle_dtm


def test_ap_parity_grid(spark_frames, oracle):
    """COCO-accumulate AP (101-point recall grid) per (category, iou)
    within 1e-9 of the independent NumPy protocol implementation."""
    from lours_spark.evaluation.evaluator import compute_precision_recall

    g, d = spark_frames
    res = compute_precision_recall(
        g, d, ious=IOUS, group_cols=["category_id"], rematch_per_iou=True
    )
    got = {
        (r.category_id, r.iou_threshold): r.ap
        for r in res["ap_grid"].collect()
    }
    for (cat, t), ap in oracle["ap"].items():
        assert got[(cat, t)] == pytest.approx(ap, abs=1e-9), (cat, t)


def test_reference_protocol_ap_close_to_coco(spark_frames, oracle):
    """The reference's own AP (single match at 0, threshold at curve
    time, right-Riemann over the enveloped curve) is a different but
    closely-tracking estimator — sanity-band it against COCO AP."""
    from lours_spark.evaluation.evaluator import compute_precision_recall

    g, d = spark_frames
    res = compute_precision_recall(
        g, d, ious=IOUS, group_cols=["category_id"], rematch_per_iou=False
    )
    got = {
        (r.category_id, r.iou_threshold): r.average_precision
        for r in res["ap"].collect()
    }
    for (cat, t), ap in oracle["ap"].items():
        assert got[(cat, t)] == pytest.approx(ap, abs=0.08), (cat, t)


def test_grouped_evaluation_attrs(spark):
    """Reference detection_evaluator.py:588-592: grouping columns take
    the groundtruth's value; false positives fall back to the
    prediction's value."""
    from lours_spark.evaluation.evaluator import compute_precision_recall

    box = "box_x_min double, box_y_min double, box_width double, box_height double"
    g = spark.createDataFrame(
        [(0, 0, 0, 10.0, 10.0, 20.0, 20.0, "big"),
         (1, 0, 0, 50.0, 50.0, 5.0, 5.0, "small")],
        f"id long, image_id long, category_id int, {box}, size_bin string",
    )
    d = spark.createDataFrame(
        [
            # overlaps gt 0 but binned differently on the pred side:
            # the GT's bin must win for this matched pair
            (10, 0, 0, 11.0, 11.0, 20.0, 20.0, 0.9, "small"),
            # false positive far away: prediction's bin is used
            (11, 0, 0, 200.0, 200.0, 4.0, 4.0, 0.8, "tiny"),
        ],
        f"id long, image_id long, category_id int, {box}, confidence double,"
        " size_bin string",
    )
    res = compute_precision_recall(
        g.drop("size_bin").join(g.select("id", "size_bin"), "id"),
        d.drop("size_bin").join(d.select("id", "size_bin"), "id"),
        ious=[0.2],
        group_cols=["size_bin"],
        gt_attrs=g.select("id", "size_bin"),
        pred_attrs=d.select("id", "size_bin"),
    )
    curves = res["curves"].filter(~F.col("is_pad")).collect()
    bins = {r.size_bin for r in curves}
    # matched pair lands in 'big' (gt value), FP in 'tiny' (pred value),
    # FN gt 1 in 'small'
    assert bins == {"big", "small", "tiny"}
    ap = {r.size_bin: r.average_precision for r in res["ap"].collect()}
    assert ap["big"] > 0.0
    assert ap["tiny"] == 0.0


def test_detection_confusion_matrix(spark):
    """Reference compute_confusion_matrix semantics: category-agnostic
    matches; weak pairs (0 < iou ≤ min_iou) split into FN + FP rows;
    low-confidence predictions count as missed."""
    from lours_spark.evaluation.evaluator import compute_confusion_matrix

    box = "box_x_min double, box_y_min double, box_width double, box_height double"
    g = spark.createDataFrame(
        [
            (0, 0, "car", 10.0, 10.0, 20.0, 20.0),
            (1, 0, "person", 100.0, 100.0, 20.0, 20.0),
            (2, 0, "truck", 300.0, 300.0, 10.0, 10.0),
        ],
        f"id long, image_id long, category_str string, {box}",
    ).withColumn("category_id", F.lit(0))
    d = spark.createDataFrame(
        [
            # strong match with gt 0 (high IoU) but different label
            (10, 0, "person", 11.0, 11.0, 20.0, 20.0, 0.9),
            # weak overlap with gt 1 (IoU ~ 0.05): splits into FN + FP
            (11, 0, "car", 117.0, 100.0, 20.0, 20.0, 0.8),
            # no overlap at all: plain false positive
            (12, 0, "car", 500.0, 500.0, 5.0, 5.0, 0.7),
        ],
        f"id long, image_id long, category_str string, {box}, confidence double",
    ).withColumn("category_id", F.lit(0))

    cm = compute_confusion_matrix(g, d, min_iou=0.2, normalize=False)
    cells = {
        (r.groundtruth_label, r.prediction_label): r["count"]
        for r in cm.collect()
    }
    assert cells == {
        ("car", "person"): 1,   # strong cross-label match
        ("person", "None"): 1,  # weak pair → false negative half
        ("None", "car"): 2,     # weak pair FP half + plain FP
        ("truck", "None"): 1,   # unmatched gt
    }
    # min_confidence=0.85 masks the conf-0.8/0.7 predictions: their FP
    # halves become (None, None) and drop; the 0.9 match survives
    cm2 = compute_confusion_matrix(g, d, min_iou=0.2, min_confidence=0.85,
                                   normalize=False)
    cells2 = {
        (r.groundtruth_label, r.prediction_label): r["count"]
        for r in cm2.collect()
    }
    assert cells2 == {
        ("car", "person"): 1,
        ("person", "None"): 1,
        ("truck", "None"): 1,
    }
    # raising past 0.9 turns the strong match into a miss as well
    cm3 = compute_confusion_matrix(g, d, min_iou=0.2, min_confidence=0.95,
                                   normalize=False)
    cells3 = {
        (r.groundtruth_label, r.prediction_label): r["count"]
        for r in cm3.collect()
    }
    assert cells3[("car", "None")] == 1
    assert ("car", "person") not in cells3


def test_detection_evaluator_facade(spark, tiny_dataset):
    """Reference class API: named prediction sets, memoized matches,
    model column in every output."""
    from lours_spark.evaluation.detection_evaluator import DetectionEvaluator

    gt = tiny_dataset
    pred_a = gt.from_template(
        annotations=gt.annotations.withColumn(
            "confidence", ((F.col("id") % 10) + 1).cast("double") / 10.0
        ).withColumn("box_x_min", F.col("box_x_min") + 1.0)
    )
    pred_b = gt.from_template(
        annotations=gt.annotations.withColumn(
            "confidence", ((F.col("id") % 7) + 1).cast("double") / 7.0
        ).withColumn("box_x_min", F.col("box_x_min") + 5.0)
    )
    ev = DetectionEvaluator(gt, A=pred_a, B=pred_b)
    matches = ev.compute_matches("A")
    assert set(matches) == {"A"}
    assert matches["A"] is ev.compute_matches("A")["A"]  # memoized

    curves, aps = ev.compute_precision_recall(ious=[0.2, 0.5])
    models = {r.model for r in aps.select("model").distinct().collect()}
    assert models == {"A", "B"}
    thr = {r.iou_threshold for r in aps.select("iou_threshold").distinct().collect()}
    assert thr == {0.2, 0.5}

    cm = ev.compute_confusion_matrix(predictions_names="B", normalize=False)
    assert {r.model for r in cm.select("model").distinct().collect()} == {"B"}
    assert cm.count() > 0

    # the metric methods honor the memo contract: PR populates/reuses
    # the category-aware entry, confusion the category-agnostic one —
    # repeated metric calls cost windows, not another matcher pass
    assert ("A", False, 0.0) in ev._matches
    assert ("B", True, 0.0) in ev._matches
    assert ev._persisted  # curves pinned, releasable
    ev.clear_cache()
    assert not ev._persisted and not ev._matches
