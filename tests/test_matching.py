from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lours_spark.evaluation.matching import (
    compute_matches,
    greedy_match,
    iou_matrix,
)


def test_iou_matrix_known_values():
    gt = np.array([[0.0, 0.0, 10.0, 10.0]])
    pred = np.array([[0.0, 0.0, 10.0, 10.0], [5.0, 0.0, 10.0, 10.0]])
    m = iou_matrix(gt, pred)
    assert m[0, 0] == pytest.approx(1.0)
    assert m[0, 1] == pytest.approx(50.0 / 150.0)


def test_iou_matrix_empty():
    assert iou_matrix(np.zeros((0, 4)), np.zeros((3, 4))).shape == (0, 3)


def test_greedy_match_prefers_confident_prediction():
    # one gt, two predictions both overlapping; higher confidence wins
    ious = np.array([[0.6, 0.9]])
    conf = np.array([0.9, 0.1])
    matches = greedy_match(ious, conf)
    assert matches == [(0, 0, 0.6)]


def test_greedy_match_one_to_one():
    ious = np.array([[0.9, 0.8], [0.85, 0.7]])
    conf = np.array([0.9, 0.8])
    matches = greedy_match(ious, conf)
    # pred0 takes gt0 (0.9); pred1 must take gt1 (0.7)
    assert sorted(matches) == [(0, 0, 0.9), (1, 1, 0.7)]


def test_compute_matches_full_outer(spark):
    gt = spark.createDataFrame(
        [
            (1, 10, 0, 0.0, 0.0, 10.0, 10.0),
            (2, 10, 0, 50.0, 50.0, 10.0, 10.0),
        ],
        "id long, image_id long, category_id int, box_x_min double, "
        "box_y_min double, box_width double, box_height double",
    )
    pred = spark.createDataFrame(
        [
            (100, 10, 0, 1.0, 0.0, 10.0, 10.0, 0.9),  # matches gt 1
            (101, 10, 0, 200.0, 200.0, 5.0, 5.0, 0.8),  # FP
        ],
        "id long, image_id long, category_id int, box_x_min double, "
        "box_y_min double, box_width double, box_height double, confidence double",
    )
    rows = compute_matches(gt, pred).collect()
    by_pred = {r["prediction_id"]: r for r in rows if r["prediction_id"]}
    assert by_pred[100]["groundtruth_id"] == 1
    assert by_pred[100]["iou"] > 0.8
    assert by_pred[101]["groundtruth_id"] is None  # FP row
    fn = [r for r in rows if r["prediction_id"] is None]
    assert len(fn) == 1 and fn[0]["groundtruth_id"] == 2  # unmatched gt


def test_self_match_is_perfect(tiny_dataset):
    ann = tiny_dataset.annotations
    matches = compute_matches(ann, ann)
    n = ann.count()
    perfect = matches.filter(
        F.col("prediction_id").isNotNull()
        & F.col("groundtruth_id").isNotNull()
        & (F.col("iou") > 0.999999)
    ).count()
    assert perfect == n


def _reference_greedy(ious, conf, min_iou=0.0):
    """Straight-line reimplementation of the reference semantics
    (confidence-descending, best free gt, ties to lowest index) used as
    an independent check of the vectorized kernel."""
    n_gt, n_pred = ious.shape
    order = sorted(range(n_pred), key=lambda p: (-conf[p], p))
    taken, out = set(), []
    for p in order:
        best_g, best = -1, min_iou
        for g in range(n_gt):
            if g in taken:
                continue
            if ious[g, p] > best:
                best_g, best = g, ious[g, p]
        if best_g >= 0:
            taken.add(best_g)
            out.append((best_g, p, float(best)))
    return out


def test_greedy_match_against_reference_random():
    rng = np.random.default_rng(123)
    for _ in range(200):
        n_gt = int(rng.integers(0, 8))
        n_pred = int(rng.integers(0, 8))
        ious = rng.random((n_gt, n_pred))
        # inject ties
        if n_gt and n_pred:
            ious[ious > 0.8] = 0.9
        conf = np.round(rng.random(n_pred), 1)  # tied confidences too
        assert greedy_match(ious, conf) == _reference_greedy(ious, conf)


def test_compute_matches_preserves_huge_ids(spark):
    """Annotation ids >= 2**53 survive the kernel exactly in every group
    shape — a 20x20 group, a 1x1 match, a groundtruth-only (FN) group, a
    prediction-only (FP) group and four stacked 2x2 groups: ids go
    int64 -> int64 arrow columns with validity masks, never through a
    float64 column (which would round them)."""
    base = 2**53
    gt_rows, pred_rows = [], []

    def add(img, n_gt, n_pr, k):
        # odd offsets are NOT float64-representable around 2**53
        for i in range(n_gt):
            gt_rows.append((base + 2 * (1000 * k + i) + 1, img, 0,
                            float(20 * i), 0.0, 10.0, 10.0))
        for i in range(n_pr):
            pred_rows.append((base + 2 * (1000 * k + 500 + i) + 1, img, 0,
                              float(20 * i) + 1.0, 0.0, 10.0, 10.0,
                              0.5 + i / 100))

    add(5, 20, 20, 0)  # big group
    add(6, 1, 1, 1)  # 1x1
    add(7, 3, 0, 2)  # FN-only
    add(8, 0, 3, 3)  # FP-only
    for k in range(4):  # one stacked 2x2 shape
        add(9 + k, 2, 2, 4 + k)
    gt = spark.createDataFrame(
        gt_rows,
        "id long, image_id long, category_id int, box_x_min double, "
        "box_y_min double, box_width double, box_height double",
    )
    pred = spark.createDataFrame(
        pred_rows,
        "id long, image_id long, category_id int, box_x_min double, "
        "box_y_min double, box_width double, box_height double, "
        "confidence double",
    )
    rows = compute_matches(gt, pred).collect()
    got_pred = {r["prediction_id"] for r in rows if r["prediction_id"] is not None}
    got_gt = {r["groundtruth_id"] for r in rows if r["groundtruth_id"] is not None}
    assert got_pred == {r[0] for r in pred_rows}
    assert got_gt == {r[0] for r in gt_rows}
    matched = [r for r in rows if r["prediction_id"] and r["groundtruth_id"]]
    assert len(matched) == 20 + 1 + 4 * 2
    assert {r["groundtruth_id"] - base for r in rows
            if r["image_id"] == 7} == {2 * (2000 + i) + 1 for i in range(3)}
    assert {r["prediction_id"] - base for r in rows
            if r["image_id"] == 8} == {2 * (3500 + i) + 1 for i in range(3)}


def _batch_from_groups(groups, lattice=False):
    """Build a kernel input batch dict sorted like compute_matches
    arranges partitions: (image_id, category_id, is_groundtruth, id).
    ``lattice`` draws integer boxes and one-decimal confidences, so IoUs
    and confidences tie often."""
    def box(rng):
        if lattice:
            return (*rng.integers(0, 6, 2).astype(float),
                    *(1.0 + rng.integers(0, 5, 2)))
        return (rng.uniform(0, 80), rng.uniform(0, 80),
                rng.uniform(5, 20), rng.uniform(5, 20))

    def confidence(rng):
        return float(rng.integers(1, 4)) / 10 if lattice else rng.uniform(0.1, 1.0)

    rows = []
    for (img, cat), (n_gt, n_pr, rng) in groups.items():
        for i in range(n_pr):  # predictions block first (is_gt False)
            rows.append((img, cat, 1_000_000 + img * 1000 + i, False,
                         *box(rng), confidence(rng)))
        for i in range(n_gt):
            rows.append((img, cat, 2_000_000 + img * 1000 + i, True,
                         *box(rng), np.nan))
    rows.sort(key=lambda r: (r[0], r[1], r[3], r[2]))
    cols = list(zip(*rows))
    return {
        "image_id": np.array(cols[0], dtype=np.int64),
        "category_id": np.array(cols[1], dtype=np.int64),
        "id": np.array(cols[2], dtype=np.int64),
        "is_groundtruth": np.array(cols[3], dtype=bool),
        "box_x_min": np.array(cols[4], dtype=float),
        "box_y_min": np.array(cols[5], dtype=float),
        "box_width": np.array(cols[6], dtype=float),
        "box_height": np.array(cols[7], dtype=float),
        "confidence": np.array(cols[8], dtype=float),
    }


def _kernel_groups(batches, min_iou=0.0):
    """Run the partition kernel; per (image, category): (TP pairs
    {(pred_id, gt_id): iou}, FN gt ids, FP pred ids, row count)."""
    import lours_spark.evaluation.matching as M

    out = {}
    for b in M._match_batches(iter(batches), min_iou=min_iou):
        for r in b.to_pylist():
            tp, fn, fp, n = out.get((r["image_id"], r["category_id"]),
                                    ({}, set(), set(), 0))
            p, g = r["prediction_id"], r["groundtruth_id"]
            if p is not None and g is not None:
                tp[(p, g)] = r["iou"]
            elif g is not None:
                fn.add(g)
            else:
                fp.add(p)
            out[(r["image_id"], r["category_id"])] = (tp, fn, fp, n + 1)
    return out


def _group_arrays(batch, img, cat):
    sel = (batch["image_id"] == img) & (batch["category_id"] == cat)
    is_gt = batch["is_groundtruth"][sel]
    boxes = np.column_stack([batch[c][sel] for c in
                             ("box_x_min", "box_y_min", "box_width", "box_height")])
    ids, conf = batch["id"][sel], batch["confidence"][sel]
    return ids[is_gt], boxes[is_gt], ids[~is_gt], boxes[~is_gt], conf[~is_gt]


def _split_batch(batch, cuts):
    bounds = [0, *cuts, len(batch["id"])]
    return [{k: v[lo:hi] for k, v in batch.items()}
            for lo, hi in zip(bounds[:-1], bounds[1:])]


def test_kernel_matches_reference_random(monkeypatch):
    """Many groups of random shapes (0-8 x 0-8) with tied confidences
    and lattice-tied IoUs, split across batches so groups straddle
    batch boundaries, through the partition kernel with a tiny block
    budget (each shape's stack spans several rank blocks): every group
    equals the straight-line reference, iou values bit-for-bit, and
    every prediction and unmatched groundtruth gets exactly one row."""
    import lours_spark.evaluation.matching as M

    monkeypatch.setattr(M, "_BLOCK_CELLS", 8)
    rng = np.random.default_rng(31)
    groups = {(img, cat): (int(rng.integers(0, 9)), int(rng.integers(0, 9)), rng)
              for img in range(150) for cat in range(2)}
    batch = _batch_from_groups(groups, lattice=True)
    cuts = sorted(rng.integers(0, len(batch["id"]), 4).tolist())
    for min_iou in (0.0, 0.5):
        got = _kernel_groups(_split_batch(batch, cuts), min_iou)
        for (img, cat), (n_gt, n_pr, _) in groups.items():
            if n_gt + n_pr == 0:
                assert (img, cat) not in got
                continue
            gt_ids, gt_boxes, pr_ids, pr_boxes, conf = _group_arrays(batch, img, cat)
            ious = iou_matrix(gt_boxes, pr_boxes)
            ref = {(int(pr_ids[p]), int(gt_ids[g])): iou
                   for g, p, iou in _reference_greedy(ious, conf, min_iou)}
            tp, fn, fp, n_rows = got[(img, cat)]
            assert tp == ref
            assert fn == set(gt_ids.tolist()) - {g for _, g in ref}
            assert fp == set(pr_ids.tolist()) - {p for p, _ in ref}
            assert n_rows == n_pr + n_gt - len(ref)


def test_skewed_group_identical_to_greedy_match():
    """A 30x30 group among tiny 2x2 groups: the kernel's matches for it
    equal greedy_match run standalone on the same boxes."""
    rng = np.random.default_rng(5)
    groups = {(100, 0): (30, 30, rng)}
    for img in range(10):  # tiny groups around the monster
        groups[(img, 0)] = (2, 2, rng)
    batch = _batch_from_groups(groups)
    tp = _kernel_groups([batch])[(100, 0)][0]

    gt_ids, gt_boxes, pr_ids, pr_boxes, conf = _group_arrays(batch, 100, 0)
    ref = {(int(pr_ids[p]), int(gt_ids[g])): iou
           for g, p, iou in greedy_match(iou_matrix(gt_boxes, pr_boxes), conf)}
    assert tp == ref
    assert len(ref) > 0


def test_compute_matches_skewed_identical_to_standalone(spark):
    """End-to-end skew: one monster image (300 gt + 300 pred) among
    200 tiny images — the distributed matcher's output for the monster
    group equals greedy_match run standalone on the same boxes."""
    rng = np.random.default_rng(13)

    def rows(img, n, id_base, jitter):
        return [
            (id_base + i, img, 0,
             float(rng.uniform(0, 500)) + jitter, float(rng.uniform(0, 500)),
             float(rng.uniform(5, 30)), float(rng.uniform(5, 30)),
             float(rng.uniform(0.1, 1.0)))
            for i in range(n)
        ]

    gt_rows, pred_rows = [], []
    gt_rows += rows(-1, 300, 0, 0.0)
    pred_rows += rows(-1, 300, 5_000_000, 0.0)
    for img in range(200):
        gt_rows += rows(img, 2, 10_000 + img * 10, 0.0)
        pred_rows += rows(img, 2, 6_000_000 + img * 10, 0.0)
    schema = (
        "id long, image_id long, category_id int, box_x_min double, "
        "box_y_min double, box_width double, box_height double, "
        "confidence double"
    )
    gt = spark.createDataFrame(gt_rows, schema).drop("confidence")
    pred = spark.createDataFrame(pred_rows, schema)
    matches = compute_matches(gt, pred).filter("image_id = -1").collect()
    got = {(r["prediction_id"], r["groundtruth_id"]) for r in matches
           if r["prediction_id"] is not None and r["groundtruth_id"] is not None}

    g = np.array([r[3:7] for r in gt_rows if r[1] == -1])
    p = np.array([r[3:7] for r in pred_rows if r[1] == -1])
    gids = np.array([r[0] for r in gt_rows if r[1] == -1])
    pids = np.array([r[0] for r in pred_rows if r[1] == -1])
    conf = np.array([r[7] for r in pred_rows if r[1] == -1])
    ref = {(int(pids[pi]), int(gids[gi]))
           for gi, pi, _ in greedy_match(iou_matrix(g, p), conf)}
    assert got == ref
    assert len(got) > 50  # dense canvas: plenty of true matches


def test_blocked_kernel_identical_to_matrix(monkeypatch):
    """A crowded group's IoUs are computed in blocks of confidence
    ranks; with a tiny block budget (many blocks per group) the kernel
    still gives IDENTICAL matches and iou values to greedy_match on the
    full matrix, tied confidences included."""
    import lours_spark.evaluation.matching as M

    monkeypatch.setattr(M, "_BLOCK_CELLS", 64)
    rng = np.random.default_rng(21)
    for trial in range(5):
        groups = {(0, 0): tuple(int(v) for v in rng.integers(1, 120, size=2))
                  + (rng,)}
        batch = _batch_from_groups(groups)
        pr = ~batch["is_groundtruth"]
        # duplicate some confidences to exercise tie-break parity
        batch["confidence"][np.flatnonzero(pr)[: pr.sum() // 3]] = 0.5
        gt_ids, gt_boxes, pr_ids, pr_boxes, conf = _group_arrays(batch, 0, 0)
        ref = {(int(pr_ids[p]), int(gt_ids[g])): iou
               for g, p, iou in greedy_match(iou_matrix(gt_boxes, pr_boxes), conf)}
        assert _kernel_groups([batch])[(0, 0)][0] == ref
