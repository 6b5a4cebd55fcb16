"""Greedy bipartite IoU matching — the evaluation engine's core join.

Re-expresses reference ``lours/evaluation/detection/util.py``:
``get_ious`` (``:54-95``, vectorized IoU matrix), ``get_matches``
(``:98-186``, confidence-descending greedy 1:1 assignment) and
``construct_matches_df`` (``:11-51``, full-outer match emission).

The greedy loop is inherently sequential *within* an
(image_id, category_id) group but embarrassingly parallel *across*
groups. A naive ``groupBy(...).applyInPandas`` pays per-group Arrow +
pandas overhead — ruinous when groups are a handful of boxes (the
common case: ~4 boxes per image, millions of images). Instead we:

1. ``repartition`` by image_id (hash — groups never straddle
   partitions) and ``sortWithinPartitions`` by the group key, then
2. ``mapInArrow``: each Arrow record batch covers MANY groups; group
   boundaries are found with numpy change-detection, groups are
   bucketed by (n_gt, n_pred) shape, and ONE greedy loop per shape
   runs over confidence ranks with every group of the shape stacked
   (``_greedy_shape``) — a million 2×2 groups cost two vectorized
   passes, and a crowded group streams its IoUs in fixed-size blocks.

Arrow batches can split a group, so a carry buffer stitches the tail
group of each batch onto the next.

At 100 TB the single shuffle is on annotation rows only; AQE handles
image-level skew (crowded images).

Determinism: ties are broken by (confidence desc, prediction id asc)
and best-IoU-first groundtruth selection, so output is stable across
runs and partitionings.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.LongType()),
        T.StructField("category_id", T.IntegerType()),
        T.StructField("prediction_id", T.LongType()),
        T.StructField("groundtruth_id", T.LongType()),
        T.StructField("iou", T.DoubleType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)

def _iou(g: np.ndarray, p: np.ndarray) -> np.ndarray:
    """IoU of XYWH boxes ``g`` (groundtruth) and ``p`` (prediction),
    broadcast over their leading axes — the one IoU formula of the
    matcher, elementwise as in reference ``util.py:75-95``."""
    gx, gy, gw, gh = (g[..., i] for i in range(4))
    px, py, pw, ph = (p[..., i] for i in range(4))
    ix = np.maximum(0.0, np.minimum(gx + gw, px + pw) - np.maximum(gx, px))
    iy = np.maximum(0.0, np.minimum(gy + gh, py + ph) - np.maximum(gy, py))
    inter = ix * iy
    union = gw * gh + pw * ph - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(union > 0, inter / union, 0.0)


def iou_matrix(gt: np.ndarray, pred: np.ndarray) -> np.ndarray:
    """IoU between every (gt, pred) box pair; boxes are XYWH rows.
    Same broadcasted-numpy shape as reference ``util.py:75-95``.

    >>> import numpy as np
    >>> gt = np.array([[0.0, 0.0, 10.0, 10.0]])
    >>> pred = np.array([[0.0, 0.0, 10.0, 10.0], [5.0, 0.0, 10.0, 10.0],
    ...                  [20.0, 20.0, 5.0, 5.0]])
    >>> iou_matrix(gt, pred).round(4).tolist()
    [[1.0, 0.3333, 0.0]]
    """
    if len(gt) == 0 or len(pred) == 0:
        return np.zeros((len(gt), len(pred)))
    return _iou(np.asarray(gt)[:, None], np.asarray(pred)[None, :])


def greedy_match(
    ious: np.ndarray,
    confidences: np.ndarray,
    min_iou: float = 0.0,
) -> list[tuple[int, int, float]]:
    """Confidence-descending greedy 1:1 assignment (reference
    ``util.py:146-185``) on ONE group: each prediction, in confidence
    order, takes the best still-free groundtruth with IoU > min_iou.

    Returns (gt_idx, pred_idx, iou) triples. This is the per-group API
    and the tests' standalone reference; :func:`compute_matches` runs
    the same rule stacked across groups (``_greedy_shape``).
    """
    n_gt, n_pred = ious.shape
    if n_gt == 0 or n_pred == 0:
        return []
    order = np.lexsort((np.arange(n_pred), -confidences))
    # iterate over CONTIGUOUS per-prediction rows of the transpose and
    # mask taken groundtruths with a boolean instead of writing -1
    # rows into the matrix: on crowded groups (thousands of boxes) the
    # strided column walk thrashes cache and dominates wall time
    ious_t = np.ascontiguousarray(ious.T)
    taken = np.zeros(n_gt, dtype=bool)
    matches: list[tuple[int, int, float]] = []
    for p in order:
        col = np.where(taken, -1.0, ious_t[p])
        g = int(np.argmax(col))
        best = col[g]
        if best > min_iou:
            matches.append((g, int(p), float(ious[g, p])))
            taken[g] = True
    return matches


#: IoU cells per block of confidence ranks in :func:`_greedy_shape`:
#: one shape's stacked groups get their IoUs ``(G, b, n_gt)`` for b
#: ranks at a time, so kernel memory is O(rows + this) at any group size
_BLOCK_CELLS = 2**18


def _greedy_shape(
    ss: np.ndarray,
    n_gt: int,
    n_pr: int,
    boxes: np.ndarray,
    conf: np.ndarray,
    partner: np.ndarray,
    min_iou: float,
) -> None:
    """Greedy-match every group of one (n_gt, n_pred) shape at once.

    ``ss`` are the groups' first rows; a group is its predictions then
    its groundtruths, each id-ascending (the partition sort key). The
    sequential-by-semantics loop runs over confidence RANKS, not groups:
    at rank r every group's r-th-most-confident prediction takes its
    best still-free groundtruth. Ties match :func:`greedy_match`: the
    stable sort keeps the lower pred id first, argmax the lowest gt.
    Writes each matched row's ``partner`` row index."""
    G = len(ss)
    rng = np.arange(G)
    pr_rows = ss[:, None] + np.argsort(
        -conf[ss[:, None] + np.arange(n_pr)], axis=1, kind="stable"
    )  # (G, n_pr) in confidence order
    gt_rows = ss[:, None] + n_pr + np.arange(n_gt)  # (G, n_gt)
    gt_boxes = boxes[gt_rows][:, None]  # (G, 1, n_gt, 4)
    taken = np.zeros((G, n_gt), dtype=bool)
    best = np.empty((G, n_pr), dtype=np.int64)  # gt slot chosen at rank r
    ok = np.empty((G, n_pr), dtype=bool)  # ... and accepted
    step = max(1, _BLOCK_CELLS // (G * n_gt))
    for r0 in range(0, n_pr, step):
        ious = _iou(gt_boxes, boxes[pr_rows[:, r0:r0 + step]][:, :, None])
        for r in range(r0, min(r0 + step, n_pr)):  # ious: (G, b, n_gt)
            col = np.where(taken, -1.0, ious[:, r - r0])
            g = col.argmax(axis=1)
            best[:, r], ok[:, r] = g, col[rng, g] > min_iou
            taken[rng[ok[:, r]], g[ok[:, r]]] = True
    grp, r = np.nonzero(ok)
    p, g = pr_rows[grp, r], gt_rows[grp, best[grp, r]]
    partner[p], partner[g] = g, p


_IN_COLS = [
    "id",
    "image_id",
    "category_id",
    "box_x_min",
    "box_y_min",
    "box_width",
    "box_height",
    "is_groundtruth",
    "confidence",
]

_NumpyBatch = dict  # str -> np.ndarray, all the same length


def _match_rows(b: _NumpyBatch, starts: np.ndarray, min_iou: float):
    """Match whole groups (rows sorted like the partition, group first
    rows ``starts``) into one MATCH_SCHEMA RecordBatch: a TP or FP row
    per prediction, a FN row per unmatched groundtruth. Ids stay int64
    with validity masks (exact at any magnitude); NaN floats are NULL."""
    import pyarrow as pa

    ids, is_gt = b["id"], b["is_groundtruth"].astype(bool)
    n = len(ids)
    boxes = np.column_stack(
        [b[c] for c in ("box_x_min", "box_y_min", "box_width", "box_height")]
    ).astype(float)
    conf = b["confidence"].astype(float)
    n_gt = np.add.reduceat(is_gt.astype(np.int64), starts)
    n_pr = np.diff(starts, append=n) - n_gt
    partner = np.full(n, -1, dtype=np.int64)
    # groups with both sides, bucketed by exact (n_gt, n_pred) shape;
    # gt-only and pred-only groups keep partner -1 (all FN / all FP)
    both = (n_gt > 0) & (n_pr > 0)
    ss, sg, sp = starts[both], n_gt[both], n_pr[both]
    order = np.lexsort((sp, sg))
    ss, sg, sp = ss[order], sg[order], sp[order]
    cut = np.flatnonzero(
        (np.diff(sg, prepend=-1) != 0) | (np.diff(sp, prepend=-1) != 0)
    )
    for lo, hi in zip(cut, np.append(cut[1:], len(ss))):
        _greedy_shape(
            ss[lo:hi], int(sg[lo]), int(sp[lo]), boxes, conf, partner, min_iou
        )

    keep = ~is_gt | (partner < 0)  # matched gt rows ride their TP row
    is_pr, part, rid = ~is_gt[keep], partner[keep], ids[keep]
    tp = part >= 0
    gt_id = np.where(is_pr, ids[part], rid)
    cf = np.where(is_pr, conf[keep], np.nan)
    iou = np.full(len(rid), np.nan)
    iou[tp] = _iou(boxes[part[tp]], boxes[keep][tp])
    return pa.RecordBatch.from_arrays(
        [
            pa.array(b["image_id"][keep].astype(np.int64)),
            pa.array(b["category_id"][keep].astype(np.int32)),
            pa.array(rid.astype(np.int64), mask=~is_pr),
            pa.array(gt_id.astype(np.int64), mask=is_pr & ~tp),
            pa.array(iou, mask=np.isnan(iou)),
            pa.array(cf, mask=np.isnan(cf)),
        ],
        names=MATCH_SCHEMA.names,
    )


def _match_batches(batches: Iterator[_NumpyBatch], min_iou: float = 0.0):
    """Partition kernel: numpy column dicts in (sorted by group key),
    MATCH_SCHEMA RecordBatches out. Groups are found with numpy
    change-detection; a batch's last group may continue in the next
    batch, so it is carried over and matched with that batch."""
    carry: _NumpyBatch | None = None
    for cur in batches:
        if carry is not None:
            cur = {k: np.concatenate([carry[k], cur[k]]) for k in cur}
        img, cat = cur["image_id"], cur["category_id"]
        if not len(img):
            continue
        starts = np.flatnonzero(
            np.r_[True, (img[1:] != img[:-1]) | (cat[1:] != cat[:-1])]
        )
        t = starts[-1]
        carry = {k: v[t:] for k, v in cur.items()}
        if t:
            yield _match_rows({k: v[:t] for k, v in cur.items()}, starts[:-1], min_iou)
    if carry is not None:
        yield _match_rows(carry, np.zeros(1, dtype=np.int64), min_iou)


def compute_matches(
    groundtruth: DataFrame,
    predictions: DataFrame,
    match_by_category: bool = True,
    num_partitions: int | None = None,
    min_iou: float = 0.0,
) -> DataFrame:
    """Distributed match computation (reference
    ``detection_evaluator.py:54-179``): concat gt+pred with a flag, one
    hash shuffle on image_id, in-partition sort by group key, then the
    batched numpy kernel via ``mapInArrow``.

    ``min_iou``: greedy acceptance threshold (strict ``iou > min_iou``,
    the reference's convention — for COCO-protocol ``iou >= t``
    semantics pass a threshold off the achievable-IoU lattice or
    ``t - eps``). Matching PER threshold (COCO rematch) = calling this
    once per threshold; the reference's single-match-then-threshold
    protocol = calling once at 0 and filtering ``iou`` downstream.

    Cost shape (measured at 10x/11M rows, local[32]): the Arrow worker
    round trip dominates — a no-op passthrough costs ~5.4-5.9s, the
    greedy kernel ~1s on top — and a JVM-side split that resolved
    closed-form groups with window/join expressions was measured
    slower (its sorts cost more than the transfer it saves)."""
    box_cols = ["box_x_min", "box_y_min", "box_width", "box_height"]
    gt = groundtruth.select(
        "id", "image_id", "category_id", *box_cols,
        F.lit(True).alias("is_groundtruth"),
        F.lit(1.0).alias("confidence"),
    )
    pred_conf = (
        F.col("confidence") if "confidence" in predictions.columns else F.lit(1.0)
    )
    pr = predictions.select(
        "id", "image_id", "category_id", *box_cols,
        F.lit(False).alias("is_groundtruth"),
        pred_conf.cast("double").alias("confidence"),
    )
    both = gt.unionByName(pr)
    if not match_by_category:
        both = both.withColumn("category_id", F.lit(-1).cast("int"))
    n = num_partitions or both.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    # partition on a DERIVED key, not image_id itself: when both union
    # legs are already hash-partitioned on image_id (e.g. after a
    # denormalize join) the planner elides a repartition("image_id") as
    # satisfied — but Union concatenates leg partitions, leaving a
    # group's gt and pred rows in different partitions. The derived
    # expression forces a real exchange and still co-locates groups.
    part_key = F.pmod(F.hash(F.col("image_id")), F.lit(int(n)))
    arranged = both.select(*_IN_COLS).repartition(
        int(n), part_key
    ).sortWithinPartitions("image_id", "category_id", "is_groundtruth", "id")
    thr = float(min_iou)

    def kernel(batches):
        return _match_batches(
            (
                {name: col.to_numpy(zero_copy_only=False)
                 for name, col in zip(b.schema.names, b.columns)}
                for b in batches
            ),
            min_iou=thr,
        )

    return arranged.mapInArrow(kernel, MATCH_SCHEMA)
