"""Independent reference code for the output checks.

Nothing here imports ``lours_spark``: the greedy matcher and the
document fingerprint are re-implemented from their definitions so a
check cannot share a bug with the code it checks.
"""

from __future__ import annotations

import hashlib

import numpy as np


def _iou(gt: np.ndarray, box: np.ndarray) -> np.ndarray:
    """IoU of one XYWH box against every row of ``gt``."""
    x1 = np.maximum(gt[:, 0], box[0])
    y1 = np.maximum(gt[:, 1], box[1])
    x2 = np.minimum(gt[:, 0] + gt[:, 2], box[0] + box[2])
    y2 = np.minimum(gt[:, 1] + gt[:, 3], box[1] + box[3])
    inter = np.clip(x2 - x1, 0, None) * np.clip(y2 - y1, 0, None)
    union = gt[:, 2] * gt[:, 3] + box[2] * box[3] - inter
    return np.where(union > 0, inter / np.where(union > 0, union, 1), 0.0)


def reference_matches(gt: dict, pred: dict, image_ids) -> dict:
    """Greedy matches per (image, class) group on the given images.

    Predictions are visited by descending confidence (ties: lower id
    first); each takes the free ground truth of highest IoU (ties: lower
    id), if that IoU is above 0. Returns ``{"pairs": {(pred_id, gt_id):
    iou}, "fn": set of gt ids, "fp": set of pred ids}``.
    """
    box_cols = ("box_x_min", "box_y_min", "box_width", "box_height")
    pairs, fn, fp = {}, set(), set()
    for iid in image_ids:
        g_sel = np.nonzero(gt["image_id"] == iid)[0]
        p_sel = np.nonzero(pred["image_id"] == iid)[0]
        classes = set(gt["category_id"][g_sel]) | set(pred["category_id"][p_sel])
        for c in classes:
            g = g_sel[gt["category_id"][g_sel] == c]
            p = p_sel[pred["category_id"][p_sel] == c]
            g = g[np.argsort(gt["id"][g], kind="stable")]
            g_box = np.column_stack([gt[k][g] for k in box_cols])
            free = np.ones(len(g), dtype=bool)
            order = sorted(p, key=lambda j: (-pred["confidence"][j], pred["id"][j]))
            for j in order:
                box = np.array([pred[k][j] for k in box_cols])
                ious = np.where(free, _iou(g_box, box), -1.0) if len(g) else np.array([])
                if len(ious) and ious.max() > 0:
                    best = int(np.argmax(ious))
                    free[best] = False
                    pairs[(int(pred["id"][j]), int(gt["id"][g[best]]))] = float(ious[best])
                else:
                    fp.add(int(pred["id"][j]))
            fn.update(int(gt["id"][k]) for k, f in zip(g, free) if f)
    return {"pairs": pairs, "fn": fn, "fp": fp}


def fingerprint(text: str) -> str:
    """md5 of the sorted distinct lower-cased whitespace tokens."""
    return hashlib.md5(" ".join(sorted(set(text.lower().split()))).encode()).hexdigest()


def non_minimal_members(pairs) -> set:
    """Nodes of the undirected graph ``pairs`` that are not the smallest
    id of their connected component (union-find)."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for a, b in pairs for x in (a, b) if find(x) != x}
