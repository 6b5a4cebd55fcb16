"""Seeded input generators for the workloads.

Everything here is pure numpy / pyarrow / json: no Spark session is
needed to make the inputs, so a workload's first timed run is the first
Spark work of its process. The same ``(seed, sizes)`` always produces
byte-identical files; :func:`digest_dir` hashes them.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CLASSES = 20
IMG_W, IMG_H = 640, 480
CLASS_NAMES = [f"class_{i:02d}" for i in range(N_CLASSES)]

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
LANGS = ("en", "de", "fr", "es", "it")
LANG_SHARES = (0.35, 0.25, 0.18, 0.12, 0.10)
SOURCES = ("web", "books", "wiki", "forums")


def digest_dir(root: str) -> str:
    """sha256 over every file under ``root``: relative path + bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, files in os.walk(root)
        for n in files
    )


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------- boxes
def detection_boxes(rng: np.random.Generator, n_images: int, crowd_share: float):
    """Ground-truth images and boxes.

    Ordinary images hold 0-12 boxes of uniformly drawn classes (so about
    one in thirteen is empty); ``crowd_share`` of the images are crowd
    images with 100-300 boxes, 80% of them of one class.
    """
    n_crowd = max(1, int(round(n_images * crowd_share)))
    crowd_ids = np.sort(rng.choice(n_images, size=n_crowd, replace=False))
    # box counts are a seed-independent multiset in a seeded order, so
    # every seed yields the same number of boxes
    counts = np.zeros(n_images, dtype=np.int64)
    ordinary = np.setdiff1d(np.arange(n_images), crowd_ids)
    counts[ordinary] = rng.permutation(np.arange(len(ordinary)) % 13)
    counts[crowd_ids] = rng.permutation(np.linspace(100, 300, n_crowd).round().astype(int))
    image_id = np.repeat(np.arange(n_images, dtype=np.int64), counts)
    n = int(counts.sum())
    cls = rng.integers(0, N_CLASSES, size=n).astype(np.int32)
    crowd_class = rng.integers(0, N_CLASSES, size=n_images).astype(np.int32)
    is_crowd = np.zeros(n_images, dtype=bool)
    is_crowd[crowd_ids] = True
    dominant = is_crowd[image_id] & (rng.random(n) < 0.8)
    cls[dominant] = crowd_class[image_id[dominant]]
    w = rng.uniform(8, 160, size=n)
    h = rng.uniform(8, 160, size=n)
    x = rng.uniform(0, 1, size=n) * (IMG_W - w)
    y = rng.uniform(0, 1, size=n) * (IMG_H - h)
    boxes = {
        "id": np.arange(n, dtype=np.int64),
        "image_id": image_id,
        "category_id": cls,
        "box_x_min": np.round(x, 2),
        "box_y_min": np.round(y, 2),
        "box_width": np.round(w, 2),
        "box_height": np.round(h, 2),
    }
    return boxes, crowd_ids


def predictions_for(rng: np.random.Generator, gt: dict, n_images: int) -> dict:
    """Detector output: 85% of the ground truth jittered by up to 4 px
    (10% of those with a swapped label), plus false positives worth 20%
    of the ground-truth count, all with uniform confidences."""
    n_gt = len(gt["id"])
    keep = np.sort(rng.choice(n_gt, size=int(round(0.85 * n_gt)), replace=False))
    k = len(keep)
    jit = lambda: rng.uniform(-4, 4, size=k)  # noqa: E731
    cls = gt["category_id"][keep].copy()
    swap = rng.random(k) < 0.10
    cls[swap] = (cls[swap] + rng.integers(1, N_CLASSES, size=int(swap.sum()))) % N_CLASSES
    n_fp = int(round(0.20 * n_gt))
    fp_w = rng.uniform(8, 160, size=n_fp)
    fp_h = rng.uniform(8, 160, size=n_fp)
    cols = {
        "image_id": np.concatenate(
            [gt["image_id"][keep], rng.integers(0, n_images, size=n_fp)]
        ),
        "category_id": np.concatenate(
            [cls, rng.integers(0, N_CLASSES, size=n_fp).astype(np.int32)]
        ),
        "box_x_min": np.concatenate(
            [gt["box_x_min"][keep] + jit(), rng.uniform(0, 1, n_fp) * (IMG_W - fp_w)]
        ),
        "box_y_min": np.concatenate(
            [gt["box_y_min"][keep] + jit(), rng.uniform(0, 1, n_fp) * (IMG_H - fp_h)]
        ),
        "box_width": np.concatenate(
            [np.maximum(gt["box_width"][keep] + jit(), 2.0), fp_w]
        ),
        "box_height": np.concatenate(
            [np.maximum(gt["box_height"][keep] + jit(), 2.0), fp_h]
        ),
    }
    order = np.lexsort((cols["category_id"], cols["image_id"]))
    out = {k2: np.round(v[order], 2) if v.dtype.kind == "f" else v[order]
           for k2, v in cols.items()}
    n = len(order)
    out = {"id": np.arange(n, dtype=np.int64), **out}
    out["confidence"] = np.round(rng.uniform(0, 1, size=n), 6)
    return out


def _images_table(n_images: int) -> pa.Table:
    ids = np.arange(n_images, dtype=np.int64)
    paths = [f"img_{i:06d}.jpg" for i in ids]
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "width": pa.array(np.full(n_images, IMG_W), pa.int32()),
            "height": pa.array(np.full(n_images, IMG_H), pa.int32()),
            "relative_path": pa.array(paths, pa.string()),
            "type": pa.array([".jpg"] * n_images, pa.string()),
        }
    )


def _ann_table(cols: dict) -> pa.Table:
    types = {"id": pa.int64(), "image_id": pa.int64(), "category_id": pa.int32()}
    return pa.table(
        {k: pa.array(v, types.get(k, pa.float64())) for k, v in cols.items()}
    )


def _write_dataset(root: str, name: str, images: pa.Table, ann: pa.Table) -> None:
    """The on-disk layout ``SparkDataset.from_parquet`` reads."""
    _write_parquet(images, os.path.join(root, "images", "part-0.parquet"))
    _write_parquet(ann, os.path.join(root, "annotations", "part-0.parquet"))
    meta = {
        "dataset_name": name,
        "images_root": ".",
        "label_map": {str(i): n for i, n in enumerate(CLASS_NAMES)},
        "booleanized_columns": {},
    }
    with open(os.path.join(root, "metadata.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)


# ------------------------------------------------------- detection_eval
def make_detection_eval(root: str, seed: int, n_images: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    gt, crowd_ids = detection_boxes(rng, n_images, crowd_share=0.02)
    pred = predictions_for(rng, gt, n_images)
    images = _images_table(n_images)
    _write_dataset(os.path.join(root, "groundtruth"), "gt", images, _ann_table(gt))
    _write_dataset(os.path.join(root, "predictions"), "pred", images, _ann_table(pred))
    # fixed 1% image sample for the reference-matcher check, always
    # holding at least one crowd image
    n_sample = max(2, n_images // 100)
    sample = set(rng.choice(n_images, size=n_sample - 1, replace=False).tolist())
    sample.add(int(crowd_ids[0]))
    return {
        "gt": gt,
        "pred": pred,
        "sample_images": sorted(sample),
        "sizes": {
            "images": n_images,
            "gt_boxes": len(gt["id"]),
            "pred_boxes": len(pred["id"]),
            "crowd_images": len(crowd_ids),
            "crowd_share": round(len(crowd_ids) / n_images, 4),
            "crowd_gt_share": round(
                float(np.isin(gt["image_id"], crowd_ids).mean()), 4
            ),
            "sample_images": len(sample),
        },
    }


# ----------------------------------------------------- corpus_increment
def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    words -= set(GOPHER_STOPWORDS)
    return np.array(sorted(words))


def _doc_tokens(rng, vocab, zipf_p, n: int) -> list[str]:
    toks = vocab[rng.choice(len(vocab), size=n, p=zipf_p)].tolist()
    stop_pos = rng.random(n) < 0.25
    stops = rng.choice(GOPHER_STOPWORDS, size=n)
    return [s if m else t for t, s, m in zip(toks, stops, stop_pos)]


def _render(tokens: list[str]) -> str:
    lines = [" ".join(tokens[i:i + 14]) for i in range(0, len(tokens), 14)]
    return "\n".join(lines)


def make_corpus_increment(root: str, seed: int, n_index: int, batch_ratio: int) -> dict:
    """Stored corpus (to be indexed) and one new document batch of
    ``n_index / batch_ratio`` documents: 8% exact duplicates, 8%
    near-duplicates (about 5% of tokens rewritten), both drawn half from
    the batch and half from the stored corpus, and 5% of documents
    carrying an e-mail address or phone number."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 6000)
    ranks = np.arange(1, len(vocab) + 1)
    zipf_p = (1.0 / ranks) / (1.0 / ranks).sum()
    n_batch = max(10, n_index // batch_ratio)

    def docs(n: int) -> list[list[str]]:
        # 80-400 tokens each, a seed-independent multiset of lengths
        lengths = rng.permutation(np.linspace(80, 400, n).round().astype(int))
        return [_doc_tokens(rng, vocab, zipf_p, int(k)) for k in lengths]

    index_docs = docs(n_index)
    n_exact = int(round(0.08 * n_batch))
    n_near = int(round(0.08 * n_batch))
    n_fresh = n_batch - n_exact - n_near
    batch = docs(n_fresh)

    def source_doc(i: int) -> list[str]:
        # alternate between the stored corpus and the batch's own docs
        if i % 2 == 0:
            return index_docs[int(rng.integers(0, n_index))]
        return batch[int(rng.integers(0, n_fresh))]

    for i in range(n_exact):
        batch.append(list(source_doc(i)))
    for i in range(n_near):
        toks = list(source_doc(i))
        pos = rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False)
        for p in pos:
            toks[p] = str(vocab[rng.integers(0, len(vocab))])
        batch.append(toks)
    order = rng.permutation(n_batch)
    batch = [batch[i] for i in order]
    n_pii = int(round(0.05 * n_batch))
    for j, i in enumerate(rng.choice(n_batch, size=n_pii, replace=False)):
        toks = list(batch[i])
        pii = (
            f"user{int(rng.integers(1000, 9999))}@example.org"
            if j % 2 == 0
            else f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}"
        )
        toks.insert(int(rng.integers(0, len(toks))), pii)
        batch[i] = toks

    def spread(values, shares, docs: list[list[str]]) -> list[str]:
        # labels in exact shares, dealt out evenly along the documents
        # sorted by length, so each label's TOKEN share equals its
        # document share: the mixture's sampling rates, and with them the
        # kept-document count, then barely move with the seed
        w = np.asarray(shares, dtype=float) / sum(shares)
        dealt = np.zeros(len(w))
        labels = np.empty(len(docs), dtype=int)
        for i, d in enumerate(np.argsort([len(t) for t in docs], kind="stable")):
            k = int(np.argmax(w * (i + 1) - dealt))
            labels[d] = k
            dealt[k] += 1
        return [values[k] for k in labels]

    def table(docs: list[list[str]], first_id: int) -> pa.Table:
        n = len(docs)
        return pa.table(
            {
                "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
                "text": pa.array([_render(d) for d in docs], pa.string()),
                "lang": pa.array(spread(LANGS, LANG_SHARES, docs)),
                "source": pa.array(spread(SOURCES, [1] * len(SOURCES), docs)),
            }
        )

    _write_parquet(table(index_docs, 0), os.path.join(root, "index_docs", "part-0.parquet"))
    _write_parquet(table(batch, n_index), os.path.join(root, "batch", "part-0.parquet"))
    return {
        "batch_ids": (n_index, n_index + n_batch),
        "sizes": {
            "index_docs": n_index,
            "batch_docs": n_batch,
            "index_batch_ratio": batch_ratio,
            "exact_dup_share": round(n_exact / n_batch, 4),
            "near_dup_share": round(n_near / n_batch, 4),
            "pii_share": round(n_pii / n_batch, 4),
            "langs": len(LANGS),
            "sources": len(SOURCES),
        },
    }
