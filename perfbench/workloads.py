"""The composed user jobs the benchmark runs.

Each workload makes its inputs (:meth:`generate`, pure Python), does any
Spark-side preparation (:meth:`prepare`), then runs one job per
:meth:`run` call, opening one span per library call. :meth:`check`
verifies a run's outputs outside the timed region and returns the names
of the operations whose output was wrong.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.trace import SPANS

# base input sizes (scaled by --scale); the ratios follow the workload
# definitions: 2% crowd images, index:batch 5:1
BASE = {
    "detection_eval": {"images": 600},
    "corpus_increment": {"index_docs": 2000, "batch_ratio": 5},
}


class Workload:
    name = ""

    def __init__(self, spark, spans, seed: int, scale: float, input_dir: str):
        self.spark = spark
        self.spans = spans
        self.seed = seed
        self.scale = scale
        self.input_dir = input_dir
        self.info: dict = {}

    @property
    def ops(self) -> list[str]:
        return SPANS[self.name]

    def generate(self, root: str) -> dict:
        raise NotImplementedError

    def prepare(self) -> None:
        """Spark-side set-up on the generated inputs (part of setup_s)."""

    def run(self, out: str) -> dict:
        raise NotImplementedError

    def check(self, result: dict, out: str) -> set[str]:
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def input_bytes(self) -> int:
        return gen.dir_bytes(self.input_dir)

    def _n(self, key: str) -> int:
        return max(50, int(BASE[self.name][key] * self.scale))


# ------------------------------------------------------------------------
class DetectionEval(Workload):
    """Parquet gt + predictions → matches → PR/AP → confusion → count error."""

    name = "detection_eval"
    sample_checked = False

    def generate(self, root):
        return gen.make_detection_eval(root, self.seed, self._n("images"))

    def input_rows(self):
        s = self.info["sizes"]
        return s["gt_boxes"] + s["pred_boxes"]

    def run(self, out):
        from lours_spark.dataset.core import SparkDataset
        from lours_spark.evaluation.detection_evaluator import CrowdDetectionEvaluator

        sp = self.spans
        # from_parquet only reads metadata and builds lazy readers: the
        # parquet scans are charged to the spans whose actions run them
        with sp.span("io.from_parquet"):
            gt = SparkDataset.from_parquet(self.spark, os.path.join(self.input_dir, "groundtruth"))
            pred = SparkDataset.from_parquet(self.spark, os.path.join(self.input_dir, "predictions"))
        with sp.span("dataset.check"):
            gt_report = gt.check()  # validate the ground truth first
        ev = CrowdDetectionEvaluator(gt, model=pred)
        with sp.span("evaluation.compute_matches"):
            matches = ev.compute_matches()["model"]  # a lazy plan, memoized
        with sp.span("evaluation.compute_precision_recall"):
            _, aps = ev.compute_precision_recall(ious=[0.5, 0.75])
            ap_rows = aps.collect()
        with sp.span("evaluation.compute_confusion_matrix"):
            cm_rows = ev.compute_confusion_matrix(min_iou=0.5).collect()
        with sp.span("evaluation.compute_count_error"):
            stats, _ = ev.compute_count_error()
            stat_rows = stats.collect()
        with sp.span("evaluation.to_parquet"):
            ev.to_parquet(os.path.join(out, "evaluator"))  # save for later inspection
        ev.clear_cache()
        return {
            "check": gt_report,
            "matches": matches,
            "ap": [r.asDict() for r in ap_rows],
            "confusion": [r.asDict() for r in cm_rows],
            "count_error": [r.asDict() for r in stat_rows],
        }

    def check(self, result, out):
        from pyspark.sql import functions as F

        bad = set() if self.sample_checked else self.check_sample()
        self.sample_checked = True
        gt, pred = self.info["gt"], self.info["pred"]
        if any(result["check"].values()):
            bad.add("dataset.check")
        has_p, has_g = F.col("prediction_id").isNotNull(), F.col("groundtruth_id").isNotNull()
        per_class = result["matches"].groupBy("category_id").agg(
            F.count(F.when(has_p & has_g, 1)).alias("tp"),
            F.count(F.when(has_g & ~has_p, 1)).alias("fn"),
            F.count(F.when(has_p & ~has_g, 1)).alias("fp"),
            F.countDistinct("groundtruth_id").alias("gt_distinct"),
            F.countDistinct("prediction_id").alias("pred_distinct"),
        ).collect()
        n_gt = np.bincount(gt["category_id"], minlength=gen.N_CLASSES)
        n_pred = np.bincount(pred["category_id"], minlength=gen.N_CLASSES)
        seen = set()
        for r in per_class:
            c = r["category_id"]
            seen.add(c)
            if not (r["tp"] + r["fn"] == n_gt[c] == r["gt_distinct"]
                    and r["tp"] + r["fp"] == n_pred[c] == r["pred_distinct"]):
                bad.add("evaluation.compute_matches")
        if seen != {c for c in range(gen.N_CLASSES) if n_gt[c] or n_pred[c]}:
            bad.add("evaluation.compute_matches")
        aps = [r["average_precision"] for r in result["ap"]]
        if len(aps) != 2 * gen.N_CLASSES or not all(
            a is not None and 0.0 <= a <= 1.0 for a in aps
        ):
            bad.add("evaluation.compute_precision_recall")
        total = sum(r["count"] for r in result["confusion"])
        if not result["confusion"] or total < len(gt["id"]):
            bad.add("evaluation.compute_confusion_matrix")
        n_thr = len({r["confidence"] for r in result["count_error"]})
        if n_thr != 101 or any(r["mae"] is None or r["mae"] < 0 for r in result["count_error"]):
            bad.add("evaluation.compute_count_error")
        saved = os.path.join(out, "evaluator")
        if (
            pq.read_table(os.path.join(saved, "groundtruth", "annotations")).num_rows != len(gt["id"])
            or pq.read_table(os.path.join(saved, "predictions__model", "annotations")).num_rows
            != len(pred["id"])
        ):
            bad.add("evaluation.to_parquet")
        return bad

    def check_sample(self) -> set[str]:
        """Library matches on a fixed 1% image sample against the
        reference matcher (matching is per (image, class) group, so the
        sample is exact). Run once per process, after the first run."""
        from pyspark.sql import functions as F

        from lours_spark.dataset.core import SparkDataset
        from lours_spark.evaluation.matching import compute_matches

        ids = self.info["sample_images"]
        sel = F.col("image_id").isin(ids)
        gt = SparkDataset.from_parquet(self.spark, os.path.join(self.input_dir, "groundtruth"))
        pred = SparkDataset.from_parquet(self.spark, os.path.join(self.input_dir, "predictions"))
        rows = compute_matches(
            gt.annotations.filter(sel), pred.annotations.filter(sel)
        ).collect()
        got = {"pairs": {}, "fn": set(), "fp": set()}
        for r in rows:
            if r["prediction_id"] is not None and r["groundtruth_id"] is not None:
                got["pairs"][(r["prediction_id"], r["groundtruth_id"])] = r["iou"]
            elif r["groundtruth_id"] is not None:
                got["fn"].add(r["groundtruth_id"])
            else:
                got["fp"].add(r["prediction_id"])
        want = checks.reference_matches(self.info["gt"], self.info["pred"], ids)
        same = (
            got["fn"] == want["fn"]
            and got["fp"] == want["fp"]
            and got["pairs"].keys() == want["pairs"].keys()
            and all(abs(got["pairs"][k] - v) < 1e-9 for k, v in want["pairs"].items())
        )
        return set() if same else {"evaluation.compute_matches"}


# ------------------------------------------------------------------------
MIXTURE = {"en": 0.3, "de": 0.25, "fr": 0.2, "es": 0.15, "it": 0.1}
PACK_BUDGET = 512


class CorpusIncrement(Workload):
    """Curate a new batch, mine near-dups against a stored MinHash index,
    keep one document per cluster, pack, and write windows + index rows."""

    name = "corpus_increment"

    def generate(self, root):
        b = BASE[self.name]
        return gen.make_corpus_increment(root, self.seed, self._n("index_docs"), b["batch_ratio"])

    def prepare(self):
        from lours_spark.operators.dedup import build_minhash_index

        docs = self.spark.read.parquet(os.path.join(self.input_dir, "index_docs"))
        build_minhash_index(docs).write.mode("overwrite").parquet(self.index_path)

    @property
    def index_path(self):
        return os.path.join(self.input_dir, "minhash_index")

    def input_rows(self):
        return self.info["sizes"]["batch_docs"]

    def input_bytes(self):
        return gen.dir_bytes(os.path.join(self.input_dir, "batch"))

    def run(self, out):
        from pyspark.sql import functions as F

        from lours_spark.operators.dedup import minhash_lsh_pairs_incremental
        from lours_spark.operators.packing import pack_chunked
        from lours_spark.pipeline import CurationConfig, curate_documents
        from lours_spark.split.chunks import connected_components

        sp = self.spans
        batch = self.spark.read.parquet(os.path.join(self.input_dir, "batch"))
        index = self.spark.read.parquet(self.index_path)
        with sp.span("pipeline.curate_documents"):
            cfg = CurationConfig(
                gopher={}, dedup_exact=True, quality_min_pct=0.2,
                redact_pii=True, mixture_targets=MIXTURE, seed=self.seed,
            )
            curated = curate_documents(batch, cfg).localCheckpoint()
        with sp.span("operators.minhash_lsh_pairs_incremental"):
            pairs, new_rows = minhash_lsh_pairs_incremental(curated, index)
            pairs = pairs.localCheckpoint()
        with sp.span("split.connected_components"):
            comps = connected_components(pairs)
        with sp.span("operators.pack_chunked"):
            # keep one document per cluster: the cluster's minimum id,
            # which is a stored document whenever the cluster has one
            survivors = (
                curated.join(comps, curated["doc_id"] == comps["node_id"], "left")
                .filter(F.col("component_id").isNull() | (F.col("component_id") == F.col("doc_id")))
                .select(*curated.columns)
            )
            pack_chunked(survivors, budget=PACK_BUDGET).write.parquet(os.path.join(out, "windows"))
        with sp.span("pyspark.write_parquet"):  # Spark's own writer, no lours_spark call
            new_rows.write.parquet(os.path.join(out, "index_rows"))
        return {"pairs": pairs, "survivors": survivors, "curated": curated}

    def check(self, result, out):
        bad = set()
        lo, hi = self.info["batch_ids"]
        curated = {r["doc_id"] for r in result["curated"].select("doc_id").collect()}
        texts = result["survivors"].select("doc_id", "text").collect()
        prints = [checks.fingerprint(r["text"]) for r in texts]
        if not texts or len(set(prints)) != len(prints):
            bad.add("pipeline.curate_documents")
        pairs = [(p["id_a"], p["id_b"]) for p in result["pairs"].collect()]
        if any(not (lo <= a < hi or lo <= b < hi) for a, b in pairs):
            bad.add("operators.minhash_lsh_pairs_incremental")
        if {r["doc_id"] for r in texts} != curated - checks.non_minimal_members(pairs):
            bad.add("split.connected_components")
        windows = pq.read_table(os.path.join(out, "windows")).to_pandas()
        fill = (windows["tok_to"] - windows["tok_from"]).groupby(
            [windows["shard"], windows["pack_seq"]]
        ).sum()
        if fill.max() > PACK_BUDGET or set(windows["doc_id"]) != {r["doc_id"] for r in texts}:
            bad.add("operators.pack_chunked")
        index_rows = pq.read_table(os.path.join(out, "index_rows"), columns=["__id"])
        if index_rows.num_rows != len(curated):
            bad.add("pyspark.write_parquet")
        return bad


WORKLOADS = {w.name: w for w in (DetectionEval, CorpusIncrement)}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
