"""Stateful ``DetectionEvaluator`` facade — the reference's class API
(``lours/evaluation/evaluator.py:45-120`` +
``lours/evaluation/detection/detection_evaluator.py:24-682``) over the
functional engine in :mod:`evaluator` / :mod:`matching`.

Holds one groundtruth :class:`SparkDataset` plus NAMED prediction
datasets; matches are memoized per (name, category_agnostic, min_iou)
so repeated metric calls reuse the expensive greedy pass. Multi-model
outputs carry a ``model`` column, as the reference's do.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DetectionEvaluator:
    """Reference-parity evaluator facade (``DetectionEvaluator``).

    >>> from lours_spark.testing import dummy_dataset
    >>> gt = dummy_dataset(spark, n_imgs=4, n_annot=8, n_labels=3, seed=1)
    >>> pred = dummy_dataset(spark, n_imgs=4, n_annot=8, n_labels=3,
    ...                      seed=1, add_confidence=True)
    >>> ev = DetectionEvaluator(gt, model=pred)
    >>> matches = ev.compute_matches()['model']
    >>> matches.filter("prediction_id IS NOT NULL "
    ...                "AND groundtruth_id IS NOT NULL").count()
    4
    >>> sorted(matches.columns)[:3]
    ['category_id', 'confidence', 'groundtruth_id']
    """

    def __init__(self, groundtruth, name: str | None = None, **predictions):
        self.groundtruth = groundtruth
        self.name = name or groundtruth.dataset_name
        self.predictions_dictionary: dict = {}
        self._matches: dict[tuple, DataFrame] = {}
        #: curve frames persisted by compute_precision_recall; the
        #: persist is lazy (the first action on the returned frames
        #: fills it), so clear_cache() unpersists them and drops the
        #: matches memo.
        self._persisted: list[DataFrame] = []
        for pname, ds in predictions.items():
            self.add_predictions_dataset(pname, ds)

    # ------------------------------------------------------------ inputs
    def add_predictions_dataset(self, name: str, dataset) -> None:
        """Register a named prediction dataset (reference
        ``evaluator.py:86-120``; image tables must agree — checked
        lazily by the matcher join)."""
        self.predictions_dictionary[name] = dataset
        self._matches = {
            k: v for k, v in self._matches.items() if k[0] != name
        }

    add_predictions = add_predictions_dataset  # reference alias

    def _names(self, predictions_names) -> list[str]:
        """The requested prediction-set names (all registered ones for
        ``None``); ``ValueError`` when that is none, ``KeyError`` for a
        name that is not registered."""
        if predictions_names is None:
            names = list(self.predictions_dictionary)
        elif isinstance(predictions_names, str):
            names = [predictions_names]
        else:
            names = list(predictions_names)
        if not names:
            raise ValueError(
                "no prediction sets to evaluate: register one with "
                "add_predictions_dataset"
            )
        unknown = [n for n in names if n not in self.predictions_dictionary]
        if unknown:
            raise KeyError(
                f"unknown prediction sets {unknown}; registered: "
                f"{sorted(self.predictions_dictionary)}"
            )
        return names

    # ----------------------------------------------------------- matches
    def compute_matches(
        self,
        predictions_names: str | Iterable[str] | None = None,
        min_iou: float = 0.0,
        category_agnostic: bool = False,
    ) -> dict[str, DataFrame]:
        """Greedy matches per named prediction set (reference
        ``detection_evaluator.py:54-179``), memoized."""
        from lours_spark.evaluation.matching import compute_matches

        out = {}
        for pname in self._names(predictions_names):
            key = (pname, bool(category_agnostic), float(min_iou))
            if key not in self._matches:
                self._matches[key] = compute_matches(
                    self.groundtruth.annotations,
                    self.predictions_dictionary[pname].annotations,
                    match_by_category=not category_agnostic,
                    min_iou=min_iou,
                )
            out[pname] = self._matches[key]
        return out

    # ----------------------------------------------------------- metrics
    def compute_precision_recall(
        self,
        predictions_names: str | Iterable[str] | None = None,
        ious: Sequence[float] = (0.0,),
        groups: Sequence[str] = ("category_id",),
        rematch_per_iou: bool = False,
    ) -> tuple[DataFrame, DataFrame]:
        """Multi-IoU grouped PR curves + APs over every requested model
        (reference ``detection_evaluator.py:382-682``); returns
        (curves, aps), each with a ``model`` column.

        Builds only those two frames and starts no Spark job: the curve
        frame is persisted lazily, so the first action on either output
        fills it and later ones read it until :meth:`clear_cache`
        unpersists it. One action that reads both outputs at once (a
        join of curves and aps) would race the unfilled cache and run
        the matcher twice: consume them one after the other. The APs
        come from the one AP aggregation,
        :func:`~lours_spark.evaluation.evaluator.average_precisions`,
        which the functional
        :func:`~lours_spark.evaluation.evaluator.compute_precision_recall`
        also uses."""
        from lours_spark.evaluation.evaluator import _curves, average_precisions

        curves_parts, ap_parts = [], []
        for pname in self._names(predictions_names):
            # the rematch_per_iou=False path reuses the memoized greedy
            # matches (the class docstring's memo contract) — repeated
            # metric calls cost windows, not another matcher shuffle
            memo = (
                self.compute_matches(pname)[pname]
                if not rematch_per_iou
                else None
            )
            # a lazy persist, not operators/_materialize.py: this method
            # starts no job, and localCheckpoint(eager=False) still runs
            # the plan's shuffle stages at call time
            curves = _curves(
                self.groundtruth.annotations,
                self.predictions_dictionary[pname].annotations,
                list(ious),
                list(groups),
                rematch_per_iou,
                matches=memo,
            ).persist()
            self._persisted.append(curves)
            curves_parts.append(curves.withColumn("model", F.lit(pname)))
            ap_parts.append(
                average_precisions(curves, list(groups))
                .select(*groups, "iou_threshold", "average_precision")
                .withColumn("model", F.lit(pname))
            )
        return (
            reduce(DataFrame.unionByName, curves_parts),
            reduce(DataFrame.unionByName, ap_parts),
        )

    def compute_confusion_matrix(
        self,
        predictions_names: str | Iterable[str] | None = None,
        min_iou: float = 0.0,
        min_confidence: float = 0.0,
        normalize: bool = True,
    ) -> DataFrame:
        """Long-form confusion matrix per model (reference
        ``detection_evaluator.py:180-380``)."""
        from lours_spark.evaluation.evaluator import compute_confusion_matrix

        parts = []
        for pname in self._names(predictions_names):
            pred = self.predictions_dictionary[pname].annotations
            gt = self.groundtruth.annotations
            if "category_str" not in gt.columns:
                gt = self.groundtruth.denormalize().annotations
            if "category_str" not in pred.columns:
                pred = self.predictions_dictionary[pname].denormalize().annotations
            parts.append(
                compute_confusion_matrix(
                    gt,
                    pred,
                    min_iou=min_iou,
                    min_confidence=min_confidence,
                    normalize=normalize,
                    # memoized category-agnostic matches: min_iou here
                    # is a curve-time split, not a matcher parameter
                    matches=self.compute_matches(
                        pname, category_agnostic=True
                    )[pname],
                ).withColumn("model", F.lit(pname))
            )
        return reduce(DataFrame.unionByName, parts)


    def clear_cache(self) -> None:
        """Unpersist every curve frame persisted by
        :meth:`compute_precision_recall` and drop the matches memo —
        call between evaluation rounds in a long-lived session so
        cached blocks don't accumulate."""
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped
        self._persisted.clear()
        self._matches.clear()

    # ------------------------------------------------------- persistence
    def to_parquet(self, output_dir: str, overwrite: bool = False) -> None:
        """One parquet dataset per member + a JSON sidecar with the
        class name (reference ``evaluator.py:200-215``)."""
        import json
        import os
        import shutil

        if os.path.exists(output_dir):
            if not overwrite:
                raise FileExistsError(output_dir)
            shutil.rmtree(output_dir)
        os.makedirs(output_dir)
        self.groundtruth.to_parquet(os.path.join(output_dir, "groundtruth"))
        for pname, ds in self.predictions_dictionary.items():
            ds.to_parquet(os.path.join(output_dir, f"predictions__{pname}"))
        with open(os.path.join(output_dir, "evaluator.json"), "w") as f:
            json.dump(
                {
                    "__name__": type(self).__name__,
                    "name": self.name,
                    "predictions": sorted(self.predictions_dictionary),
                },
                f,
            )

    @classmethod
    def from_parquet(cls, spark, input_dir: str):
        """Reload a saved evaluator; refuses a folder written by a
        different evaluator subclass (reference
        ``evaluator.py:217-260`` ``__name__`` guard)."""
        import json
        import os

        from lours_spark.dataset.core import SparkDataset

        with open(os.path.join(input_dir, "evaluator.json")) as f:
            meta = json.load(f)
        if meta["__name__"] != cls.__name__:
            raise ValueError(
                f"{input_dir} holds a {meta['__name__']}, not a "
                f"{cls.__name__} (reference evaluator.py:227-233 semantics)"
            )
        gt = SparkDataset.from_parquet(
            spark, os.path.join(input_dir, "groundtruth")
        )
        ev = cls(gt, name=meta.get("name"))
        for pname in meta["predictions"]:
            ev.add_predictions_dataset(
                pname,
                SparkDataset.from_parquet(
                    spark, os.path.join(input_dir, f"predictions__{pname}")
                ),
            )
        return ev

    def get_image_attributes(self) -> list:
        return self.groundtruth.image_attributes()

    def get_annotations_attributes(self) -> list:
        return self.groundtruth.annotation_attributes()



class CrowdDetectionEvaluator(DetectionEvaluator):
    """Crowd-counting specialization (reference
    ``crowd_detection_evaluator.py:22-236``): same constructor and
    match/PR surface, plus per-confidence count-error curves.

    ``compute_normalized_precision_recall`` (nAP, Song et al. ICCV'21)
    is ``NotImplementedError`` in the REFERENCE ITSELF
    (``crowd_detection_evaluator.py:238-248``) — mirrored here so the
    surfaces stay aligned.
    """

    def compute_count_error(
        self,
        predictions_names: "str | Iterable[str] | None" = None,
        groups: Sequence[str] = ("category_id",),
        quantiles: Sequence[float] = (0.25, 0.5, 0.75),
        confidence_index: Sequence[float] | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """MAE/RMSE/MRE/RMSRE/std/quantile count-error curves over the
        confidence grid per model (reference
        ``crowd_detection_evaluator.py:30-236``; grid defaults to 101
        equidistant points). Returns (stats_curve, per_image_errors) —
        the reference's (metrics frame, detailed frame) pair, long-form
        with a ``model`` column instead of pandas multiindex columns."""
        from lours_spark.evaluation.crowd import (
            count_error_curve,
            per_image_counts,
        )

        grid = (
            [i / 100 for i in range(101)]
            if confidence_index is None
            else [float(t) for t in confidence_index]
        )
        stats_parts, detail_parts = [], []
        for pname in self._names(predictions_names):
            pred = self.predictions_dictionary[pname].annotations
            gt = self.groundtruth.annotations
            stats_parts.append(
                count_error_curve(
                    gt, pred, thresholds=grid, group_cols=list(groups),
                    quantiles=tuple(quantiles),
                ).withColumn("model", F.lit(pname))
            )
            detail_parts.append(
                per_image_counts(
                    gt, pred, confidence_threshold=0.0,
                    group_cols=list(groups),
                ).withColumn("model", F.lit(pname))
            )
        return (
            reduce(DataFrame.unionByName, stats_parts),
            reduce(DataFrame.unionByName, detail_parts),
        )

    def compute_normalized_precision_recall(self) -> DataFrame:
        """nAP (Song et al.) — unimplemented in the reference too."""
        raise NotImplementedError(
            "nAP is NotImplementedError in the reference as well "
            "(crowd_detection_evaluator.py:238-248)"
        )

