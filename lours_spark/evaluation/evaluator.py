"""Multi-IoU, grouped detection evaluation — the reference's
``DetectionEvaluator.compute_precision_recall`` re-expressed as one
declarative plan.

Reference semantics (``lours/evaluation/detection/detection_evaluator.py:382-682``
+ ``util.py:189-321``):

- matches are computed ONCE (greedy, confidence-descending); each IoU
  threshold then re-labels a matched pair TP iff ``iou > t`` — no
  re-matching (``util.py:234``). The COCO protocol *re-matches* per
  threshold; both are offered via ``rematch_per_iou``.
- curve rows are ALL groundtruth rows (confidence of the matched
  prediction, 0.0 when unmatched) plus unmatched predictions
  (``detection_evaluator.py:624-655``) — so the precision denominator
  counts false-negative rows once the cut passes confidence 0.
- per (group × threshold): sort confidence-descending, keep the last
  cumulative point per distinct confidence (``util.py:228-234``),
  precision = tp/rank, recall = tp/n_targets, pad extremal points,
  monotone precision envelope (``util.py:271``), AP = right Riemann sum
  of precision over recall (``util.py:305-321``).
- grouping columns take the groundtruth's value, falling back to the
  prediction's for false positives (``detection_evaluator.py:588-592``).

Spark shape: the fan-out over ``ious`` is a tiny literal crossJoin (one
row per threshold) — ONE shuffle on the group key covers every
threshold's windows because the window partition key is
(groups, iou_threshold) and rows replicate under it. No per-threshold
job, no driver loop over groups.

AP is ONE aggregation (:func:`average_precisions`) giving both the
reference's Riemann AP and the COCO-accumulate grid AP (101 recall
samples averaged, as ``pycocotools.cocoeval.COCOeval.accumulate`` does;
NumPy protocol parity in ``tests/test_cocoeval_parity.py``). It
collapses each curve to one row per distinct recall, exactly:

- Riemann: in (recall asc, confidence desc, precision_env asc, is_pad
  asc) order a run of equal-recall points adds its nonzero Δrecall on
  its FIRST member only, so the sum needs only that member's envelope
  (the tail pad ties a real confidence-0.0 point; the lower envelope
  comes first).
- grid: the sample at r is ``max(precision_env | recall ≥ r)`` over
  non-pad points (the envelope is non-increasing along the curve), 0
  past the last recall — a max of per-recall maxima.

Recall is ``tp / n_targets``, so a (group × threshold) key has at most
``n_groundtruth + 1`` distinct recalls: the per-key array is bounded
by the group's groundtruth count, not by its curve length.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _results_table(
    matches: DataFrame,
    group_cols: Sequence[str],
    gt_attrs: DataFrame | None = None,
    pred_attrs: DataFrame | None = None,
) -> DataFrame:
    """The reference's ``results`` frame: one row per groundtruth (with
    its matched prediction's confidence, 0.0 if none) + one row per
    unmatched prediction. Extra group columns are joined from
    ``gt_attrs``/``pred_attrs`` (id → attribute frames), groundtruth
    value winning over prediction value (FPs use the prediction's)."""
    base = matches.select(
        "image_id",
        "category_id",
        "prediction_id",
        "groundtruth_id",
        F.coalesce(F.col("iou"), F.lit(0.0)).alias("iou"),
        F.when(
            F.col("groundtruth_id").isNotNull()
            & F.col("prediction_id").isNull(),
            F.lit(0.0),
        )
        .otherwise(F.col("confidence"))
        .alias("confidence"),
        F.col("groundtruth_id").isNotNull().alias("is_groundtruth"),
    )
    extra = [c for c in group_cols if c not in ("category_id",)]
    if extra:
        if gt_attrs is not None:
            g = gt_attrs.select(
                F.col("id").alias("groundtruth_id"),
                *[F.col(c).alias(f"__gt_{c}") for c in extra],
            )
            base = base.join(g, "groundtruth_id", "left")
        if pred_attrs is not None:
            p = pred_attrs.select(
                F.col("id").alias("prediction_id"),
                *[F.col(c).alias(f"__pr_{c}") for c in extra],
            )
            base = base.join(p, "prediction_id", "left")
        for c in extra:
            gt_c = f"__gt_{c}" if gt_attrs is not None else None
            pr_c = f"__pr_{c}" if pred_attrs is not None else None
            cols = [F.col(x) for x in (gt_c, pr_c) if x]
            base = base.withColumn(c, F.coalesce(*cols) if cols else F.lit(None))
        base = base.drop(
            *[f"__gt_{c}" for c in extra if gt_attrs is not None],
            *[f"__pr_{c}" for c in extra if pred_attrs is not None],
        )
    return base


def precision_recall_curves(
    matches: DataFrame,
    ious: Sequence[float] = (0.5,),
    group_cols: Sequence[str] = ("category_id",),
    gt_attrs: DataFrame | None = None,
    pred_attrs: DataFrame | None = None,
) -> DataFrame:
    """PR curve per (group × iou_threshold), reference construction.

    Output: group cols + ``iou_threshold, confidence, precision,
    recall, precision_env`` — distinct-confidence-collapsed, extremal
    points included, ``precision_env`` monotone.
    """
    groups = list(group_cols)
    results = _results_table(matches, groups, gt_attrs, pred_attrs)

    keys = groups + ["iou_threshold"]

    # distinct-confidence collapse (reference util.py:228-234: keep the
    # LAST cumulative point of each equal-confidence run) == cumulative
    # sums over PER-CONFIDENCE aggregates. Aggregating first is the
    # scale move: the groupBy pre-aggregates map-side, so the exchange
    # carries one row per (group, distinct confidence) instead of every
    # result row, and the windows below run over that tiny frame — no
    # multi-million-row sort in |groups| tasks. It is also order-free,
    # so no tie-break is needed for determinism. The iou_threshold
    # fan-out happens AFTER the aggregate, as one conditional-sum
    # column per threshold exploded into rows: the big results frame is
    # scanned once regardless of len(ious), and only the tiny
    # aggregated frame replicates.
    per_conf_wide = results.groupBy(*groups, "confidence").agg(
        *[
            F.sum(
                (
                    F.col("is_groundtruth") & (F.col("iou") > F.lit(float(t)))
                ).cast("long")
            ).alias(f"__tp_{i}")
            for i, t in enumerate(ious)
        ],
        F.count(F.lit(1)).alias("__n_c"),
        F.sum(F.col("is_groundtruth").cast("long")).alias("__gt_c"),
    )
    per_conf = per_conf_wide.select(
        *groups,
        "confidence",
        "__n_c",
        "__gt_c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(t)).alias("iou_threshold"),
                        F.col(f"__tp_{i}").alias("__tp_c"),
                    )
                    for i, t in enumerate(ious)
                ]
            )
        ).alias("__e"),
    ).select(
        *groups,
        F.col("__e.iou_threshold").alias("iou_threshold"),
        "confidence",
        F.col("__e.__tp_c").alias("__tp_c"),
        "__n_c",
        "__gt_c",
    )
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(F.desc("confidence"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    curve = (
        per_conf.withColumn("__tp", F.sum("__tp_c").over(w_cum))
        .withColumn("__rank", F.sum("__n_c").over(w_cum))
        .withColumn("__ntargets", F.sum("__gt_c").over(w_all))
        .select(
            *keys,
            F.col("confidence"),
            (F.col("__tp").cast("double") / F.col("__rank")).alias("precision"),
            F.when(
                F.col("__ntargets") > 0,
                F.col("__tp").cast("double") / F.col("__ntargets"),
            )
            .otherwise(F.lit(None))
            .alias("recall"),
            F.lit(False).alias("is_pad"),
        )
    )
    # monotone envelope: running max of precision from the low-confidence
    # end (reference util.py:271 — np.maximum.accumulate reversed). The
    # pads' envelopes are statically known (head: precision 1.0 is the
    # global max; tail: lowest conf, nothing below it → its own 0.0).
    w_env = (
        Window.partitionBy(*keys)
        .orderBy(F.asc("confidence"), F.desc("recall"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = curve.withColumn("precision_env", F.max("precision").over(w_env))
    # extremal points (reference util.py:258-262): (recall 0, precision 1)
    # at confidence 1 and (recall last, precision 0) at confidence 0.
    # Emitted IN the same pass: a union of pad legs would re-run the
    # whole upstream (matcher included) once per leg — exchange reuse
    # does not cover the map-side python stage — so instead the first
    # row of each group carries a 3-element array (itself + both pads)
    # that explodes into the pad rows. One upstream pass total.
    w_rn = Window.partitionBy(*keys).orderBy(
        F.desc("confidence"), F.asc("recall")
    )
    point_cols = ["confidence", "precision", "recall", "is_pad", "precision_env"]
    main = F.struct(*point_cols)
    head = F.struct(
        F.lit(1.0).alias("confidence"),
        F.lit(1.0).alias("precision"),
        F.lit(0.0).alias("recall"),
        F.lit(True).alias("is_pad"),
        F.lit(1.0).alias("precision_env"),
    )
    tail = F.struct(
        F.lit(0.0).alias("confidence"),
        F.lit(0.0).alias("precision"),
        F.col("__last_recall").alias("recall"),
        F.lit(True).alias("is_pad"),
        F.lit(0.0).alias("precision_env"),
    )
    # window expressions can't sit inside a generator — project them to
    # plain columns first, then explode
    curve = curve.withColumn(
        "__last_recall", F.max("recall").over(w_all)
    ).withColumn("__rn", F.row_number().over(w_rn))
    points = F.when(
        F.col("__rn") == 1, F.array(main, head, tail)
    ).otherwise(F.array(main))
    exploded = curve.select(*keys, F.explode(points).alias("__p"))
    return exploded.select(*keys, *[F.col(f"__p.{c}").alias(c) for c in point_cols])


def average_precisions(
    curves: DataFrame,
    group_cols: Sequence[str] = ("category_id",),
    n_points: int = 101,
) -> DataFrame:
    """Both APs per (group × iou_threshold): ``average_precision``,
    the right Riemann sum of the enveloped precision over recall
    (reference ``util.py:305-321``), and ``ap``, the COCO-accumulate
    mean of ``n_points`` recall-grid samples. One exchange on the keys
    covers both aggregations: one row per distinct recall, then one
    recall-sorted array per key (exact and bounded: see module doc).
    """
    keys = [*group_cols, "iou_threshold"]
    # zero-groundtruth groups have NULL recall: as 0.0 every Δrecall is
    # 0 (Riemann AP 0.0), and every non-pad env is 0 (grid AP 0.0)
    first = F.struct(
        (-F.col("confidence")).alias("negc"),
        F.col("precision_env").alias("env"),
        "is_pad",
    )
    per_recall = (
        curves.repartition(*keys)
        .groupBy(*keys, F.coalesce("recall", F.lit(0.0)).alias("recall"))
        .agg(
            F.min(first).getField("env").alias("first_env"),
            F.max(F.when(~F.col("is_pad"), F.col("precision_env"))).alias(
                "grid_env"
            ),
        )
    )
    pts = per_recall.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct("recall", "first_env", "grid_env"))
        ).alias("__pts")
    )
    # SQL higher-order functions: one parser call each, where the
    # Column-lambda form costs a driver round trip per node
    # Riemann: fold (prev recall, sum) over the points; the first Δ is 0
    riemann = F.expr(
        "aggregate(__pts, named_struct('prev', __pts[0].recall, 's', 0D),"
        " (acc, x) -> named_struct('prev', x.recall,"
        " 's', acc.s + x.first_env * (x.recall - acc.prev)), acc -> acc.s)"
    )
    # grid sample at r: max non-pad envelope at recall ≥ r (array_max
    # skips the NULLs of pad-only recalls), 0 past max recall
    grid = f"transform(sequence(0, {n_points - 1}), i -> i / {n_points - 1}D)"
    mean_grid = F.expr(
        f"aggregate(transform({grid}, r -> coalesce(array_max(transform("
        "filter(__pts, x -> x.recall >= r), x -> x.grid_env)), 0D)),"
        f" 0D, (acc, p) -> acc + p) / {n_points}D"
    )
    return pts.select(
        *keys, riemann.alias("average_precision"), mean_grid.alias("ap")
    )


def compute_confusion_matrix(
    groundtruth: DataFrame,
    predictions: DataFrame,
    min_iou: float = 0.0,
    min_confidence: float = 0.0,
    label_col: str = "category_str",
    normalize: bool = True,
    matches: DataFrame | None = None,
) -> DataFrame:
    """Detection confusion matrix (reference
    ``detection_evaluator.py:180-380``): CATEGORY-AGNOSTIC greedy
    matches, labels joined back from both sides, then the reference's
    threshold split —

    - pairs with ``iou > min_iou`` (and all unmatched rows, ``iou`` 0)
      count as (gt_label, pred_label) cells;
    - pairs at ``0 < iou ≤ min_iou`` are too weak to be a match: the
      row DUPLICATES into a false negative (gt, None) AND a false
      positive (None, pred) (``detection_evaluator.py:326-350``);
    - predictions at ``confidence ≤ min_confidence`` count as missed
      (pred label → None, ``:353-356``); rows with both labels None
      drop (``:357-361``).

    Output: long-form (groundtruth_label, prediction_label, count[,
    share]) via :func:`confusion_counts` — pivot with
    ``confusion_matrix_pivot`` for the wide matrix.
    """
    from lours_spark.evaluation.confusion import confusion_counts
    from lours_spark.evaluation.matching import compute_matches

    if matches is None:  # facade memo skips the greedy pass
        matches = compute_matches(
            groundtruth, predictions, match_by_category=False
        )
    g = groundtruth.select(
        F.col("id").alias("groundtruth_id"),
        F.col(label_col).alias("groundtruth_label"),
    )
    p = predictions.select(
        F.col("id").alias("prediction_id"),
        F.col(label_col).alias("prediction_label"),
    )
    r = (
        matches.join(g, "groundtruth_id", "left")
        .join(p, "prediction_id", "left")
        .select(
            "groundtruth_label",
            "prediction_label",
            F.coalesce(F.col("iou"), F.lit(0.0)).alias("iou"),
            F.coalesce(F.col("confidence"), F.lit(0.0)).alias("confidence"),
        )
    )
    # one conditional-array explode instead of a strong/weak 3-leg
    # union: a union whose legs share the matcher subtree re-executes
    # the mapInArrow greedy kernel once PER LEG (exchange reuse does
    # not cover map-side Python stages) — measured 3-4x the matcher
    # cost on the composed pipeline before this restructure
    null_s = F.lit(None).cast("string")
    emitted = F.when(
        (F.col("iou") > min_iou) | (F.col("iou") == 0),
        F.array(
            F.struct(
                F.col("groundtruth_label").alias("g"),
                F.col("prediction_label").alias("p"),
            )
        ),
    ).otherwise(
        # 0 < iou <= min_iou: too weak to be a match — the row
        # duplicates into a false negative AND a false positive
        F.array(
            F.struct(F.col("groundtruth_label").alias("g"), null_s.alias("p")),
            F.struct(null_s.alias("g"), F.col("prediction_label").alias("p")),
        )
    )
    rows = r.select(F.explode(emitted).alias("e"), "confidence").select(
        F.col("e.g").alias("groundtruth_label"),
        F.col("e.p").alias("prediction_label"),
        "confidence",
    )
    rows = rows.withColumn(
        "prediction_label",
        F.when(
            F.col("confidence") <= min_confidence, F.lit(None).cast("string")
        ).otherwise(F.col("prediction_label")),
    ).filter(
        F.col("groundtruth_label").isNotNull()
        | F.col("prediction_label").isNotNull()
    )
    return confusion_counts(rows, normalize=normalize)


def _curves(
    groundtruth: DataFrame,
    predictions: DataFrame,
    ious: Sequence[float],
    group_cols: Sequence[str],
    rematch_per_iou: bool,
    gt_attrs: DataFrame | None = None,
    pred_attrs: DataFrame | None = None,
    matches: DataFrame | None = None,
) -> DataFrame:
    """The (unmaterialized) PR curve frame of
    :func:`compute_precision_recall`: one matching with thresholds
    applied at curve time, or one matching per threshold under
    ``rematch_per_iou``."""
    from lours_spark.evaluation.matching import compute_matches

    if not rematch_per_iou:
        # a caller-supplied matches frame (e.g. the DetectionEvaluator
        # facade's memo) skips the expensive greedy pass entirely;
        # rematch_per_iou=True ignores it — each threshold rematches
        # at its own acceptance by definition
        if matches is None:
            matches = compute_matches(groundtruth, predictions)
        return precision_recall_curves(
            matches, ious, group_cols, gt_attrs, pred_attrs
        )
    curves = None
    for t in ious:
        m = compute_matches(groundtruth, predictions, min_iou=float(t))
        c = precision_recall_curves(m, [t], group_cols, gt_attrs, pred_attrs)
        curves = c if curves is None else curves.unionByName(c)
    return curves


def compute_precision_recall(
    groundtruth: DataFrame,
    predictions: DataFrame,
    ious: Sequence[float] = (0.5,),
    group_cols: Sequence[str] = ("category_id",),
    rematch_per_iou: bool = False,
    gt_attrs: DataFrame | None = None,
    pred_attrs: DataFrame | None = None,
    matches: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """End-to-end multi-IoU grouped evaluation (reference
    ``compute_precision_recall(ious=[...], groups=...)``).

    ``rematch_per_iou=False`` (reference protocol): ONE greedy matching,
    thresholds applied at curve time — the cheap path (one matcher pass
    regardless of ``len(ious)``).
    ``rematch_per_iou=True`` (COCO protocol): one greedy matching per
    threshold at acceptance ``iou > t`` — what ``COCOeval`` does; read
    ``ap_grid`` for pycocotools-comparable numbers.

    Returns ``ap_both`` (both APs, one :func:`average_precisions`
    aggregation), its two AP columns as ``ap`` and ``ap_grid``, and the
    ``curves`` they read. The curve frame is materialized
    (``operators/_materialize.py``): a lazy persist is not enough — an
    action that consumes two outputs together (e.g. their join) would
    race to compute an unpopulated cache and run the matcher twice.

    One perfectly-matched prediction per groundtruth → AP 1.0:

    >>> gt = spark.createDataFrame(
    ...     [(i, 0, 0, 10.0 * i, 0.0, 8.0, 8.0) for i in range(3)],
    ...     "id long, image_id long, category_id int, box_x_min double,"
    ...     " box_y_min double, box_width double, box_height double")
    >>> pred = gt.select(
    ...     (F.col("id") + 100).alias("id"), "image_id", "category_id",
    ...     "box_x_min", "box_y_min", "box_width", "box_height",
    ...     (0.9 - F.col("id") * 0.1).alias("confidence"))
    >>> res = compute_precision_recall(gt, pred, ious=[0.5])
    >>> r = res["ap_both"].first()
    >>> (r["category_id"], r["iou_threshold"], round(r["average_precision"], 6))
    (0, 0.5, 1.0)
    """
    curves = _curves(
        groundtruth, predictions, ious, group_cols, rematch_per_iou,
        gt_attrs, pred_attrs, matches,
    )
    # materialize, NOT a bare persist: a persisted curve frame has no
    # unpersist path inside this function, so in local mode one
    # CacheManager entry would leak per call for the session's life
    from lours_spark.operators._materialize import materialize

    curves = materialize(curves)
    keys = [*group_cols, "iou_threshold"]
    ap_both = average_precisions(curves, group_cols)
    return {
        "curves": curves,
        "ap": ap_both.select(*keys, "average_precision"),
        "ap_grid": ap_both.select(*keys, "ap"),
        "ap_both": ap_both,
    }
