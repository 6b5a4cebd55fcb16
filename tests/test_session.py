"""The session's codegen cache: a warm pass compiles no generated class."""

from __future__ import annotations

import logging

from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from lours_spark.session import get_spark

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    """Classes compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_confs_read_back(spark):
    assert spark.conf.get(CACHE_CONF) == "2048"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_warm_evaluator_pass_reuses_compiled_classes(spark, tiny_dataset):
    """The evaluator's working set is above Spark's default of 100
    cached classes, so a second pass recompiled about 140 classes at
    the default. AQE sometimes plans one confusion-matrix join
    differently when its input stages finish in another order; that
    variant is new code and compiles 4 classes, so the bound is one
    variant, not zero."""
    from lours_spark.evaluation.detection_evaluator import CrowdDetectionEvaluator

    preds = tiny_dataset.from_template(
        annotations=tiny_dataset.annotations.withColumn(
            "id", F.col("id") + 10_000
        ).withColumn("confidence", (F.col("id") % 10).cast("double") / 10.0)
    )

    def one_pass():
        ev = CrowdDetectionEvaluator(tiny_dataset, model=preds)
        ev.compute_matches()
        _, aps = ev.compute_precision_recall(ious=[0.5, 0.75])
        aps.collect()
        ev.compute_confusion_matrix(min_iou=0.5).collect()
        stats, _ = ev.compute_count_error()
        stats.collect()
        ev.clear_cache()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before <= 4


def test_repeated_check_compiles_nothing(spark, tiny_dataset):
    """``check`` plans its legs concurrently; stage-numbered class names
    made identical stages miss the cache under another name."""
    tiny_dataset.check()
    before = _compiles(spark)
    for _ in range(4):
        tiny_dataset.check()
    assert _compiles(spark) - before == 0


def test_get_spark_warns_when_cache_size_not_applied(spark, caplog, monkeypatch):
    caplog.set_level(logging.WARNING, logger="lours_spark")
    get_spark("lours-tests", cpus=8, shuffle_partitions=8)
    assert not caplog.records

    # a session built elsewhere keeps its static confs
    real_get = RuntimeConfig.get

    def reports_default(self, key, *args, **kwargs):
        return "100" if key == CACHE_CONF else real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", reports_default)
    get_spark("lours-tests", cpus=8, shuffle_partitions=8)
    monkeypatch.undo()
    (record,) = caplog.records
    assert record.name == "lours_spark"
    assert record.levelno == logging.WARNING
    assert "is 100, not 2048" in record.getMessage()

    # a larger value asked of the running session is not applied either
    caplog.clear()
    get_spark("lours-tests", cpus=8, shuffle_partitions=8, extra_conf={CACHE_CONF: "4096"})
    assert spark.conf.get(CACHE_CONF) == "2048"
    assert "is 2048, not 4096" in caplog.records[0].getMessage()
