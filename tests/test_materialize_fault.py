"""Executor loss under the session-chosen materialization strategy.

On a cluster master :func:`~lours_spark.operators._materialize.materialize`
must pin frames with ``persist()`` + ``count()``, whose blocks Spark
recomputes from lineage when an executor dies; a lost
``localCheckpoint`` block fails the next action for good. The test
runs its own ``local-cluster`` application in a subprocess (the
session fixture's ``local[8]`` context stays untouched), kills one
executor right after a materialize call, and checks that the pipeline
still returns the rows of an unkilled run in the same session.

It starts a 3-executor cluster, so it is opt-in: ``LOURS_FAULT_TESTS=1``.
Run the child directly with ``python tests/test_materialize_fault.py``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    os.environ.get("LOURS_FAULT_TESTS") != "1",
    reason="starts a local-cluster application; set LOURS_FAULT_TESTS=1",
)
def test_materialize_survives_executor_loss():
    env = dict(os.environ, PYTHONPATH=_REPO)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=_REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
    assert "minhash_lsh_pairs ok" in proc.stdout
    assert "compute_precision_recall ok" in proc.stdout


def _kill_one_executor(spark) -> None:
    sc = spark.sparkContext._jsc.sc()
    ids = sorted(sc.getExecutorIds().mkString(",").split(","))
    assert sc.killExecutor(ids[0])
    deadline = time.time() + 60
    while len(sc.getExecutorIds().mkString(",").split(",")) >= len(ids):
        assert time.time() < deadline, "executor was not removed"
        time.sleep(0.5)


def _child() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import lours_spark.operators._materialize as mat
    import lours_spark.operators.dedup as dd
    from lours_spark.evaluation.evaluator import compute_precision_recall
    from lours_spark.suite import _jittered_pred, _matcher_ann
    from test_plans import SF  # the sf0.001 tables the plan tests read

    spark = (
        SparkSession.builder.master("local-cluster[3,1,1024]")
        .appName("lours-fault")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.shuffle.partitions", "6")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", _REPO)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext._jsc.sc()
    deadline = time.time() + 120
    while len(sc.getExecutorIds().mkString(",").split(",")) < 3:
        assert time.time() < deadline, "executors did not register"
        time.sleep(0.5)

    # no conf set: a local-cluster master picks the recomputable cache
    assert mat.materialize(spark.range(10)).storageLevel.useMemory
    spark.catalog.clearCache()

    real = mat.materialize
    armed = []

    def spy(df, eager=True):
        out = real(df, eager=eager)
        if armed:
            armed.pop()
            _kill_one_executor(spark)
        return out

    dd.materialize = spy
    mat.materialize = spy

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def pairs():
        return sorted(
            tuple(r)
            for r in dd.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
        )

    want = pairs()
    armed.append(1)
    got = pairs()
    assert not armed and got == want and want, (len(got), len(want))
    print("minhash_lsh_pairs ok", len(got), flush=True)

    ann = _matcher_ann(spark, SF)
    pred = _jittered_pred(ann).filter(F.col("id") % 5 != 0)

    def ap_both():
        res = compute_precision_recall(
            ann, pred, ious=[0.2, 0.5], group_cols=["category_id"]
        )
        return sorted(
            tuple(r)
            for r in res["ap_both"]
            .select(
                "category_id",
                "iou_threshold",
                F.round("average_precision", 6),
                F.round("ap", 6),
            )
            .collect()
        )

    want = ap_both()
    armed.append(1)
    got = ap_both()
    assert not armed and got == want and want, (got, want)
    print("compute_precision_recall ok", len(got), flush=True)
    spark.stop()


if __name__ == "__main__":
    _child()
