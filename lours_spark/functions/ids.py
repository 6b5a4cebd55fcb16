"""Scalable id assignment.

A bare ``row_number().over(Window.orderBy(...))`` funnels every row
through ONE task — the classic global-sort bottleneck. This module
provides the two-phase shape that stays parallel:

1. ``repartitionByRange`` on the order columns (sampled range
   boundaries, equal keys co-located) + in-partition sort;
2. partition-local ``row_number`` + a collected per-partition count
   prefix-sum added as an offset (one tiny action, |partitions| rows).

Result is identical to the global row_number when the order columns
form a total order (callers append the id as a tie-break).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lours_spark.operators._materialize import materialize


def global_row_number(
    df: DataFrame,
    order_cols: list[Column | str],
    out_col: str = "row_number",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a contiguous 0-based (plus ``start``) global row number in
    ``order_cols`` order without a single-partition window.

    >>> df = spark.createDataFrame([("c",), ("a",), ("b",)], "k string")
    >>> out = global_row_number(df, ["k"], start=10)
    >>> sorted((r["k"], r["row_number"]) for r in out.collect())
    [('a', 10), ('b', 11), ('c', 12)]
    """
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # size-aware: a source narrow enough to sit in ≤4 partitions gains
    # nothing from the two-phase shape (its single-window sort touches
    # the same few partitions) and skips the pin + extra action
    if df.rdd.getNumPartitions() <= 4:
        w = Window.orderBy(*cols)
        return df.withColumn(out_col, F.row_number().over(w) - 1 + start)
    arranged = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    with_pid = arranged.withColumn("__pid", F.spark_partition_id())
    # repartitionByRange SAMPLES boundaries per job — pin the rows so
    # the counts pass, the numbering pass, and every downstream action
    # see the SAME partitioning; the counts pass reads every partition,
    # so it is the action that fills the pin
    with_pid = materialize(with_pid, eager=False)
    counts = (
        with_pid.groupBy("__pid").count().orderBy("__pid").collect()
    )
    offsets: dict[int, int] = {}
    acc = start
    for r in counts:
        offsets[r["__pid"]] = acc
        acc += r["count"]
    pairs = []
    for pid, off in offsets.items():
        pairs.append(F.lit(pid))
        pairs.append(F.lit(off))
    offset_expr = (
        F.create_map(*pairs)[F.col("__pid")] if pairs else F.lit(start)
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        with_pid.withColumn(
            out_col, F.row_number().over(w) - 1 + offset_expr
        )
        .drop("__pid")
    )
