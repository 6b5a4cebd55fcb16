"""Atomic chunks: connected components over keep-separate groups.

Re-expresses reference ``lours/dataset/split/disjoint_groups.py:41-132``:
rows sharing any keep-separate group value must land in the same split,
so rows are nodes, shared group values are edges, and chunks are the
connected components.

One algorithm, two execution paths. :func:`atomic_chunks` reduces the
keep-separate groups to "star" edges (every row linked to its group's
min row id) and hands them to :func:`connected_components`, which
counts the edges exactly and then runs either a driver union-find
(small edge lists) or distributed min-label propagation (the same
algorithm GraphFrames uses, no driver materialization). Every frame
the graph pass re-reads is pinned through
``operators/_materialize.py::materialize``, so the session picks the
strategy. A single
keep-separate column needs no graph at all: its components are the
column's distinct values, one window.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def atomic_chunks(df: DataFrame, id_col: str, group_cols: list[str]) -> DataFrame:
    """Attach ``chunk_id`` = min ``id_col`` of the row's atomic chunk:
    rows are linked when they share a non-NULL value in any of
    ``group_cols``; a row with every group value NULL is its own chunk.

    With one group column ``id_col`` must be a primary key (the
    invariant ``Dataset.check()`` reports as ``duplicate_*_ids``): the
    chunks are then the column's distinct values. With several columns
    an id may repeat across rows and bridge their groups.

    >>> df = spark.createDataFrame(
    ...     [(0, "a", "x"), (1, "a", "y"), (2, "b", "y"), (3, None, None)],
    ...     "id long, g1 string, g2 string")
    >>> sorted(tuple(r) for r in atomic_chunks(df, "id", ["g1", "g2"])
    ...        .select("id", "chunk_id").collect())
    [(0, 0), (1, 0), (2, 0), (3, 3)]
    """
    ident = F.col(id_col)
    if len(group_cols) == 1:
        c = group_cols[0]
        return df.withColumn(
            "chunk_id",
            F.when(
                F.col(c).isNotNull(), F.min(id_col).over(Window.partitionBy(c))
            ).otherwise(ident),
        )
    # star edges: each row → its group's min id, one leg per column;
    # a self-edge (the group's min row itself) carries no link
    legs = [
        df.filter(F.col(c).isNotNull())
        .select(
            ident.alias("id_a"),
            F.min(id_col).over(Window.partitionBy(c)).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        for c in group_cols
    ]
    comp = connected_components(reduce(DataFrame.unionByName, legs)).select(
        F.col("node_id").alias("__node"), F.col("component_id").alias("__comp")
    )
    return (
        df.join(comp, ident == F.col("__node"), "left")
        .withColumn("chunk_id", F.coalesce(F.col("__comp"), ident))
        .drop("__node", "__comp")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    driver_threshold: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list → one row per
    member node: (node_id, component_id = min node id of component).

    Hybrid execution, sized by the EDGE list, not the corpus: dedup
    pair graphs are tiny relative to the data that produced them. The
    pair projection is materialized once and counted EXACTLY — the
    driver/distributed decision depends only on the true edge count
    (not a nondeterministic ``limit`` sample), and both paths reuse the
    materialized projection so the pair-mining pipeline runs once either
    way. At or under ``driver_threshold`` edges a ``collect()`` feeds a
    union-find on the driver; bigger graphs run iterative distributed
    min-label propagation over node→neighbor min-joins (O(component
    diameter) rounds, ONE materializing job per round — the
    convergence check scans the round's materialized output) — the
    same algorithm GraphFrames uses, no driver materialization.

    >>> pairs = spark.createDataFrame(
    ...     [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    >>> comp = {r["node_id"]: r["component_id"]
    ...         for r in connected_components(pairs).collect()}
    >>> comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    True
    >>> stats = {}
    >>> _ = connected_components(pairs, driver_threshold=0,
    ...                          stats=stats).collect()
    >>> stats["path"], stats["edges"], stats["rounds"] <= 3
    ('distributed', 3, True)
    """
    from lours_spark.operators._materialize import materialize

    # materialize the (tiny) edge projection once: the exact count
    # decides the path (and is the action that fills the lazy pin), and
    # every downstream action — driver collect or per-round joins —
    # reads this instead of re-running the pair-mining pipeline that
    # produced the edges (at sf0.1 that re-mining was ~2.5s/round
    # against milliseconds for the joins)
    pe = materialize(
        pairs.select(F.col(src).alias("__a"), F.col(dst).alias("__b")),
        eager=False,
    )
    n_edges = pe.count()
    if stats is not None:  # observability for scale evidence (SCALING.md)
        stats["edges"] = n_edges
        stats["path"] = "driver" if n_edges <= driver_threshold else "distributed"
        stats["rounds"] = 0
    if n_edges <= driver_threshold:
        sample = pe.collect()
        pe.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in sample:
            a, b = find(row[0]), find(row[1])
            if a != b:
                parent[max(a, b)] = min(a, b)
        nodes = sorted({v for row in sample for v in (row[0], row[1])})
        comp = [(n, find(n)) for n in nodes]
        # node ids keep the edge columns' (widened) type: string-keyed
        # graphs included, exactly as the distributed path returns them
        t = pe.select("__a").union(pe.select("__b")).schema[0].dataType
        return pairs.sparkSession.createDataFrame(
            comp, f"node_id {t.simpleString()}, component_id {t.simpleString()}"
        )

    # size the propagation's partitioning to the measured edge count
    # (~500k edges/partition): per-round job overhead at tiny edge
    # counts is otherwise dominated by empty-task scheduling, while at
    # scale the cap keeps partitions executor-memory-sized
    spark = pairs.sparkSession
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_parts = max(1, min(default_parts, -(-n_edges // 500_000)))
    edges = materialize(
        pe.select(F.col("__a").alias("node_id"), F.col("__b").alias("__nbr"))
        .unionByName(
            pe.select(F.col("__b").alias("node_id"), F.col("__a").alias("__nbr"))
        )
        .repartition(n_parts, "node_id")
    )
    pe.unpersist()
    labels = (
        edges.select("node_id")
        .distinct()
        # co-partition with edges ONCE: every round's label join is
        # then exchange-free (see the push-form comment below)
        .repartition(n_parts, "node_id")
        .withColumn("label", F.col("node_id"))
    )
    pinned = labels  # the previous round's pinned frame; the seed is not pinned
    for _ in range(max_iter):
        # PUSH form: joining edges to labels on __nbr (the pull form)
        # would use a key neither frame is partitioned by and cost three
        # exchanges per round (re-hash both join legs + the groupBy).
        # The edge list is symmetric ((a,b) and (b,a) both present), so
        # "min over my neighbors' labels" == "min over labels pushed to
        # me along edges": join edges⋈labels on node_id (both already
        # hash(node_id, n_parts) → NO exchange), send each label to the
        # edge's other end and back to its own node (posexplode position
        # 1: every node has an edge, so the aggregate sees its old
        # label), and aggregate — ONE exchange per round, keyed by the
        # explicit repartition so the next round's join is exchange-free
        # too. The round reads the previous labels ONCE: a second read
        # (a separate old⋈new merge join) doubles the logical plan per
        # round under the cache strategy, which does not cut the plan
        # as a checkpoint does (9 rounds ran the driver out of heap).
        # ONE materializing job per round: the convergence probe only
        # scans the pinned output. Once this round is pinned the
        # previous one is released, so under the cache strategy only
        # the returned frame stays cached.
        merged = materialize(
            edges.join(labels, "node_id")
            .select(
                F.posexplode(F.array("__nbr", "node_id")).alias("__self", "node_id"),
                "label",
            )
            .repartition(n_parts, "node_id")
            .groupBy("node_id")
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("__self") == 1, F.col("label"))).alias("__old"),
            )
            .withColumn("__changed", F.col("label") != F.col("__old"))
        )
        pinned.unpersist()
        pinned, labels = merged, merged.select("node_id", "label")
        if stats is not None:
            stats["rounds"] += 1
        if merged.filter("__changed").limit(1).count() == 0:
            break
    else:
        edges.unpersist()
        pinned.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "— long-chain components would be silently split into "
            "several clusters. Raise max_iter (one round per graph hop; "
            "near-dup clusters are normally diameter <= 6)."
        )
    edges.unpersist()
    return labels.select("node_id", F.col("label").alias("component_id"))
