"""Shared "compute once, read from N consumer legs" materialization.

The default strategy is ``DataFrame.localCheckpoint``: blocks are
freed by the ContextCleaner when the Python frame drops (a
function-local ``cache()`` has no unpersist path once the result frame
is returned, so it leaks one CacheManager entry per call for the
session's life), and — unlike an unpopulated cache — concurrent
branches of one action cannot race its population (three legs of the
LSH pairs action each re-ran the dominant minhash pass up to 3×
against a cache still being populated).

EXECUTOR-LOSS CAVEAT: localCheckpoint blocks are NOT
recomputable. Spark documents it as unsafe with dynamic allocation —
if an executor holding checkpoint blocks is decommissioned (spot
reclaim, scale-down, failure), every downstream action fails
irrecoverably instead of recomputing the lineage as ``cache()`` would.
On clusters with executor churn set::

    spark.conf.set("spark.lours.materialize", "cache")

to fall back to ``persist()`` + an eager populating ``count()``. The
cache fallback recomputes on block loss but re-inherits the
session-lifetime CacheManager entry — callers on such clusters should
``spark.catalog.clearCache()`` (or unpersist by plan) at pipeline
boundaries.

``eager=False`` defers only the final result stage: building the
checkpoint RDD still runs the plan's shuffle map stages at call time
(on Spark 4.1.2 with AQE, a group-by frame starts one job inside the
call and two more on its first ``count()``). The first downstream
action that touches all partitions then writes the checkpoint blocks
as a side effect — it saves the separate populating job, not the
upstream shuffle work. Use it when such an action is guaranteed; an
eager site pays one extra job but is safe under partial-consumption
plans (e.g. a broadcast-build that only reads some partitions
first). ``eager`` only applies to
``localCheckpoint``: under ``cache`` the populating ``count()`` always
runs, because branches of one downstream action would otherwise race
the unpopulated cache and each recompute ``df``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

STRATEGY_CONF = "spark.lours.materialize"


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once for multi-leg consumption, per the
    session's ``spark.lours.materialize`` strategy (``localCheckpoint``
    default, ``cache`` for executor-churn clusters — see module doc)."""
    strategy = df.sparkSession.conf.get(STRATEGY_CONF, "localCheckpoint")
    if strategy == "cache":
        out = df.persist()
        out.count()  # always: see the module doc's population race
        return out
    return df.localCheckpoint(eager=eager)
