"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness-at-scale: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow enabled for every
pandas boundary, and a shuffle-partition count that tracks cores locally
but should be raised (or left to AQE) on a real cluster.

Two defaults let a session compile each generated Java class once. The
library rebuilds its plans on every call, so Spark generates the same
classes again, and its codegen cache (keyed on the generated source)
should hand back the compiled class:

- ``spark.sql.codegen.cache.maxEntries=2048``. One detection-evaluation
  run (matching, PR/AP, confusion, count error) needs about 155
  distinct classes, one incremental curation run about 145, and all
  106 suite queries about 1,180 (sf0.01). At Spark's default of 100
  entries the LRU evicts every class before the next run asks for it,
  so each warm run recompiled about 150 classes. The conf is static: it only takes
  effect when the builder creates the SparkContext.
- ``spark.sql.codegen.useIdInClassName=false``. Whole-stage classes
  otherwise embed their codegen stage id in their name, and AQE numbers
  the stages of concurrently planned legs (``SparkDataset.check``'s
  cross join) in a timing-dependent order, so an identical stage could
  miss the cache under another name.

With both, a warm run of either perfbench workload compiles nothing
(4-core host, ``scripts/codegen_probe.py``).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

logger = logging.getLogger("lours_spark")

_CODEGEN_CACHE_ENTRIES = 2048
_CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def get_spark(
    app_name: str = "lours-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Parameters
    ----------
    cpus:
        local[] parallelism; defaults to $SPARK_GRAFT_CPUS or "*".
    shuffle_partitions:
        default shuffle width; AQE coalesces down at runtime so a
        slightly-high value is safe.

    A session this call did not create keeps its static confs, so
    ``get_spark`` logs a WARNING on the ``lours_spark`` logger when the
    returned session's codegen cache is smaller than requested.

    >>> s = get_spark("doctest-session")
    >>> s.conf.get("spark.sql.adaptive.enabled")
    'true'
    >>> s.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    'true'
    >>> s.conf.get("spark.sql.codegen.cache.maxEntries")
    '2048'
    >>> s.conf.get("spark.sql.codegen.useIdInClassName")
    'false'
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(_CODEGEN_CACHE_CONF, str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    wanted = int(extra_conf.get(_CODEGEN_CACHE_CONF, _CODEGEN_CACHE_ENTRIES))
    have = int(spark.conf.get(_CODEGEN_CACHE_CONF))
    if have < wanted:
        logger.warning(
            "%s is %d, not %d: the SparkSession existed before get_spark and "
            "static confs apply only when a session is created, so warm runs "
            "recompile generated classes the cache evicts",
            _CODEGEN_CACHE_CONF,
            have,
            wanted,
        )
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver's synthetic star-schema tables as DataFrames."""
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TABLES}
