"""The engine's query suite: one entry per SURVEY §2 operator family.

Each query is a (spark, sf_dir) → DataFrame callable exercising the
REAL library code paths (facade, functions, operators, evaluation) over
the driver's synthetic tables, paired with an equivalent DuckDB oracle
SQL string for the correctness gate.

Determinism rules used throughout (so value-hashes match the oracle):

- money/measure sums go through ``decimal(28,6)`` (see ``_dsum``) so
  the result is exact regardless of parallel summation order, then
  cast to double;
- averages are exact-sum / count double divisions;
- every hash is the md5-based portable hash (identical in DuckDB);
- every window and LIMIT has a total-order tie-break;
- genuinely order-free float reductions (cosine) are computed strictly
  left-to-right in BOTH engines so they agree bitwise.

The gate registry is CONSOLIDATED to exactly 50 queries; combined
names map back to their facets:

>>> len(QUERIES), len(ALL_QUERIES)
(50, 106)
>>> GATE_FACETS["knn_label"]
['knn_label', 'ivf_topk']
>>> sorted(GATE_FACETS["balanced_split"])
['balanced_split', 'simple_split']
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lours_spark.dataset.core import SparkDataset

QueryFn = Callable[[SparkSession, str], DataFrame]

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # two generations of the events table exist: TIMESTAMP(NANOS)
        # (Spark's reader rejects it unless nanos are read as raw longs
        # and rebuilt) and plain TIMESTAMP/TIMESTAMP_NTZ micros (read
        # natively). Sniff the loaded type and normalize both to a
        # microsecond timestamp in a UTC session so rendering matches
        # the oracle's naive values.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type in ("bigint", "long"):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col, alias: str):
    """Order-independent exact sum: decimal accumulate, double output."""
    return F.sum(col.cast("decimal(28,6)")).cast("double").alias(alias)


def dd_md5_long(expr: str, seed) -> str:
    """DuckDB twin of functions.text.md5_long (60-bit md5-prefix hash)."""
    return (
        "list_reduce(list_transform(generate_series(1,15), "
        "i -> CAST(strpos('0123456789abcdef', "
        f"substr(md5(concat('{seed}:', {expr})), i, 1)) - 1 AS BIGINT)), "
        "(a,b) -> a*16+b)"
    )


def dd_tokens(expr: str) -> str:
    return f"regexp_split_to_array(trim(lower({expr})), '\\s+')"


def dd_shingles(w: str, k: int = 3) -> str:
    grams = (
        f"list_transform(generate_series(1, len({w})-{k - 1}), "
        f"i -> concat_ws(' ', {', '.join(f'{w}[i+{j}]' for j in range(k))}))"
    )
    return (
        f"list_distinct(CASE WHEN len({w}) >= {k} THEN {grams} "
        f"ELSE [array_to_string({w}, ' ')] END)"
    )


def orders_dataset(spark: SparkSession, sf_dir: str) -> SparkDataset:
    """The facade over the synthetic star schema: orders play the image
    table, lineitems the annotation table (FK l_orderkey), lineitem
    line numbers the category dimension."""
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "id")
    lineitem = (
        _t(spark, sf_dir, "lineitem")
        .withColumn(
            "id", (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
        )
        .withColumn("image_id", F.col("l_orderkey").cast("long"))
        .withColumn("category_id", F.col("l_linenumber").cast("int"))
    )
    label_map = {i: f"line_{i}" for i in range(1, 8)}
    return SparkDataset(images=orders, annotations=lineitem, label_map=label_map)


_LINE_ID = "l_orderkey*10+l_linenumber"

# --------------------------------------------------------------------------
# relational core — TPC-H style headliners (aggregation/join machinery)
# --------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: multi-aggregate groupBy with filter pushdown."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    ext, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(ext, "sum_base_price"),
            _dsum(ext * (1 - disc), "sum_disc_price"),
            _dsum(ext * (1 - disc) * (1 + tax), "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  sum(CAST(l_quantity AS DECIMAL(28,6)))::DOUBLE AS sum_qty,
  sum(CAST(l_extendedprice AS DECIMAL(28,6)))::DOUBLE AS sum_base_price,
  sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6)))::DOUBLE AS sum_disc_price,
  sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(28,6)))::DOUBLE AS sum_charge,
  count(*) AS count_order,
  sum(CAST(l_quantity AS DECIMAL(28,6)))::DOUBLE / count(*) AS avg_qty,
  sum(CAST(l_extendedprice AS DECIMAL(28,6)))::DOUBLE / count(*) AS avg_price
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_SHIPPING_PRIORITY = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
  sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6)))::DOUBLE AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < '1998-03-15' AND l_shipdate > '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join with two broadcast dims."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


ORACLE_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
  sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6)))::DOUBLE AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1999-01-01'
GROUP BY n_name
"""


def q_revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate (pushdown showcase)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


ORACLE_REVENUE_FORECAST = """
SELECT sum(CAST(l_extendedprice*l_discount AS DECIMAL(28,6)))::DOUBLE AS revenue
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""

# --------------------------------------------------------------------------
# facade: filtering / semi-join propagation (SURVEY §2.2-2.3)
# --------------------------------------------------------------------------


def q_filter_images_semijoin(spark, sf_dir):
    """Dataset.loc: image-table filter; annotations follow by semi-join."""
    ds = orders_dataset(spark, sf_dir).filter_images(F.col("o_totalprice") > 300000)
    return ds.annotations.select("id", "image_id", "l_quantity", "l_extendedprice")


ORACLE_FILTER_IMAGES = f"""
SELECT {_LINE_ID} AS id, l_orderkey AS image_id, l_quantity, l_extendedprice
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
"""


def q_filter_annotations_emptied(spark, sf_dir):
    """Dataset.loc_annot with remove_emptied_images: drop images that
    lost all annotations, keep originally-empty ones."""
    ds = orders_dataset(spark, sf_dir).filter_annotations(
        F.col("l_quantity") >= 45, remove_emptied_images=True
    )
    return ds.images.select("id", "o_totalprice")


ORACLE_FILTER_ANNOT_EMPTIED = """
SELECT o_orderkey AS id, o_totalprice FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
   OR NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


def q_remove_empty_images(spark, sf_dir):
    """Semi-join: customers (as images) having ≥1 order (as annotation)."""
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "id")
    o = (
        _t(spark, sf_dir, "orders")
        .withColumnRenamed("o_orderkey", "id")
        .withColumn("image_id", F.col("o_custkey").cast("long"))
    )
    ds = SparkDataset(images=c, annotations=o).remove_empty_images()
    return ds.images.select("id", "c_name")


ORACLE_REMOVE_EMPTY = """
SELECT c_custkey AS id, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
"""


def q_anti_join_orphans(spark, sf_dir):
    """Anti-join (FK violation shape): customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select(F.col("c_custkey").alias("id"), "c_name", "c_acctbal")


ORACLE_ANTI_ORPHANS = """
SELECT c_custkey AS id, c_name, c_acctbal FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_denormalize_category(spark, sf_dir):
    """Label-map denormalization: category_str from a broadcast literal
    map (the reference's category_str recompute)."""
    ds = orders_dataset(spark, sf_dir).denormalize()
    return ds.annotations.select("id", "category_id", "category_str")


ORACLE_DENORMALIZE = f"""
SELECT {_LINE_ID} AS id, l_linenumber AS category_id,
       concat('line_', l_linenumber) AS category_str
FROM lineitem
"""

# --------------------------------------------------------------------------
# facade: remap / reindex (SURVEY §2.5)
# --------------------------------------------------------------------------


def q_remap_classes(spark, sf_dir):
    """remap_classes: literal-map id rewrite, unmapped rows dropped."""
    ds = orders_dataset(spark, sf_dir).remap_classes({1: 0, 2: 0, 3: 1})
    return ds.annotations.select("id", "category_id", "category_str")


ORACLE_REMAP = f"""
SELECT {_LINE_ID} AS id,
  CASE l_linenumber WHEN 1 THEN 0 WHEN 2 THEN 0 WHEN 3 THEN 1 END AS category_id,
  CASE l_linenumber WHEN 1 THEN 'line_1' WHEN 2 THEN 'line_1' WHEN 3 THEN 'line_3' END AS category_str
FROM lineitem WHERE l_linenumber IN (1,2,3)
"""


def q_remap_dense_rank(spark, sf_dir):
    """Sequential-id remap (darknet export): dense_rank over the sparse
    id space."""
    l = _t(spark, sf_dir, "lineitem").select("l_suppkey").distinct()
    w = Window.orderBy("l_suppkey")
    return l.withColumn("new_id", F.dense_rank().over(w) - 1).select(
        F.col("l_suppkey").alias("old_id"), "new_id"
    )


ORACLE_DENSE_RANK = """
SELECT l_suppkey AS old_id, dense_rank() OVER (ORDER BY l_suppkey) - 1 AS new_id
FROM (SELECT DISTINCT l_suppkey FROM lineitem)
"""


def q_reset_index(spark, sf_dir):
    """reset_index: contiguous image ids by path order, FK rewritten,
    annotation ids renumbered by (image_id, id)."""
    c = (
        _t(spark, sf_dir, "customer")
        .withColumnRenamed("c_custkey", "id")
        .withColumn("relative_path", F.col("c_name"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .withColumnRenamed("o_orderkey", "id")
        .withColumn("image_id", F.col("o_custkey").cast("long"))
    )
    ds = SparkDataset(images=c, annotations=o).reset_index()
    return ds.annotations.select("id", "image_id", "o_totalprice")


ORACLE_RESET_INDEX = """
WITH m AS (
  SELECT c_custkey AS old_id,
         row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS new_id
  FROM customer
)
SELECT row_number() OVER (ORDER BY m.new_id, o.o_orderkey) - 1 AS id,
       m.new_id AS image_id, o.o_totalprice
FROM orders o JOIN m ON o.o_custkey = m.old_id
"""


def q_match_index(spark, sf_dir):
    """match_index: id alignment between two datasets via a shared key."""
    c = _t(spark, sf_dir, "customer")
    a = SparkDataset(
        images=c.select(
            F.col("c_custkey").alias("id"), F.col("c_name").alias("relative_path")
        ),
        annotations=c.limit(0).select(
            F.col("c_custkey").alias("id"), F.col("c_custkey").alias("image_id")
        ),
    )
    b = SparkDataset(
        images=c.select(
            (F.col("c_custkey") + 1000000).alias("id"),
            F.col("c_name").alias("relative_path"),
        ),
        annotations=a.annotations,
    )
    return a.match_index(b)


ORACLE_MATCH_INDEX = """
SELECT c_custkey AS old_id, c_custkey + 1000000 AS new_id FROM customer
"""

# --------------------------------------------------------------------------
# facade: merge / diff (SURVEY §2.3)
# --------------------------------------------------------------------------


def q_merge_datasets(spark, sf_dir):
    """Dataset merge with provenance columns (mark_origin)."""
    base = orders_dataset(spark, sf_dir)
    a = base.filter_images(F.col("o_totalprice") < 150000)
    b = base.filter_images(F.col("o_totalprice") > 350000)
    a = a.from_template(dataset_name="small")
    b = b.from_template(dataset_name="large")
    merged = a.merge(b, mark_origin=True)
    return merged.images.select("id", "o_totalprice", "origin")


ORACLE_MERGE = """
SELECT o_orderkey AS id, o_totalprice, 'small' AS origin
FROM orders WHERE o_totalprice < 150000
UNION ALL
SELECT o_orderkey AS id, o_totalprice, 'large' AS origin
FROM orders WHERE o_totalprice > 350000
"""


def q_diff_three_way(spark, sf_dir):
    """Three-way diff: full-outer join with null-safe row equality."""
    base = orders_dataset(spark, sf_dir)
    a = base.filter_images(F.col("o_totalprice") < 300000)
    b = base.filter_images(F.col("o_totalprice") > 100000)
    return a.diff(b)["status"]


ORACLE_DIFF = """
WITH a AS (SELECT * FROM orders WHERE o_totalprice < 300000),
     b AS (SELECT * FROM orders WHERE o_totalprice > 100000)
SELECT coalesce(a.o_orderkey, b.o_orderkey) AS id,
  CASE WHEN b.o_orderkey IS NULL THEN 'left_only'
       WHEN a.o_orderkey IS NULL THEN 'right_only'
       ELSE 'common' END AS diff_status
FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
"""

# --------------------------------------------------------------------------
# pivot/unpivot: booleanize (SURVEY §2.7)
# --------------------------------------------------------------------------

_BOOL_DOMAIN = ["data", "join", "query", "spark"]


def q_booleanize(spark, sf_dir):
    from lours_spark.functions.text import tokens
    from lours_spark.operators.booleanize import booleanize

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("words")
    )
    out, _ = booleanize(d, "words", domain=_BOOL_DOMAIN)
    return out.select("doc_id", *[f"`words.{v}`" for v in _BOOL_DOMAIN])


ORACLE_BOOLEANIZE = f"""
SELECT doc_id,
  {', '.join(f'''list_contains({dd_tokens('text')}, '{v}') AS "words.{v}"''' for v in _BOOL_DOMAIN)}
FROM documents
"""


def q_debooleanize(spark, sf_dir):
    from lours_spark.functions.text import tokens
    from lours_spark.operators.booleanize import booleanize, debooleanize

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("words")
    )
    wide, _ = booleanize(d, "words", domain=_BOOL_DOMAIN)
    back = debooleanize(wide, "words")
    return back.select(
        "doc_id", F.concat_ws(",", F.col("words")).alias("present_words")
    )


ORACLE_DEBOOLEANIZE = f"""
SELECT doc_id,
  coalesce(array_to_string(list_sort(list_filter(
    {_BOOL_DOMAIN!r}, v -> list_contains({dd_tokens('text')}, v))), ','), '') AS present_words
FROM documents
"""

# --------------------------------------------------------------------------
# geometry: bbox converter / cap / validity / IoU (SURVEY §2.6)
# --------------------------------------------------------------------------

#: deterministic synthetic boxes from lineitem measures (the testdata has
#: no real boxes; arithmetic is what's under test)
def _box_src():
    return {
        "cx": F.col("l_extendedprice") / 100.0,
        "cy": F.col("l_quantity") * 10.0,
        "w": F.col("l_discount") * 100.0 + 5.0,
        "h": F.col("l_tax") * 100.0 + 5.0,
    }
_DD_BOX = {
    "cx": "l_extendedprice/100.0",
    "cy": "l_quantity*10.0",
    "w": "l_discount*100.0+5.0",
    "h": "l_tax*100.0+5.0",
}


def _boxes(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    box = _box_src()
    return l.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("id"),
        F.col("l_orderkey").cast("long").alias("image_id"),
        box["cx"].alias("bcx"),
        box["cy"].alias("bcy"),
        box["w"].alias("bw"),
        box["h"].alias("bh"),
    )


def q_bbox_import_cxcywh(spark, sf_dir):
    """import_bbox: center+size absolute → canonical XYWH (pure column
    arithmetic, codegen'd)."""
    from lours_spark.functions.bbox import import_bbox

    return import_bbox(
        _boxes(spark, sf_dir), "CXCYWH", ["bcx", "bcy", "bw", "bh"]
    ).select("id", "box_x_min", "box_y_min", "box_width", "box_height")


ORACLE_BBOX_IMPORT = f"""
SELECT {_LINE_ID} AS id,
  ({_DD_BOX['cx']}) - ({_DD_BOX['w']})/2 AS box_x_min,
  ({_DD_BOX['cy']}) - ({_DD_BOX['h']})/2 AS box_y_min,
  ({_DD_BOX['w']}) AS box_width,
  ({_DD_BOX['h']}) AS box_height
FROM lineitem
"""


def q_bbox_export_xyxy(spark, sf_dir):
    """import → export roundtrip into corner format XYXY."""
    from lours_spark.functions.bbox import export_bbox, import_bbox

    canonical = import_bbox(
        _boxes(spark, sf_dir), "CXCYWH", ["bcx", "bcy", "bw", "bh"]
    )
    return export_bbox(canonical, "XYXY").select(
        "id", "box_x_min", "box_y_min", "box_x_max", "box_y_max"
    )


ORACLE_BBOX_EXPORT = f"""
SELECT {_LINE_ID} AS id,
  ({_DD_BOX['cx']}) - ({_DD_BOX['w']})/2 AS box_x_min,
  ({_DD_BOX['cy']}) - ({_DD_BOX['h']})/2 AS box_y_min,
  (({_DD_BOX['cx']}) - ({_DD_BOX['w']})/2) + ({_DD_BOX['w']}) AS box_x_max,
  (({_DD_BOX['cy']}) - ({_DD_BOX['h']})/2) + ({_DD_BOX['h']}) AS box_y_max
FROM lineitem
"""


def q_bbox_relative(spark, sf_dir):
    """Relative-format import: needs the image-size broadcast join."""
    from lours_spark.functions.bbox import import_bbox

    images = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") % 1000) + 500).cast("int").alias("width"),
        ((F.col("o_orderkey") % 700) + 400).cast("int").alias("height"),
    )
    ann = _boxes(spark, sf_dir).select(
        "id",
        "image_id",
        (F.col("bcx") / 10000.0).alias("rcx"),
        (F.col("bcy") / 1000.0).alias("rcy"),
        (F.col("bw") / 1000.0).alias("rw"),
        (F.col("bh") / 1000.0).alias("rh"),
    )
    out = import_bbox(ann, "cxcywh", ["rcx", "rcy", "rw", "rh"], images=images)
    return out.select("id", "box_x_min", "box_y_min", "box_width", "box_height")


ORACLE_BBOX_RELATIVE = f"""
WITH img AS (
  SELECT o_orderkey AS image_id,
         CAST((o_orderkey % 1000) + 500 AS INT) AS w,
         CAST((o_orderkey % 700) + 400 AS INT) AS h
  FROM orders
), ann AS (
  SELECT {_LINE_ID} AS id, l_orderkey AS image_id,
    ({_DD_BOX['cx']})/10000.0 AS rcx, ({_DD_BOX['cy']})/1000.0 AS rcy,
    ({_DD_BOX['w']})/1000.0 AS rw, ({_DD_BOX['h']})/1000.0 AS rh
  FROM lineitem
)
SELECT ann.id,
  (rcx*w) - (rw*w)/2 AS box_x_min,
  (rcy*h) - (rh*h)/2 AS box_y_min,
  rw*w AS box_width, rh*h AS box_height
FROM ann JOIN img ON ann.image_id = img.image_id
"""


def q_cap_bbox(spark, sf_dir):
    """cap_bounding_box_coordinates: clip to image bounds."""
    from lours_spark.functions.bbox import import_bbox
    from lours_spark.functions.geometry import cap_bounding_box_coordinates

    images = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") % 600) + 100).cast("int").alias("width"),
        ((F.col("o_orderkey") % 400) + 100).cast("int").alias("height"),
    )
    ann = import_bbox(_boxes(spark, sf_dir), "CXCYWH", ["bcx", "bcy", "bw", "bh"])
    out = cap_bounding_box_coordinates(ann, images=images)
    return out.select("id", "box_x_min", "box_y_min", "box_width", "box_height")


ORACLE_CAP_BBOX = f"""
WITH img AS (
  SELECT o_orderkey AS image_id,
         CAST((o_orderkey % 600) + 100 AS INT) AS w,
         CAST((o_orderkey % 400) + 100 AS INT) AS h
  FROM orders
), ann AS (
  SELECT {_LINE_ID} AS id, l_orderkey AS image_id,
    ({_DD_BOX['cx']}) - ({_DD_BOX['w']})/2 AS x,
    ({_DD_BOX['cy']}) - ({_DD_BOX['h']})/2 AS y,
    ({_DD_BOX['w']}) AS bw, ({_DD_BOX['h']}) AS bh
  FROM lineitem
)
SELECT ann.id,
  greatest(0.0, x) AS box_x_min,
  greatest(0.0, y) AS box_y_min,
  greatest(0.0, least(x + bw, CAST(w AS DOUBLE)) - greatest(0.0, x)) AS box_width,
  greatest(0.0, least(y + bh, CAST(h AS DOUBLE)) - greatest(0.0, y)) AS box_height
FROM ann JOIN img ON ann.image_id = img.image_id
"""


def q_iou_pairs(spark, sf_dir):
    """Theta-join: per-image box pairs with IoU > 0 (equi-join on the
    group key + IoU post-condition)."""
    from lours_spark.functions.bbox import import_bbox
    from lours_spark.functions.geometry import pairwise_iou

    ann = import_bbox(_boxes(spark, sf_dir), "CXCYWH", ["bcx", "bcy", "bw", "bh"])
    # widen the probe side: the planner broadcasts the build side of
    # this self-join, so the whole theta-join (2.4M IoU evaluations at
    # sf0.1) otherwise executes on the scan's 1-3 single-row-group
    # splits — near-serial CPU. Keyed widen keeps an SMJ fallback
    # exchange-free on the left leg too.
    pairs = pairwise_iou(_widen_by(ann, "image_id"), ann, ["image_id"])
    return pairs.filter(
        (F.col("l_id") < F.col("r_id")) & (F.col("iou") > 0)
    ).select("image_id", "l_id", "r_id", "iou")


ORACLE_IOU_PAIRS = f"""
WITH ann AS (
  SELECT {_LINE_ID} AS id, l_orderkey AS image_id,
    ({_DD_BOX['cx']}) - ({_DD_BOX['w']})/2 AS x,
    ({_DD_BOX['cy']}) - ({_DD_BOX['h']})/2 AS y,
    ({_DD_BOX['w']}) AS w, ({_DD_BOX['h']}) AS h
  FROM lineitem
)
SELECT a.image_id, a.id AS l_id, b.id AS r_id,
  CASE WHEN (a.w*a.h + b.w*b.h -
        greatest(0.0, least(a.x+a.w, b.x+b.w) - greatest(a.x, b.x)) *
        greatest(0.0, least(a.y+a.h, b.y+b.h) - greatest(a.y, b.y))) > 0
  THEN (greatest(0.0, least(a.x+a.w, b.x+b.w) - greatest(a.x, b.x)) *
        greatest(0.0, least(a.y+a.h, b.y+b.h) - greatest(a.y, b.y))) /
       (a.w*a.h + b.w*b.h -
        greatest(0.0, least(a.x+a.w, b.x+b.w) - greatest(a.x, b.x)) *
        greatest(0.0, least(a.y+a.h, b.y+b.h) - greatest(a.y, b.y)))
  ELSE 0.0 END AS iou
FROM ann a JOIN ann b ON a.image_id = b.image_id AND a.id < b.id
WHERE greatest(0.0, least(a.x+a.w, b.x+b.w) - greatest(a.x, b.x)) *
      greatest(0.0, least(a.y+a.h, b.y+b.h) - greatest(a.y, b.y)) > 0
"""

# --------------------------------------------------------------------------
# evaluation: confusion / PR / AP / crowd (SURVEY §2.4, §2.10)
# --------------------------------------------------------------------------


def q_confusion_matrix(spark, sf_dir):
    """groupBy(gt,pred) counts + row-normalizing window."""
    from lours_spark.evaluation.confusion import confusion_counts

    l = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("groundtruth_label"),
        F.col("l_linestatus").alias("prediction_label"),
    )
    return confusion_counts(l)


ORACLE_CONFUSION = """
SELECT l_returnflag AS groundtruth_label, l_linestatus AS prediction_label,
  count(*) AS count,
  count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY l_returnflag) AS share
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_pr_curve(spark, sf_dir):
    """PR curve per group via confidence-descending window cumsum."""
    from lours_spark.operators.windows import pr_curve

    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.col("value").alias("confidence"),
        (F.col("user_id") < 75).cast("int").alias("is_tp"),
    )
    curve = pr_curve(
        e, ["event_type"], "confidence", "is_tp", tie_break="event_id"
    )
    return curve.select("event_id", "event_type", "precision", "recall")


ORACLE_PR_CURVE = """
WITH p AS (
  SELECT event_id, event_type, value AS confidence,
         CASE WHEN user_id < 75 THEN 1 ELSE 0 END AS is_tp
  FROM events
)
SELECT event_id, event_type,
  sum(is_tp) OVER w::DOUBLE / count(*) OVER w AS precision,
  CASE WHEN sum(is_tp) OVER (PARTITION BY event_type) > 0
    THEN sum(is_tp) OVER w::DOUBLE / sum(is_tp) OVER (PARTITION BY event_type)
    ELSE 0.0 END AS recall
FROM p
WINDOW w AS (PARTITION BY event_type ORDER BY confidence DESC, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_average_precision(spark, sf_dir):
    """AP per group = Σ precision·Δrecall (lag window + agg)."""
    from lours_spark.operators.windows import average_precision, pr_curve

    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.col("value").alias("confidence"),
        (F.col("user_id") < 75).cast("int").alias("is_tp"),
    )
    curve = pr_curve(e, ["event_type"], "confidence", "is_tp", tie_break="event_id")
    # tie-break must extend into the AP lag window for determinism
    curve = curve.withColumn(
        "confidence", F.col("confidence") - F.col("event_id") * 1e-12
    )
    ap = average_precision(curve, ["event_type"])
    return ap.select("event_type", F.round("average_precision", 6).alias("ap"))


ORACLE_AVERAGE_PRECISION = """
WITH p AS (
  SELECT event_id, event_type, value AS confidence,
         CASE WHEN user_id < 75 THEN 1 ELSE 0 END AS is_tp
  FROM events
), curve AS (
  SELECT event_type, value2 AS confidence,
    sum(is_tp) OVER w::DOUBLE / count(*) OVER w AS precision,
    CASE WHEN sum(is_tp) OVER (PARTITION BY event_type) > 0
      THEN sum(is_tp) OVER w::DOUBLE / sum(is_tp) OVER (PARTITION BY event_type)
      ELSE 0.0 END AS recall
  FROM (SELECT *, confidence - event_id * 1e-12 AS value2 FROM p)
  WINDOW w AS (PARTITION BY event_type ORDER BY confidence DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), withlag AS (
  SELECT event_type, precision,
    recall - coalesce(lag(recall) OVER (PARTITION BY event_type ORDER BY confidence DESC), 0.0) AS d
  FROM curve
)
SELECT event_type, round(sum(precision * d), 6) AS ap
FROM withlag GROUP BY event_type
"""


def q_crowd_count_error(spark, sf_dir):
    """Crowd-count error aggregates: MAE/RMSE/MRE/std/exact quantiles."""
    from lours_spark.evaluation.crowd import count_error_stats, per_image_counts

    e = _t(spark, sf_dir, "events")
    gt = e.select(F.col("user_id").alias("image_id"), F.col("event_id").alias("id"))
    pred = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("image_id"),
        F.col("event_id").alias("id"),
        (F.col("value") / 50.0).alias("confidence"),
    )
    counts = per_image_counts(gt, pred, confidence_threshold=0.2)
    stats = count_error_stats(counts)
    return stats.select(
        "n_images",
        F.round("mae", 6).alias("mae"),
        F.round("rmse", 6).alias("rmse"),
        F.round("mre", 6).alias("mre"),
        F.round("error_std", 6).alias("error_std"),
        F.round("error_q50", 6).alias("error_q50"),
    )


ORACLE_CROWD = """
WITH gt AS (
  SELECT user_id AS image_id, count(*) AS gt_count FROM events GROUP BY user_id
), pred AS (
  SELECT user_id AS image_id, count(*) AS pred_count
  FROM events WHERE event_type = 'click' AND value/50.0 >= 0.2
  GROUP BY user_id
), c AS (
  SELECT coalesce(gt.image_id, pred.image_id) AS image_id,
         coalesce(gt_count, 0) AS gt_count,
         coalesce(pred_count, 0) AS pred_count,
         coalesce(pred_count, 0) - coalesce(gt_count, 0) AS error
  FROM gt FULL OUTER JOIN pred ON gt.image_id = pred.image_id
)
SELECT count(*) AS n_images,
  round(avg(abs(error::DOUBLE)), 6) AS mae,
  round(sqrt(avg(error::DOUBLE * error)), 6) AS rmse,
  round(avg(abs(CASE WHEN gt_count > 0 THEN error::DOUBLE / gt_count END)), 6) AS mre,
  round(stddev_samp(error::DOUBLE), 6) AS error_std,
  round(quantile_cont(error::DOUBLE, 0.5), 6) AS error_q50
FROM c
"""

# --------------------------------------------------------------------------
# split subsystem (SURVEY §2.9)
# --------------------------------------------------------------------------


def q_hash_split(spark, sf_dir):
    """Deterministic hash split: per-split counts (engine-portable)."""
    from lours_spark.split.splitter import hash_split

    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "id")
    out = hash_split(o, {"train": 0.8, "valid": 0.1, "eval": 0.1})
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


ORACLE_HASH_SPLIT = """
WITH f AS (
  SELECT (((((o_orderkey::BIGINT % 4294967296) // 65536) * 2654435761) % 65536) * 65536
          + ((o_orderkey::BIGINT % 4294967296) % 65536) * 2654435761) % 4294967296 AS h
  FROM orders
)
SELECT CASE
  WHEN h::DOUBLE / 4294967296.0 < 0.8 THEN 'train'
  WHEN h::DOUBLE / 4294967296.0 < 0.9 THEN 'valid'
  ELSE 'eval' END AS split,
  count(*) AS n
FROM f GROUP BY 1
"""


def q_atomic_chunks(spark, sf_dir):
    """Atomic chunks over one keep-separate group column (the
    single-column window path of ``atomic_chunks``)."""
    from lours_spark.split.chunks import atomic_chunks

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("id"), "o_custkey"
    )
    return atomic_chunks(o, "id", ["o_custkey"]).select("id", "chunk_id")


ORACLE_ATOMIC_CHUNKS = """
SELECT o_orderkey AS id, min(o_orderkey) OVER (PARTITION BY o_custkey) AS chunk_id
FROM orders
"""


def q_balanced_split(spark, sf_dir):
    """Balanced greedy split (driver greedy over distributed chunk
    histograms), in the PORTABLE chunk order: the visit order is a
    seeded md5 of the chunk id, so the whole greedy assignment is a
    pure function of the collected histograms and the DuckDB oracle
    replays it hash-exactly as a recursive CTE
    (``_oracle_balanced_portable``). The python-Random reference-parity
    order stays the library default (``shuffle="python"``, covered by
    ``tests/test_split.py``); ``mode="exact"`` pins the sequential
    greedy the oracle replicates."""
    from lours_spark.split.balanced import balanced_split

    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "id")
    out = balanced_split(
        o,
        {"train": 0.8, "valid": 0.1, "eval": 0.1},
        dims=["o_orderpriority"],
        keep_separate=["o_custkey"],
        seed=42,
        mode="exact",
        shuffle="portable",
    )
    return out.groupBy("split", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_balanced_split_approx(spark, sf_dir):
    """Same split problem in the opt-in bounded-driver approximate mode
    (bench/scale-evidence only — the gate pins the exact greedy)."""
    from lours_spark.split.balanced import balanced_split

    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "id")
    out = balanced_split(
        o,
        {"train": 0.8, "valid": 0.1, "eval": 0.1},
        dims=["o_orderpriority"],
        keep_separate=["o_custkey"],
        seed=42,
        mode="approximate",
    )
    return out.groupBy("split", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# text analysis / dedup (training-data pipeline operators)
# --------------------------------------------------------------------------


def q_token_count(spark, sf_dir):
    from lours_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )


ORACLE_TOKEN_COUNT = f"""
SELECT doc_id, len({dd_tokens('text')}) AS n_tokens FROM documents
"""


def q_language_id(spark, sf_dir):
    from lours_spark.functions.text import language_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


def _oracle_language_id() -> str:
    from lours_spark.functions.text import LANG_STOPWORDS

    toks = dd_tokens("text")
    scores = {
        lang: f"len(list_intersect(list_distinct({toks}), {sw!r}))"
        for lang, sw in sorted(LANG_STOPWORDS.items())
    }
    best = f"greatest({', '.join(scores.values())})"
    cases = " ".join(
        f"WHEN {expr} = __best THEN '{lang}'" for lang, expr in scores.items()
    )
    return f"""
WITH scored AS (SELECT doc_id, text, {best} AS __best FROM documents)
SELECT doc_id,
  CASE WHEN __best = 0 THEN 'unknown' {cases} ELSE 'unknown' END AS lang_pred
FROM scored
"""


def q_quality_score(spark, sf_dir):
    from lours_spark.functions.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


def _oracle_quality() -> str:
    from lours_spark.functions.text import LANG_STOPWORDS

    toks = dd_tokens("text")
    sw = LANG_STOPWORDS["en"]
    return f"""
SELECT doc_id, round((
  (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END) +
  (CASE WHEN (CASE WHEN length(text) > 0
      THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE / length(text)
      ELSE 1.0 END) <= 0.2 THEN 1.0 ELSE 0.0 END) +
  (CASE WHEN len({toks}) > 0
        AND len(list_intersect(list_distinct({toks}), {sw!r})) >= 1
        THEN 1.0 ELSE 0.0 END)
) / 3.0, 6) AS quality
FROM documents
"""


def q_fingerprint_dedup(spark, sf_dir):
    """Exact dedup on the order-insensitive token fingerprint."""
    from lours_spark.operators.dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents")
    return exact_duplicates(d)


ORACLE_FINGERPRINT = f"""
WITH fp AS (
  SELECT doc_id,
    md5(array_to_string(list_sort(list_distinct({dd_tokens('text')})), ' ')) AS fingerprint
  FROM documents
)
SELECT min(doc_id) AS doc_id, fingerprint, count(*) AS group_size
FROM fp GROUP BY fingerprint
"""

_MH_HASHES = 4


def q_minhash_signature(spark, sf_dir):
    """Per-document MinHash signature (md5-portable hashes)."""
    from lours_spark.operators.dedup import with_minhash

    d = _t(spark, sf_dir, "documents")
    out = with_minhash(d, num_hashes=_MH_HASHES)
    return out.select("doc_id", *[f"mh_{i}" for i in range(_MH_HASHES)])


def _oracle_minhash() -> str:
    sh = dd_shingles(dd_tokens("text"))
    cols = ", ".join(
        f"list_min(list_transform(__sh, s -> {dd_md5_long('s', i)})) AS mh_{i}"
        for i in range(_MH_HASHES)
    )
    return f"""
WITH sh AS (SELECT doc_id, {sh} AS __sh FROM documents)
SELECT doc_id, {cols} FROM sh
"""


_LSH_HASHES = 8
_LSH_BANDS = 4
_LSH_THRESHOLD = 0.3


def q_minhash_lsh_pairs(spark, sf_dir):
    """Full MinHash-LSH dedup: band-bucket candidates + exact Jaccard
    verification."""
    from lours_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d,
        num_hashes=_LSH_HASHES,
        bands=_LSH_BANDS,
        jaccard_threshold=_LSH_THRESHOLD,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))


def _oracle_lsh() -> str:
    sh = dd_shingles(dd_tokens("text"))
    rows_per_band = _LSH_HASHES // _LSH_BANDS
    mh_cols = ", ".join(
        f"list_min(list_transform(__sh, s -> {dd_md5_long('s', i)})) AS mh_{i}"
        for i in range(_LSH_HASHES)
    )
    band_selects = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band, md5(concat_ws('_', {
            ', '.join(f'CAST(mh_{i} AS VARCHAR)' for i in range(b * rows_per_band, (b + 1) * rows_per_band))
        })) AS band_key FROM sig"""
        for b in range(_LSH_BANDS)
    )
    return f"""
WITH sh AS (SELECT doc_id, {sh} AS __sh FROM documents),
sig AS (SELECT doc_id, __sh, {mh_cols} FROM sh),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  round(len(list_intersect(sa.__sh, sb.__sh))::DOUBLE /
        (len(sa.__sh) + len(sb.__sh) - len(list_intersect(sa.__sh, sb.__sh))), 9) AS jaccard
FROM cand
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.__sh, sb.__sh))::DOUBLE /
      (len(sa.__sh) + len(sb.__sh) - len(list_intersect(sa.__sh, sb.__sh))) >= {_LSH_THRESHOLD}
"""


def q_minhash_incremental(spark, sf_dir):
    """Incremental MinHash-LSH near-dup mining: index the 'old' corpus
    slice (doc_id % 5 != 0), mine the 'new' drop (doc_id % 5 == 0)
    against it via ``minhash_lsh_pairs_incremental`` — old text is
    never re-shingled, old×old pairs never re-mined. Result equals the
    full-batch mining RESTRICTED to pairs touching a new doc, which is
    exactly what the oracle states (parity also pinned in
    tests/test_operators.py)."""
    from lours_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_incremental,
    )

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    index = build_minhash_index(old, num_hashes=_LSH_HASHES)
    pairs, _ = minhash_lsh_pairs_incremental(
        new,
        index,
        num_hashes=_LSH_HASHES,
        bands=_LSH_BANDS,
        jaccard_threshold=_LSH_THRESHOLD,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 9).alias("jaccard")
    )


def _oracle_minhash_incremental() -> str:
    return (
        f"SELECT * FROM ({_oracle_lsh()})\n"
        "WHERE id_a % 5 = 0 OR id_b % 5 = 0"
    )


def q_embedding_incremental(spark, sf_dir):
    """Incremental embedding near-dup mining: index the 'old' vector
    slice (vec_id % 5 != 0), mine the 'new' drop against it via
    ``embedding_near_dup_pairs_incremental`` — old vectors are never
    re-hashed, old×old pairs never re-mined. Same seeded plane family
    as the one-shot run (params resolve from the index stamp), so the
    result equals the full run restricted to new-sided pairs; the
    oracle is the exact all-pairs join so restricted (LSH recall =
    exact at this corpus, as for embedding_near_dup)."""
    from lours_spark.operators._materialize import materialize
    from lours_spark.operators.dedup import (
        build_embedding_index,
        embedding_near_dup_pairs_incremental,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # the natural table has no 0.95+ pairs — plant cross-batch
    # duplicates so the miner has real work in BOTH engines: every
    # 15th vector (a 'new' id) takes its old neighbor's embedding
    # (identical signatures → caught by every table; exact recall)
    donor = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("embedding").alias("__don"),
    )
    planted = (
        emb.join(donor, "vec_id", "left")
        .withColumn(
            "embedding",
            F.when(
                (F.col("vec_id") % 15 == 0) & F.col("__don").isNotNull(),
                F.col("__don"),
            ).otherwise(F.col("embedding")),
        )
        .drop("__don")
    )
    old = planted.filter(F.col("vec_id") % 5 != 0)
    new = planted.filter(F.col("vec_id") % 5 == 0)
    # materialize the inline-built index: a PRODUCTION index is a
    # parquet scan (cheap to re-reference), but this facet builds it
    # in-plan and the miner references the index side three times
    # (bucket rows + both verify legs) — unmaterialized, the BLAS pass
    # would run 3x
    index = materialize(build_embedding_index(old, threshold=0.95), eager=True)
    pairs, _ = embedding_near_dup_pairs_incremental(
        new, index, threshold=0.95
    )
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 9).alias("cosine")
    )


def _oracle_embedding_incremental() -> str:
    cos = _dd_cosine("a.embedding", "b.embedding")
    return f"""
WITH planted AS (
  SELECT e.vec_id,
    CASE WHEN e.vec_id % 15 = 0 AND d.embedding IS NOT NULL
      THEN d.embedding ELSE e.embedding END AS embedding
  FROM embeddings e
  LEFT JOIN embeddings d ON d.vec_id = e.vec_id + 1
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 9) AS cosine
FROM planted a JOIN planted b ON a.vec_id < b.vec_id
WHERE {cos} >= 0.95 AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)
"""


def q_minhash_hot_bucket(spark, sf_dir):
    """Hot-bucket stress facet (bench-only, like ``matcher_skew``):
    30% of the corpus collapses onto ONE boilerplate text — the
    crawl-shaped adversary for LSH bucketing (a single band bucket
    holding the whole family would be a quadratic pair fan-out and a
    multi-MB collect_list row). Runs ``minhash_lsh_pairs`` with
    ``max_bucket_size=128`` so the capped candidate stage (window
    count → skip → report) is MEASURED every round (the planted family
    is ~150 docs at sf0.01 and ~1.5k at sf0.1 — over the cap at both
    bench scales); output is the
    one-row cost summary (surviving pair count, skipped buckets, the
    hot bucket's size). Correctness of the cap is pytest-pinned in
    tests/test_operators.py::test_minhash_hot_bucket_cap."""
    from lours_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    boiler = F.lit(
        "subscribe to our newsletter terms of service apply copyright "
        "footer all rights reserved contact us today please"
    )
    docs = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 3, boiler)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    pairs, dropped = minhash_lsh_pairs(
        docs,
        jaccard_threshold=_LSH_THRESHOLD,
        num_hashes=_LSH_HASHES,
        bands=_LSH_BANDS,
        max_bucket_size=128,
        return_dropped=True,
    )
    return pairs.agg(F.count(F.lit(1)).alias("n_pairs")).crossJoin(
        dropped.agg(
            F.count(F.lit(1)).alias("n_dropped_buckets"),
            F.coalesce(F.max("bucket_size"), F.lit(0)).alias(
                "max_dropped_bucket"
            ),
        )
    )


def q_minhash_hot_bucket_star(spark, sf_dir):
    """Star-mode twin of ``minhash_hot_bucket`` (bench-only): the same
    planted boilerplate family and cap, but ``oversize="star"`` — the
    capped family still collapses via member↔min-id candidates, priced
    here every round so the O(bucket) claim has a measured number next
    to the skip-mode baseline. ``family_pairs`` counts the surviving
    hub pairs (= family size − 1 when every member verifies); the
    ledger columns match the skip-mode query. Star semantics are
    pytest-pinned in tests/test_operators.py::test_minhash_hot_bucket_star."""
    from lours_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    boiler = F.lit(
        "subscribe to our newsletter terms of service apply copyright "
        "footer all rights reserved contact us today please"
    )
    docs = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 3, boiler)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    pairs, dropped = minhash_lsh_pairs(
        docs,
        jaccard_threshold=_LSH_THRESHOLD,
        num_hashes=_LSH_HASHES,
        bands=_LSH_BANDS,
        max_bucket_size=128,
        return_dropped=True,
        oversize="star",
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(
            F.when((F.col("id_a") % 10 < 3) & (F.col("id_b") % 10 < 3), 1)
        ).alias("family_pairs"),
    ).crossJoin(
        dropped.agg(
            F.count(F.lit(1)).alias("n_dropped_buckets"),
            F.coalesce(F.max("bucket_size"), F.lit(0)).alias(
                "max_dropped_bucket"
            ),
        )
    )


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard similarity join via shingle inverted index."""
    from lours_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.3)
    return pairs.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))


def _oracle_ngram_jaccard() -> str:
    sh = dd_shingles(dd_tokens("text"))
    return f"""
WITH sh AS (SELECT doc_id, {sh} AS __sh FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(len(list_intersect(a.__sh, b.__sh))::DOUBLE /
        (len(a.__sh) + len(b.__sh) - len(list_intersect(a.__sh, b.__sh))), 9) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.__sh, b.__sh)) > 0
  AND len(list_intersect(a.__sh, b.__sh))::DOUBLE /
      (len(a.__sh) + len(b.__sh) - len(list_intersect(a.__sh, b.__sh))) >= 0.3
"""


_SIMHASH_BITS = 16


def q_simhash(spark, sf_dir):
    """Per-document SimHash value (bit-vote packing)."""
    from lours_spark.functions.text import simhash, tokens

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", simhash(tokens(F.col("text")), bits=_SIMHASH_BITS).alias("simhash")
    )


def _oracle_simhash() -> str:
    toks = dd_tokens("text")
    h = dd_md5_long("t", "simhash")
    bit_terms = " + ".join(
        f"""(CASE WHEN list_reduce(list_transform(__toks,
            t -> CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END),
            (a,b) -> a+b) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"""
        for b in range(_SIMHASH_BITS)
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS __toks FROM documents)
SELECT doc_id, {bit_terms} AS simhash FROM t
"""

# --------------------------------------------------------------------------
# embeddings: similarity search / near-dup
# --------------------------------------------------------------------------

_DD_DOT = (
    "list_reduce(list_transform(generate_series(1, {n}), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x,y) -> x+y)"
)
_DD_NORM = (
    "sqrt(list_reduce(list_transform(generate_series(1, {n}), "
    "i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE), (x,y) -> x+y))"
)
_EMB_DIM = 64


def _dd_cosine(a: str, b: str, n: int = _EMB_DIM) -> str:
    dot = _DD_DOT.format(a=a, b=b, n=n)
    na = _DD_NORM.format(a=a, n=n)
    nb = _DD_NORM.format(a=b, n=n)
    return (
        f"CASE WHEN {na} * {nb} > 0 THEN ({dot}) / ({na} * {nb}) ELSE 0.0 END"
    )


def q_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-k (ANN correctness baseline)."""
    from lours_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    topk = brute_force_topk(emb, queries, k=5)
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 9).alias("cosine")
    )


def _oracle_cosine_topk() -> str:
    cos = _dd_cosine("q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine
FROM ranked WHERE rank <= 5
"""


def q_knn_label(spark, sf_dir):
    """kNN majority-vote classification from the top-k neighbors."""
    from lours_spark.operators.similarity import brute_force_topk, knn_label

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    topk = brute_force_topk(emb, queries, k=5)
    out = knn_label(topk, emb)
    return out.select(
        "query_id",
        F.col("predicted_label").cast("long").alias("predicted_label"),
        F.col("votes").cast("long").alias("votes"),
    )


_IVF_CENTROID_IDS = 8
_IVF_PROBES = 3


def _fixed_centroids(emb):
    """Deterministic coarse centers shared by the ivf_topk and
    semantic_dedup gates: the embeddings of the first
    ``_IVF_CENTROID_IDS`` vec_ids, ordered by id — so list-index order
    equals vec_id order and the operators' ties-toward-lower-index
    argmin matches the oracles' ``ORDER BY dsq, cid`` tie-break even
    if the low ids are not contiguous. Returns (ids, vectors)."""
    rows = (
        emb.filter(F.col("vec_id") < _IVF_CENTROID_IDS)
        .orderBy("vec_id")
        .collect()
    )
    ids = [int(r["vec_id"]) for r in rows]
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    return ids, cents


def _dd_assigned_cte() -> str:
    """DuckDB CTE chain shared by the ivf_topk and semantic_dedup
    oracles: every embedding assigned to its argmin-L2 fixed coarse
    center (ties toward the lower centroid id), exposing
    ``dist(vec_id, embedding, cid, dsq)`` and
    ``assigned(vec_id, embedding, cid)``."""
    l2 = _DD_L2SQ.format(a="d.embedding", b="d.cvec", n=_EMB_DIM)
    return f"""cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id < {_IVF_CENTROID_IDS}
), d AS (
  SELECT e.vec_id, e.embedding, c.cid, c.cvec FROM embeddings e CROSS JOIN cents c
), dist AS (
  SELECT vec_id, embedding, cid, {l2} AS dsq FROM d
), assigned AS (
  SELECT vec_id, embedding, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dsq, cid) AS rk
        FROM dist) WHERE rk = 1
)"""


def q_ivf_topk(spark, sf_dir):
    """IVF ANN candidate path with FIXED deterministic coarse centers
    (the embeddings of the first ``_IVF_CENTROID_IDS`` vec_ids): corpus
    rows assign to their nearest center (inverted lists), each query
    scans its ``_IVF_PROBES`` nearest lists, cosine top-k over the
    candidates. Distances and cosines are sequential-fold column
    expressions whose arithmetic order matches the DuckDB twin
    bit-for-bit, so the gate hashes exactly (the production k-means
    mode stays recall-tested in tests/test_operators.py)."""
    from lours_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    _, cents = _fixed_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivf_topk(
        emb,
        queries,
        k=5,
        num_probes=_IVF_PROBES,
        centroids=cents,
        use_arrow_cosine=False,
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 9).alias("cosine")
    )


_DD_L2SQ = (
    "list_reduce(list_transform(generate_series(1, {n}), "
    "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)), "
    "(x,y) -> x+y)"
)


def _oracle_ivf_topk() -> str:
    cos = _dd_cosine("p.qemb", "a.embedding")
    return f"""
WITH {_dd_assigned_cte()}, probes AS (
  SELECT vec_id AS query_id, embedding AS qemb, cid AS centroid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dsq, cid) AS rk
        FROM dist WHERE vec_id < 10) WHERE rk <= {_IVF_PROBES}
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {cos} AS cosine
  FROM probes p JOIN assigned a
    ON p.centroid = a.cid AND p.query_id != a.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine
FROM ranked WHERE rank <= 5
"""


def _oracle_knn_label() -> str:
    cos = _dd_cosine("q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label, {cos} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 50
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
), votes AS (
  SELECT query_id, label, count(*) AS votes
  FROM ranked WHERE rank <= 5 GROUP BY query_id, label
), best AS (
  SELECT query_id, label, votes,
    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rk
  FROM votes
)
SELECT query_id, CAST(label AS BIGINT) AS predicted_label, votes
FROM best WHERE rk = 1
"""


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via the default banded
    sign-LSH candidate path (bucketed self-join + exact cosine verify —
    no driver collect, no corpus broadcast); oracle is the exact
    all-pairs join. LSH recall at this corpus/threshold is verified
    equal to exact in tests/test_operators.py."""
    from lours_spark.operators.dedup import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(emb, threshold=0.95)
    return pairs.select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))


def _oracle_embedding_near_dup() -> str:
    cos = _dd_cosine("a.embedding", "b.embedding")
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 9) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {cos} >= 0.95
"""

# --------------------------------------------------------------------------
# events: windows / sessionization / JSON / rollups
# --------------------------------------------------------------------------


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (batch twin of streaming session windows)."""
    from lours_spark.operators.windows import sessionize

    e = _t(spark, sf_dir, "events")
    out = sessionize(e, gap_seconds=1800, tie_break="event_id")
    return out.select("event_id", "user_id", "session_seq")


ORACLE_SESSIONIZE = """
WITH b AS (
  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
), g AS (
  SELECT event_id, user_id, us,
    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
           > 1800 * 1000000
         OR lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
    THEN 1 ELSE 0 END AS new_session
  FROM b
)
SELECT event_id, user_id,
  (sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
FROM g
"""


def q_hourly_rollup(spark, sf_dir):
    """Tumbling-window aggregation (batch twin of the streaming rollup)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value"), "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


ORACLE_HOURLY_ROLLUP = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, event_type,
  count(*) AS n_events,
  sum(CAST(value AS DECIMAL(28,6)))::DOUBLE AS sum_value,
  count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q_json_extraction(spark, sf_dir):
    """Semi-structured props column: JSON field extraction + agg.

    Determinism: the extracted value is cast to long ONLY when it is a
    pure integer literal (regexp-guarded, identical guard in the
    oracle), and avg_k is rounded to 9 dp on both sides so the double's
    textual form is engine-independent.
    """
    e = _t(spark, sf_dir, "events")
    raw = F.get_json_object(F.col("props"), "$.k")
    k = F.when(raw.rlike(r"^[+-]?[0-9]+$"), raw.cast("long"))
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.round(F.sum(k).cast("double") / F.count(F.lit(1)), 9).alias("avg_k"),
        )
    )


ORACLE_JSON = """
WITH b AS (
  SELECT event_type,
    CASE WHEN regexp_full_match(coalesce(json_extract_string(props, '$.k'), ''),
                                '[+-]?[0-9]+')
         THEN json_extract_string(props, '$.k')::BIGINT END AS k
  FROM events
)
SELECT event_type, count(*) AS n, sum(k)::BIGINT AS sum_k,
  round(sum(k)::DOUBLE / count(*), 9) AS avg_k
FROM b GROUP BY event_type
"""


def q_forward_fill(spark, sf_dir):
    """LOCF forward fill: each user's error events carry the last seen
    purchase value forward (reference's ffill-onto-grid idiom)."""
    from lours_spark.operators.windows import forward_fill

    e = _t(spark, sf_dir, "events").withColumn(
        "purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    out = forward_fill(
        e, ["user_id"], [F.asc("ts"), F.asc("event_id")], "purchase_value",
        out_name="last_purchase_value",
    )
    return out.select("event_id", "user_id", "last_purchase_value")


ORACLE_FFILL = """
SELECT event_id, user_id,
  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
FROM events
"""

# --------------------------------------------------------------------------
# multimodal: binary column plumbing (Pandas-UDF path)
# --------------------------------------------------------------------------


def q_multimodal_features(spark, sf_dir):
    """Binary-column feature extraction through the real mapInPandas
    plumbing (deterministic features; heavy decoders are stubbed —
    see operators/multimodal.py)."""
    from lours_spark.operators.multimodal import extract_features

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return extract_features(d, id_col="doc_id", binary_col="payload")


ORACLE_MULTIMODAL = """
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  md5(text) AS content_hash
FROM documents
"""

# --------------------------------------------------------------------------
# evaluation: greedy matcher (non-SQL-expressible — rows-only check)
# --------------------------------------------------------------------------


def _jittered_pred(ann):
    """Synthetic predictions: the groundtruth boxes jittered the SAME
    way in every matcher/evaluator facet (id shift keeps ids disjoint,
    +2px x keeps IoU high but < 1, confidence a deterministic id
    residue). The facets and the tests that pin them rely on this
    recipe staying identical — change it here or nowhere."""
    return (
        ann.withColumn("id", F.col("id") + 10000000)
        .withColumn("box_x_min", F.col("box_x_min") + 2.0)
        .withColumn("confidence", ((F.col("id") % 97).cast("double") / 97.0))
    )


# keyed widen: hash-repartition on the downstream group key when the
# input scans narrow (the bench parquet files are single-row-group, so
# every scan is a 1-3 task stage and CPU-dense work right after it
# runs near-serial); the exchange also satisfies a following groupBy
# on a superset key. The ONE widen policy lives in operators._widen
# (r12 consolidation of three verbatim copies).
from lours_spark.operators._widen import widen as _widen_by  # noqa: E402


def _matcher_ann(spark, sf_dir):
    """Annotated boxes for the MATCHER facets. The synthetic id
    (orderkey*10+linenumber) is NOT unique in the driver data (~23% of
    lineitem rows collide), and duplicate annotation ids make greedy
    matching ill-posed: the kernel's taken-groundtruth bookkeeping is
    positional, so which same-id box a prediction takes would depend on
    partition order. These facets therefore keep ONE box per id — the
    deterministic min by box-coordinate order, which both engines can
    express identically — matching the data-model contract that
    annotation ids are unique. Enables the VALUE-EXACT recursive-CTE
    matching oracle (see ``_dd_matches_cte``). Physical shape: ONE
    hash aggregation with ``min(struct(box cols))`` — lexicographic
    struct min == first row under ORDER BY the same columns, but with
    map-side partial aggregation instead of a per-id sort window."""
    from lours_spark.functions.bbox import import_bbox

    ann = import_bbox(
        _boxes(spark, sf_dir), "CXCYWH", ["bcx", "bcy", "bw", "bh"]
    )
    box_cols = ["box_x_min", "box_y_min", "box_width", "box_height"]
    # widen by image_id BEFORE the dedup: min(struct) plans a
    # SortAggregate (struct agg buffers are not hash-aggregable), and
    # on the single-row-group bench file its partial pass — the sort of
    # the whole table plus the box arithmetic — ran in ONE task.
    # Partitioning on image_id parallelizes that sort AND satisfies the
    # (id, image_id) groupBy's clustered distribution (subset key), so
    # the aggregation needs no second exchange.
    ann = _widen_by(ann, "image_id")
    dedup = ann.groupBy("id", "image_id").agg(
        F.min(F.struct(*box_cols)).alias("__b")
    )
    return dedup.select(
        "id",
        "image_id",
        *[F.col(f"__b.{c}").alias(c) for c in box_cols],
        (F.col("id") % 3).cast("int").alias("category_id"),
    )


def _dd_matches_cte(pred_filter: str = "") -> str:
    """DuckDB CTE chain replicating ``compute_matches`` on the
    matcher-facet boxes, VALUE-EXACTLY: the greedy loop is a recursive
    CTE over per-group prediction rank carrying the taken-groundtruth
    id list. Per prediction (confidence DESC, id ASC — the kernel's
    stable-sort order) the first still-free entry of its (iou DESC, gt id
    ASC)-ordered candidate list is taken when iou > 0 — exactly
    numpy's masked argmax with first-index tie-break, and the IoU
    arithmetic below is the same IEEE expression tree as
    ``matching.iou_matrix``, so every float matches bitwise.
    Recursion depth = max predictions per (image, category) group
    (≤ 7 here). Yields CTEs up to ``matches(image_id, category_id,
    m_pid, m_gid, m_iou, m_conf)``; callers append the emission or
    PR/AP SQL. ``pred_filter``: extra predicate on the jittered
    prediction rows (e.g. detection_pr_ap's ``id % 5 != 0``)."""
    return f"""
WITH RECURSIVE
gt AS (
  SELECT ({_LINE_ID})::BIGINT AS id,
         l_orderkey::BIGINT AS image_id,
         CAST(({_LINE_ID}) % 3 AS INT) AS category_id,
         ({_DD_BOX['cx']}) - ({_DD_BOX['w']})/2 AS x,
         ({_DD_BOX['cy']}) - ({_DD_BOX['h']})/2 AS y,
         ({_DD_BOX['w']}) AS w,
         ({_DD_BOX['h']}) AS h
  FROM lineitem
  QUALIFY row_number() OVER (
      PARTITION BY {_LINE_ID} ORDER BY x, y, w, h) = 1
),
pred AS (
  SELECT id + 10000000 AS id, image_id, category_id,
         x + 2.0 AS x, y, w, h,
         CAST((id + 10000000) % 97 AS DOUBLE) / 97.0 AS conf
  FROM gt
  {pred_filter}
),
cand AS (
  SELECT p.image_id, p.category_id, p.id AS pid, g.id AS gid, p.conf,
    (greatest(0.0, least(g.x+g.w, p.x+p.w) - greatest(g.x, p.x)) *
     greatest(0.0, least(g.y+g.h, p.y+p.h) - greatest(g.y, p.y))) /
    (g.w*g.h + p.w*p.h -
     greatest(0.0, least(g.x+g.w, p.x+p.w) - greatest(g.x, p.x)) *
     greatest(0.0, least(g.y+g.h, p.y+p.h) - greatest(g.y, p.y))) AS iou
  FROM pred p
  JOIN gt g ON g.image_id = p.image_id AND g.category_id = p.category_id
  WHERE greatest(0.0, least(g.x+g.w, p.x+p.w) - greatest(g.x, p.x)) *
        greatest(0.0, least(g.y+g.h, p.y+p.h) - greatest(g.y, p.y)) > 0
    AND (g.w*g.h + p.w*p.h -
         greatest(0.0, least(g.x+g.w, p.x+p.w) - greatest(g.x, p.x)) *
         greatest(0.0, least(g.y+g.h, p.y+p.h) - greatest(g.y, p.y))) > 0
),
plist AS (
  SELECT image_id, category_id, pid, any_value(conf) AS conf,
         list(struct_pack(gid := gid, iou := iou)
              ORDER BY iou DESC, gid ASC) AS cands
  FROM cand GROUP BY image_id, category_id, pid
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY image_id, category_id ORDER BY conf DESC, pid ASC
  ) AS r
  FROM plist
),
rec AS (
  SELECT image_id, category_id, 0::BIGINT AS r,
         CAST([] AS BIGINT[]) AS used,
         NULL::BIGINT AS m_pid, NULL::BIGINT AS m_gid,
         NULL::DOUBLE AS m_iou, NULL::DOUBLE AS m_conf
  FROM (SELECT DISTINCT image_id, category_id FROM ranked)
  UNION ALL
  SELECT rk.image_id, rk.category_id, rk.r,
    CASE WHEN list_filter(rk.cands,
                c -> NOT list_contains(rec.used, c.gid))[1].gid IS NOT NULL
         THEN list_append(rec.used,
                list_filter(rk.cands,
                  c -> NOT list_contains(rec.used, c.gid))[1].gid)
         ELSE rec.used END,
    CASE WHEN list_filter(rk.cands,
                c -> NOT list_contains(rec.used, c.gid))[1].gid IS NOT NULL
         THEN rk.pid END,
    list_filter(rk.cands, c -> NOT list_contains(rec.used, c.gid))[1].gid,
    list_filter(rk.cands, c -> NOT list_contains(rec.used, c.gid))[1].iou,
    rk.conf
  FROM rec
  JOIN ranked rk
    ON rk.image_id = rec.image_id
   AND rk.category_id = rec.category_id
   AND rk.r = rec.r + 1
),
matches AS (
  SELECT image_id, category_id, m_pid, m_gid, m_iou, m_conf
  FROM rec WHERE m_gid IS NOT NULL
)"""


ORACLE_GREEDY_MATCHING = (
    _dd_matches_cte()
    + """
SELECT image_id, category_id,
       m_pid AS prediction_id, m_gid AS groundtruth_id,
       round(m_iou, 9) AS iou
FROM matches
UNION ALL
SELECT g.image_id, g.category_id, NULL, g.id, NULL
FROM gt g WHERE NOT EXISTS (SELECT 1 FROM matches m WHERE m.m_gid = g.id)
UNION ALL
SELECT p.image_id, p.category_id, p.id, NULL, NULL
FROM pred p WHERE NOT EXISTS (SELECT 1 FROM matches m WHERE m.m_pid = p.id)
"""
)

# detection_pr_ap, end to end in SQL: the recursive-CTE matching above,
# then the reference PR-curve construction (results frame → distinct-
# confidence collapse → cumulative windows → monotone envelope → pad
# points) and BOTH AP definitions. Tie order in the Riemann lag window
# replicates the tie rule of evaluator.average_precisions, the one AP
# aggregation: (recall ASC, confidence DESC, precision_env ASC,
# is_pad ASC) — the tail pad shares (recall, confidence=0.0) with the
# real lowest-confidence point, and the nonzero Δrecall of that tie
# run goes to the LOWEST-envelope member.
ORACLE_DETECTION_PR_AP = (
    _dd_matches_cte(pred_filter="WHERE (id + 10000000) % 5 != 0")
    + """,
results AS (
  SELECT g.category_id,
         CASE WHEN m.m_pid IS NULL THEN 0.0 ELSE m.m_conf END AS confidence,
         coalesce(m.m_iou, 0.0) AS iou,
         TRUE AS is_gt
  FROM gt g LEFT JOIN matches m ON m.m_gid = g.id
  UNION ALL
  SELECT p.category_id, p.conf, 0.0, FALSE
  FROM pred p WHERE NOT EXISTS (SELECT 1 FROM matches m WHERE m.m_pid = p.id)
),
per_conf AS (
  SELECT category_id, confidence,
         sum(CASE WHEN is_gt AND iou > 0.2 THEN 1 ELSE 0 END)::BIGINT AS tp02,
         sum(CASE WHEN is_gt AND iou > 0.5 THEN 1 ELSE 0 END)::BIGINT AS tp05,
         count(*)::BIGINT AS n_c,
         sum(CASE WHEN is_gt THEN 1 ELSE 0 END)::BIGINT AS gt_c
  FROM results GROUP BY category_id, confidence
),
fan AS (
  SELECT category_id, t.iou_threshold, confidence,
         CASE WHEN t.iou_threshold = 0.2 THEN tp02 ELSE tp05 END AS tp_c,
         n_c, gt_c
  FROM per_conf, (SELECT unnest([0.2, 0.5]) AS iou_threshold) t
),
curve AS (
  SELECT category_id, iou_threshold, confidence,
    (sum(tp_c) OVER w)::DOUBLE / (sum(n_c) OVER w) AS precision,
    CASE WHEN sum(gt_c) OVER g > 0
         THEN (sum(tp_c) OVER w)::DOUBLE / (sum(gt_c) OVER g) END AS recall
  FROM fan
  WINDOW w AS (PARTITION BY category_id, iou_threshold
               ORDER BY confidence DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         g AS (PARTITION BY category_id, iou_threshold)
),
env0 AS (
  SELECT *, max(precision) OVER (
      PARTITION BY category_id, iou_threshold
      ORDER BY confidence ASC, recall DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS precision_env,
    FALSE AS is_pad
  FROM curve
),
padded AS (
  SELECT category_id, iou_threshold, confidence, precision, recall,
         precision_env, is_pad
  FROM env0
  UNION ALL
  SELECT category_id, iou_threshold, 1.0, 1.0, 0.0, 1.0, TRUE
  FROM (SELECT DISTINCT category_id, iou_threshold FROM env0)
  UNION ALL
  SELECT category_id, iou_threshold, 0.0, 0.0, max(recall), 0.0, TRUE
  FROM env0 GROUP BY category_id, iou_threshold
),
riemann AS (
  SELECT category_id, iou_threshold,
         sum(precision_env * d) AS average_precision
  FROM (
    SELECT category_id, iou_threshold, precision_env,
           recall - coalesce(lag(recall) OVER o, recall) AS d
    FROM padded
    WINDOW o AS (PARTITION BY category_id, iou_threshold
                 ORDER BY recall ASC, confidence DESC,
                          precision_env ASC, is_pad ASC)
  ) GROUP BY category_id, iou_threshold
),
collapsed AS (
  SELECT category_id, iou_threshold, recall,
         max(precision_env) AS env
  FROM padded WHERE NOT is_pad
  GROUP BY category_id, iou_threshold, recall
),
gridpts AS (
  SELECT category_id, iou_threshold, gr.r,
         coalesce(max(CASE WHEN recall >= gr.r THEN env END), 0.0) AS p
  FROM collapsed,
       (SELECT i::DOUBLE / 100.0 AS r
        FROM unnest(generate_series(0, 100)) t(i)) gr
  GROUP BY category_id, iou_threshold, gr.r
),
grid AS (
  SELECT category_id, iou_threshold, sum(p) / 101.0 AS ap_g
  FROM gridpts GROUP BY category_id, iou_threshold
)
SELECT r.category_id, r.iou_threshold,
       round(r.average_precision, 6) AS ap,
       round(g.ap_g, 6) AS ap_coco_grid
FROM riemann r
JOIN grid g ON g.category_id = r.category_id
           AND g.iou_threshold = r.iou_threshold
"""
)


def q_greedy_matching(spark, sf_dir):
    """Greedy bipartite IoU matching via the mapInArrow kernel: gt =
    synthetic boxes from lineitem (deduplicated to unique ids, see
    ``_matcher_ann``), predictions = the same boxes jittered, so
    matches are plentiful and deterministic. VALUE-EXACT oracle: the
    sequential greedy loop is replicated in DuckDB as a recursive CTE
    over prediction rank (``_dd_matches_cte``)."""
    from lours_spark.evaluation.matching import compute_matches

    gt = _matcher_ann(spark, sf_dir)
    pred = _jittered_pred(gt)
    matches = compute_matches(gt, pred)
    return matches.select(
        "image_id", "category_id", "prediction_id", "groundtruth_id",
        F.round("iou", 9).alias("iou"),
    )


def q_matcher_skew(spark, sf_dir):
    """Skewed-matcher stress facet: ~0.7% of all boxes (line 3 of
    every 20th order) rerouted into ONE monster (image, category)
    group among the ~15k tiny groups — at sf0.1 that is a
    ~4000 gt × 4000 pred group, which the kernel's one greedy loop
    runs as a shape of its own, its IoUs computed in blocks of
    confidence ranks, inside one extremely skewed shuffle partition.
    Output: per-status counts split monster/rest (small, stable).
    Kernel-vs-standalone identity for a monster group is asserted in
    tests/test_matching.py::test_skewed_group_identical_to_greedy_match
    and ::test_compute_matches_skewed_identical_to_standalone."""
    from lours_spark.evaluation.matching import compute_matches
    from lours_spark.functions.bbox import import_bbox

    ann = import_bbox(
        _boxes(spark, sf_dir), "CXCYWH", ["bcx", "bcy", "bw", "bh"]
    )
    # id = orderkey*10 + linenumber(1..7): route line 3 of every 20th
    # order into the monster image (~0.7% of boxes → ~4k at sf0.1)
    ann = ann.withColumn(
        "image_id",
        F.when(
            (F.col("id") % 10 == 3) & (F.col("image_id") % 20 == 0), F.lit(-1)
        ).otherwise(F.col("image_id")),
    ).withColumn(
        "category_id",
        F.when(F.col("image_id") == -1, F.lit(0))
        .otherwise(F.col("id") % 3)
        .cast("int"),
    )
    gt = ann
    pred = _jittered_pred(ann)
    matches = compute_matches(gt, pred)
    status = (
        F.when(
            F.col("prediction_id").isNotNull()
            & F.col("groundtruth_id").isNotNull(),
            F.lit("tp"),
        )
        .when(F.col("prediction_id").isNotNull(), F.lit("fp"))
        .otherwise(F.lit("fn"))
    )
    return (
        matches.select(
            status.alias("status"),
            (F.col("image_id") == -1).alias("is_monster"),
        )
        .groupBy("status", "is_monster")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status", "is_monster")
    )


def q_detection_pr_ap(spark, sf_dir):
    """End-to-end multi-IoU grouped detection evaluation: ONE greedy
    matching → per-(category × iou_threshold) reference-protocol AP and
    COCO-grid AP side by side (rows-only: depends on the greedy
    matcher; the math itself is COCOeval-parity-tested in
    tests/test_cocoeval_parity.py)."""
    from lours_spark.evaluation.evaluator import compute_precision_recall

    ann = _matcher_ann(spark, sf_dir)
    # the pred leg's id % 5 filter pushes below the dedup aggregation,
    # so the gt and pred union legs stop being identical subtrees and
    # exchange reuse no longer covers them — the full scan + dedup
    # pipeline ran TWICE. Materialize the deduped frame once so both
    # legs read the same pinned rows (the session picks the strategy:
    # operators/_materialize.py).
    from lours_spark.operators._materialize import materialize

    ann = materialize(ann, eager=True)
    pred = _jittered_pred(ann).filter(F.col("id") % 5 != 0)
    res = compute_precision_recall(
        ann, pred, ious=[0.2, 0.5], group_cols=["category_id"]
    )
    return res["ap_both"].select(
        "category_id",
        "iou_threshold",
        F.round("average_precision", 6).alias("ap"),
        F.round("ap", 6).alias("ap_coco_grid"),
    )


# --------------------------------------------------------------------------
# grouper / resample / interpolated precision / LSH ANN (round-1 batch 2)
# --------------------------------------------------------------------------

_GROUP_BINS = 8


def q_grouper_bins(spark, sf_dir):
    """ContinuousGroup binning: equal-width bins from one min/max agg,
    labels = interval midpoints, count per bin."""
    from lours_spark.operators.grouper import ContinuousGroup, group_relational_data

    l = _t(spark, sf_dir, "lineitem")
    df, cols = group_relational_data(
        l, [ContinuousGroup("l_extendedprice", bins=_GROUP_BINS)]
    )
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col(cols[0]).alias("bin_mid"), "n")
    )


def _oracle_grouper() -> str:
    # replicate edges lo + (hi-lo)*i/bins and mid = (e_i + e_{i+1})/2
    # with the SAME arithmetic order as operators.grouper.bin_edges
    b = _GROUP_BINS
    cases = []
    for i in range(b):
        lo_e = f"(lo + (hi - lo) * {i} / {b})"
        hi_e = f"(lo + (hi - lo) * {i + 1} / {b})"
        # pd.cut(+include_lowest) intervals: (lo, hi] with the first
        # interval closed on both ends — mirrors operators.grouper
        lo_cmp = ">=" if i == 0 else ">"
        cases.append(
            f"WHEN v {lo_cmp} {lo_e} AND v <= {hi_e} THEN ({lo_e} + {hi_e})/2"
        )
    return f"""
WITH stats AS (
  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem
), binned AS (
  SELECT CASE {' '.join(cases)} END AS bin_mid
  FROM (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem), stats
)
SELECT bin_mid, count(*) AS n FROM binned GROUP BY bin_mid
"""


_RESAMPLE_GRID = [float(t) for t in range(0, 55, 5)]


def q_resample_count(spark, sf_dir):
    """Count-above-threshold curve on a fixed grid per event_type."""
    from lours_spark.operators.windows import resample_count

    e = _t(spark, sf_dir, "events")
    return resample_count(e, ["event_type"], "value", _RESAMPLE_GRID)


def _oracle_resample() -> str:
    grid = ", ".join(f"(CAST({t} AS DOUBLE))" for t in _RESAMPLE_GRID)
    return f"""
SELECT e.event_type, g.threshold,
       count(CASE WHEN e.value >= g.threshold THEN 1 END) AS count_at_least
FROM events e CROSS JOIN (VALUES {grid}) AS g(threshold)
GROUP BY e.event_type, g.threshold
"""


def q_interpolated_precision(spark, sf_dir):
    """Monotone precision envelope (np.maximum.accumulate reversed →
    running max window from the low-confidence end)."""
    from lours_spark.operators.windows import interpolated_precision, pr_curve

    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        (F.col("value") - F.col("event_id") * 1e-9).alias("confidence"),
        (F.col("user_id") < 75).cast("int").alias("is_tp"),
    )
    curve = pr_curve(e, ["event_type"], "confidence", "is_tp", tie_break="event_id")
    out = interpolated_precision(curve, ["event_type"], "confidence")
    return out.select("event_id", "event_type", "precision_interp")


ORACLE_INTERP_PRECISION = """
WITH p AS (
  SELECT event_id, event_type, value - event_id * 1e-9 AS confidence,
         CASE WHEN user_id < 75 THEN 1 ELSE 0 END AS is_tp
  FROM events
), curve AS (
  SELECT event_id, event_type, confidence,
    sum(is_tp) OVER w::DOUBLE / count(*) OVER w AS precision
  FROM p
  WINDOW w AS (PARTITION BY event_type ORDER BY confidence DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type,
  max(precision) OVER (PARTITION BY event_type ORDER BY confidence ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS precision_interp
FROM curve
"""

_LSH_PLANES = 3


def q_lsh_bucket_topk(spark, sf_dir):
    """Approximate ANN: random-hyperplane sign bucketing, exact cosine
    within buckets (the 100 TB path for similarity search)."""
    from lours_spark.operators.similarity import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    topk = lsh_bucket_topk(
        emb, queries, k=5, num_planes=_LSH_PLANES, dim=_EMB_DIM
    )
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 9).alias("cosine")
    )


def _oracle_lsh_bucket() -> str:
    from lours_spark.operators.similarity import _hyperplane

    def bucket_sql(vec: str) -> str:
        terms = []
        for p in range(_LSH_PLANES):
            plane = _hyperplane(_EMB_DIM, p)
            lits = ", ".join(repr(x) for x in plane)
            dot = (
                f"list_reduce(list_transform(generate_series(1, {_EMB_DIM}), "
                f"i -> {vec}[i]::DOUBLE * ([{lits}])[i]), (a,b) -> a+b)"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {2**p} ELSE 0 END)")
        return " + ".join(terms)

    cos = _dd_cosine("q.embedding", "c.embedding")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding, {bucket_sql('embedding')} AS bucket FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM corpus q JOIN corpus c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < 20
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine
FROM ranked WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# batch 3: validation, pivot, tf-idf, overlap merge, class filters
# --------------------------------------------------------------------------


def q_validation_counts(spark, sf_dir):
    """Dataset.check(): PK/FK violation counts as a single-row result,
    on a deliberately corrupted dataset (duplicated annotation ids +
    orphaned annotations)."""
    ds = orders_dataset(spark, sf_dir)
    dup_ann = (
        ds.annotations.filter(F.col("l_linenumber") == 1)
        .orderBy("id")
        .limit(50)
    )
    corrupted = ds.from_template(
        images=ds.images.filter(F.col("o_totalprice") >= 50000),
        annotations=ds.annotations.unionByName(dup_ann),
    )
    report = corrupted.check()
    return spark.createDataFrame(
        [
            (
                report["duplicate_image_ids"],
                report["duplicate_annotation_ids"],
                report["orphan_annotations"],
                report["unknown_categories"],
            )
        ],
        "duplicate_image_ids long, duplicate_annotation_ids long, "
        "orphan_annotations long, unknown_categories long",
    )


ORACLE_VALIDATION = f"""
WITH dup AS (
  SELECT {_LINE_ID} AS id FROM lineitem WHERE l_linenumber = 1
  ORDER BY l_orderkey LIMIT 50
), ann AS (
  SELECT {_LINE_ID} AS id, l_orderkey AS image_id, l_linenumber AS category_id
  FROM lineitem
  UNION ALL
  SELECT {_LINE_ID} AS id, l_orderkey AS image_id, l_linenumber AS category_id
  FROM lineitem WHERE {_LINE_ID} IN (SELECT id FROM dup)
), img AS (
  SELECT o_orderkey AS id FROM orders WHERE o_totalprice >= 50000
)
SELECT
  (SELECT count(*) FROM (SELECT id FROM img GROUP BY id HAVING count(*) > 1))
    AS duplicate_image_ids,
  (SELECT count(*) FROM (SELECT id FROM ann GROUP BY id HAVING count(*) > 1))
    AS duplicate_annotation_ids,
  (SELECT count(*) FROM ann WHERE image_id NOT IN (SELECT id FROM img))
    AS orphan_annotations,
  (SELECT count(*) FROM ann WHERE category_id NOT IN (1,2,3,4,5,6,7))
    AS unknown_categories
"""


def q_bbox_validity_report(spark, sf_dir):
    """Malformed-bbox report: violation flags + filter (reference
    get_malformed_bounding_boxes). Boxes synthesized so a subset
    genuinely violates the image bounds."""
    from lours_spark.functions.bbox import import_bbox
    from lours_spark.functions.geometry import malformed_bounding_boxes

    images = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") % 300) + 50).cast("int").alias("width"),
        ((F.col("o_orderkey") % 200) + 50).cast("int").alias("height"),
    )
    ann = import_bbox(
        _boxes(spark, sf_dir), "CXCYWH", ["bcx", "bcy", "bw", "bh"]
    )
    bad = malformed_bounding_boxes(ann, images=images)
    return bad.select(
        "id", "negative_coordinates", "non_positive_size", "exceeds_image"
    )


ORACLE_BBOX_VALIDITY = f"""
WITH img AS (
  SELECT o_orderkey AS image_id,
         CAST((o_orderkey % 300) + 50 AS INT) AS w,
         CAST((o_orderkey % 200) + 50 AS INT) AS h
  FROM orders
), ann AS (
  SELECT {_LINE_ID} AS id, l_orderkey AS image_id,
    ({_DD_BOX['cx']}) - ({_DD_BOX['w']})/2 AS x,
    ({_DD_BOX['cy']}) - ({_DD_BOX['h']})/2 AS y,
    ({_DD_BOX['w']}) AS bw, ({_DD_BOX['h']}) AS bh
  FROM lineitem
)
SELECT ann.id,
  coalesce(x < 0 OR y < 0, FALSE) AS negative_coordinates,
  coalesce(bw <= 0 OR bh <= 0, FALSE) AS non_positive_size,
  coalesce(x + bw > CAST(w AS DOUBLE) OR y + bh > CAST(h AS DOUBLE), FALSE)
    AS exceeds_image
FROM ann JOIN img ON ann.image_id = img.image_id
WHERE coalesce(x < 0 OR y < 0, FALSE)
   OR coalesce(bw <= 0 OR bh <= 0, FALSE)
   OR coalesce(x + bw > CAST(w AS DOUBLE) OR y + bh > CAST(h AS DOUBLE), FALSE)
"""


def q_keep_classes(spark, sf_dir):
    """keep_classes whitelist: annotations filtered, label map pruned."""
    ds = orders_dataset(spark, sf_dir).keep_classes([2, 4, 6]).denormalize()
    return ds.annotations.select("id", "category_id", "category_str")


ORACLE_KEEP_CLASSES = f"""
SELECT {_LINE_ID} AS id, l_linenumber AS category_id,
       concat('line_', l_linenumber) AS category_str
FROM lineitem WHERE l_linenumber IN (2,4,6)
"""


def q_merge_overlap_id_shift(spark, sf_dir):
    """Merge with overlapping image ids: intersecting images kept once,
    colliding annotation ids on the right shifted past the left max
    (reference merge.py:199-203)."""
    base = orders_dataset(spark, sf_dir)
    a = base.filter_images(F.col("o_totalprice") < 300000)
    b = base.filter_images(F.col("o_totalprice") > 100000)
    merged = a.merge(b)
    return merged.annotations.select("id", "image_id", "l_quantity")


ORACLE_MERGE_OVERLAP = f"""
WITH a_img AS (SELECT o_orderkey AS id FROM orders WHERE o_totalprice < 300000),
b_img AS (SELECT o_orderkey AS id FROM orders WHERE o_totalprice > 100000),
a_ann AS (
  SELECT {_LINE_ID} AS id, l_orderkey AS image_id, l_quantity
  FROM lineitem WHERE l_orderkey IN (SELECT id FROM a_img)
),
b_ann AS (
  SELECT {_LINE_ID} AS id, l_orderkey AS image_id, l_quantity
  FROM lineitem WHERE l_orderkey IN (SELECT id FROM b_img)
),
mx AS (SELECT max(id) + 1 AS shift FROM a_ann)
SELECT id, image_id, l_quantity FROM a_ann
UNION ALL
SELECT b_ann.id + mx.shift AS id, image_id, l_quantity FROM b_ann, mx
"""


def q_confusion_pivot(spark, sf_dir):
    """Wide confusion matrix via pivot (one row per gt label)."""
    from lours_spark.evaluation.confusion import (
        confusion_counts,
        confusion_matrix_pivot,
    )

    l = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("groundtruth_label"),
        F.col("l_linestatus").alias("prediction_label"),
    )
    counts = confusion_counts(l, normalize=False)
    return confusion_matrix_pivot(counts)


ORACLE_CONFUSION_PIVOT = """
SELECT l_returnflag AS groundtruth_label,
  coalesce(sum(CASE WHEN l_linestatus = 'F' THEN 1 END), 0)::BIGINT AS "F",
  coalesce(sum(CASE WHEN l_linestatus = 'O' THEN 1 END), 0)::BIGINT AS "O"
FROM lineitem GROUP BY l_returnflag
"""


def q_top_terms(spark, sf_dir):
    """Corpus document-frequency top-20 terms (deterministic ties)."""
    from lours_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    df_counts = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("term"),
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(20)
    )
    return df_counts


ORACLE_TOP_TERMS = f"""
SELECT term, count(*) AS doc_freq
FROM (
  SELECT doc_id, unnest(list_distinct({dd_tokens('text')})) AS term
  FROM documents
)
GROUP BY term ORDER BY doc_freq DESC, term LIMIT 20
"""


def q_tfidf_top_term(spark, sf_dir):
    """Per-document highest-TF-IDF term — the classic text-pipeline
    join: term frequencies ⋈ document frequencies, windowed argmax."""
    from lours_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    # corpus size as a broadcast 1-row aggregate (the oracle's scalar
    # subquery), NOT an eager d.count() — that ran an extra full scan
    # of documents as an untimed driver action on every invocation
    n = d.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    # widen by doc_id: parallelizes the tokenize+explode (single-task
    # on the one-file bench corpus) AND pre-clusters for the tf groupBy
    # and the final per-doc window, which both then skip their own
    # exchanges (subset-key clustered distribution)
    terms = _widen_by(d, "doc_id").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("__n_docs") / F.col("df")), 6
            ),
        )
        .drop("__n_docs")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "term", "tfidf")
    )


def _oracle_tfidf() -> str:
    return f"""
WITH terms AS (
  SELECT doc_id, unnest({dd_tokens('text')}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
    round(tf.tf * ln(n.n_docs::DOUBLE / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tfidf FROM ranked WHERE rk = 1
"""


def q_simple_split(spark, sf_dir):
    """Seeded-random split with the PORTABLE md5 PRF (retry- and
    repartition-stable, hash-exact vs the DuckDB oracle). The
    reference-parity ``rand(seed)`` source stays the library default
    (``rng="spark"``, engine-specific RNG — covered by pytest)."""
    from lours_spark.split.splitter import simple_split

    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "id")
    out = simple_split(
        o, {"train": 0.8, "valid": 0.1, "eval": 0.1}, seed=42, rng="portable"
    )
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


def _split_ladder_sql(frac_sql: str, shares: dict[str, float]) -> str:
    """DuckDB twin of ``splitter.split_ladder``: the cumulative-share
    thresholds are accumulated in PYTHON here, exactly as the Spark
    side does, and embedded as round-trip string literals
    (``'...'::DOUBLE`` parses with strtod — bit-identical to the float
    the Spark plan compares against)."""
    items = list(shares.items())
    cases = []
    cum = 0.0
    for name, share in items[:-1]:
        cum += share
        cases.append(f"WHEN {frac_sql} < '{cum!r}'::DOUBLE THEN '{name}'")
    return "CASE " + " ".join(cases) + f" ELSE '{items[-1][0]}' END"


def _oracle_simple_split() -> str:
    """Portable simple_split: 52-bit md5-prefix fraction + share
    ladder. The fraction (int of 13 hex digits / 2^52) is exact in a
    double, so Spark's ``conv(substring(md5(..)..),16,10)/2^52`` and
    DuckDB's hex cast produce the same bits."""
    frac = (
        "CAST('0x' || substring(md5(concat('42:', "
        "CAST(o_orderkey AS VARCHAR))), 1, 13) AS BIGINT)"
        "::DOUBLE / 4503599627370496e0"
    )
    ladder = _split_ladder_sql(
        frac, {"train": 0.8, "valid": 0.1, "eval": 0.1}
    )
    return f"""
SELECT split, count(*) AS n
FROM (SELECT {ladder} AS split FROM orders)
GROUP BY split
"""


def _oracle_balanced_portable() -> str:
    """Recursive-CTE replay of the portable-order exact greedy
    (``balanced.greedy_assign(shuffle="portable")``) — the same
    technique that made the matcher value-exact in round 6. One
    iteration per chunk, state = flattened per-split bin counts; every
    float op (eps-smoothed KL folds in sorted-bin order, share IoU
    folds in split order, the ``sp or 1.0`` guards) is the same IEEE
    expression sequence as the python loop, and ``ln`` resolves to the
    same host libm — so the argmin decisions, hence the assignment and
    the final per-split histograms, match bit-for-bit (per-chunk parity
    asserted in tests/test_split.py). Setup CTEs are MATERIALIZED:
    DuckDB would otherwise re-inline (recompute) them on every one of
    the ~1.5k iterations (measured 93 s → 5 s at sf0.01)."""
    shares = {"train": 0.8, "valid": 0.1, "eval": 0.1}
    # tshare normalization replicated from greedy_assign (no-op here —
    # the float sum of these shares is within 1e-9 of 1.0)
    tshare = [float(v) for v in shares.values()]
    _ts = sum(tshare)
    if _ts and abs(_ts - 1.0) > 1e-9:
        tshare = [t / _ts for t in tshare]
    S = len(shares)
    tsh = "[" + ", ".join(f"'{t!r}'::DOUBLE" for t in tshare) + "]"
    names = ", ".join(f"('{n}', {i})" for i, n in enumerate(shares))
    zero_sz = "[" + ", ".join(["0e0"] * S) + "]"

    # KL of (A[i] + h) / (sizes[i] + hn): the candidate-split trial
    p_trial = (
        "((r.A[i*c.K + j + 1] + o.h[j+1])"
        " / (CASE WHEN r.sz[i+1] + o.hn = 0e0"
        " THEN 1e0 ELSE r.sz[i+1] + o.hn END) + 1e-12)"
    )
    trial_kl = (
        f"list_reduce(list_transform(range(c.K), j -> "
        f"{p_trial} * (ln({p_trial}) - c.log_gq[j+1])), (a,b) -> a+b)"
    )
    # KL of untouched split j2 recomputed from current state (equals
    # the python loop's cached cur_kl bit-for-bit: integer counts)
    p_cur = (
        "(r.A[j2*c.K + j + 1]"
        " / (CASE WHEN r.sz[j2+1] = 0e0 THEN 1e0 ELSE r.sz[j2+1] END)"
        " + 1e-12)"
    )
    cur_kl = (
        f"list_reduce(list_transform(range(c.K), j -> "
        f"{p_cur} * (ln({p_cur}) - c.log_gq[j+1])), (a,b) -> a+b)"
    )
    tsz = "(CASE WHEN j2 = i THEN r.sz[j2+1] + o.hn ELSE r.sz[j2+1] END)"
    hist_cost = (
        f"list_reduce(list_transform(range({S}), j2 -> "
        f"{tsz} / (r.na + o.hn) * "
        f"(CASE WHEN j2 = i THEN {trial_kl} ELSE {cur_kl} END)"
        f"), (a,b) -> a+b)"
    )
    share_inter = (
        f"list_reduce(list_transform(range({S}), j2 -> "
        f"least({tsz} / (r.na + o.hn), {tsh}[j2+1])), (a,b) -> a+b)"
    )
    share_union = (
        f"list_reduce(list_transform(range({S}), j2 -> "
        f"greatest({tsz} / (r.na + o.hn), {tsh}[j2+1])), (a,b) -> a+b)"
    )
    cost = f"{hist_cost} + (1e0 - {share_inter} / {share_union})"
    # struct list_sort = (cost, index) lexicographic min → python's
    # strict-< first-argmin with lowest-index tie-break
    winner = (
        f"list_sort(list_transform(range({S}), i -> "
        f"struct_pack(c := {cost}, i := i)))[1].i"
    )

    return f"""
WITH RECURSIVE
src AS MATERIALIZED (
  SELECT o_orderpriority AS dim,
         CASE WHEN o_custkey IS NOT NULL
              THEN min(o_orderkey) OVER (PARTITION BY o_custkey)
              ELSE o_orderkey END AS chunk_id
  FROM orders
),
bins AS MATERIALIZED (
  SELECT dim, row_number() OVER (ORDER BY (dim IS NULL), dim) - 1 AS j
  FROM (SELECT DISTINCT dim FROM src)
),
bin_counts AS MATERIALIZED (
  SELECT b.j, CAST(count(*) AS DOUBLE) AS g
  FROM src c JOIN bins b ON c.dim IS NOT DISTINCT FROM b.dim
  GROUP BY b.j
),
consts AS MATERIALIZED (
  SELECT list(ln(g / (SELECT sum(g) FROM bin_counts) + 1e-12) ORDER BY j)
           AS log_gq,
         (SELECT count(*) FROM bins) AS K
  FROM bin_counts
),
chunk_rows AS MATERIALIZED (
  SELECT c.chunk_id, b.j, CAST(count(*) AS DOUBLE) AS n
  FROM src c JOIN bins b ON c.dim IS NOT DISTINCT FROM b.dim
  GROUP BY c.chunk_id, b.j
),
chunk_vec AS MATERIALIZED (
  SELECT chunk_id,
         list(coalesce(n, 0e0) ORDER BY j) AS h,
         CAST(sum(coalesce(n, 0e0)) AS DOUBLE) AS hn
  FROM (
    SELECT ck.chunk_id, b.j, cr.n
    FROM (SELECT DISTINCT chunk_id FROM src) ck
    CROSS JOIN bins b
    LEFT JOIN chunk_rows cr ON cr.chunk_id = ck.chunk_id AND cr.j = b.j
  )
  GROUP BY chunk_id
),
ordered AS MATERIALIZED (
  SELECT chunk_id, h, hn,
         row_number() OVER (
           ORDER BY md5(concat('42:', CAST(chunk_id AS VARCHAR))), chunk_id
         ) AS ord
  FROM chunk_vec
),
rec AS (
  SELECT 0::BIGINT AS step,
         (SELECT flatten(list_transform(range({S}), s ->
             list_transform(range(K), j -> 0e0))) FROM consts) AS A,
         {zero_sz} AS sz,
         0e0 AS na
  UNION ALL
  SELECT r.step + 1,
    list_transform(range({S} * r.K), x ->
      r.A[x + 1] + CASE WHEN x // r.K = r.w THEN r.h[x % r.K + 1]
                        ELSE 0e0 END),
    list_transform(range({S}), s2 ->
      r.sz[s2 + 1] + CASE WHEN s2 = r.w THEN r.hn ELSE 0e0 END),
    r.na + r.hn
  FROM (
    SELECT r.step, r.A, r.sz, r.na, o.h, o.hn, c.K, c.log_gq,
           {winner} AS w
    FROM rec r
    JOIN ordered o ON o.ord = r.step + 1
    CROSS JOIN consts c
  ) r
),
final AS (SELECT A FROM rec ORDER BY step DESC LIMIT 1)
SELECT sp.name AS split, b.dim AS o_orderpriority,
       CAST(f.A[sp.i * c.K + b.j + 1] AS BIGINT) AS n
FROM final f
CROSS JOIN consts c
CROSS JOIN bins b
CROSS JOIN (VALUES {names}) sp(name, i)
WHERE f.A[sp.i * c.K + b.j + 1] > 0e0
"""


# --------------------------------------------------------------------------
# batch 4: BPE-ish tokenization, near-dup clustering
# --------------------------------------------------------------------------

#: GPT-2-flavoured pre-tokenizer, restricted to RE2-compatible syntax
#: (no lookahead) so the oracle regex engine agrees byte-for-byte
_BPE_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish pre-tokenizer counts: regexp_extract_all with a GPT-2
    style pattern — the token-budget estimator of a data pipeline."""
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
    )


def _oracle_bpe() -> str:
    return f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe_tokens,
  len(list_distinct(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS n_unique
FROM documents
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate clustering: exact-Jaccard pairs → connected
    components via the hybrid CC operator (edge-count-sized: driver
    union-find for small pair graphs — ONE action, no iteration rounds
    — distributed min-label propagation past the threshold) → cluster
    id (= min member doc_id) per member doc. Hash-checked against a
    recursive-CTE transitive closure in DuckDB."""
    from lours_spark.operators.dedup import ngram_jaccard_pairs
    from lours_spark.split.chunks import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.3)
    return connected_components(pairs).select(
        F.col("node_id").alias("doc_id"),
        F.col("component_id").alias("cluster_id"),
    )


def q_dedup_clusters_distributed(spark, sf_dir):
    """Same clustering as ``dedup_clusters`` but FORCING the
    distributed min-label-propagation path (driver_threshold=0) — the
    scale-evidence twin: identical output, convergence bounded by
    component diameter (near-dup clusters are shallow — a handful of
    rounds), benched so the 100 TB path has a measured number instead
    of an untested branch."""
    from lours_spark.operators.dedup import ngram_jaccard_pairs
    from lours_spark.split.chunks import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.3)
    return connected_components(pairs, driver_threshold=0).select(
        F.col("node_id").alias("doc_id"),
        F.col("component_id").alias("cluster_id"),
    )


# connected components are SQL-expressible as a recursive transitive
# closure over the near-dup pairs; cluster_id = min doc_id of the
# component, the fixpoint of the engine's min-label propagation
def _oracle_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_oracle_ngram_jaccard()})
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
members AS (SELECT DISTINCT a AS doc_id FROM edges),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM members
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
"""


# --------------------------------------------------------------------------
# batch 5: tie-collapsed PR curve, skew-salted aggregation
# --------------------------------------------------------------------------


def q_pr_curve_collapsed(spark, sf_dir):
    """PR curve with the reference's distinct-confidence collapse: only
    the last cumulative point per tied confidence survives."""
    from lours_spark.operators.windows import collapse_confidence_ties, pr_curve

    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.col("value").alias("confidence"),
        (F.col("user_id") < 75).cast("int").alias("is_tp"),
    )
    curve = pr_curve(e, ["event_type"], "confidence", "is_tp", tie_break="event_id")
    out = collapse_confidence_ties(
        curve, ["event_type"], "confidence", tie_break="event_id"
    )
    return out.select("event_type", "confidence", "precision", "recall")


ORACLE_PR_COLLAPSED = """
WITH p AS (
  SELECT event_id, event_type, value AS confidence,
         CASE WHEN user_id < 75 THEN 1 ELSE 0 END AS is_tp
  FROM events
), curve AS (
  SELECT event_id, event_type, confidence,
    sum(is_tp) OVER w::DOUBLE / count(*) OVER w AS precision,
    CASE WHEN sum(is_tp) OVER (PARTITION BY event_type) > 0
      THEN sum(is_tp) OVER w::DOUBLE / sum(is_tp) OVER (PARTITION BY event_type)
      ELSE 0.0 END AS recall,
    lead(confidence) OVER (PARTITION BY event_type
                           ORDER BY confidence DESC, event_id) AS next_conf
  FROM p
  WINDOW w AS (PARTITION BY event_type ORDER BY confidence DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, confidence, precision, recall
FROM curve WHERE next_conf IS NULL OR next_conf != confidence
"""


def q_salted_aggregate(spark, sf_dir):
    """Skew-safe two-phase aggregation: partial agg on (key, salt),
    merge on key — results identical to the direct groupBy."""
    from lours_spark.operators.skew import salted_aggregate

    l = _t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        l,
        ["l_returnflag"],
        [
            ("count", "l_orderkey", "n"),
            ("min", "l_quantity", "min_qty"),
            ("max", "l_quantity", "max_qty"),
        ],
        salt_buckets=8,
    )
    return out.select(
        "l_returnflag", "n",
        F.col("min_qty").cast("double").alias("min_qty"),
        F.col("max_qty").cast("double").alias("max_qty"),
    )


ORACLE_SALTED = """
SELECT l_returnflag, count(l_orderkey) AS n,
  CAST(min(l_quantity) AS DOUBLE) AS min_qty,
  CAST(max(l_quantity) AS DOUBLE) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# batch 6: split-quality metrics as queries (EMD / share distance)
# --------------------------------------------------------------------------


def q_split_quality(spark, sf_dir):
    """Split-quality metrics computed distributed: per-split
    o_orderpriority histograms from a hash split, then the 1D
    earth-mover distance between train and valid histograms plus the
    share distance to the 80/10/10 target — the balanced-split cost
    math (balanced.py) expressed as one aggregation + window."""
    from lours_spark.split.splitter import hash_split

    o = hash_split(
        _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "id"),
        {"train": 0.8, "valid": 0.1, "eval": 0.1},
    )
    hist = o.groupBy("split", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_split = Window.partitionBy("split")
    shares = hist.withColumn(
        "share", F.col("n").cast("double") / F.sum("n").over(w_split)
    )
    train = shares.filter(F.col("split") == "train").select(
        "o_orderpriority", F.col("share").alias("p")
    )
    valid = shares.filter(F.col("split") == "valid").select(
        "o_orderpriority", F.col("share").alias("q")
    )
    joined = train.join(valid, "o_orderpriority", "full_outer").fillna(
        {"p": 0.0, "q": 0.0}
    )
    w = Window.orderBy("o_orderpriority").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    emd = joined.withColumn(
        "cum", F.sum(F.col("p") - F.col("q")).over(w)
    ).agg(F.round(F.sum(F.abs(F.col("cum"))), 9).alias("emd_train_valid"))
    return emd


ORACLE_SPLIT_QUALITY = """
WITH f AS (
  SELECT (((((o_orderkey::BIGINT % 4294967296) // 65536) * 2654435761) % 65536) * 65536
          + ((o_orderkey::BIGINT % 4294967296) % 65536) * 2654435761) % 4294967296 AS h,
         o_orderpriority
  FROM orders
), s AS (
  SELECT CASE
    WHEN h::DOUBLE / 4294967296.0 < 0.8 THEN 'train'
    WHEN h::DOUBLE / 4294967296.0 < 0.9 THEN 'valid'
    ELSE 'eval' END AS split, o_orderpriority
  FROM f
), hist AS (
  SELECT split, o_orderpriority, count(*) AS n FROM s GROUP BY 1, 2
), shares AS (
  SELECT split, o_orderpriority,
         n::DOUBLE / sum(n) OVER (PARTITION BY split) AS share
  FROM hist
), j AS (
  SELECT coalesce(t.o_orderpriority, v.o_orderpriority) AS o_orderpriority,
         coalesce(t.share, 0.0) AS p, coalesce(v.share, 0.0) AS q
  FROM (SELECT * FROM shares WHERE split = 'train') t
  FULL OUTER JOIN (SELECT * FROM shares WHERE split = 'valid') v
    ON t.o_orderpriority = v.o_orderpriority
), c AS (
  SELECT sum(p - q) OVER (ORDER BY o_orderpriority
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM j
)
SELECT round(sum(abs(cum)), 9) AS emd_train_valid FROM c
"""


# --------------------------------------------------------------------------
# batch 7: deterministic positional access
# --------------------------------------------------------------------------


def q_take_images(spark, sf_dir):
    """take_images: ordered first-n images with semi-joined annotations
    (the stable analog of the reference's positional iloc)."""
    ds = orders_dataset(spark, sf_dir).take_images(500)
    return ds.annotations.select("id", "image_id", "l_quantity")


ORACLE_TAKE_IMAGES = f"""
WITH head AS (SELECT o_orderkey AS id FROM orders ORDER BY id LIMIT 500)
SELECT {_LINE_ID} AS id, l_orderkey AS image_id, l_quantity
FROM lineitem WHERE l_orderkey IN (SELECT id FROM head)
"""


# --------------------------------------------------------------------------
# batch 4 (round 2): curation operators — decontamination, repetition
# quality signals, deterministic stratified sampling
# --------------------------------------------------------------------------


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per-doc count of word 3-gram shingles
    shared with a pseudo-benchmark (every 50th doc). Broadcast-join on
    the shingle string — the corpus side never shuffles."""
    from lours_spark.operators.decontaminate import benchmark_overlap

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    rest = d.filter(F.col("doc_id") % 50 != 0)
    return benchmark_overlap(rest, bench, "doc_id", "text", 3)


def _oracle_decontaminate() -> str:
    return f"""
WITH tok AS (SELECT doc_id, {dd_tokens('text')} AS w FROM documents),
sh AS (SELECT doc_id, unnest({dd_shingles('w')}) AS sh FROM tok),
b AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
d AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0)
SELECT d.doc_id, count(*)::BIGINT AS overlap FROM d JOIN b USING (sh) GROUP BY 1
"""


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition/quality signals per document (word,
    bigram, trigram repetition mass) — explode+groupBy partials, never
    a text shuffle."""
    from lours_spark.operators.quality import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _oracle_repetition() -> str:
    tri = (
        "list_transform(generate_series(1, len(w)-2), "
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
    )
    return f"""
WITH t AS (SELECT doc_id, {dd_tokens('text')} AS w FROM documents),
words AS (SELECT doc_id, unnest(w) AS word FROM t),
wc AS (SELECT doc_id, word, count(*) AS n FROM words GROUP BY 1, 2),
wagg AS (SELECT doc_id, sum(n)::BIGINT AS n_words,
                max(n)::BIGINT AS top_word_count FROM wc GROUP BY 1),
bgs AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
  THEN list_transform(generate_series(1, len(w)-1),
                      i -> concat_ws(' ', w[i], w[i+1]))
  ELSE CAST([] AS VARCHAR[]) END) AS bg FROM t),
bc AS (SELECT doc_id, bg, count(*) AS n FROM bgs GROUP BY 1, 2),
bagg AS (SELECT doc_id, max(n)::BIGINT AS top_bigram_count FROM bc GROUP BY 1),
tri AS (SELECT doc_id, CAST(CASE WHEN len(w) >= 3
  THEN len(w) - 2 - len(list_distinct({tri}))
  ELSE 0 END AS BIGINT) AS dup_trigram_excess FROM t)
SELECT w.doc_id, w.n_words, w.top_word_count,
       coalesce(b.top_bigram_count, 0)::BIGINT AS top_bigram_count,
       t.dup_trigram_excess
FROM wagg w LEFT JOIN bagg b USING (doc_id) JOIN tri t USING (doc_id)
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sample (md5-fraction
    predicate — pure filter, reproducible across engines/retries),
    summarized as per-stratum kept counts."""
    from lours_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        d, "lang", {"en": 0.5, "zh": 0.1}, id_col="doc_id", seed=42,
        default_fraction=0.25,
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


def _oracle_stratified() -> str:
    frac = dd_md5_long("doc_id::VARCHAR", 42)
    return f"""
SELECT lang, count(*)::BIGINT AS n_sampled FROM documents
WHERE (({frac}) % 4294967296)::DOUBLE / 4294967296.0 <
      CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.1 ELSE 0.25 END
GROUP BY lang
"""


def q_pii_signals(spark, sf_dir):
    """PII detection/redaction signals per document: match counts per
    kind + redacted text length — pure regexp column expressions, one
    codegen'd pass, no UDF. Deterministic synthetic PII (an email, an
    IP and a phone number derived from doc_id) is injected into every
    third document so the counts exercise all three patterns on both
    engines."""
    from lours_spark.operators.pii import pii_signals

    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or call +1555"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    with_pii = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, injected).otherwise(F.col("text")),
    )
    return pii_signals(with_pii)


def _oracle_pii() -> str:
    from lours_spark.operators.pii import PII_PATTERNS

    email, _ = PII_PATTERNS["email"]
    ipv4, _ = PII_PATTERNS["ipv4"]
    phone, _ = PII_PATTERNS["phone"]
    # the pattern strings use only Java-regex ∩ RE2 syntax, so they are
    # passed to DuckDB verbatim (single-quoted: no escape processing)
    return f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN
      concat(text, ' contact user', doc_id, '@mail.example.com from 10.0.',
             doc_id % 256, '.7 or call +1555',
             lpad((doc_id % 10000)::VARCHAR, 4, '0'))
    ELSE text END AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text, '{email}'))::BIGINT AS n_email,
  len(regexp_extract_all(text, '{ipv4}'))::BIGINT AS n_ipv4,
  len(regexp_extract_all(text, '{phone}'))::BIGINT AS n_phone,
  length(regexp_replace(regexp_replace(regexp_replace(text,
    '{email}', '[EMAIL]', 'g'), '{ipv4}', '[IP]', 'g'),
    '{phone}', '[PHONE]', 'g'))::BIGINT AS redacted_len
FROM t
"""


def q_paragraph_dedup(spark, sf_dir):
    """Global paragraph-level exact dedup (the Dolma-style pass):
    paragraphs repeated anywhere in the corpus keep only their first
    (doc, position) occurrence; documents reassemble in order. A shared
    boilerplate paragraph is prepended to every 4th document so the
    dedup has real work on both engines; the gate row is per-doc
    paragraph counts plus the md5 of the reassembled text."""
    from lours_spark.operators.dedup import paragraph_dedup

    d = _t(spark, sf_dir, "documents")
    with_boiler = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("SHARED BOILERPLATE FOOTER\n\n"), F.col("text")),
        ).otherwise(F.col("text")),
    )
    out = paragraph_dedup(with_boiler)
    return out.select(
        "doc_id",
        "n_paras_before",
        "n_paras_after",
        F.md5("text").alias("text_md5"),
    )


def _oracle_paragraph_dedup() -> str:
    return """
WITH t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0
      THEN 'SHARED BOILERPLATE FOOTER' || chr(10) || chr(10) || text
    ELSE text END AS text
  FROM documents
), s AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM t
), p AS (
  SELECT doc_id, unnest(generate_series(1, len(parts))) AS i, parts FROM s
), p2 AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS para FROM p
), k AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM p2
), r AS (
  SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
         count(*) AS n_paras_after
  FROM k WHERE rn = 1 GROUP BY doc_id
), b AS (
  SELECT doc_id, count(*) AS n_paras_before FROM p2 GROUP BY doc_id
)
SELECT b.doc_id, b.n_paras_before::BIGINT AS n_paras_before,
       coalesce(r.n_paras_after, 0)::BIGINT AS n_paras_after,
       md5(coalesce(r.text, '')) AS text_md5
FROM b LEFT JOIN r USING (doc_id)
"""


def q_table_profile(spark, sf_dir):
    """Data-profiling pass over lineitem's numeric measure columns: ONE
    wide aggregation (single exchange of a single row) unpivoted to
    long form — counts, null rate, exact distinct, range, mean, exact
    p50/p90/p99. Mean and quantiles round to 6dp (summation order and
    interpolation ulps differ across engines)."""
    from lours_spark.operators.profile import profile_table

    l = _t(spark, sf_dir, "lineitem")
    out = profile_table(l, ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select(
        "column", "n", "n_null", "distinct",
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"),
        F.round("mean", 6).alias("mean"),
        F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
        F.round("p99", 6).alias("p99"),
    )


def _oracle_table_profile() -> str:
    legs = []
    for c in ("l_quantity", "l_extendedprice", "l_discount"):
        legs.append(f"""
SELECT '{c}' AS column, count({c}) AS n,
  count(CASE WHEN {c} IS NULL THEN 1 END) AS n_null,
  count(DISTINCT {c})::BIGINT AS distinct,
  round(min({c})::DOUBLE, 6) AS min, round(max({c})::DOUBLE, 6) AS max,
  round(avg({c}), 6) AS mean,
  round(quantile_cont({c}, 0.5)::DOUBLE, 6) AS p50,
  round(quantile_cont({c}, 0.9)::DOUBLE, 6) AS p90,
  round(quantile_cont({c}, 0.99)::DOUBLE, 6) AS p99
FROM lineitem""")
    return " UNION ALL ".join(legs)


_PACK_BUDGET = 64


def q_pack_chunked(spark, sf_dir):
    """Concat-and-chunk sequence packing (GPT-style pretraining
    windows) over documents, sharded by source: window cumsum +
    pack-range explode, one shuffle on the shard key. Closed-form and
    deterministic, so the DuckDB twin matches hash-exact."""
    from lours_spark.operators.packing import pack_chunked

    d = _t(spark, sf_dir, "documents")
    return pack_chunked(d, budget=_PACK_BUDGET)


def _oracle_pack_chunked() -> str:
    b = _PACK_BUDGET
    return f"""
WITH t AS (
  SELECT source AS shard, doc_id,
         len({dd_tokens("text")})::BIGINT AS n_tok
  FROM documents
), f AS (SELECT * FROM t WHERE n_tok > 0),
c AS (
  SELECT shard, doc_id, n_tok,
         sum(n_tok) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS e
  FROM f
), p AS (
  SELECT shard, doc_id, n_tok, e - n_tok AS s, e,
         unnest(generate_series(
           ((e - n_tok) // {b})::BIGINT, ((e - 1) // {b})::BIGINT
         )) AS pack_seq
  FROM c
)
SELECT shard, doc_id, n_tok, pack_seq,
       greatest(pack_seq * {b}, s) - s AS tok_from,
       least((pack_seq + 1) * {b}, e) - s AS tok_to
FROM p
"""


_MIX_TARGETS = {"en": 0.3, "de": 0.2, "es": 0.2, "fr": 0.2, "zh": 0.1}


def q_mixture_weights(spark, sf_dir):
    """Domain-mixture reweighting (static pretraining recipe step):
    per-language token totals → no-upsampling subsample rates that hit
    the target mixture in expectation. One tiny aggregation; the
    min-ratio scale is a window over the |shards|-row aggregate."""
    from lours_spark.operators.sampling import mixture_weights

    d = _t(spark, sf_dir, "documents")
    out = mixture_weights(d, _MIX_TARGETS, shard_col="lang")
    return out.select(
        "shard",
        "n_tok_total",
        F.round("share", 6).alias("share"),
        F.round("weight", 6).alias("weight"),
    )


def _oracle_mixture_weights() -> str:
    case = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGETS.items()
    )
    return f"""
WITH t AS (
  SELECT lang AS shard,
         sum(len({dd_tokens("text")}))::BIGINT AS n_tok_total
  FROM documents GROUP BY 1
), s AS (
  SELECT shard, n_tok_total,
         n_tok_total / (SELECT sum(n_tok_total) FROM t) AS share
  FROM t
), r AS (
  SELECT shard, n_tok_total, share,
         CASE WHEN (CASE shard {case} END) > 0
              THEN share / (CASE shard {case} END) END AS ratio
  FROM s
)
SELECT shard, n_tok_total, round(share, 6) AS share,
       CASE WHEN ratio IS NULL THEN 0.0
            WHEN ratio = 0 THEN 1.0
            ELSE round(coalesce(
              (SELECT min(ratio) FROM r WHERE ratio > 0) / ratio, 1.0
            ), 6) END AS weight
FROM r
"""


_DECON_SPAN_W = 5


def q_decontaminate_spans(spark, sf_dir):
    """Surgical decontamination: every 97th document doubles as the
    'benchmark'; every 5-token span of the corpus that appears in the
    benchmark is stripped and the documents rebuilt (the benchmark
    members themselves get gutted — correct: their whole text is
    contaminated by definition). Hash covers the md5 of every rebuilt
    document plus the removed-token accounting."""
    from lours_spark.operators.decontaminate import remove_contaminated_spans

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0).select("text")
    out = remove_contaminated_spans(d, bench, window=_DECON_SPAN_W)
    return out.select(
        "doc_id",
        "n_tokens_before",
        "n_tokens_removed",
        F.md5("text").alias("text_md5"),
    )


def _oracle_decontaminate_spans() -> str:
    w = _DECON_SPAN_W
    return f"""
WITH tok AS (
  SELECT doc_id, {dd_tokens("text")} AS w FROM documents
), bw AS (
  SELECT DISTINCT array_to_string(w[i:i+{w - 1}], ' ') AS span
  FROM (SELECT {dd_tokens("text")} AS w FROM documents WHERE doc_id % 97 = 0),
       unnest(generate_series(1, len(w) - {w - 1})) AS u(i)
  WHERE len(w) >= {w}
), wnd AS (
  SELECT doc_id, i AS pos, array_to_string(w[i:i+{w - 1}], ' ') AS span
  FROM tok, unnest(generate_series(1, len(w) - {w - 1})) AS u(i)
  WHERE len(w) >= {w}
), cover AS (
  SELECT wnd.doc_id, wnd.pos FROM wnd JOIN bw USING (span)
), tokpos AS (
  SELECT doc_id, i AS p, w[i] AS token
  FROM tok, unnest(generate_series(1, len(w))) AS u(i)
), kept AS (
  SELECT tp.doc_id, tp.p, tp.token
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM cover c
    WHERE c.doc_id = tp.doc_id
      AND tp.p BETWEEN c.pos AND c.pos + {w - 1}
  )
), rebuilt AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY p) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
), nt AS (
  SELECT doc_id, len(w) AS n_tokens_before FROM tok
)
SELECT nt.doc_id,
       nt.n_tokens_before::BIGINT AS n_tokens_before,
       (nt.n_tokens_before - coalesce(n_kept, 0))::BIGINT
         AS n_tokens_removed,
       md5(coalesce(rebuilt.text, '')) AS text_md5
FROM nt LEFT JOIN rebuilt USING (doc_id)
"""


def q_cluster_representatives(spark, sf_dir):
    """Keep-best-of-cluster selection: near-dup clusters (same
    exact-Jaccard + connected-components construction as
    ``dedup_clusters``) × per-doc quality score → one representative
    per cluster (quality DESC, doc_id ASC). Hash covers every doc's
    cluster assignment, quality and the representative flag."""
    from lours_spark.functions.text import quality_score
    from lours_spark.operators.dedup import (
        cluster_representatives,
        ngram_jaccard_pairs,
    )
    from lours_spark.split.chunks import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.3)
    clusters = connected_components(pairs).select(
        F.col("node_id").alias("doc_id"),
        F.col("component_id").alias("cluster_id"),
    )
    scored = d.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )
    out = cluster_representatives(scored, clusters)
    return out.select(
        "doc_id",
        "cluster_id",
        "quality",
        F.col("is_representative").cast("int").alias("is_representative"),
    )


def _oracle_cluster_representatives() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_oracle_ngram_jaccard()})
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
cmembers AS (SELECT DISTINCT a AS doc_id FROM edges),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM cmembers
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
scored AS ({_oracle_quality()})
SELECT s.doc_id,
       coalesce(cl.cluster_id, s.doc_id) AS cluster_id,
       s.quality,
       (row_number() OVER (
           PARTITION BY coalesce(cl.cluster_id, s.doc_id)
           ORDER BY s.quality DESC, s.doc_id ASC
        ) = 1)::INT AS is_representative
FROM scored s LEFT JOIN cl USING (doc_id)
"""


def q_normalize_text(spark, sf_dir):
    """Canonical normalization pass: every 3rd document is made messy
    (tab/space padding, tripled inter-word spaces, trailing control
    characters) and ``normalize_text`` must restore one canonical form;
    the hash covers the md5 of every normalized document plus the
    before/after char accounting. The facet proves the Java-regex ∩ RE2
    pattern subset really is engine-portable."""
    from lours_spark.functions.text import normalize_text

    d = _t(spark, sf_dir, "documents")
    messy = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("\t  "),
            F.regexp_replace(F.col("text"), " ", "   "),
            F.lit(" \x01\x02  "),
        ),
    ).otherwise(F.col("text"))
    m = d.select("doc_id", messy.alias("__m"))
    return m.select(
        "doc_id",
        F.length("__m").cast("long").alias("n_chars_messy"),
        F.length(normalize_text(F.col("__m"))).cast("long").alias(
            "n_chars_norm"
        ),
        F.md5(normalize_text(F.col("__m"))).alias("norm_md5"),
    )


def _oracle_normalize_text() -> str:
    return r"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN e'\t  ' || replace(text, ' ', '   ') || e' \x01\x02  '
              ELSE text END AS t
  FROM documents
), n AS (
  SELECT doc_id, t,
         lower(trim(regexp_replace(
             regexp_replace(t, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
             '\s+', ' ', 'g'))) AS norm
  FROM m
)
SELECT doc_id,
       length(t)::BIGINT AS n_chars_messy,
       length(norm)::BIGINT AS n_chars_norm,
       md5(norm) AS norm_md5
FROM n
"""


def q_ngram_logprob(spark, sf_dir):
    """Char-trigram self-information per document (the CCNet
    perplexity-filter analog, fit on the corpus itself). avg_nll is a
    mean of ~100-500 log2 terms — rounded to 6dp, which absorbs the
    engines' differing partial-sum orders (terms are O(10), double
    error O(1e-12))."""
    from lours_spark.operators.quality import ngram_logprob

    d = _t(spark, sf_dir, "documents")
    out = ngram_logprob(d)
    return out.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.round("avg_nll", 6).alias("avg_nll"),
    )


def _oracle_ngram_logprob() -> str:
    return """
WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
g AS (
  SELECT doc_id, substr(t, i, 3) AS gram
  FROM t, unnest(generate_series(1, length(t) - 2)) AS u(i)
  WHERE length(t) >= 3
),
c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
tot AS (SELECT count(*) AS total FROM g),
s AS (
  SELECT doc_id, count(*) AS n_grams,
         round(avg(-log2(cnt::DOUBLE / total)), 6) AS avg_nll
  FROM g JOIN c USING (gram), tot GROUP BY doc_id
)
SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams, avg_nll
FROM (SELECT doc_id FROM documents) d LEFT JOIN s USING (doc_id)
"""


def q_bloom_novel(spark, sf_dir):
    """Broadcast-bloom novelty filter (bench-only: xxhash64 has no
    DuckDB twin; guarantees are pinned in tests/test_bloom.py): the
    docs with doc_id % 3 != 0 play yesterday's corpus, the full table
    is today's delta — survivors are (almost all of) the % 3 == 0
    third, with zero false re-admissions and no shuffle of either
    side."""
    from lours_spark.functions.text import fingerprint
    from lours_spark.operators.bloom import filter_novel

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    seen = d.filter(F.col("doc_id") % 3 != 0).select("fp")
    return filter_novel(d, seen, "fp").select("doc_id")


def q_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document (the
    CCNet-style gibberish/encoded-blob signal) plus alphabet size.
    Both engines fold -p*log2(p) over the SORTED alphabet left to
    right (Spark ``aggregate`` vs DuckDB ``list_reduce``), so the
    float is bit-identical and the hash is value-exact."""
    from lours_spark.functions.text import char_entropy

    d = _t(spark, sf_dir, "documents")
    chars = F.filter(F.split(F.col("text"), ""), lambda x: x != F.lit(""))
    return d.select(
        "doc_id",
        F.size(chars).cast("long").alias("n_chars_real"),
        F.size(F.array_distinct(chars)).cast("long").alias("n_alphabet"),
        F.round(char_entropy(F.col("text")), 6).alias("entropy_bits"),
    )


def _oracle_char_entropy() -> str:
    return """
WITH b AS (
  SELECT doc_id,
         list_filter(string_split(text, ''), x -> x <> '') AS chars
  FROM documents
), s AS (
  SELECT doc_id, chars,
         list_sort(list_distinct(chars)) AS alphabet,
         len(chars) AS n
  FROM b
)
SELECT doc_id,
       n::BIGINT AS n_chars_real,
       len(alphabet)::BIGINT AS n_alphabet,
       CASE WHEN n > 0 THEN round(coalesce(list_reduce(
         list_transform(alphabet, c ->
           -(len(list_filter(chars, x -> x = c)) / n)
            * log2(len(list_filter(chars, x -> x = c)) / n)),
         (a, b) -> a + b), 0.0), 6) ELSE 0.0 END AS entropy_bits
FROM s
"""


_FUNNEL_WITHIN_S = 604800  # 7-day per-step conversion window


def q_funnel(spark, sf_dir):
    """3-step conversion funnel (signup → click → purchase, each step
    within 7 days of the previous) — greedy earliest-match semantics
    via composed forward as-of joins; one row per signed-up user, hash
    over every step timestamp and the completion count."""
    from lours_spark.operators.temporal import funnel

    e = _t(spark, sf_dir, "events")
    out = funnel(
        e, ["signup", "click", "purchase"], within=_FUNNEL_WITHIN_S
    )
    return out.select(
        "user_id",
        F.unix_micros("step_1_ts").alias("step_1_us"),
        F.unix_micros("step_2_ts").alias("step_2_us"),
        F.unix_micros("step_3_ts").alias("step_3_us"),
        "steps_completed",
    )


def _oracle_funnel() -> str:
    w = _FUNNEL_WITHIN_S * 1_000_000
    return f"""
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT s1.user_id, t1, min(epoch_us(e.ts)) AS t2
  FROM s1 LEFT JOIN events e
    ON e.user_id = s1.user_id AND e.event_type = 'click'
   AND epoch_us(e.ts) >= t1 AND epoch_us(e.ts) <= t1 + {w}
  GROUP BY s1.user_id, t1
), s3 AS (
  SELECT s2.user_id, t1, t2, min(epoch_us(e.ts)) AS t3
  FROM s2 LEFT JOIN events e
    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
   AND epoch_us(e.ts) >= t2 AND epoch_us(e.ts) <= t2 + {w}
  GROUP BY s2.user_id, t1, t2
)
SELECT user_id, t1 AS step_1_us, t2 AS step_2_us, t3 AS step_3_us,
       (1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT)
         AS steps_completed
FROM s3
"""


_ROLL_WINDOW_S = 86400  # 24h rolling window


def q_rolling_agg(spark, sf_dir):
    """Per-user 24h sliding-window aggregates anchored at every event
    (RANGE frame — same-timestamp peers always aggregate together, so
    the result needs no tie-break). Values go through floor(value*100)
    integer cents: count/sum/max over BIGINTs are exact, keeping the
    hash engine-independent where a double sum's fold order wouldn't
    be (DuckDB's segment-tree window vs Spark's running frame)."""
    from lours_spark.operators.windows import rolling_aggregate

    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = rolling_aggregate(
        base, "user_id", "ts", "cents",
        window=_ROLL_WINDOW_S, aggs=("count", "sum", "max"),
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("roll_count").cast("long").alias("n_24h"),
        F.col("roll_sum").alias("sum_cents_24h"),
        F.col("roll_max").alias("max_cents_24h"),
    )


def _oracle_rolling_agg() -> str:
    span = _ROLL_WINDOW_S * 1_000_000
    return f"""
SELECT event_id, user_id,
       count(cents) OVER w AS n_24h,
       sum(cents) OVER w AS sum_cents_24h,
       max(cents) OVER w AS max_cents_24h
FROM (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         floor(value * 100)::BIGINT AS cents
  FROM events
)
WINDOW w AS (
  PARTITION BY user_id ORDER BY us
  RANGE BETWEEN {span} PRECEDING AND CURRENT ROW
)
"""


_ASOF_TOL_S = 86400  # backward tolerance: purchase within the last day
_RANGE_BAND_S = 21600  # ±6h click↔error co-occurrence band


def q_asof_join(spark, sf_dir):
    """Point-in-time join: every click event gains the most recent
    purchase at-or-before it for the same user, nulled when the
    purchase is older than 24h (the feature-store as-of lookup). Hash
    covers the matched purchase timestamp and value for every click —
    including the deterministic max-payload tie-break."""
    from lours_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, purchases, "user_id", "ts", tolerance=_ASOF_TOL_S
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("ts_r").alias("purchase_us"),
        F.round("value_r", 6).alias("purchase_value"),
    )


def _oracle_asof_join() -> str:
    return f"""
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_us(ts) AS us, value FROM events
  WHERE event_type = 'purchase'
), u AS (
  SELECT user_id, us, 1 AS side, event_id,
         NULL::STRUCT(us BIGINT, v DOUBLE) AS pay
  FROM c
  UNION ALL
  SELECT user_id, us, 0, NULL, struct_pack(us := us, v := value) FROM p
), w AS (
  SELECT user_id, us, side, event_id,
    last_value(pay IGNORE NULLS) OVER (
      PARTITION BY user_id
      ORDER BY us ASC, side ASC, pay ASC NULLS FIRST
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS m
  FROM u
)
SELECT event_id, user_id, us AS click_us,
  CASE WHEN m IS NOT NULL AND us - m.us <= {_ASOF_TOL_S}::BIGINT * 1000000
       THEN m.us END AS purchase_us,
  CASE WHEN m IS NOT NULL AND us - m.us <= {_ASOF_TOL_S}::BIGINT * 1000000
       THEN round(m.v, 6) END AS purchase_value
FROM w WHERE side = 1
"""


def q_range_join(spark, sf_dir):
    """Banded range join: all (click, error) pairs for the same user
    within ±6 hours — right rows bucketed by the band width, left rows
    probing their two covering buckets, so the inequality join runs as
    an equi-join + exact filter. Hash covers every pair and its signed
    time delta."""
    from lours_spark.operators.temporal import range_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    out = range_join(
        clicks, errors, "user_id", "ts",
        lower=-_RANGE_BAND_S, upper=_RANGE_BAND_S,
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_r").alias("error_id"),
        "user_id",
        (F.unix_micros("ts_r") - F.unix_micros("ts")).alias("delta_us"),
    )


def _oracle_range_join() -> str:
    band = _RANGE_BAND_S * 1_000_000
    return f"""
SELECT c.event_id AS click_id, e.event_id AS error_id, c.user_id,
       epoch_us(e.ts) - epoch_us(c.ts) AS delta_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id
 AND epoch_us(e.ts) BETWEEN epoch_us(c.ts) - {band}
                        AND epoch_us(c.ts) + {band}
"""


# Injected variants for q_gopher_rules: bullet-heavy and
# ellipsis-heavy texts so the two line-shape rules actually fire on the
# synthetic corpus (which is single-line). Shared literals keep the
# Spark and DuckDB sides byte-identical.
_GOPHER_BULLETS = "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n"
_GOPHER_ELLIPS = "\nwait...\nhmm...\nso...\nthen...\nnow...\nok..."
# Gopher's canonical 8 stop words barely occur in the synthetic corpus
# (mean 0.75 distinct per doc → the flag would be constant 0); a wider
# function-word list puts ~63% of docs over the >=2 bar so the rule
# actually discriminates here. The operator default stays the paper's 8.
_GOPHER_FACET_STOPS = (
    "the", "and", "of", "to", "in", "is", "that", "for", "with", "it", "a",
)


def q_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText rule signals + combined keep flag over the
    corpus, with every 11th document made bullet-heavy (10 prepended
    bullet lines → bullet_line_frac ≈ 0.909 > 0.9) and every 13th
    ellipsis-heavy (6 appended '...' lines → ellipsis_line_frac > 0.3)
    so the two line-shape rules discriminate; the word-level rules
    (length 10–99 tokens vs min 50, English-only stop words vs 5
    languages) already split the corpus. Hash covers all seven signals
    plus the flag for every document."""
    from lours_spark.operators.quality import gopher_rules

    d = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.when(F.col("doc_id") % 11 == 0, F.lit(_GOPHER_BULLETS)).otherwise(
            F.lit("")
        ),
        F.col("text"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(_GOPHER_ELLIPS)).otherwise(
            F.lit("")
        ),
    )
    return gopher_rules(
        d.select("doc_id", messy.alias("text")),
        stopwords=_GOPHER_FACET_STOPS,
    )


def _oracle_gopher_rules() -> str:
    bullets = _GOPHER_BULLETS.replace("\n", "\\n")
    ellips = _GOPHER_ELLIPS.replace("\n", "\\n")
    stops = ", ".join(f"'{s}'" for s in _GOPHER_FACET_STOPS)
    return f"""
WITH m AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 11 = 0 THEN e'{bullets}' ELSE '' END)
         || text
         || (CASE WHEN doc_id % 13 = 0 THEN e'{ellips}' ELSE '' END) AS t
  FROM documents
), base AS (
  SELECT doc_id, t,
         list_filter({dd_tokens("t")}, x -> x <> '') AS w,
         string_split(t, chr(10)) AS lines
  FROM m
), sig AS (
  SELECT doc_id,
    len(w)::BIGINT AS n_words,
    CASE WHEN len(w) > 0 THEN round(
      list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w), 6)
      ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(w) > 0 THEN round(
      (len(regexp_extract_all(t, '#'))
       + len(regexp_extract_all(t, '\\.\\.\\.|…')))::DOUBLE / len(w), 6)
      ELSE 0.0 END AS symbol_word_ratio,
    CASE WHEN len(w) > 0 THEN round(
      len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE
      / len(w), 6) ELSE 0.0 END AS alpha_word_frac,
    len(list_intersect(list_distinct(w), [{stops}]))::BIGINT
      AS n_stop_words,
    round(len(list_filter(lines,
      x -> regexp_matches(x, '^\\s*[-*•]')))::DOUBLE / len(lines), 6)
      AS bullet_line_frac,
    round(len(list_filter(lines,
      x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))::DOUBLE
      / len(lines), 6) AS ellipsis_line_frac
  FROM base
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
       alpha_word_frac, n_stop_words, bullet_line_frac,
       ellipsis_line_frac,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND n_stop_words >= 2)::INT AS gopher_keep
FROM sig
"""


def q_curation_pipeline(spark, sf_dir):
    """The composed end-to-end curation chain (pipeline.py): exact
    dedup → per-language quality percentile → PII redaction → mixture
    subsample → 512-token packing, one lazy plan over the documents
    table. Bench-only: the stages are individually oracle-gated; this
    times their composition."""
    from lours_spark.pipeline import CurationConfig, curate_documents

    d = _t(spark, sf_dir, "documents")
    cfg = CurationConfig(
        quality_min_pct=0.2,
        mixture_targets={"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1,
                         "zh": 0.1},
        pack_budget=512,
        seed=42,
    )
    return curate_documents(d, cfg)


def q_pack_greedy(spark, sf_dir):
    """Whole-document first-fit-decreasing packing per shard
    (Arrow-batched applyInPandas; the sequential FFD heart runs inside
    each shard, shards pack in parallel). Not SQL-expressible — bench
    entry; invariants are pinned in tests/test_packing.py."""
    from lours_spark.operators.packing import pack_greedy

    d = _t(spark, sf_dir, "documents")
    return pack_greedy(d, budget=_PACK_BUDGET)


_SHUFFLE_SHARDS = 8


def q_global_shuffle(spark, sf_dir):
    """Deterministic training-order shuffle: every doc gets a seeded
    (shard, pos) from its md5 hash — one reproducible global
    permutation with no global sort (per-shard windows only)."""
    from lours_spark.operators.ordering import global_shuffle

    d = _t(spark, sf_dir, "documents")
    out = global_shuffle(d, id_col="doc_id", seed=42, num_shards=_SHUFFLE_SHARDS)
    # shuffle_* names: the pipeline_quality facet union already has a
    # VARCHAR "shard" (pack_chunked/mixture_weights legs) — reusing the
    # name would force a cross-engine numeric→string coercion
    return out.select(
        "doc_id",
        F.col("shard").alias("shuffle_shard"),
        F.col("pos").alias("shuffle_pos"),
    )


def _oracle_global_shuffle() -> str:
    key = dd_md5_long("doc_id::VARCHAR", 42)
    return f"""
WITH k AS (SELECT doc_id, {key} AS key FROM documents)
SELECT doc_id, key % {_SHUFFLE_SHARDS} AS shuffle_shard,
       row_number() OVER (
         PARTITION BY key % {_SHUFFLE_SHARDS} ORDER BY key, doc_id
       ) AS shuffle_pos
FROM k
"""


_CAP_PER_SOURCE = 20


def q_cap_per_group(spark, sf_dir):
    """Per-domain document cap (C4/RefinedWeb-style host caps): keep
    the 20 longest docs per source, ties broken by doc_id."""
    from lours_spark.operators.sampling import cap_per_group

    d = _t(spark, sf_dir, "documents")
    out = cap_per_group(
        d, "source", "n_chars", k=_CAP_PER_SOURCE, tiebreak_col="doc_id"
    )
    return out.select("doc_id", "source", "cap_rank")


def _oracle_cap_per_group() -> str:
    return f"""
SELECT doc_id, source, cap_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS cap_rank
  FROM documents
) WHERE cap_rank <= {_CAP_PER_SOURCE}
"""


def q_quality_percentile(spark, sf_dir):
    """Per-language quality percentile filter: drop the bottom half of
    each language by quality (absolute-score thresholds over-prune
    low-resource languages; a per-group cume_dist doesn't, and unlike
    percent_rank it never pins tiny groups to 0). Ordering ties break
    by doc_id, so the percentile is a total order — engine-exact."""
    from lours_spark.functions.text import quality_score
    from lours_spark.operators.quality import filter_quality_percentile

    d = _t(spark, sf_dir, "documents")
    out = filter_quality_percentile(
        d, quality_score(F.col("text")), 0.5, group_col="lang"
    )
    return out.select("doc_id", "lang", F.round("q_pct", 9).alias("q_pct"))


def _oracle_quality_percentile() -> str:
    # the gated quality_score takes only 4 values (mean of 3 binary
    # signals), so ordering by the oracle's 6-decimal rounding equals
    # ordering by the exact Spark-side score
    return f"""
WITH q AS ({_oracle_quality()})
SELECT doc_id, lang, round(q_pct, 9) AS q_pct FROM (
  SELECT d.doc_id, d.lang,
         cume_dist() OVER (
           PARTITION BY d.lang ORDER BY q.quality, d.doc_id
         ) AS q_pct
  FROM documents d JOIN q USING (doc_id)
) WHERE q_pct > 0.5
"""


_SEMDEDUP_THRESHOLD = 0.92


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (cluster-then-prune) over embeddings with the FIXED
    deterministic coarse centers of the ivf_topk gate (embeddings of
    the first vec_ids): argmin L2 assignment and the verify cosine are
    sequential-fold expressions matching the DuckDB twin bit-for-bit,
    so the dup marks hash exactly (the production k-means mode stays
    covered in tests/test_operators.py)."""
    from lours_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    ids, cents = _fixed_centroids(emb)
    out = semantic_dedup(
        emb,
        threshold=_SEMDEDUP_THRESHOLD,
        centroids=cents,
        use_arrow_cosine=False,
    )
    # the operator's cluster_id is the centroid's LIST INDEX; the
    # oracle emits the centroid's vec_id — map index → id so parity
    # doesn't silently assume the low vec_ids are contiguous from 0
    cent_ids = F.array(*[F.lit(i) for i in ids])
    return out.select(
        "vec_id",
        F.element_at(cent_ids, F.col("cluster_id") + 1).alias("cluster_id"),
        F.col("is_dup").cast("int").alias("is_dup"),
    )


def _oracle_semantic_dedup() -> str:
    # a = the row being marked (higher id), b = its lower-id neighbor —
    # same argument order as the Spark-side cosine
    cos = _dd_cosine("a.embedding", "b.embedding")
    return f"""
WITH {_dd_assigned_cte()}, dups AS (
  SELECT DISTINCT a.vec_id FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE {cos} >= {_SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.cid AS cluster_id,
       CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
FROM assigned a LEFT JOIN dups d USING (vec_id)
"""


_SPAN_WINDOW = 8
_SPAN_BOILER = (
    "this content is mirrored verbatim across many sites in the crawl"
)


def q_dup_spans(spark, sf_dir):
    """Cross-document duplicated-span fraction (Lee et al. span-dedup
    signal): a shared 11-word boilerplate sentence is prepended to
    every 5th document, so those docs share windows that whole-doc and
    paragraph dedup both miss (the rest of each doc differs). Windows
    join on their literal text — bit-exact across engines."""
    from lours_spark.operators.dedup import span_dup_signals

    d = _t(spark, sf_dir, "documents")
    with_shared = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_SPAN_BOILER + " "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    out = span_dup_signals(with_shared, window=_SPAN_WINDOW)
    return out.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        F.round("dup_frac", 9).alias("dup_frac"),
    )


def _oracle_dup_spans() -> str:
    w = _SPAN_WINDOW
    return f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN '{_SPAN_BOILER} ' || text
              ELSE text END AS text
  FROM documents
), tok AS (
  SELECT doc_id, {dd_tokens("text")} AS w FROM t
), wnd AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(1, len(w) - {w - 1}),
    i -> array_to_string(w[i:i+{w - 1}], ' ')
  )) AS span
  FROM tok WHERE len(w) >= {w}
), dup AS (
  SELECT span FROM (
    SELECT span, count(DISTINCT doc_id) AS d FROM wnd GROUP BY span
  ) WHERE d >= 2
), per AS (
  SELECT wnd.doc_id, count(*) AS n_windows,
         sum(CASE WHEN dup.span IS NULL THEN 0 ELSE 1 END) AS n_dup_windows
  FROM wnd LEFT JOIN dup USING (span) GROUP BY wnd.doc_id
)
SELECT t.doc_id,
       coalesce(n_windows, 0)::BIGINT AS n_windows,
       coalesce(n_dup_windows, 0)::BIGINT AS n_dup_windows,
       round(CASE WHEN coalesce(n_windows, 0) > 0
             THEN coalesce(n_dup_windows, 0)::DOUBLE / n_windows
             ELSE 0.0 END, 9) AS dup_frac
FROM t LEFT JOIN per USING (doc_id)
"""


def q_remove_dup_spans(spark, sf_dir):
    """Exact-substring removal (Lee et al. ExactSubstr, token-window
    form): the same boilerplate injection as ``dup_spans`` plants an
    11-word span in every 5th document; the operator must strip it
    from every doc except the canonical first occurrence and rebuild
    the text. Hash covers the md5 of every rebuilt document plus the
    removed-token accounting."""
    from lours_spark.operators.dedup import remove_dup_spans

    d = _t(spark, sf_dir, "documents")
    with_shared = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_SPAN_BOILER + " "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    out = remove_dup_spans(with_shared, window=_SPAN_WINDOW)
    return out.select(
        "doc_id",
        "n_tokens_before",
        "n_tokens_removed",
        F.md5("text").alias("text_md5"),
    )


def _oracle_remove_dup_spans() -> str:
    w = _SPAN_WINDOW
    return f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN '{_SPAN_BOILER} ' || text
              ELSE text END AS text
  FROM documents
), tok AS (
  SELECT doc_id, {dd_tokens("text")} AS w FROM t
), wnd AS (
  SELECT doc_id, i AS pos, array_to_string(w[i:i+{w - 1}], ' ') AS span
  FROM tok, unnest(generate_series(1, len(w) - {w - 1})) AS u(i)
  WHERE len(w) >= {w}
), occ AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY span) AS occ_n,
         row_number() OVER (
           PARTITION BY span ORDER BY doc_id, pos
         ) AS rn
  FROM wnd
), cover AS (
  SELECT doc_id, pos FROM occ WHERE occ_n >= 2 AND rn > 1
), tokpos AS (
  SELECT doc_id, i AS p, w[i] AS token
  FROM tok, unnest(generate_series(1, len(w))) AS u(i)
), kept AS (
  SELECT tp.doc_id, tp.p, tp.token
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM cover c
    WHERE c.doc_id = tp.doc_id
      AND tp.p BETWEEN c.pos AND c.pos + {w - 1}
  )
), rebuilt AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY p) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
), nt AS (
  SELECT doc_id, len(w) AS n_tokens_before FROM tok
)
SELECT t.doc_id,
       nt.n_tokens_before::BIGINT AS n_tokens_before,
       (nt.n_tokens_before - coalesce(n_kept, 0))::BIGINT
         AS n_tokens_removed,
       md5(coalesce(rebuilt.text, '')) AS text_md5
FROM t JOIN nt USING (doc_id) LEFT JOIN rebuilt USING (doc_id)
"""


# --------------------------------------------------------------------------
# round 8: vocabulary induction, weighted sampling, z-order layout
# --------------------------------------------------------------------------

_VOCAB_TOP_PAIRS = 40


def q_vocab_pair_stats(spark, sf_dir):
    """BPE merge statistics (the counting pass of a tokenizer trainer):
    every adjacent character pair, counted corpus-wide weighted by word
    frequency. Pairs explode from the DISTINCT-word frame — candidate
    volume is vocabulary-sized, not corpus-sized — and the top-N rides
    TakeOrderedAndProject."""
    from lours_spark.operators.vocab import merge_pair_stats

    d = _t(spark, sf_dir, "documents")
    return merge_pair_stats(d, top_n=_VOCAB_TOP_PAIRS)


def _oracle_vocab_pair_stats() -> str:
    return f"""
WITH words AS (
  SELECT w FROM (
    SELECT unnest({dd_tokens('text')}) AS w FROM documents
  ) WHERE len(w) > 0
), wc AS (SELECT w, count(*) AS n FROM words GROUP BY w),
pairs AS (
  SELECT substr(w, i, 2) AS pair, w, n
  FROM wc, unnest(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
)
SELECT pair, sum(n)::BIGINT AS pair_count, count(DISTINCT w)::BIGINT AS n_words
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair LIMIT {_VOCAB_TOP_PAIRS}
"""


_WSAMPLE_K = 100
_WSAMPLE_SEED = 5


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis
    exponential keys over the seeded md5 uniform): sample 100 docs with
    probability proportional to length — the token-budget sampler.
    Integer outputs only; the float key never leaves the engine."""
    from lours_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    out = weighted_sample(
        d, "n_chars", k=_WSAMPLE_K, id_col="doc_id", seed=_WSAMPLE_SEED
    )
    return out.select(
        "doc_id", F.col("n_chars").alias("sample_weight"), "sample_rank"
    )


def _oracle_weighted_sample() -> str:
    h = dd_md5_long("doc_id::VARCHAR", _WSAMPLE_SEED)
    return f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         -ln((({h}) % 4294967296 + 1)::DOUBLE / 4294967296e0)
           / n_chars::DOUBLE AS key
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, n_chars AS sample_weight,
       row_number() OVER (ORDER BY key, doc_id) AS sample_rank
FROM keyed ORDER BY key, doc_id LIMIT {_WSAMPLE_K}
"""


_Z_BITS = 8
_Z_BUCKET_SHIFT = 2 * _Z_BITS - 6  # 64 buckets from the 16-bit Morton key


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key: interleave the low 8 bits of
    (l_partkey, l_suppkey) and derive the target file bucket from the
    key's top 6 bits — the multi-dimensional data-skipping layout
    (write path: operators.zorder.write_zordered). Pure integer
    bit-ops inside whole-stage codegen."""
    from lours_spark.operators.zorder import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    z = zorder_key([F.col("l_partkey"), F.col("l_suppkey")], bits=_Z_BITS)
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        z.alias("zval"),
        F.shiftright(z, _Z_BUCKET_SHIFT).alias("zbucket"),
    )


def _oracle_zorder_layout() -> str:
    mask = (1 << _Z_BITS) - 1
    terms = []
    for j in range(_Z_BITS):
        terms.append(
            f"((((l_partkey & {mask}) >> {j}) & 1) * {1 << (2 * j)})"
        )
        terms.append(
            f"((((l_suppkey & {mask}) >> {j}) & 1) * {1 << (2 * j + 1)})"
        )
    z = " + ".join(terms)
    return f"""
WITH z AS (
  SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, ({z}) AS zval
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, zval, (zval >> {_Z_BUCKET_SHIFT}) AS zbucket
FROM z
"""


_BOILER_SHARE = 0.1
_BOILER_NAV = "SHARED NAV MENU HOME ABOUT CONTACT"
_BOILER_FOOT = "COPYRIGHT FOOTER ALL RIGHTS RESERVED"


def q_boilerplate_removal(spark, sf_dir):
    """Corpus-frequency boilerplate removal (CCNet/RefinedWeb): a nav
    paragraph is planted on every 4th document and a footer on every
    6th — both exceed 10% of the corpus and are removed from EVERY
    document (unlike paragraph_dedup's keep-first); genuine paragraphs
    survive. Gate row: per-doc paragraph counts + md5 of the rebuilt
    text."""
    from lours_spark.operators.dedup import remove_boilerplate_paragraphs

    d = _t(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text",
        F.concat(
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(_BOILER_NAV + "\n\n")
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 6 == 0, F.lit("\n\n" + _BOILER_FOOT)
            ).otherwise(F.lit("")),
        ),
    )
    out = remove_boilerplate_paragraphs(planted, max_doc_share=_BOILER_SHARE)
    return out.select(
        "doc_id",
        "n_paras_before",
        "n_paras_after",
        F.md5("text").alias("text_md5"),
    )


def _oracle_boilerplate_removal() -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 4 = 0
       THEN '{_BOILER_NAV}' || chr(10) || chr(10) ELSE '' END)
    || text ||
    (CASE WHEN doc_id % 6 = 0
       THEN chr(10) || chr(10) || '{_BOILER_FOOT}' ELSE '' END) AS text
  FROM documents
), s AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM t
), p AS (
  SELECT doc_id, unnest(generate_series(1, len(parts))) AS i, parts FROM s
), paras AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS para FROM p
), thr AS (
  SELECT floor({_BOILER_SHARE} * count(DISTINCT doc_id)) AS cut FROM t
), boiler AS (
  SELECT para FROM paras, thr
  GROUP BY para, cut HAVING count(DISTINCT doc_id) > cut
), kept AS (
  SELECT paras.* FROM paras ANTI JOIN boiler USING (para)
), rebuilt AS (
  SELECT doc_id,
         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
         count(*) AS n_paras_after
  FROM kept GROUP BY doc_id
), before AS (
  SELECT doc_id, count(*) AS n_paras_before FROM paras GROUP BY doc_id
)
SELECT b.doc_id, b.n_paras_before,
       coalesce(r.n_paras_after, 0) AS n_paras_after,
       md5(coalesce(r.text, '')) AS text_md5
FROM before b LEFT JOIN rebuilt r USING (doc_id)
"""


_CLS_BUCKETS = 4096
_CLS_SEED = 8
_CLS_ALPHA = 1.0


def q_classifier_score(spark, sf_dir):
    """Hashed n-gram linear quality classifier (fastText/DCLM-style):
    train naive-Bayes log-odds weights on a deterministic text-derived
    label (document contains the token 'the' — a proxy "trusted
    corpus" split), then score every document. Train + score are both
    replayed end-to-end in the oracle: same md5 bucket hashing, same
    smoothing, same centered weights and bias."""
    from lours_spark.functions.text import tokens as _tokens
    from lours_spark.operators.quality import (
        classifier_score,
        train_ngram_classifier,
    )

    d = _t(spark, sf_dir, "documents")
    labeled = d.withColumn(
        "__y",
        F.array_contains(_tokens(F.col("text")), "the").cast("int"),
    )
    w, b = train_ngram_classifier(
        labeled, "__y", num_buckets=_CLS_BUCKETS, seed=_CLS_SEED,
        smoothing=_CLS_ALPHA,
    )
    out = classifier_score(
        d, w, b, num_buckets=_CLS_BUCKETS, seed=_CLS_SEED
    )
    return out.select(
        "doc_id", "n_grams", F.round("score", 6).alias("score")
    )


def _oracle_classifier_score() -> str:
    B, a = _CLS_BUCKETS, _CLS_ALPHA
    h = dd_md5_long("gram", _CLS_SEED)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter({dd_tokens('text')}, w -> len(w) > 0) AS t
  FROM documents
), lab AS (
  SELECT doc_id, t,
         CASE WHEN list_contains(t, 'the') THEN 1 ELSE 0 END AS y
  FROM toks
), uni AS (
  SELECT doc_id, y, unnest(t) AS gram FROM lab
), big AS (
  SELECT doc_id, y, t[i] || ' ' || t[i+1] AS gram
  FROM lab, unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
), grams AS (
  SELECT * FROM uni UNION ALL SELECT * FROM big
), bk AS (
  SELECT doc_id, y, ({h}) % {B} AS bucket FROM grams
), per AS (
  SELECT bucket, sum(y)::DOUBLE AS pos, sum(1 - y)::DOUBLE AS neg
  FROM bk GROUP BY bucket
), tot AS (
  SELECT sum(pos) AS p, sum(neg) AS n,
         ln({a} / (sum(pos) + {a} * {B}))
           - ln({a} / (sum(neg) + {a} * {B})) AS dflt
  FROM per
), w AS (
  SELECT bucket,
         ln((pos + {a}) / (p + {a} * {B}))
           - ln((neg + {a}) / (n + {a} * {B})) - dflt AS weight
  FROM per, tot
), cls AS (
  SELECT ln(greatest(sum(y), 1)::DOUBLE / greatest(sum(1 - y), 1)) AS lr
  FROM lab
), bias AS (SELECT lr + dflt AS b FROM cls, tot
), doc AS (
  SELECT doc_id, sum(coalesce(weight, 0)) AS sw, count(*) AS ng
  FROM bk LEFT JOIN w USING (bucket) GROUP BY doc_id
)
SELECT d.doc_id, coalesce(doc.ng, 0) AS n_grams,
       round(1.0 / (1.0 + exp(-(bias.b
         + coalesce(doc.sw / doc.ng, 0)))), 6) AS score
FROM documents d LEFT JOIN doc USING (doc_id), bias
"""


def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL corpus round-trip (io/jsonl.py, round 11): write the
    documents table as gzipped JSONL (declared schema, bounded records
    per file), read it back with the declared document schema, and
    emit per-doc identity evidence. The oracle states the expected
    fixpoint straight off the parquet table, so hash-exactness proves
    ``write_jsonl -> read_jsonl`` preserves every value bit-for-bit —
    the only way the facet passes is if the JSON encode/decode cycle
    is lossless (cross-engine parse parity with DuckDB
    ``read_json_auto`` over the same written files is pinned in
    tests/test_io.py, where paths are test-local)."""
    import hashlib
    import os
    import tempfile

    from lours_spark.io.jsonl import read_jsonl, write_jsonl

    d = _t(spark, sf_dir, "documents")
    # DETERMINISTIC scratch dir keyed by the corpus, overwritten per
    # invocation: mkdtemp here would leak one full gzipped corpus copy
    # into /tmp per gate/bench run (the facet runs several times per
    # bench) until the disk fills — bounded-by-construction instead.
    # Concurrent same-corpus invocations would race the overwrite, but
    # the bench/gate discipline already forbids concurrent Spark runs.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out = os.path.join(
        tempfile.gettempdir(), "lours_jsonl_gate", tag, "corpus"
    )
    write_jsonl(d, out, compression="gzip", num_shards=4, mode="overwrite")
    rt = read_jsonl(spark, out)
    return rt.select(
        "doc_id",
        F.col("lang").alias("rt_lang"),
        F.col("source").alias("rt_source"),
        F.col("n_chars").alias("rt_n_chars"),
        F.md5("text").alias("rt_text_md5"),
    )


def _oracle_jsonl_roundtrip() -> str:
    return """
SELECT doc_id, lang AS rt_lang, source AS rt_source,
       n_chars AS rt_n_chars, md5(text) AS rt_text_md5
FROM documents
"""


# ==========================================================================
# registry
# ==========================================================================


@dataclass(frozen=True)
class Query:
    """One standalone suite query. ``oracle`` is its DuckDB SQL, a
    zero-argument builder of it (built lazily, per ``oracles()`` call),
    or None where the op has no SQL twin (pytest covers those).
    ``cols`` lists the output columns of a facet that rides a
    NULL-padded gate union (the SQL union spells them out)."""

    name: str
    fn: QueryFn
    oracle: str | Callable[[], str] | None
    cols: tuple[str, ...] = ()

    def sql(self) -> str | None:
        return self.oracle() if callable(self.oracle) else self.oracle


#: every standalone query, in bench.py's timing order (one shared JVM,
#: so reordering would shift per-query numbers against BENCH_FULL.json)
REGISTRY: list[Query] = [
    Query("pricing_summary", q_pricing_summary, ORACLE_PRICING_SUMMARY),
    Query("shipping_priority", q_shipping_priority, ORACLE_SHIPPING_PRIORITY),
    Query("local_supplier_volume", q_local_supplier_volume,
          ORACLE_LOCAL_SUPPLIER_VOLUME),
    Query("revenue_forecast", q_revenue_forecast, ORACLE_REVENUE_FORECAST),
    Query("filter_images_semijoin", q_filter_images_semijoin, ORACLE_FILTER_IMAGES),
    Query("reset_index", q_reset_index, ORACLE_RESET_INDEX,
          cols=("id", "image_id", "o_totalprice")),
    Query("diff_three_way", q_diff_three_way, ORACLE_DIFF),
    Query("iou_pairs", q_iou_pairs, ORACLE_IOU_PAIRS),
    Query("pr_curve", q_pr_curve, ORACLE_PR_CURVE,
          cols=("event_id", "event_type", "precision", "recall")),
    Query("confusion_matrix", q_confusion_matrix, ORACLE_CONFUSION,
          cols=("groundtruth_label", "prediction_label", "count", "share")),
    Query("hash_split", q_hash_split, ORACLE_HASH_SPLIT),
    Query("atomic_chunks", q_atomic_chunks, ORACLE_ATOMIC_CHUNKS),
    Query("fingerprint_dedup", q_fingerprint_dedup, ORACLE_FINGERPRINT),
    Query("minhash_lsh_pairs", q_minhash_lsh_pairs, _oracle_lsh,
          cols=("id_a", "id_b", "jaccard")),
    Query("minhash_incremental", q_minhash_incremental, _oracle_minhash_incremental,
          cols=("id_a", "id_b", "jaccard")),
    Query("ngram_jaccard", q_ngram_jaccard, _oracle_ngram_jaccard),
    Query("simhash", q_simhash, _oracle_simhash),
    Query("bpe_token_count", q_bpe_token_count, _oracle_bpe),
    Query("tfidf_top_term", q_tfidf_top_term, _oracle_tfidf,
          cols=("doc_id", "term", "tfidf")),
    Query("cosine_topk", q_cosine_topk, _oracle_cosine_topk,
          cols=("query_id", "neighbor_id", "rank", "cosine")),
    Query("lsh_bucket_topk", q_lsh_bucket_topk, _oracle_lsh_bucket,
          cols=("query_id", "neighbor_id", "rank", "cosine")),
    Query("embedding_near_dup", q_embedding_near_dup, _oracle_embedding_near_dup),
    Query("sessionize", q_sessionize, ORACLE_SESSIONIZE),
    Query("hourly_rollup", q_hourly_rollup, ORACLE_HOURLY_ROLLUP),
    Query("greedy_matching", q_greedy_matching, ORACLE_GREEDY_MATCHING),
    Query("matcher_skew", q_matcher_skew, None),
    Query("minhash_hot_bucket", q_minhash_hot_bucket, None),
    Query("minhash_hot_bucket_star", q_minhash_hot_bucket_star, None),
    Query("detection_pr_ap", q_detection_pr_ap, ORACLE_DETECTION_PR_AP),
    Query("vocab_pair_stats", q_vocab_pair_stats, _oracle_vocab_pair_stats,
          cols=("pair", "pair_count", "n_words")),
    Query("weighted_sample", q_weighted_sample, _oracle_weighted_sample,
          cols=("doc_id", "sample_weight", "sample_rank")),
    Query("zorder_layout", q_zorder_layout, _oracle_zorder_layout,
          cols=("l_orderkey", "l_linenumber", "zval", "zbucket")),
    Query("boilerplate_removal", q_boilerplate_removal, _oracle_boilerplate_removal,
          cols=("doc_id", "n_paras_before", "n_paras_after", "text_md5")),
    Query("classifier_score", q_classifier_score, _oracle_classifier_score,
          cols=("doc_id", "n_grams", "score")),
    Query("embedding_incremental", q_embedding_incremental,
          _oracle_embedding_incremental,
          cols=("id_a", "id_b", "cosine")),
    Query("keep_classes", q_keep_classes, ORACLE_KEEP_CLASSES,
          cols=("id", "category_id", "category_str")),
    Query("validation_counts", q_validation_counts, ORACLE_VALIDATION,
          cols=("duplicate_image_ids", "duplicate_annotation_ids", "orphan_annotations",
                "unknown_categories")),
    Query("bbox_validity_report", q_bbox_validity_report, ORACLE_BBOX_VALIDITY,
          cols=("id", "negative_coordinates", "non_positive_size", "exceeds_image")),
    Query("simple_split", q_simple_split, _oracle_simple_split, cols=("split", "n")),
    Query("split_quality", q_split_quality, ORACLE_SPLIT_QUALITY),
    Query("take_images", q_take_images, ORACLE_TAKE_IMAGES,
          cols=("id", "image_id", "l_quantity")),
    Query("merge_overlap_id_shift", q_merge_overlap_id_shift, ORACLE_MERGE_OVERLAP,
          cols=("id", "image_id", "l_quantity")),
    Query("confusion_pivot", q_confusion_pivot, ORACLE_CONFUSION_PIVOT,
          cols=("groundtruth_label", "F", "O")),
    Query("pr_curve_collapsed", q_pr_curve_collapsed, ORACLE_PR_COLLAPSED,
          cols=("event_type", "confidence", "precision", "recall")),
    Query("salted_aggregate", q_salted_aggregate, ORACLE_SALTED,
          cols=("l_returnflag", "n", "min_qty", "max_qty")),
    Query("top_terms", q_top_terms, ORACLE_TOP_TERMS, cols=("term", "doc_freq")),
    Query("dedup_clusters", q_dedup_clusters, _oracle_dedup_clusters),
    Query("global_shuffle", q_global_shuffle, _oracle_global_shuffle,
          cols=("doc_id", "shuffle_shard", "shuffle_pos")),
    Query("cap_per_group", q_cap_per_group, _oracle_cap_per_group,
          cols=("doc_id", "source", "cap_rank")),
    Query("quality_percentile", q_quality_percentile, _oracle_quality_percentile,
          cols=("doc_id", "lang", "q_pct")),
    Query("semantic_dedup", q_semantic_dedup, _oracle_semantic_dedup,
          cols=("vec_id", "cluster_id", "is_dup")),
    Query("dup_spans", q_dup_spans, _oracle_dup_spans,
          cols=("doc_id", "n_windows", "n_dup_windows", "dup_frac")),
    Query("remove_dup_spans", q_remove_dup_spans, _oracle_remove_dup_spans,
          cols=("doc_id", "n_tokens_before", "n_tokens_removed", "text_md5")),
    Query("cluster_representatives", q_cluster_representatives,
          _oracle_cluster_representatives,
          cols=("doc_id", "cluster_id", "quality", "is_representative")),
    Query("normalize_text", q_normalize_text, _oracle_normalize_text,
          cols=("doc_id", "n_chars_messy", "n_chars_norm", "norm_md5")),
    Query("decontaminate_spans", q_decontaminate_spans, _oracle_decontaminate_spans,
          cols=("doc_id", "n_tokens_before", "n_tokens_removed", "text_md5")),
    Query("gopher_rules", q_gopher_rules, _oracle_gopher_rules,
          cols=("doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
                "alpha_word_frac", "n_stop_words", "bullet_line_frac",
                "ellipsis_line_frac", "gopher_keep")),
    Query("char_entropy", q_char_entropy, _oracle_char_entropy,
          cols=("doc_id", "n_chars_real", "n_alphabet", "entropy_bits")),
    Query("ngram_logprob", q_ngram_logprob, _oracle_ngram_logprob,
          cols=("doc_id", "n_grams", "avg_nll")),
    Query("bloom_novel", q_bloom_novel, None),
    Query("asof_join", q_asof_join, _oracle_asof_join,
          cols=("event_id", "user_id", "click_us", "purchase_us", "purchase_value")),
    Query("range_join", q_range_join, _oracle_range_join,
          cols=("click_id", "error_id", "user_id", "delta_us")),
    Query("rolling_agg", q_rolling_agg, _oracle_rolling_agg,
          cols=("event_id", "user_id", "n_24h", "sum_cents_24h", "max_cents_24h")),
    Query("funnel", q_funnel, _oracle_funnel,
          cols=("user_id", "step_1_us", "step_2_us", "step_3_us", "steps_completed")),
    Query("decontaminate", q_decontaminate, _oracle_decontaminate,
          cols=("doc_id", "overlap")),
    Query("repetition_signals", q_repetition_signals, _oracle_repetition,
          cols=("doc_id", "n_words", "top_word_count", "top_bigram_count",
                "dup_trigram_excess")),
    Query("stratified_sample", q_stratified_sample, _oracle_stratified,
          cols=("lang", "n_sampled")),
    Query("pii_signals", q_pii_signals, _oracle_pii,
          cols=("doc_id", "n_email", "n_ipv4", "n_phone", "redacted_len")),
    Query("paragraph_dedup", q_paragraph_dedup, _oracle_paragraph_dedup,
          cols=("doc_id", "n_paras_before", "n_paras_after", "text_md5")),
    Query("table_profile", q_table_profile, _oracle_table_profile,
          cols=("column", "n", "n_null", "distinct", "min", "max", "mean", "p50", "p90",
                "p99")),
    Query("filter_annotations_emptied", q_filter_annotations_emptied,
          ORACLE_FILTER_ANNOT_EMPTIED),
    Query("remove_empty_images", q_remove_empty_images, ORACLE_REMOVE_EMPTY),
    Query("anti_join_orphans", q_anti_join_orphans, ORACLE_ANTI_ORPHANS),
    Query("denormalize_category", q_denormalize_category, ORACLE_DENORMALIZE),
    Query("remap_classes", q_remap_classes, ORACLE_REMAP,
          cols=("id", "category_id", "category_str")),
    Query("remap_dense_rank", q_remap_dense_rank, ORACLE_DENSE_RANK),
    Query("match_index", q_match_index, ORACLE_MATCH_INDEX),
    Query("merge_datasets", q_merge_datasets, ORACLE_MERGE,
          cols=("id", "o_totalprice", "origin")),
    Query("booleanize", q_booleanize, ORACLE_BOOLEANIZE),
    Query("debooleanize", q_debooleanize, ORACLE_DEBOOLEANIZE),
    Query("bbox_import_cxcywh", q_bbox_import_cxcywh, ORACLE_BBOX_IMPORT,
          cols=("id", "box_x_min", "box_y_min", "box_width", "box_height")),
    Query("bbox_export_xyxy", q_bbox_export_xyxy, ORACLE_BBOX_EXPORT,
          cols=("id", "box_x_min", "box_y_min", "box_x_max", "box_y_max")),
    Query("bbox_relative", q_bbox_relative, ORACLE_BBOX_RELATIVE),
    Query("cap_bbox", q_cap_bbox, ORACLE_CAP_BBOX),
    Query("average_precision", q_average_precision, ORACLE_AVERAGE_PRECISION,
          cols=("event_type", "ap")),
    Query("interpolated_precision", q_interpolated_precision, ORACLE_INTERP_PRECISION,
          cols=("event_id", "event_type", "precision_interp")),
    Query("crowd_count_error", q_crowd_count_error, ORACLE_CROWD),
    Query("balanced_split", q_balanced_split, _oracle_balanced_portable,
          cols=("split", "o_orderpriority", "n")),
    Query("balanced_split_approx", q_balanced_split_approx, None),
    Query("token_count", q_token_count, ORACLE_TOKEN_COUNT),
    Query("language_id", q_language_id, _oracle_language_id),
    Query("quality_score", q_quality_score, _oracle_quality),
    Query("minhash_signature", q_minhash_signature, _oracle_minhash,
          cols=("doc_id", "mh_0", "mh_1", "mh_2", "mh_3")),
    Query("knn_label", q_knn_label, _oracle_knn_label,
          cols=("query_id", "predicted_label", "votes")),
    Query("ivf_topk", q_ivf_topk, _oracle_ivf_topk,
          cols=("query_id", "neighbor_id", "rank", "cosine")),
    Query("json_extraction", q_json_extraction, ORACLE_JSON),
    Query("forward_fill", q_forward_fill, ORACLE_FFILL,
          cols=("event_id", "user_id", "last_purchase_value")),
    Query("resample_count", q_resample_count, _oracle_resample,
          cols=("event_type", "threshold", "count_at_least")),
    Query("grouper_bins", q_grouper_bins, _oracle_grouper, cols=("bin_mid", "n")),
    Query("multimodal_features", q_multimodal_features, ORACLE_MULTIMODAL),
    Query("dedup_clusters_distributed", q_dedup_clusters_distributed, None),
    Query("pack_chunked", q_pack_chunked, _oracle_pack_chunked,
          cols=("shard", "doc_id", "n_tok", "pack_seq", "tok_from", "tok_to")),
    Query("pack_greedy", q_pack_greedy, None),
    Query("mixture_weights", q_mixture_weights, _oracle_mixture_weights,
          cols=("shard", "n_tok_total", "share", "weight")),
    Query("curation_pipeline", q_curation_pipeline, None),
    Query("jsonl_roundtrip", q_jsonl_roundtrip, _oracle_jsonl_roundtrip,
          cols=("doc_id", "rt_lang", "rt_source", "rt_n_chars", "rt_text_md5")),
]

ALL_QUERIES: dict[str, QueryFn] = {q.name: q.fn for q in REGISTRY}
_BY_NAME: dict[str, Query] = {q.name: q for q in REGISTRY}


# --------------------------------------------------------------------------
# the 50-query gate
# --------------------------------------------------------------------------
# The driver gates at most 50 queries, so closely related queries share
# a gate slot: a NULL-padded facet union (each facet keeps its own
# logic and oracle leg) or a same-grain join on doc_id. Every standalone
# query is a gate entry, a facet of one, or bench-only (pinned, with
# reasons, in tests/test_suite_registry.py).


def _facet_union(*legs):
    """Union (facet_name, DataFrame) legs into one frame with a
    ``facet`` discriminator column; schemas align by name with NULL
    padding (``unionByName(allowMissingColumns=True)`` — Spark widens
    int/bigint etc. across legs)."""
    dfs = [df.select(F.lit(name).alias("facet"), "*") for name, df in legs]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _facet_union_sql(*legs) -> str:
    """DuckDB twin of :func:`_facet_union`. legs = (facet, sql, cols);
    generates NULL-padded ``UNION ALL`` over the union of column sets
    (first-seen order). NULL legs inherit the typed leg's column type
    exactly as Spark's unionByName does."""
    all_cols: list[str] = []
    for _, _, cols in legs:
        for c in cols:
            if c not in all_cols:
                all_cols.append(c)
    parts = []
    for facet, sql, cols in legs:
        proj = ", ".join(
            f'"{c}"' if c in cols else f'NULL AS "{c}"' for c in all_cols
        )
        parts.append(f"SELECT '{facet}' AS facet, {proj} FROM ({sql})")
    return "\nUNION ALL\n".join(parts)


@dataclass(frozen=True)
class FacetUnion:
    """Gate slot: standalone facets stacked by :func:`_facet_union`."""

    name: str
    facets: tuple[str, ...]

    def fn(self, spark, sf_dir):
        legs = [(n, ALL_QUERIES[n](spark, sf_dir)) for n in self.facets]
        return _facet_union(*legs)

    def sql(self) -> str:
        legs = [_BY_NAME[n] for n in self.facets]
        return _facet_union_sql(*[(q.name, q.sql(), q.cols) for q in legs])


@dataclass(frozen=True)
class DocJoin:
    """Gate slot: two one-row-per-doc facets joined on doc_id;
    ``select`` is the oracle's projection over the aliases a and b."""

    name: str
    facets: tuple[str, str]
    select: str

    def fn(self, spark, sf_dir):
        a, b = (ALL_QUERIES[n](spark, sf_dir) for n in self.facets)
        return a.join(b, "doc_id")

    def sql(self) -> str:
        a, b = (_BY_NAME[n].sql() for n in self.facets)
        return f"""
SELECT {self.select}
FROM ({a}) a JOIN ({b}) b USING (doc_id)
"""


#: the gate in driver order: a name is a standalone query, a tuple is
#: ``(gate name, facet, ...)`` for a facet union
_GATE: list[str | tuple[str, ...] | DocJoin] = [
    "pricing_summary", "shipping_priority", "local_supplier_volume",
    "revenue_forecast",
    "filter_images_semijoin", "filter_annotations_emptied",
    "remove_empty_images", "anti_join_orphans", "denormalize_category",
    ("remap_classes", "remap_classes", "keep_classes"),
    "remap_dense_rank",
    ("reset_index", "reset_index", "take_images"),
    "match_index",
    ("merge_datasets", "merge_datasets", "merge_overlap_id_shift"),
    "diff_three_way", "booleanize", "debooleanize",
    ("bbox_import_cxcywh", "bbox_import_cxcywh", "bbox_export_xyxy"),
    "bbox_relative", "cap_bbox", "iou_pairs",
    ("confusion_matrix", "confusion_matrix", "confusion_pivot"),
    ("pr_curve", "pr_curve", "pr_curve_collapsed"),
    ("average_precision", "average_precision", "interpolated_precision"),
    "crowd_count_error", "greedy_matching", "detection_pr_ap",
    "hash_split", "atomic_chunks",
    ("balanced_split", "balanced_split", "simple_split"),
    "split_quality",
    ("validation_counts", "validation_counts", "bbox_validity_report"),
    DocJoin(
        "token_count", ("token_count", "bpe_token_count"),
        "a.doc_id, a.n_tokens, b.n_bpe_tokens, b.n_unique",
    ),
    DocJoin(
        "language_id", ("language_id", "quality_score"),
        "a.doc_id, a.lang_pred, b.quality",
    ),
    "fingerprint_dedup",
    ("minhash_signature", "minhash_signature", "minhash_lsh_pairs"),
    "ngram_jaccard", "simhash", "dedup_clusters",
    ("top_terms", "top_terms", "tfidf_top_term"),
    ("cosine_topk", "cosine_topk", "lsh_bucket_topk"),
    ("knn_label", "knn_label", "ivf_topk"),
    "embedding_near_dup", "sessionize", "hourly_rollup", "json_extraction",
    # events-table temporal operators
    (
        "forward_fill", "forward_fill", "resample_count", "asof_join",
        "range_join", "rolling_agg", "funnel",
    ),
    ("salted_aggregate", "salted_aggregate", "grouper_bins"),
    "multimodal_features",
    # curation operators: dedup, quality, sampling, packing, ordering,
    # PII, decontamination, vocab, layout, JSONL round-trip
    (
        "pipeline_quality", "decontaminate", "repetition_signals",
        "stratified_sample", "pii_signals", "paragraph_dedup",
        "table_profile", "pack_chunked", "mixture_weights", "global_shuffle",
        "cap_per_group", "quality_percentile", "semantic_dedup", "dup_spans",
        "remove_dup_spans", "cluster_representatives", "normalize_text",
        "decontaminate_spans", "gopher_rules", "char_entropy",
        "ngram_logprob", "minhash_incremental", "vocab_pair_stats",
        "weighted_sample", "zorder_layout", "boilerplate_removal",
        "classifier_score", "embedding_incremental", "jsonl_roundtrip",
    ),
]
GATE: list[Query | FacetUnion | DocJoin] = [
    _BY_NAME[e] if isinstance(e, str)
    else FacetUnion(e[0], e[1:]) if isinstance(e, tuple)
    else e
    for e in _GATE
]

QUERIES: dict[str, QueryFn] = {g.name: g.fn for g in GATE}
GATE_FACETS: dict[str, list[str]] = {
    g.name: list(g.facets) for g in GATE if not isinstance(g, Query)
}


def oracles() -> dict[str, str]:
    """DuckDB oracle SQL per gate query, in gate order."""
    return {g.name: sql for g in GATE if (sql := g.sql()) is not None}
