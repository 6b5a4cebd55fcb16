from __future__ import annotations

from pyspark.sql import functions as F

from lours_spark.dataset.core import SparkDataset


def test_check_clean(tiny_dataset):
    report = tiny_dataset.check()
    assert report == {
        "duplicate_image_ids": 0,
        "duplicate_annotation_ids": 0,
        "orphan_annotations": 0,
        "unknown_categories": 0,
    }


def test_check_orphans_counted_per_annotation(tiny_dataset):
    """The FK leg pre-aggregates per image_id before the anti-join
    probe; orphan counts must still be per-ANNOTATION (several orphan
    annotations on one missing image all count), and a NULL image_id
    is an orphan (null keys never match in the anti-join)."""
    ann = tiny_dataset.annotations
    extra = (
        ann.orderBy("id")
        .limit(3)
        .withColumn("id", F.col("id") + 100000)
        .withColumn("image_id", F.lit(999999).cast("long"))
    )
    null_img = (
        ann.orderBy("id")
        .limit(1)
        .withColumn("id", F.col("id") + 200000)
        .withColumn("image_id", F.lit(None).cast("long"))
    )
    ds = tiny_dataset.from_template(
        annotations=ann.unionByName(extra).unionByName(null_img)
    )
    report = ds.check()
    assert report["orphan_annotations"] == 4
    assert report["duplicate_annotation_ids"] == 0


def test_denormalize_category_str(tiny_dataset):
    rows = tiny_dataset.annotations.select("category_id", "category_str").distinct().collect()
    for r in rows:
        assert r["category_str"] == tiny_dataset.label_map[r["category_id"]]


def test_denormalize_split_propagation(tiny_dataset):
    joined = tiny_dataset.annotations.alias("a").join(
        tiny_dataset.images.alias("i"), F.col("a.image_id") == F.col("i.id")
    )
    mism = joined.filter(
        ~F.col("a.split").eqNullSafe(F.col("i.split"))
    ).count()
    assert mism == 0


def test_filter_images_semijoin(tiny_dataset):
    ds = tiny_dataset.filter_images(F.col("width") > 500)
    kept = {r["id"] for r in ds.images.select("id").collect()}
    ann_imgs = {r["image_id"] for r in ds.annotations.select("image_id").collect()}
    assert ann_imgs <= kept
    assert ds.images.filter(F.col("width") <= 500).count() == 0


def test_filter_annotations_emptied(tiny_dataset):
    before_empty = (
        tiny_dataset.images.join(
            tiny_dataset.annotations.select(
                F.col("image_id").alias("id")
            ).distinct(),
            "id",
            "left_anti",
        ).count()
    )
    ds = tiny_dataset.filter_annotations(
        F.col("category_id") == 1, remove_emptied_images=True
    )
    assert ds.annotations.filter(F.col("category_id") != 1).count() == 0
    # images: originally-empty stay, emptied dropped
    after_with_ann = (
        ds.images.join(
            ds.annotations.select(F.col("image_id").alias("id")).distinct(),
            "id",
            "left_semi",
        ).count()
    )
    assert ds.images.count() == after_with_ann + before_empty


def test_remove_empty_images(tiny_dataset):
    ds = tiny_dataset.remove_empty_images()
    n_with = (
        tiny_dataset.annotations.select("image_id").distinct().count()
    )
    assert ds.images.count() == n_with


def test_get_split_and_iter(tiny_dataset):
    total = 0
    for value, sub in tiny_dataset.iter_splits():
        n = sub.images.count()
        total += n
        if value is None:
            assert sub.images.filter(F.col("split").isNotNull()).count() == 0
        else:
            assert sub.images.filter(F.col("split") != value).count() == 0
    assert total == tiny_dataset.images.count()


def test_keep_remove_classes(tiny_dataset):
    kept = tiny_dataset.keep_classes([1, 2])
    assert set(kept.label_map) == {1, 2}
    assert kept.annotations.filter(~F.col("category_id").isin([1, 2])).count() == 0
    removed = tiny_dataset.remove_classes([1])
    assert 1 not in removed.label_map
    assert removed.annotations.filter(F.col("category_id") == 1).count() == 0


def test_remap_classes_merge_and_drop(tiny_dataset):
    ds = tiny_dataset.remap_classes({1: 0, 2: 0, 7: 1})
    assert set(ds.label_map) == {0, 1}
    # 15 unmapped → dropped
    assert ds.annotations.filter(F.col("category_id") > 1).count() == 0
    n_expected = tiny_dataset.annotations.filter(
        F.col("category_id").isin([1, 2, 7])
    ).count()
    assert ds.annotations.count() == n_expected
    # category_str refreshed
    strs = {
        r["category_str"]
        for r in ds.annotations.select("category_str").distinct().collect()
    }
    assert strs <= set(ds.label_map.values())


def test_remap_sequential(tiny_dataset):
    ds, mapping = tiny_dataset.remap_sequential()
    assert sorted(ds.label_map) == list(range(len(tiny_dataset.label_map)))
    assert mapping == {1: 0, 2: 1, 7: 2, 15: 3}


def test_reset_index_contiguous(tiny_dataset):
    ds = tiny_dataset.reset_index()
    img_ids = sorted(r["id"] for r in ds.images.select("id").collect())
    assert img_ids == list(range(len(img_ids)))
    ann_ids = sorted(r["id"] for r in ds.annotations.select("id").collect())
    assert ann_ids == list(range(len(ann_ids)))
    assert ds.check()["orphan_annotations"] == 0
    # image ids follow relative_path order
    rows = ds.images.select("id", "relative_path").collect()
    by_path = sorted(rows, key=lambda r: r["relative_path"])
    assert [r["id"] for r in by_path] == list(range(len(rows)))


def test_reset_index_from_mapping_drop(tiny_dataset, spark):
    mapping = spark.createDataFrame(
        [(i, i + 100) for i in range(10)], "old_id long, new_id long"
    )
    ds = tiny_dataset.reset_index_from_mapping(mapping, drop_unmapped=True)
    assert ds.images.count() == 10
    assert ds.images.filter(F.col("id") < 100).count() == 0
    assert ds.check()["orphan_annotations"] == 0


def test_reset_index_from_mapping_keep_unmapped(tiny_dataset, spark):
    """drop_unmapped=False: unmapped images get contiguous fresh ids
    after the max mapped id, in old-id order (reference
    dataset.py:2177-2181) — via the two-phase global_row_number, not a
    single-partition window."""
    mapping = spark.createDataFrame(
        [(i, i + 100) for i in range(3)], "old_id long, new_id long"
    )
    n = tiny_dataset.images.count()
    ds = tiny_dataset.reset_index_from_mapping(mapping, drop_unmapped=False)
    assert ds.images.count() == n
    ids = sorted(r["id"] for r in ds.images.select("id").collect())
    assert ids == [100 + i for i in range(n)]
    # fresh ids follow old-id order after the mapped block
    rows = {r["relative_path"]: r["id"] for r in ds.images.collect()}
    old = {r["id"]: r["relative_path"] for r in tiny_dataset.images.collect()}
    unmapped_old = sorted(i for i in old if i >= 3)
    assert [rows[old[i]] for i in unmapped_old] == [
        103 + k for k in range(len(unmapped_old))
    ]
    assert ds.check()["orphan_annotations"] == 0


def test_match_index(tiny_dataset):
    other = tiny_dataset.from_template(
        images=tiny_dataset.images.withColumn("id", F.col("id") + 1000)
    )
    m = tiny_dataset.match_index(other)
    rows = m.collect()
    assert len(rows) == tiny_dataset.images.count()
    assert all(r["new_id"] == r["old_id"] + 1000 for r in rows)


def test_empty_annotations(tiny_dataset):
    ds = tiny_dataset.empty_annotations()
    assert ds.annotations.count() == 0
    assert ds.annotations.columns == tiny_dataset.annotations.columns
    assert ds.images.count() == tiny_dataset.images.count()


def test_parquet_roundtrip(tiny_dataset, tmp_path, spark):
    path = str(tmp_path / "ds")
    tiny_dataset.to_parquet(path)
    back = SparkDataset.from_parquet(spark, path)
    assert back.label_map == tiny_dataset.label_map
    assert back.images.count() == tiny_dataset.images.count()
    assert back.annotations.count() == tiny_dataset.annotations.count()
    assert set(back.images.columns) == set(tiny_dataset.images.columns)


def test_remap_from_other_by_name(tiny_dataset, spark):
    # other dataset: same names, different id space
    other = tiny_dataset.remap_classes(
        {1: 10, 2: 20, 7: 30, 15: 40},
        new_names={10: "car", 20: "person", 30: "truck", 40: "bike"},
    )
    aligned = tiny_dataset.remap_from_other(other)
    assert aligned.label_map == other.label_map
    # category ids now live in other's space
    ids = {
        r["category_id"]
        for r in aligned.annotations.select("category_id").distinct().collect()
    }
    assert ids <= {10, 20, 30, 40}


def test_remap_from_other_clash_gets_free_id(tiny_dataset):
    other = tiny_dataset.keep_classes([1, 2])  # knows car(1), person(2)
    aligned = tiny_dataset.remap_from_other(other)
    # car/person keep other's ids; truck/bike get lowest free ids (0, 3)
    assert aligned.label_map[1] == "car"
    assert aligned.label_map[2] == "person"
    leftover = {k for k, v in aligned.label_map.items() if v in ("truck", "bike")}
    assert leftover == {0, 3}


def test_remap_from_preset(tiny_dataset):
    from lours_spark.dataset.remap_presets import register_preset

    register_preset("test_preset", [(1, 100, "vehicle"), (2, 200, "human")])
    out = tiny_dataset.remap_from_preset("test_preset")
    assert out.label_map == {100: "vehicle", 200: "human"}
    inv = out.remap_from_preset("test_preset", invert=True)
    assert set(inv.label_map) == {1, 2}


def test_global_row_number_matches_single_window(spark):
    from pyspark.sql import Window

    from lours_spark.functions.ids import global_row_number

    df = spark.range(5000).select(
        (F.col("id") * 37 % 5000).alias("k"), F.col("id").alias("orig")
    )
    two_phase = {
        r["orig"]: r["rn"]
        for r in global_row_number(df, ["k", "orig"], out_col="rn").collect()
    }
    single = {
        r["orig"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("k", "orig")) - 1
        ).collect()
    }
    assert two_phase == single


def test_global_row_number_leaves_no_cache_entry(spark):
    """The two-phase path pins its range-partitioned rows through
    materialize: in local mode that is a checkpoint, so no
    CacheManager entry outlives the call."""
    from pyspark.sql import Window

    from lours_spark.functions.ids import global_row_number

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    df = spark.range(100).repartition(8)
    got = {r["id"]: r["rn"] for r in global_row_number(df, ["id"], "rn").collect()}
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("id")) - 1
        ).collect()
    }
    assert got == want
    assert cache.isEmpty()


def test_repr_and_empty(tiny_dataset, spark):
    s = repr(tiny_dataset)
    assert "images=40" in s
    empty = SparkDataset.empty(spark)
    assert empty.images.count() == 0
    assert "box_x_min" in empty.annotations.columns
    assert len(empty) == 0


def test_iter_images(tiny_dataset):
    seen = 0
    for img, anns in tiny_dataset.iter_images():
        assert "relative_path" in img
        for a in anns:
            assert a["image_id"] == img["id"]
        seen += 1
        if seen >= 5:
            break
    assert seen == 5


def test_take_images(tiny_dataset):
    ds = tiny_dataset.take_images(7)
    ids = sorted(r["id"] for r in ds.images.collect())
    assert ids == list(range(7))
    assert ds.annotations.filter(F.col("image_id") >= 7).count() == 0


def test_remove_invalid_annotations(tiny_dataset, spark):
    # corrupt a few rows
    bad = tiny_dataset.annotations.limit(3).withColumn(
        "box_x_min", F.lit(-5.0)
    ).withColumn("id", F.col("id") + 100000)
    ds = tiny_dataset.from_template(
        annotations=tiny_dataset.annotations.unionByName(bad)
    )
    cleaned = ds.remove_invalid_annotations()
    assert cleaned.annotations.count() == tiny_dataset.annotations.count()
    assert cleaned.annotations.filter(F.col("box_x_min") < 0).count() == 0
    assert set(cleaned.annotations.columns) == set(ds.annotations.columns)


def test_rebase_images_root(tiny_dataset):
    ds = tiny_dataset.from_template(images_root="/data/sets/mine")
    out = ds.rebase_images_root("/data/sets")
    assert out.images_root == "/data/sets"
    p = out.images.first()["relative_path"]
    assert p.startswith("mine/")


def test_remap_from_csv(tiny_dataset, tmp_path):
    csv = tmp_path / "map.csv"
    csv.write_text(
        "input_category_id,output_category_id,output_category_name\n"
        "1,0,vehicle\n2,1,living\n7,0,vehicle\n"
    )
    out = tiny_dataset.remap_from_csv(str(csv))
    assert out.label_map == {0: "vehicle", 1: "living"}


def test_take_annotations(tiny_dataset):
    ds = tiny_dataset.take_annotations(5)
    ids = sorted(r["id"] for r in ds.annotations.collect())
    assert ids == list(range(5))
    assert ds.images.count() == tiny_dataset.images.count()


def test_from_files(spark):
    from lours_spark.io.folder import from_files

    ds = from_files(spark, ["b/2.png", "a/1.jpg"])
    rows = sorted(ds.images.collect(), key=lambda r: r["id"])
    assert rows[0]["relative_path"] == "a/1.jpg"
    assert rows[0]["type"] == ".jpg"
    assert ds.annotations.count() == 0


def _minimal_png(width: int, height: int) -> bytes:
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", width, height)
        + b"\x08\x02\x00\x00\x00"
    )


def test_remove_invalid_images(spark, tmp_path):
    """Reference dataset.py:1154-1231: drop images whose file is
    missing / unreadable / size-inconsistent, and their annotations."""
    from lours_spark.dataset.core import SparkDataset

    (tmp_path / "good.png").write_bytes(_minimal_png(64, 48))
    (tmp_path / "mismatch.png").write_bytes(_minimal_png(10, 10))
    (tmp_path / "garbage.png").write_bytes(b"not an image at all")
    images = spark.createDataFrame(
        [
            (0, 64, 48, "good.png", ".png"),
            (1, 64, 48, "mismatch.png", ".png"),
            (2, 64, 48, "missing.png", ".png"),
            (3, 64, 48, "garbage.png", ".png"),
            (4, 64, 48, "/abs/evil.png", ".png"),
        ],
        "id long, width int, height int, relative_path string, type string",
    )
    annotations = spark.createDataFrame(
        [(i, img, 0, 1.0, 1.0, 2.0, 2.0) for i, img in enumerate([0, 0, 1, 2, 3])],
        "id long, image_id long, category_id int, box_x_min double,"
        " box_y_min double, box_width double, box_height double",
    )
    ds = SparkDataset(
        images=images, annotations=annotations, images_root=str(tmp_path)
    )
    report = {r.id: r.reason for r in ds.get_invalid_images().collect()}
    assert report == {
        1: "Image metadata mismatch",
        2: "Not a valid path",
        3: "Image loading failed",
        4: "relative path is absolute",
    }
    cleaned = ds.remove_invalid_images()
    assert [r.id for r in cleaned.images.collect()] == [0]
    assert cleaned.annotations.count() == 2
    # load_images=False: only path-level checks
    fast = ds.remove_invalid_images(load_images=False)
    assert sorted(r.id for r in fast.images.collect()) == [0, 1, 3]


def test_remap_presets_complete():
    """The shipped presets must carry the reference's FULL class sets
    (remap_presets/coco_to_pascalvoc.csv: 20 rows; coco_to_supercategory
    .csv: 91 rows over 12 supercategories)."""
    from lours_spark.dataset.remap_presets import get_preset, list_available_presets

    m, names = get_preset("coco_to_pascalvoc")
    assert len(m) == 20
    assert m[5] == 1 and names[1] == "aeroplane"
    assert m[72] == 20 and names[20] == "tvmonitor"
    m2, names2 = get_preset("coco_to_supercategory")
    assert len(m2) == 91
    assert len(set(m2.values())) == 12
    assert names2[4] == "animal" and m2[25] == 4
    # bijective presets are implicitly invertible under the flipped name
    assert "pascalvoc_to_coco" in list_available_presets()
    inv, inv_names = get_preset("pascalvoc_to_coco")
    assert inv[15] == 1 and inv[20] == 72
    assert all(m[inv[k]] == k for k in inv)


def test_iloc_slice_and_list(tiny_dataset):
    # head slice compiles to limit — no numbering pass
    head = tiny_dataset.iloc[:7]
    assert sorted(r["id"] for r in head.images.collect()) == list(range(7))
    assert head.annotations.filter(F.col("image_id") >= 7).count() == 0
    # strided slice
    strided = tiny_dataset.iloc[2:11:3]
    assert sorted(r["id"] for r in strided.images.collect()) == [2, 5, 8]
    # list with negatives wraps around the end
    picked = tiny_dataset.iloc[[0, 5, -1]]
    assert sorted(r["id"] for r in picked.images.collect()) == [0, 5, 39]
    # single int
    one = tiny_dataset.iloc[3]
    assert [r["id"] for r in one.images.collect()] == [3]
    # open-ended negative slice
    tail = tiny_dataset.iloc[-4:]
    assert sorted(r["id"] for r in tail.images.collect()) == [36, 37, 38, 39]


def test_iloc_annot(tiny_dataset):
    sub = tiny_dataset.iloc_annot[0:5]
    assert sorted(r["id"] for r in sub.annotations.collect()) == list(range(5))
    # images are untouched (reference DatasetAnnotLocator semantics)
    assert sub.images.count() == tiny_dataset.images.count()


def test_iloc_rejects_bad_index(tiny_dataset):
    import pytest

    with pytest.raises(TypeError):
        tiny_dataset.iloc["nope"]


def test_iloc_reversed_and_open_slices_match_pandas(tiny_dataset):
    """Every slice shape resolves to a range predicate (no literal
    position list) and agrees with pandas positional semantics."""
    ids = list(range(40))  # tiny_dataset images are ids 0..39 in order
    for sl in [
        slice(None, None, -1),
        slice(30, 5, -4),
        slice(-3, None, -1),
        slice(None, -35, -2),
        slice(5, None, 7),
        slice(None, None, 11),
        slice(-10, None, 3),
    ]:
        got = sorted(r["id"] for r in tiny_dataset.iloc[sl].images.collect())
        want = sorted(ids[sl])
        assert got == want, sl


def test_iloc_boolean_mask(tiny_dataset):
    """Boolean-mask indexing (reference indexing.py:32-56): a Python
    bool list selects by position; a pyspark Column filters directly."""
    import pytest

    mask = [i % 3 == 0 for i in range(40)]
    sub = tiny_dataset.iloc[mask]
    assert sorted(r["id"] for r in sub.images.collect()) == [
        i for i in range(40) if i % 3 == 0
    ]
    # pandas parity on the same mask
    import pandas as pd

    want = list(pd.Series(range(40))[mask])
    assert sorted(r["id"] for r in sub.images.collect()) == want
    # length mismatch raises like pandas
    with pytest.raises(IndexError):
        tiny_dataset.iloc[[True, False]]
    # Column predicate: the scalable mask spelling
    col_sub = tiny_dataset.iloc[F.col("id") % 3 == 0]
    assert sorted(r["id"] for r in col_sub.images.collect()) == want
    # annotations follow the selected images (semi-join propagation)
    assert (
        col_sub.annotations.filter(F.col("image_id") % 3 != 0).count() == 0
    )


def test_iloc_boolean_mask_matches_pandas_hypothesis(tiny_dataset):
    """Hypothesis: arbitrary boolean masks agree with pandas boolean
    indexing over the same 40-position table."""
    import pytest

    pytest.importorskip("hypothesis")
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import pandas as pd

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(mask=st.lists(st.booleans(), min_size=40, max_size=40))
    def check(mask):
        got = sorted(
            r["id"] for r in tiny_dataset.iloc[mask].images.collect()
        )
        assert got == list(pd.Series(range(40))[mask])

    check()


def test_iloc_long_position_list_uses_semi_join(tiny_dataset):
    """Position lists past the isin-literal cap still select correctly
    (broadcast semi-join path)."""
    from lours_spark.dataset.core import _ILocIndexer

    old = _ILocIndexer._ISIN_LITERAL_MAX
    _ILocIndexer._ISIN_LITERAL_MAX = 5
    try:
        sub = tiny_dataset.iloc[[0, 3, 5, 7, 11, 13, 17, 19]]
        assert sorted(r["id"] for r in sub.images.collect()) == [
            0, 3, 5, 7, 11, 13, 17, 19,
        ]
    finally:
        _ILocIndexer._ISIN_LITERAL_MAX = old


def test_reference_parity_delegates(tiny_dataset, tmp_path):
    """Reference Dataset-method call sites port verbatim to the facade."""
    renamed = tiny_dataset.rename("other")
    assert renamed.dataset_name == "other"
    assert renamed.annotations is tiny_dataset.annotations

    assert tiny_dataset.get_image_attributes() == tiny_dataset.image_attributes()

    capped = tiny_dataset.cap_bounding_box_coordinates()
    assert capped.annotations.filter(F.col("box_x_min") < 0).count() == 0

    ss = tiny_dataset.simple_split(
        input_seed=3, split_names=("train", "valid"), target_split_shares=(0.5, 0.5)
    )
    assert set(
        r["split"] for r in ss.images.select("split").distinct().collect()
    ) <= {"train", "valid", "eval", None}

    bal = tiny_dataset.split(
        split_names=("train", "valid"), target_split_shares=(0.7, 0.3)
    )
    assert bal.annotations.filter(F.col("split").isNull()).count() == 0
    # keep-separate default: every image's annotations share one split
    per_img = bal.annotations.groupBy("image_id").agg(
        F.countDistinct("split").alias("k")
    )
    assert per_img.filter(F.col("k") > 1).count() == 0
    # second pass: EVERY image has a split, including annotation-less
    # ones (reference Dataset.split doctest: 200 images, 2 annotations,
    # all images assigned)
    assert bal.images.filter(F.col("split").isNull()).count() == 0


def test_split_assigns_annotationless_images(spark, tiny_dataset):
    """Images with no annotations still get split assignments at the
    residual target shares (reference second pass)."""
    extra = spark.createDataFrame(
        [(1000 + i, f"img_{1000 + i}.jpg", 640, 480) for i in range(60)],
        "id long, relative_path string, width int, height int",
    )
    ds = tiny_dataset.from_template(
        images=tiny_dataset.images.unionByName(extra, allowMissingColumns=True)
    )
    out = ds.split(split_names=("train", "valid"), target_split_shares=(0.5, 0.5))
    assert out.images.filter(F.col("split").isNull()).count() == 0
    got = {
        r["split"]: r["n"]
        for r in out.images.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # both splits get a sensible share of the 100 images
    assert set(got) == {"train", "valid"}
    assert min(got.values()) >= 25


def test_append_and_coco_roundtrip_delegates(tiny_dataset, tmp_path):
    with tiny_dataset.annotation_append() as app:
        app.append(image_id=0, category_id=1, bbox=[1.0, 1.0, 2.0, 2.0])
    assert app.result.len_annot() == tiny_dataset.len_annot() + 1

    out = str(tmp_path / "coco_out")
    files = tiny_dataset.to_coco(out)
    assert files


def test_display_utilities(spark, tiny_dataset):
    """Display layer (reference dataframe_formatter.py:7-34 +
    notebook_utils.py:25-56): required-first/nested-last column order,
    MultiIndex nesting, booleanized gather — driver-side head only."""
    import pandas as pd

    from lours_spark.display import (
        head_for_display,
        nested_multi_index,
        reorder_columns,
        show_dataset,
    )

    df = tiny_dataset.annotations.withColumn(
        "attributes.color", F.lit("red")
    ).withColumn("zz_extra", F.lit(1))
    ordered = reorder_columns(df, ["id", "image_id", "category_id"])
    cols = ordered.columns
    assert cols[:3] == ["id", "image_id", "category_id"]
    assert cols[-1] == "attributes.color"  # nested names trail
    rest = cols[3:-1]
    assert rest == sorted(rest)

    mi = nested_multi_index(["id", "attributes.color", "a.b.c"])
    assert mi.nlevels == 3
    assert mi[0] == ("id", "", "")
    assert mi[1] == ("attributes", "color", "")

    pdf = head_for_display(ordered, n=5)
    assert isinstance(pdf.columns, pd.MultiIndex)
    assert len(pdf) == 5

    out = show_dataset(tiny_dataset, n=4)
    assert list(out) == ["images", "annotations"]
    assert list(out["images"].columns[:4]) == [
        "id", "width", "height", "relative_path",
    ]
    assert len(out["annotations"]) == 4

    # image-side booleanized prefixes (schema-driven caipy enums)
    # gather on the IMAGES head too, not just annotations (round 9)
    bz = tiny_dataset.from_template(
        images=tiny_dataset.images
        .withColumn("sensors.ir", F.lit(True))
        .withColumn("sensors.rgb", F.lit(False)),
        booleanized_columns={"sensors": {"ir", "rgb"}},
    )
    img_head = show_dataset(bz, n=3)["images"]
    flat = [
        ".".join(p for p in c if p) if isinstance(c, tuple) else c
        for c in img_head.columns
    ]
    assert "sensors" in flat
    assert not any(c.startswith("sensors.") for c in flat)
    assert img_head.iloc[0][
        [c for c, f in zip(img_head.columns, flat) if f == "sensors"][0]
    ] == ["ir"]


def test_display_confusion_matrix_import_seam():
    """display_confusion_matrix mirrors the reference's plot-utils
    extra (evaluation/detection/util.py:391): with matplotlib/sklearn
    absent it must raise a loud ImportError, not fail obscurely; with
    them present it returns a ConfusionMatrixDisplay (untestable in
    this sandbox — packages absent by design)."""
    import pandas as pd
    import pytest as _pt

    from lours_spark.display import display_confusion_matrix

    cm = pd.DataFrame(
        [[0.9, 0.1], [0.2, 0.8]], index=["cat", "dog"], columns=["cat", "dog"]
    )
    try:
        import matplotlib  # noqa: F401
        from sklearn.metrics import ConfusionMatrixDisplay  # noqa: F401
    except ImportError:
        with _pt.raises(ImportError, match="[Pp]lotting"):
            display_confusion_matrix(cm, title="t")
    else:  # pragma: no cover - plotting extras present
        assert display_confusion_matrix(cm, title="t") is not None
