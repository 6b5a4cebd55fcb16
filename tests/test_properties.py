"""Property-based tests (hypothesis) for the pure-expression operators."""

from __future__ import annotations

import pytest

pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lours_spark.functions.bbox import export_bbox, import_bbox

FORMATS = ["xywh", "xyxy", "xxyy", "cxcywh", "cxwcyh", "xwyh"]

boxes = st.tuples(
    st.floats(0, 1000, allow_nan=False),
    st.floats(0, 1000, allow_nan=False),
    st.floats(0.1, 500, allow_nan=False),
    st.floats(0.1, 500, allow_nan=False),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(box=boxes, fmt=st.sampled_from(FORMATS))
def test_bbox_roundtrip_property(spark, box, fmt):
    x, y, w, h = box
    df = spark.createDataFrame(
        [(1, 7, float(x), float(y), float(w), float(h))],
        "id long, image_id long, box_x_min double, box_y_min double, "
        "box_width double, box_height double",
    )
    images = spark.createDataFrame(
        [(7, 2000, 2000)], "id long, width int, height int"
    )
    out = export_bbox(df, fmt, images=images, drop_canonical=True)
    back = import_bbox(out, fmt, images=images)
    row = back.first()
    assert row["box_x_min"] == pytest.approx(x, rel=1e-9, abs=1e-9)
    assert row["box_y_min"] == pytest.approx(y, rel=1e-9, abs=1e-9)
    assert row["box_width"] == pytest.approx(w, rel=1e-9, abs=1e-9)
    assert row["box_height"] == pytest.approx(h, rel=1e-9, abs=1e-9)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), unique=True),
        min_size=1,
        max_size=8,
    ).filter(lambda vs: any(vs))
)
def test_booleanize_roundtrip_property(spark, values):
    from lours_spark.operators.booleanize import booleanize, debooleanize

    rows = [(i, sorted(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, tags array<string>")
    wide, domain = booleanize(df, "tags")
    back = debooleanize(wide, "tags")
    got = {r["id"]: list(r["tags"]) for r in back.collect()}
    assert got == {i: sorted(v) for i, v in rows}


words_st = st.lists(
    st.sampled_from(["a", "b", "cc", "ddd", "e f"]), min_size=0, max_size=24
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(word_lists=st.lists(words_st, min_size=1, max_size=4))
def test_repetition_signals_property(spark, word_lists):
    """Spark repetition metrics == a pure-Python reference on arbitrary
    word sequences (the 'e f' token exercises grams whose parts contain
    spaces — joins must not collide)."""
    from collections import Counter

    from lours_spark.operators.quality import repetition_signals

    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    for i, ws in enumerate(word_lists):
        # Spark split('', '\\s+') yields [''] for empty text — the
        # reference tokenizer convention shared with the oracle
        toks = " ".join(ws).strip().lower().split()
        if not toks:
            toks = [""]
        r = got[i]
        assert r["n_words"] == len(toks)
        assert r["top_word_count"] == max(Counter(toks).values())
        bigrams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        assert r["top_bigram_count"] == (
            max(Counter(bigrams).values()) if bigrams else 0
        )
        trigrams = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        assert r["dup_trigram_excess"] == (
            len(trigrams) - len(set(trigrams)) if trigrams else 0
        )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(1, 30),
    slc=st.tuples(
        st.one_of(st.none(), st.integers(-35, 35)),
        st.one_of(st.none(), st.integers(-35, 35)),
        st.one_of(st.none(), st.integers(1, 5)),
    ),
)
def test_iloc_matches_python_slicing(spark, n, slc):
    """ds.iloc[slice] returns exactly the ids Python list slicing picks
    (positions = id order)."""
    from lours_spark.dataset.core import SparkDataset
    from lours_spark.dataset import schema as S

    images = spark.createDataFrame(
        [(i, 10, 10, f"{i}.jpg", ".jpg", None) for i in range(n)],
        S.empty_images_schema(),
    )
    ds = SparkDataset(
        images=images,
        annotations=spark.createDataFrame([], S.empty_annotations_schema()),
    )
    py = list(range(n))[slice(*slc)]
    got = sorted(r["id"] for r in ds.iloc[slice(*slc)].images.collect())
    assert got == sorted(py)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=60),  # chunk size seed
            st.integers(min_value=0, max_value=4),   # dominant bin
        ),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=0, max_value=3),
)
@settings(max_examples=25, deadline=None)
def test_greedy_assign_approx_properties(chunks, seed):
    """Pure-driver properties of the approximate greedy: total
    assignment (every chunk, only known splits), determinism per seed,
    and preassignments respected — for arbitrary chunk histograms."""
    from lours_spark.split.balanced import greedy_assign_approx

    hists = {
        cid: {("b", dom): size, ("b", (dom + 1) % 5): 1 + size % 3}
        for cid, (size, dom) in enumerate(chunks)
    }
    shares = {"train": 0.6, "valid": 0.4}
    out = greedy_assign_approx(hists, shares, seed=seed)
    assert set(out) == set(hists)
    assert set(out.values()) <= set(shares)
    assert out == greedy_assign_approx(hists, shares, seed=seed)
    pre = {0: "valid"}
    got = greedy_assign_approx(hists, shares, seed=seed, preassigned=pre)
    assert got[0] == "valid"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(0, 17), min_size=1, max_size=20),
    budget=st.integers(1, 12),
)
def test_pack_chunked_property(spark, sizes, budget):
    """For ANY token sizes and budget: slices reassemble each document
    exactly, every non-final pack is full, pack ids are dense from 0."""
    from lours_spark.operators.packing import pack_chunked

    df = spark.createDataFrame(
        [(i, "s", n) for i, n in enumerate(sizes)],
        "doc_id long, source string, n long",
    )
    rows = pack_chunked(df, budget=budget, token_col="n").collect()
    by_doc: dict = {}
    fills: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["tok_from"], r["tok_to"]))
        fills[r["pack_seq"]] = fills.get(r["pack_seq"], 0) + (
            r["tok_to"] - r["tok_from"]
        )
    expected_docs = {i for i, n in enumerate(sizes) if n > 0}
    assert set(by_doc) == expected_docs
    for i, n in enumerate(sizes):
        if n <= 0:
            continue
        slices = sorted(by_doc[i])
        assert slices[0][0] == 0 and slices[-1][1] == n
        for (a, b), (c, d) in zip(slices, slices[1:]):
            assert b == c  # contiguous
    if fills:
        last = max(fills)
        assert set(fills) == set(range(last + 1))  # dense from 0
        for seq, fill in fills.items():
            if seq != last:
                assert fill == budget
        assert fills[last] <= budget


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    seed=st.integers(min_value=0, max_value=2**16),
    shards=st.integers(min_value=1, max_value=7),
)
def test_global_shuffle_is_permutation_property(spark, ids, seed, shards):
    """For ANY unique id set (negative ids included), global_shuffle is
    a permutation: every row appears once, positions are dense 1..n per
    shard, and the assignment is independent of input partitioning."""
    from lours_spark.operators.ordering import global_shuffle

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = global_shuffle(df, seed=seed, num_shards=shards).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(ids)
    by_shard: dict = {}
    for r in out:
        assert 0 <= r["shard"] < shards
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    again = global_shuffle(
        df.repartition(5), seed=seed, num_shards=shards
    ).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in again} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in out
    }


asof_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)),  # (key, t)
    min_size=0, max_size=25,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left_rows=asof_rows,
    right_rows=asof_rows,
    direction=st.sampled_from(["backward", "forward"]),
    tolerance=st.sampled_from([None, 0, 5, 100]),
)
def test_asof_join_matches_pandas_reference(
    spark, left_rows, right_rows, direction, tolerance
):
    """asof_join == pandas.merge_asof on random frames, both
    directions, with and without tolerance. The right side carries a
    payload v = key*1000 + t (unique per row), sorted (t, v) before
    merge_asof so pandas' last-of-ties equals our max-payload
    tie-break."""
    import pandas as pd

    from lours_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        "row_id long, k long, t long",
    )
    right_py = [(k, t, float(k * 1000 + t)) for k, t in right_rows]
    right = spark.createDataFrame(right_py, "k long, t long, v double")

    got = {
        r["row_id"]: r["v_r"]
        for r in asof_join(
            left, right, "k", "t",
            direction=direction, tolerance=tolerance,
        ).collect()
    }

    lp = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        columns=["row_id", "k", "t"],
    ).sort_values("t", kind="stable")
    rp = pd.DataFrame(
        right_py, columns=["k", "t", "v"]
    ).sort_values(["t", "v"], kind="stable")
    if len(lp) and not len(rp):
        want = {int(i): None for i in lp["row_id"]}
    elif len(lp):
        merged = pd.merge_asof(
            lp, rp, on="t", by="k", direction=direction,
            tolerance=tolerance,
        )
        want = {
            int(r.row_id): (None if pd.isna(r.v) else float(r.v))
            for r in merged.itertuples(index=False)
        }
    else:
        want = {}
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left_rows=asof_rows,
    right_rows=asof_rows,
    band=st.sampled_from([(-5, 5), (0, 10), (-20, -1), (3, 40)]),
)
def test_range_join_matches_bruteforce(spark, left_rows, right_rows, band):
    """Band-bucketed range_join == the O(n*m) nested-loop definition
    on random frames, for bands below/around/above zero."""
    from lours_spark.operators.temporal import range_join

    lo, hi = band
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        "lid long, k long, t long",
    )
    right = spark.createDataFrame(
        [(k, t, j) for j, (k, t) in enumerate(right_rows)],
        "k long, t long, rid long",
    )
    got = {
        (r["lid"], r["rid_r"])
        for r in range_join(left, right, "k", "t", lower=lo, upper=hi)
        .collect()
    }
    want = {
        (i, j)
        for i, (lk, lt) in enumerate(left_rows)
        for j, (rk, rt) in enumerate(right_rows)
        if lk == rk and lt + lo <= rt <= lt + hi
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=asof_rows, window=st.sampled_from([0, 3, 25]))
def test_rolling_aggregate_matches_bruteforce(spark, rows, window):
    """RANGE-frame rolling aggregates == the per-row [t-W, t] scan,
    including same-timestamp peers (every tie sees every tie)."""
    from lours_spark.operators.windows import rolling_aggregate

    df = spark.createDataFrame(
        [(i, k, t, float(i)) for i, (k, t) in enumerate(rows)],
        "rid long, k long, t long, v double",
    )
    got = {
        r["rid"]: (r["roll_count"], r["roll_sum"])
        for r in rolling_aggregate(
            df, "k", "t", "v", window=window, aggs=("count", "sum")
        ).collect()
    }
    for i, (k, t) in enumerate(rows):
        frame = [
            float(j)
            for j, (k2, t2) in enumerate(rows)
            if k2 == k and t - window <= t2 <= t
        ]
        assert got[i] == (len(frame), sum(frame)), (i, k, t)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),            # user
            st.integers(0, 30),           # t
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=0, max_size=20,
    ),
    within=st.sampled_from([None, 4, 100]),
)
def test_funnel_matches_bruteforce(spark, events, within):
    """funnel == the sequential earliest-match definition: anchor at
    min(step-1), then repeatedly the min step-k event at-or-after the
    previous step (and within the window when set)."""
    from lours_spark.operators.temporal import funnel

    df = spark.createDataFrame(
        [(u, t, e) for u, t, e in events],
        "user_id long, ts long, event_type string",
    )
    got = {
        r["user_id"]: (r["step_1_ts"], r["step_2_ts"], r["step_3_ts"],
                       r["steps_completed"])
        for r in funnel(df, ["a", "b", "c"], within=within).collect()
    }

    want = {}
    users = {u for u, _, e in events if e == "a"}
    for u in users:
        t1 = min(t for uu, t, e in events if uu == u and e == "a")
        steps = [t1]
        for step in ("b", "c"):
            prev = steps[-1]
            if prev is None:
                steps.append(None)
                continue
            cand = [
                t for uu, t, e in events
                if uu == u and e == step and t >= prev
                and (within is None or t - prev <= within)
            ]
            steps.append(min(cand) if cand else None)
        want[u] = (steps[0], steps[1], steps[2],
                   sum(1 for s in steps if s is not None))
    assert got == want


texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab z.#…-\n\té0"), min_size=0, max_size=40
    ),
    min_size=1, max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=texts)
def test_char_entropy_matches_python(spark, docs):
    """char_entropy == the direct Shannon formula over each doc's char
    counts (order-independent check through round-6dp)."""
    import math
    from collections import Counter

    from lours_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["e"]
        for r in df.select(
            "doc_id", F.round(char_entropy(F.col("text")), 6).alias("e")
        ).collect()
    }
    for i, t in enumerate(docs):
        counts = Counter(t)
        n = len(t)
        want = (
            -sum(c / n * math.log2(c / n) for c in counts.values())
            if n else 0.0
        )
        assert got[i] == pytest.approx(want, abs=2e-6), (i, t)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=texts)
def test_gopher_word_signals_match_python(spark, docs):
    """gopher_rules' word-level signals == the direct Python
    computation over whitespace-split lowercase tokens."""
    from lours_spark.operators.quality import GOPHER_STOPWORDS, gopher_rules

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    for i, t in enumerate(docs):
        words = [w for w in t.strip().lower().split() if w]
        assert got[i]["n_words"] == len(words), (i, t)
        if words:
            mean = sum(len(w) for w in words) / len(words)
            alpha = sum(
                1 for w in words if any("a" <= ch <= "z" for ch in w)
            ) / len(words)
            assert got[i]["mean_word_len"] == pytest.approx(mean, abs=2e-6)
            assert got[i]["alpha_word_frac"] == pytest.approx(alpha, abs=2e-6)
        stops = len(set(words) & set(GOPHER_STOPWORDS))
        assert got[i]["n_stop_words"] == stops
        lines = t.split("\n")
        bullets = sum(
            1 for ln in lines if ln.lstrip(" \t").startswith(("-", "*", "•"))
        )
        assert got[i]["bullet_line_frac"] == pytest.approx(
            bullets / len(lines), abs=2e-6
        ), (i, t)


# --------------------------------------------------------------- round 7
# bench stdout line: any realistic timing dict must fit the driver's
# capture window AND decode back to the measurement within 10ms (or be
# an explicitly-counted fastest-shed query)
@settings(max_examples=50, deadline=None)
@given(data=st.data())
def test_bench_stdout_line_property(data):
    import json

    import bench

    n = len(bench.BENCH_QUERIES)  # track the registry, don't pin it
    times = data.draw(
        st.lists(
            st.floats(0.0, 99.0, allow_nan=False), min_size=n, max_size=n
        )
    )
    qs = dict(zip(bench.BENCH_QUERIES, times))
    line = bench.stdout_line(round(sum(times), 3), 0.1, qs)
    assert len(line) <= 1980
    parsed = json.loads(line)
    scale = 100.0 if parsed.get("queries_unit") == "centisec" else 1.0
    got = {
        k: v / scale
        for k, v in parsed["queries"].items()
        if k != "omitted_fastest"
    }
    omitted = parsed["queries"].get("omitted_fastest", 0)
    assert omitted + len(got) == len(qs)
    for k, sec in got.items():
        assert abs(sec - qs[k]) <= 0.5 / scale + 1e-9, (k, sec, qs[k])
    if omitted:
        # r12 shed order: the STABLE tail set goes first as one block
        # (stability beats per-run optimality — by-speed shedding
        # churned the driver-visible query list round over round),
        # then fastest-first among the rest
        shed = set(qs) - set(got)
        fixed = set(bench.STDOUT_SHED_FIRST) & set(qs)
        assert fixed <= shed, "stable tail must be shed as a block"
        extra = shed - fixed
        if extra:
            kept_min = min(qs[k] for k in got)
            assert max(qs[k] for k in extra) <= kept_min + 1e-9


# pandas one-hot gather (display twin): gathering a frame built by
# one-hot expansion recovers the original sorted value lists
@settings(max_examples=30, deadline=None)
@given(
    rows=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd", "e.x"]),
            max_size=4,
            unique=True,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_gather_onehot_roundtrip_property(rows):
    import pandas as pd

    from lours_spark.display_widgets import gather_onehot

    domain = sorted({v for r in rows for v in r})
    pdf = pd.DataFrame(
        {
            "id": range(len(rows)),
            **{
                f"tags.{v}": [v in r for r in rows] for v in domain
            },
        }
    )
    out = gather_onehot(pdf, "tags")
    if not domain:
        # no one-hot block at all: the frame passes through unchanged
        pd.testing.assert_frame_equal(out, pdf)
        return
    assert [list(x) for x in out["tags"]] == [sorted(r) for r in rows]
    assert not any(str(c).startswith("tags.") for c in out.columns)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    family_sizes=st.lists(st.integers(min_value=2, max_value=25),
                          min_size=1, max_size=3),
    cap=st.integers(min_value=2, max_value=12),
)
def test_star_mode_preserves_family_clusters_property(
    spark, family_sizes, cap
):
    """Star-mode invariant (round 9): for corpora of IDENTICAL-text
    families, the connected components of star-capped mining equal the
    uncapped clustering — whatever the family sizes and wherever the
    cap falls. Skip mode, by contrast, loses every family over the
    cap (the forfeit star mode exists to repair)."""
    from lours_spark.operators.dedup import minhash_lsh_pairs
    from lours_spark.split.chunks import connected_components

    rows, doc_id = [], 0
    expected = []
    for fam, size in enumerate(family_sizes):
        text = f"family {fam} boilerplate tail words " * 3
        members = []
        for _ in range(size):
            rows.append((doc_id, text))
            members.append(doc_id)
            doc_id += 1
        expected.append(frozenset(members))
    # noise singletons that must never join a family
    for i in range(3):
        rows.append((1000 + i, f"totally unrelated text {i} about spark"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def clusters(pairs):
        comp: dict = {}
        for r in connected_components(pairs).collect():
            comp.setdefault(r["component_id"], set()).add(r["node_id"])
        return {frozenset(v) for v in comp.values()}

    starred = clusters(
        minhash_lsh_pairs(
            df, jaccard_threshold=0.5, max_bucket_size=cap,
            oversize="star",
        )
    )
    uncapped = clusters(minhash_lsh_pairs(df, jaccard_threshold=0.5))
    assert starred == uncapped == set(expected)


# --- apply_schema_columns vs a pandas-style model of the reference ---
#
# The reference (schema_util_functions.py:116-202) json_normalize-s the
# docs and fillna-s flattened keys: optional keys get their schema
# default ([] for optional arrays), required keys stay NaN, then
# integer/boolean dtypes apply. The engine does the same with struct
# withField rewrites — including on rows whose parent object is
# entirely absent or explicitly null (the round-9 NULL-parent-struct
# bug class this property targets).

_PROP_NAMES = ["a", "b", "c", "d", "e"]


@st.composite
def _schemas(draw, depth=2):
    n = draw(st.integers(1, 3))
    names = _PROP_NAMES[: n + depth]  # disjoint-ish pools per level
    chosen = draw(
        st.lists(st.sampled_from(names), min_size=1, max_size=3, unique=True)
    )
    props = {}
    for nm in chosen:
        kinds = ["integer", "boolean", "array", "string"]
        if depth > 0:
            kinds.append("object")
        kind = draw(st.sampled_from(kinds))
        if kind == "object":
            props[nm] = draw(_schemas(depth=depth - 1))
        else:
            p = {"type": kind}
            if kind == "integer" and draw(st.booleans()):
                p["default"] = draw(st.integers(-5, 5))
            elif kind == "boolean" and draw(st.booleans()):
                p["default"] = draw(st.booleans())
            elif kind == "string" and draw(st.booleans()):
                p["default"] = draw(st.sampled_from(["x", "y"]))
            props[nm] = p
    required = [nm for nm in chosen if draw(st.booleans())]
    return {"type": "object", "properties": props, "required": required}


def _gen_doc(draw, schema):
    doc = {}
    for nm, p in schema["properties"].items():
        presence = draw(
            st.sampled_from(["absent", "null", "value", "value", "value"])
        )
        if presence == "absent":
            continue
        if presence == "null":
            doc[nm] = None
            continue
        t = p.get("type")
        if t == "object":
            doc[nm] = _gen_doc(draw, p)
        elif t == "integer":
            doc[nm] = draw(st.integers(-100, 100))
        elif t == "boolean":
            doc[nm] = draw(st.booleans())
        elif t == "array":
            doc[nm] = draw(st.lists(st.integers(0, 9), max_size=3))
        else:
            doc[nm] = draw(st.sampled_from(["p", "q"]))
    return doc


@st.composite
def _schema_and_docs(draw):
    schema = draw(_schemas())
    docs = [_gen_doc(draw, schema) for _ in range(draw(st.integers(1, 4)))]
    return schema, docs


def _flat_specs(schema, prefix="", inherited=False):
    """flat key -> (type, optional, default) — the reference's
    get_dtypes_and_default_values walk, re-derived independently."""
    out = {}
    req = schema.get("required") or []
    for nm, p in schema["properties"].items():
        key = f"{prefix}.{nm}" if prefix else nm
        opt = inherited or nm not in req
        if p.get("type") == "object":
            out.update(_flat_specs(p, key, opt))
        else:
            out[key] = (p.get("type"), opt, p.get("default"))
    return out


def _lookup(doc, parts):
    cur = doc
    for p in parts:
        if not isinstance(cur, dict) or p not in cur:
            return None
        cur = cur[p]
    return cur


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=_schema_and_docs())
def test_apply_schema_columns_matches_reference_model(spark, data):
    import json

    from lours_spark.io.schema_tools import apply_schema_columns

    schema, docs = data
    payload = [dict(d, __i=i) for i, d in enumerate(docs)]
    df = spark.read.json(
        spark.sparkContext.parallelize([json.dumps(d) for d in payload], 1)
    )
    out = apply_schema_columns(df, schema)
    rows = {
        r["__i"]: r.asDict(recursive=True)
        for r in out.orderBy("__i").collect()
    }
    for key, (typ, optional, default) in _flat_specs(schema).items():
        parts = key.split(".")
        # keys with no non-null occurrence anywhere either have no
        # column (skipped, like the reference's `k not in columns`) or
        # a degenerate all-null string-inferred one — not comparable
        if all(_lookup(d, parts) is None for d in docs):
            continue
        for i, doc in enumerate(docs):
            v = _lookup(doc, parts)
            if v is None and optional:
                if default is not None:
                    v = default
                elif typ == "array":
                    v = []
            got = _lookup(rows[i], parts)
            assert got == v, (key, i, got, v, schema, docs)


# --------------------------------------------------------------------
# versioned-table pointer layer (io/versioned.py): the pointer ops
# never read the data files, so random op sequences run WITHOUT Spark
# — the model tracks what the directory + pointer must look like.
ops = st.lists(
    st.one_of(
        st.just(("publish",)),
        st.just(("crash",)),  # start + write dir, never commit
        st.tuples(st.just("prune"), st.integers(1, 3)),
        st.tuples(st.just("rollback"), st.integers(0, 30)),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=60, deadline=None)
@given(seq=ops)
def test_versioned_pointer_model_property(seq):
    """Against a reference model, any sequence of publish / crashed
    writer / prune / rollback keeps the invariants: the pointer always
    names an on-disk version, prune retains exactly current +
    newer-than-current + the keep_last-1 rollback window, and a fresh
    allocation never collides with anything on disk."""
    import os
    import shutil
    import tempfile

    from lours_spark.io.versioned import (
        commit_version,
        current_version,
        list_versions,
        prune_versions,
        rollback,
        start_version,
    )

    root = tempfile.mkdtemp(prefix="vprop_")
    try:
        on_disk: set = set()
        current = None
        for op in seq:
            if op[0] == "publish":
                v, path = start_version(root)
                assert v not in on_disk and (current is None or v > current)
                os.makedirs(path)
                open(os.path.join(path, "part-0.parquet"), "w").close()
                commit_version(root, v)
                on_disk.add(v)
                current = v
            elif op[0] == "crash":
                v, path = start_version(root)
                assert v not in on_disk
                os.makedirs(path)  # half-written, never committed
                on_disk.add(v)
            elif op[0] == "prune":
                k = op[1]
                pruned = prune_versions(root, keep_last=k)
                if current is None:
                    keep = set(sorted(on_disk)[-k:])
                else:
                    keep = {v for v in on_disk if v >= current}
                    below = sorted(v for v in on_disk if v < current)
                    if k > 1:
                        keep.update(below[-(k - 1):])
                assert set(pruned) == on_disk - keep
                on_disk = keep
            else:  # rollback to some on-disk version (mod index)
                if not on_disk:
                    continue
                target = sorted(on_disk)[op[1] % len(on_disk)]
                rollback(root, target)
                current = target
            # invariants, every step
            assert current_version(root) == current
            assert set(list_versions(root)) == on_disk
            if current is not None:
                assert current in on_disk
    finally:
        shutil.rmtree(root, ignore_errors=True)


nullable_group = st.one_of(st.none(), st.integers(0, 6))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), nullable_group, nullable_group),
        max_size=60,
        unique_by=lambda r: r[0],
    ),
    cols=st.sampled_from([["g1"], ["g1", "g2"]]),
)
def test_atomic_chunks_matches_union_find(spark, rows, cols):
    """atomic_chunks == union-find over rows sharing any non-NULL group
    value, chunk id = min row id of the component."""
    from lours_spark.split.chunks import atomic_chunks

    df = spark.createDataFrame(rows, "id long, g1 long, g2 long")
    got = {
        r["id"]: r["chunk_id"]
        for r in atomic_chunks(df, "id", cols).collect()
    }

    parent = list(range(len(rows)))

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    first = {}
    for i, row in enumerate(rows):
        for c, v in zip(("g1", "g2"), row[1:]):
            if c in cols and v is not None:
                parent[find(i)] = find(first.setdefault((c, v), i))
    low = {}
    for i, row in enumerate(rows):
        low[find(i)] = min(low.get(find(i), row[0]), row[0])
    assert got == {row[0]: low[find(i)] for i, row in enumerate(rows)}
