from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lours_spark.split.balanced import (
    balanced_split,
    emd_1d,
    greedy_assign,
    greedy_assign_approx,
    kl_divergence,
    share_distance,
)
from lours_spark.split import chunks
from lours_spark.split.chunks import atomic_chunks
from lours_spark.split.splitter import hash_split, residual_shares, simple_split


def test_hash_split_deterministic_and_balanced(spark):
    df = spark.range(10000).withColumnRenamed("id", "id")
    out1 = hash_split(df, {"train": 0.8, "valid": 0.1, "eval": 0.1})
    out2 = hash_split(df, {"train": 0.8, "valid": 0.1, "eval": 0.1})
    counts = {r["split"]: r["n"] for r in out1.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["train"] / 10000 - 0.8) < 0.02
    assert abs(counts["valid"] / 10000 - 0.1) < 0.02
    # determinism
    a = {r["id"]: r["split"] for r in out1.collect()}
    b = {r["id"]: r["split"] for r in out2.collect()}
    assert a == b


def test_hash_split_keeps_existing(spark):
    df = spark.range(100).withColumn(
        "split", F.when(F.col("id") < 10, F.lit("train"))
    )
    out = hash_split(df, {"train": 0.0, "valid": 1.0})
    pre = out.filter(F.col("id") < 10).filter(F.col("split") != "train").count()
    assert pre == 0


def test_hash_fraction_matches_wide_multiply(spark):
    """The 16-bit split-multiply form (splitter.py) must reproduce the
    exact residues of the arbitrary-precision (id * K) % 2^32 — in
    particular for ids past 2^32 and near 2^63, where a naive 64-bit
    multiply wraps."""
    from lours_spark.split.splitter import _KNUTH, _M32, hash_fraction

    ids = [0, 1, 65535, 65536, 2**31, 2**32 - 1, 2**32, 2**32 + 12345,
           3_470_000_000, 10**12, 2**62, 2**63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r["id"]: r["f"]
        for r in df.withColumn("f", hash_fraction(F.col("id"))).collect()
    }
    for i in ids:
        want = ((i * _KNUTH) % _M32) / _M32  # Python bigint: exact
        assert got[i] == want, (i, got[i], want)


def test_hash_fraction_duckdb_oracle_parity(spark):
    """The BIGINT-only SQL mirrored in ORACLE_HASH_SPLIT computes the
    same residues in DuckDB."""
    import duckdb

    from lours_spark.split.splitter import _KNUTH, _M32

    ids = [0, 1, 2**31, 2**32 + 12345, 10**12, 2**62]
    rows = duckdb.sql(
        """
        SELECT i, (((((i::BIGINT % 4294967296) // 65536) * 2654435761) % 65536) * 65536
               + ((i::BIGINT % 4294967296) % 65536) * 2654435761) % 4294967296 AS h
        FROM (SELECT unnest($ids) AS i)
        """.replace("$ids", str(ids))
    ).fetchall()
    for i, h in rows:
        assert h == (i * _KNUTH) % _M32


def test_simple_split_shares(spark):
    df = spark.range(10000)
    out = simple_split(df, {"train": 0.7, "valid": 0.3}, seed=1)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["train"] / 10000 - 0.7) < 0.05


def test_residual_shares(spark):
    df = spark.range(100).withColumn(
        "split", F.when(F.col("id") < 50, F.lit("train"))
    )
    resid = residual_shares(df, {"train": 0.5, "valid": 0.5})
    # train already at target → all remaining mass to valid
    assert resid["valid"] == pytest.approx(1.0)
    assert resid["train"] == pytest.approx(0.0)


def test_atomic_chunks_star_edges(spark, monkeypatch):
    """Rows sharing any non-NULL group value form one chunk whose id is
    the min row id, identically on both connected_components paths."""
    df = spark.createDataFrame(
        [
            # the chain 0-a-1-y-2, the pair 3-z-4 and the singleton 5
            (0, "a", "x"), (1, "a", "y"), (2, "b", "y"), (3, "c", "z"),
            (4, "d", "z"), (5, "e", "w"),
            # NULL links nothing: an all-NULL row keeps its own id
            (10, "f", None), (11, None, "v"), (12, "f", "v"), (13, None, None),
            # a repeated id bridges its rows' groups; every row is kept once
            (27, "g", None), (27, "h", None), (28, "g", None), (29, "h", None),
        ],
        "id long, g1 string, g2 string",
    )
    want = [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5),
            (10, 10), (11, 10), (12, 10), (13, 13),
            (27, 27), (27, 27), (28, 27), (29, 27)]
    cc = chunks.connected_components
    for thresh in (0, 2_000_000):  # 0 → distributed path; else driver
        monkeypatch.setattr(
            chunks, "connected_components",
            lambda pairs, t=thresh: cc(pairs, driver_threshold=t),
        )
        out = atomic_chunks(df, "id", ["g1", "g2"]).select("id", "chunk_id")
        assert sorted(tuple(r) for r in out.collect()) == want, thresh
    # string ids keep their type (both CC paths: test_connected_components_hybrid)
    sdf = spark.createDataFrame(
        [("r1", "a", None), ("r0", "b", "x"), ("r2", "a", "x")],
        "id string, g1 string, g2 string",
    )
    out = atomic_chunks(sdf, "id", ["g1", "g2"])
    assert out.schema["chunk_id"].dataType.simpleString() == "string"
    assert sorted(tuple(r) for r in out.select("id", "chunk_id").collect()) == [
        ("r0", "r0"), ("r1", "r0"), ("r2", "r0"),
    ]


def test_kl_and_emd_and_share():
    p = {("a",): 10, ("b",): 0}
    q = {("a",): 5, ("b",): 5}
    assert kl_divergence(p, p) == pytest.approx(0.0, abs=1e-6)
    assert kl_divergence(p, q) > 0
    assert emd_1d({1: 1}, {1: 1}) == pytest.approx(0.0)
    assert emd_1d({1: 1}, {2: 1}) == pytest.approx(1.0)
    assert share_distance({"t": 80, "v": 20}, {"t": 0.8, "v": 0.2}) == pytest.approx(0.0)


def test_greedy_assign_shares():
    hists = {i: {("a",): 5, ("b",): 5} for i in range(100)}
    assignment = greedy_assign(hists, {"train": 0.8, "valid": 0.2}, seed=0)
    n_train = sum(1 for v in assignment.values() if v == "train")
    assert abs(n_train / 100 - 0.8) < 0.05


def _split_objective(hists, assignment, shares):
    """The greedy's combined objective recomputed from dict form:
    size-weighted per-split KL vs the global histogram + share cost."""
    from collections import defaultdict

    glob: dict = defaultdict(int)
    per = {s: defaultdict(int) for s in shares}
    sizes = {s: 0 for s in shares}
    for cid, h in hists.items():
        s = assignment[cid]
        for k, v in h.items():
            glob[k] += v
            per[s][k] += v
        sizes[s] += sum(h.values())
    tot = sum(sizes.values()) or 1
    hist_cost = sum(
        sizes[s] / tot * kl_divergence(dict(per[s]), dict(glob))
        for s in shares
        if sizes[s]
    )
    return hist_cost + share_distance(sizes, shares)


def test_greedy_assign_approx_quality_and_determinism():
    """The bounded-driver approximate mode must land within noise of
    the exact greedy on the combined objective, be deterministic for a
    seed, and respect preassignments."""
    import random as _r

    rng = _r.Random(7)
    hists = {}
    for cid in range(3000):
        h = {
            ("cat", b): rng.randint(1, 40)
            for b in range(6)
            if rng.random() < 0.7
        }
        hists[cid] = h or {("cat", 0): 1}
    shares = {"train": 0.7, "valid": 0.2, "eval": 0.1}

    exact = greedy_assign(hists, shares, seed=3)
    approx = greedy_assign_approx(hists, shares, seed=3)
    assert set(approx) == set(hists)
    cost_exact = _split_objective(hists, exact, shares)
    cost_approx = _split_objective(hists, approx, shares)
    # both objectives are ~0 for a balanceable corpus; approx may not
    # beat exact but must stay within noise of it
    assert cost_approx <= cost_exact + 0.02, (cost_exact, cost_approx)
    # shares: each split's row count within a chunk of its target
    sizes = {s: 0 for s in shares}
    for cid, s in approx.items():
        sizes[s] += sum(hists[cid].values())
    tot = sum(sizes.values())
    for s, t in shares.items():
        assert abs(sizes[s] / tot - t) < 0.02, (s, sizes[s] / tot, t)

    assert greedy_assign_approx(hists, shares, seed=3) == approx
    assert greedy_assign_approx(hists, shares, seed=4) != approx

    pre = {0: "eval", 17: "eval", 42: "train"}
    got = greedy_assign_approx(hists, shares, seed=3, preassigned=pre)
    for cid, s in pre.items():
        assert got[cid] == s


def test_greedy_assign_approx_order_independent():
    """Same histograms presented in a different order (outer dict AND
    inner bin-dict insertion order both reversed) must yield the SAME
    assignment for the same seed — upstream order comes from a Spark
    collect with no stable-order guarantee, so order sensitivity here
    means train/eval membership churn across re-runs (round-5 ADVICE
    medium: unsorted bin indexing flipped 394/800 assignments)."""
    import random as _r

    rng = _r.Random(11)
    hists = {}
    for cid in range(800):
        h = {
            ("cat", b): rng.randint(1, 40)
            for b in range(8)
            if rng.random() < 0.6
        }
        hists[cid] = h or {("cat", 0): 1}
    shares = {"train": 0.7, "valid": 0.2, "eval": 0.1}

    base = greedy_assign_approx(hists, shares, seed=3)
    reordered = {
        cid: dict(reversed(list(hists[cid].items())))
        for cid in reversed(list(hists))
    }
    assert greedy_assign_approx(reordered, shares, seed=3) == base
    # exact mode: bin order only enters via float summation order, but
    # the same guarantee must hold (sorted bin index)
    assert greedy_assign(reordered, shares, seed=3) == greedy_assign(
        hists, shares, seed=3
    )


def test_approx_assignment_from_table_order_independent():
    """Row order of the collected (chunk, bins, n) table must not
    change the assignment: factorize codes feed the seeded bucket
    hash, so appearance-order codes would make the same seed split
    differently across Spark collect orders."""
    import random as _r

    import pandas as pd

    from lours_spark.split.balanced import _approx_assignment_from_table

    rng = _r.Random(5)
    rows = []
    for cid in range(400):
        for b in range(6):
            if rng.random() < 0.6:
                rows.append((cid, f"bin{b}", rng.randint(1, 30)))
    pdf = pd.DataFrame(rows, columns=["chunk_id", "dim", "n"])
    shares = {"train": 0.8, "valid": 0.2}

    base = _approx_assignment_from_table(pdf, "chunk_id", ["dim"], shares, 3)
    shuffled = pdf.sample(frac=1.0, random_state=9).reset_index(drop=True)
    got = _approx_assignment_from_table(
        shuffled, "chunk_id", ["dim"], shares, 3
    )
    base_m = dict(zip(base["chunk_id"], base["__assigned"]))
    got_m = dict(zip(got["chunk_id"], got["__assigned"]))
    assert got_m == base_m


def test_hist_distance_reference_semantics():
    """hist_distance mirrors the reference formula: per-dim marginal
    KL with inf on uncovered bins/empty sides, per-cell value-spaced
    EMD weighted by left cell mass, α/β norms."""
    import math as _m

    from lours_spark.split.balanced import emd_1d_values, hist_distance

    # identical distributions at different scales -> 0
    assert hist_distance(
        {("a",): 4, ("b",): 4}, {("a",): 1, ("b",): 1}, ["cat"]
    ) == 0.0
    # right missing a left-mass bin -> inf; empty right -> inf
    assert hist_distance({("a",): 1, ("b",): 1}, {("a",): 9}, ["cat"]) == _m.inf
    assert hist_distance({("a",): 1}, {}, ["cat"]) == _m.inf
    # two categorical dims: sum of marginal KLs times norm([1,1])
    left = {("a", "x"): 2, ("b", "y"): 2}
    right = {("a", "y"): 1, ("b", "x"): 1}
    d = hist_distance(left, right, ["c1", "c2"])
    # marginals agree on both dims (a/b 50-50, x/y 50-50) -> 0 even
    # though the JOINT distributions differ — the reference's marginal
    # semantics, distinct from the greedy's joint surrogate
    assert d == 0.0
    # continuous dim: per-category-cell EMD, left-mass weighted
    left2 = {("a", 0.0): 3, ("a", 10.0): 3, ("b", 0.0): 2}
    right2 = {("a", 0.0): 6, ("b", 0.0): 1}
    got = hist_distance(
        left2, right2, ["cat", "size"], continuous=["size"]
    )
    # cell a: EMD({0:3,10:3},{0:6}) = 0.5; cell b: 0; weights 6/8, 2/8
    # plus the cat-marginal KL term: left cat [.75,.25] vs right
    # [6/7,1/7]
    kl = 0.75 * _m.log(0.75 / (6 / 7)) + 0.25 * _m.log(0.25 / (1 / 7))
    assert abs(got - (kl + (6 / 8) * 0.5)) < 1e-12
    assert emd_1d_values({0.0: 3, 10.0: 3}, {0.0: 6}) == 0.5
    # >1 continuous dims: loud NotImplementedError (POT seam)
    import pytest as _pt

    with _pt.raises(NotImplementedError, match="POT"):
        hist_distance({}, {}, ["x", "y"], continuous=["x", "y"])


def test_greedy_assign_count_style_shares():
    """Exact mode must normalize count-style shares ({80, 20}) like the
    approximate mode — unnormalized targets made the share cost
    constant and degenerated the whole split into one bucket."""
    hists = {cid: {("c", cid % 4): 10} for cid in range(400)}
    for shares in ({"train": 80.0, "valid": 20.0}, {"train": 0.8, "valid": 0.2}):
        out = greedy_assign(hists, shares, seed=1)
        n_train = sum(1 for s in out.values() if s == "train")
        assert abs(n_train / 400 - 0.8) < 0.05, (shares, n_train)
    # and both parameterizations agree exactly (counts are 100x shares)
    assert greedy_assign(
        hists, {"train": 80.0, "valid": 20.0}, seed=1
    ) == greedy_assign(hists, {"train": 0.8, "valid": 0.2}, seed=1)


def test_splitters_apply_residual_shares(spark):
    """Pre-assigned rows skew what the remainder must look like: with
    90% already 'train' and targets 0.8/0.2, the NULL remainder must
    route (almost) entirely to 'valid' — re-applying the full shares
    would land at ~98/2."""
    from lours_spark.split.splitter import hash_split

    df = spark.range(1000).withColumn(
        "split", F.when(F.col("id") < 900, F.lit("train"))
    )
    out = hash_split(df, {"train": 0.8, "valid": 0.2})
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts["train"] == 900  # existing untouched
    assert counts["valid"] == 100  # full remainder routed to valid


def test_connected_components_nonconvergence_raises(spark):
    """A chain longer than max_iter hops must fail loud, not silently
    under-merge (split-leakage risk)."""
    import pytest as _pt

    from lours_spark.split.chunks import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with _pt.raises(RuntimeError, match="did not converge"):
        connected_components(
            chain, max_iter=2, driver_threshold=0
        ).collect()
    # with enough rounds the same chain converges to one component
    out = connected_components(chain, max_iter=20, driver_threshold=0)
    assert out.select("component_id").distinct().count() == 1


def test_balanced_split_string_ids(spark):
    """String-keyed datasets work in every mode (the assignment
    transfer schema derives from the id type)."""
    df = (
        spark.range(300)
        .select(
            F.concat(F.lit("row"), F.col("id")).alias("rid"),
            (F.col("id") % 30).cast("string").alias("grp"),
            (F.col("id") % 3).cast("string").alias("dim"),
        )
    )
    for mode in ("exact", "approximate"):
        out = balanced_split(
            df,
            {"train": 0.7, "valid": 0.3},
            dims=["dim"],
            keep_separate=["grp"],
            id_col="rid",
            seed=1,
            mode=mode,
        )
        assert out.filter(F.col("split").isNull()).count() == 0, mode


def test_balanced_split_approximate_partitioning_invariant(spark):
    """Same data under different partitionings (hence different collect
    orders for the chunk-histogram table) must produce the SAME
    approximate split for the same seed — the end-to-end form of the
    round-5 ADVICE determinism fix."""
    df = (
        spark.range(1500)
        .withColumn("group", (F.col("id") % 150))
        .withColumn("dim", (F.col("id") % 5).cast("string"))
    )

    def run(frame):
        out = balanced_split(
            frame,
            {"train": 0.7, "valid": 0.3},
            dims=["dim"],
            keep_separate=["group"],
            seed=2,
            mode="approximate",
        )
        return {r["id"]: r["split"] for r in out.select("id", "split").collect()}

    a = run(df.repartition(7, "dim"))
    b = run(df.repartition(3))
    c = run(df.coalesce(1))
    assert a == b == c


def test_balanced_split_numeric_key_overflow_fails_loud(spark):
    """The approximate mode's long chunk-key encoding (value*2 /
    id*2+1) wraps silently past 2^62 outside ANSI mode, which would
    merge unrelated chunks — the guard must raise instead."""
    import pytest as _pt

    df = (
        spark.range(10)
        .withColumn("group", F.col("id") + F.lit(2**62))
        .withColumn("dim", (F.col("id") % 2).cast("string"))
    )
    with _pt.raises(Exception, match="overflows long encoding"):
        balanced_split(
            df,
            {"train": 0.8, "valid": 0.2},
            dims=["dim"],
            keep_separate=["group"],
            seed=1,
            mode="approximate",
        ).collect()


def test_balanced_split_approximate_end_to_end(spark):
    df = (
        spark.range(2000)
        .withColumn("group", (F.col("id") % 200))
        .withColumn("dim", (F.col("id") % 4).cast("string"))
    )
    out = balanced_split(
        df,
        {"train": 0.8, "valid": 0.2},
        dims=["dim"],
        keep_separate=["group"],
        seed=1,
        mode="approximate",
    )
    viol = (
        out.groupBy("group")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert viol == 0
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    rows = out.groupBy("split", "dim").agg(F.count(F.lit(1)).alias("n")).collect()
    by_split: dict = {}
    for r in rows:
        by_split.setdefault(r["split"], {})[r["dim"]] = r["n"]
    for split, hist in by_split.items():
        total = sum(hist.values())
        for dim, nn in hist.items():
            assert abs(nn / total - 0.25) < 0.05, (split, dim)
    with pytest.raises(ValueError, match="mode"):
        balanced_split(df, {"a": 1.0}, dims=["dim"], mode="nope")


def test_approximate_split_quality_matches_exact_on_suite_data(spark):
    """The reference quality bar (VERDICT r4 item 1): on the real
    orders table, the approximate mode's split must land within noise
    of the exact mode on BOTH quality axes — per-split KL against the
    global dim histogram and share distance to the targets."""
    import os

    from lours_spark.suite import _t

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    o = _t(spark, sf, "orders").withColumnRenamed("o_orderkey", "id")
    shares = {"train": 0.8, "valid": 0.1, "eval": 0.1}

    def quality(mode):
        out = balanced_split(
            o, shares, dims=["o_orderpriority"],
            keep_separate=["o_custkey"], seed=42, mode=mode,
        )
        rows = out.groupBy("split", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
        per: dict = {}
        glob: dict = {}
        sizes: dict = {}
        for r in rows:
            per.setdefault(r["split"], {})[r["o_orderpriority"]] = r["n"]
            glob[r["o_orderpriority"]] = glob.get(r["o_orderpriority"], 0) + r["n"]
            sizes[r["split"]] = sizes.get(r["split"], 0) + r["n"]
        kl = max(kl_divergence(h, glob) for h in per.values())
        return kl, share_distance(sizes, shares)

    kl_e, sd_e = quality("exact")
    kl_a, sd_a = quality("approximate")
    # both modes balance this corpus to near-zero cost; approx must not
    # be more than noise worse on either axis
    assert kl_a <= kl_e + 5e-3, (kl_e, kl_a)
    assert sd_a <= sd_e + 5e-3, (sd_e, sd_a)


def test_balanced_split_approximate_generic_paths(spark):
    """The approximate mode must also work through the generic chunking
    branches: multi-column keep-separate (distributed CC chunking) and
    no keep-separate (row-per-chunk)."""
    df = (
        spark.range(600)
        .withColumn("g1", (F.col("id") % 60))
        .withColumn("g2", ((F.col("id") + 7) % 60))
        .withColumn("dim", (F.col("id") % 3).cast("string"))
    )
    out = balanced_split(
        df,
        {"train": 0.75, "valid": 0.25},
        dims=["dim"],
        keep_separate=["g1", "g2"],
        seed=5,
        mode="approximate",
    )
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(counts.values()) == 600
    # two overlapping 60-valued group columns chain everything into few
    # big components; shares can be lumpy but every row lands somewhere
    assert set(counts) <= {"train", "valid"}
    viol = (
        out.groupBy("g1")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert viol == 0

    solo = balanced_split(
        df, {"a": 0.5, "b": 0.5}, dims=["dim"], seed=5, mode="approximate"
    )
    c2 = {
        r["split"]: r["n"]
        for r in solo.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert abs(c2["a"] / 600 - 0.5) < 0.05


def test_balanced_split_end_to_end(spark):
    df = (
        spark.range(2000)
        .withColumn("group", (F.col("id") % 200))
        .withColumn("dim", (F.col("id") % 4).cast("string"))
    )
    out = balanced_split(
        df,
        {"train": 0.8, "valid": 0.2},
        dims=["dim"],
        keep_separate=["group"],
        seed=1,
    )
    # keep-separate respected: each group lands in exactly one split
    viol = (
        out.groupBy("group")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert viol == 0
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["train"] / 2000 - 0.8) < 0.1
    # dim balance: each split's dim histogram close to global (25% each)
    rows = out.groupBy("split", "dim").agg(F.count(F.lit(1)).alias("n")).collect()
    by_split: dict = {}
    for r in rows:
        by_split.setdefault(r["split"], {})[r["dim"]] = r["n"]
    for split, hist in by_split.items():
        total = sum(hist.values())
        for dim, n in hist.items():
            assert abs(n / total - 0.25) < 0.08, (split, dim)


def test_greedy_assign_portable_is_order_independent_and_polish_free():
    """shuffle="portable": the assignment is a pure function of the
    histograms — identical across dict insertion orders, identical to
    an explicit polish=False call (portable defaults the polish OFF so
    the gate's recursive-CTE oracle replays the loop exactly), and the
    visit order is the seeded-md5 order (spot-checked against
    hashlib)."""
    import hashlib

    hists = {
        cid: {(str(cid % 4),): 5 + cid % 7, (str((cid + 1) % 4),): 3}
        for cid in range(200)
    }
    shares = {"train": 0.8, "valid": 0.1, "eval": 0.1}
    a = greedy_assign(hists, shares, seed=9, shuffle="portable")
    # reversed insertion order → same assignment
    rev = dict(reversed(list(hists.items())))
    b = greedy_assign(rev, shares, seed=9, shuffle="portable")
    assert a == b
    assert a == greedy_assign(hists, shares, seed=9, shuffle="portable",
                              polish=False)
    # different seed → different md5 permutation → (almost surely) a
    # different assignment somewhere
    c = greedy_assign(hists, shares, seed=10, shuffle="portable")
    assert any(a[k] != c[k] for k in a)
    # python default still resolves polish ON and stays valid
    d = greedy_assign(hists, shares, seed=9)
    assert set(d) == set(a) and set(d.values()) <= set(shares)
    with pytest.raises(ValueError, match="shuffle"):
        greedy_assign(hists, shares, shuffle="nope")
    # the visit order really is md5-of-seed:id ascending: the first
    # chunk assigned must be the md5-min one, and with S candidate
    # splits and empty state the first chunk always goes to the split
    # whose share is largest (train) — spot-check via a 1-chunk run
    first = min(
        hists, key=lambda cd: (hashlib.md5(f"9:{cd}".encode()).hexdigest(),
                               str(cd))
    )
    solo = greedy_assign({first: hists[first]}, shares, seed=9,
                         shuffle="portable")
    assert solo[first] == a[first] == "train"


def test_balanced_split_auto_routes_by_chunk_count(spark, monkeypatch):
    """mode="auto" (the default) must route exact at/below
    AUTO_EXACT_MAX_CHUNKS and approximate above — asserted by spying on
    the two driver cores, with the threshold pinched around the actual
    chunk count (200 groups)."""
    from lours_spark.split import balanced as bal

    df = (
        spark.range(2000)
        .withColumn("group", (F.col("id") % 200))
        .withColumn("dim", (F.col("id") % 4).cast("string"))
    )
    calls: list[str] = []
    real_exact, real_approx = bal.greedy_assign, bal._approx_assignment_from_table
    monkeypatch.setattr(
        bal, "greedy_assign",
        lambda *a, **k: calls.append("exact") or real_exact(*a, **k),
    )
    monkeypatch.setattr(
        bal, "_approx_assignment_from_table",
        lambda *a, **k: calls.append("approx") or real_approx(*a, **k),
    )
    shares = {"train": 0.8, "valid": 0.2}

    monkeypatch.setattr(bal, "AUTO_EXACT_MAX_CHUNKS", 200)
    out = balanced_split(df, shares, dims=["dim"], keep_separate=["group"])
    assert out.count() == 2000 and calls == ["exact"]

    calls.clear()
    monkeypatch.setattr(bal, "AUTO_EXACT_MAX_CHUNKS", 199)
    out = balanced_split(df, shares, dims=["dim"], keep_separate=["group"])
    assert out.count() == 2000 and calls == ["approx"]


def test_balanced_split_auto_exact_matches_explicit_exact(spark):
    """Below the threshold, auto is bit-identical to mode="exact" (the
    auto route feeds the same greedy from the Arrow-collected table)."""
    df = (
        spark.range(1200)
        .withColumn("group", (F.col("id") % 120))
        .withColumn("dim", (F.col("id") % 3).cast("string"))
    )
    shares = {"train": 0.7, "valid": 0.3}
    kw = dict(dims=["dim"], keep_separate=["group"], seed=3)
    a = {r["id"]: r["split"]
         for r in balanced_split(df, shares, mode="auto", **kw).collect()}
    b = {r["id"]: r["split"]
         for r in balanced_split(df, shares, mode="exact", **kw).collect()}
    assert a == b


def test_simple_split_portable_invariant_under_repartitioning(spark):
    """rng="portable" is a pure function of the id — identical under
    any physical partitioning (the rand(seed) default is NOT, which is
    why the gate oracles the portable mode)."""
    import hashlib

    df = spark.range(5000)
    shares = {"train": 0.8, "valid": 0.1, "eval": 0.1}
    a = {r["id"]: r["split"]
         for r in simple_split(df, shares, seed=7, rng="portable").collect()}
    b = {r["id"]: r["split"]
         for r in simple_split(df.repartition(7), shares, seed=7,
                               rng="portable").collect()}
    assert a == b
    counts: dict = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    # python-replicable (the oracle's definition): md5 prefix / 2^52
    frac = int(hashlib.md5(b"7:123").hexdigest()[:13], 16) / 2**52
    assert a[123] == ("train" if frac < 0.8
                      else "valid" if frac < 0.8 + 0.1 else "eval")
    with pytest.raises(ValueError, match="rng"):
        simple_split(df, shares, rng="nope")


def test_hash_split_invariant_under_repartitioning(spark):
    """The documented scale property: hash_split assignments are pure
    functions of the id — identical under any physical partitioning
    (rand(seed)-based simple_split is NOT, which is why hash_split is
    the 100 TB default)."""
    df = spark.range(5000)
    shares = {"train": 0.8, "valid": 0.2}
    a = {r["id"]: r["split"] for r in hash_split(df, shares).collect()}
    b = {
        r["id"]: r["split"]
        for r in hash_split(df.repartition(7), shares).collect()
    }
    assert a == b


def test_connected_components_hybrid(spark):
    """Driver union-find and distributed propagation agree; component
    id is the min member node."""
    from lours_spark.split.chunks import connected_components

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (2, 3), (10, 1)], "id_a long, id_b long"
    )
    spairs = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y")], "id_a string, id_b string"
    )
    for thresh in (0, 100):  # 0 → distributed path; 100 → driver path
        out = {
            r.node_id: r.component_id
            for r in connected_components(pairs, driver_threshold=thresh).collect()
        }
        assert out == {1: 1, 5: 1, 9: 1, 10: 1, 2: 2, 3: 2}
        # non-long ids keep their type on both paths
        sout = connected_components(spairs, driver_threshold=thresh)
        assert sout.schema["component_id"].dataType.simpleString() == "string"
        assert {r.node_id: r.component_id for r in sout.collect()} == {
            "a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
        }


def test_connected_components_cache_strategy(spark, monkeypatch):
    """Under the cluster (persist) strategy the distributed path gives
    the same components and releases every per-round frame: at most
    the returned labels stay cached."""
    import lours_spark.operators._materialize as mat
    from lours_spark.split.chunks import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)] + [(20, 21)], "id_a long, id_b long"
    )
    want = {i: 0 for i in range(9)} | {20: 20, 21: 20}
    monkeypatch.setattr(mat, "_use_cache", lambda *_: True)
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    try:
        stats = {}
        out = connected_components(chain, driver_threshold=0, stats=stats)
        assert stats["path"] == "distributed" and stats["rounds"] > 2
        assert {r.node_id: r.component_id for r in out.collect()} == want
        assert len(set(jsc.getPersistentRDDs().keys()) - before) <= 1
    finally:
        spark.catalog.clearCache()


def test_dedup_clusters_distributed_agrees_on_real_pairs(spark):
    """The forced-distributed CC twin (bench scale-evidence entry)
    produces exactly the hybrid query's clusters on the real documents
    pair set."""
    from lours_spark.suite import ALL_QUERIES

    sf = "/root/testdata/sf0.001"
    hybrid = {
        (r.doc_id, r.cluster_id)
        for r in ALL_QUERIES["dedup_clusters"](spark, sf).collect()
    }
    forced = {
        (r.doc_id, r.cluster_id)
        for r in ALL_QUERIES["dedup_clusters_distributed"](spark, sf).collect()
    }
    assert hybrid == forced and len(hybrid) > 0


def _greedy_assign_reference(hists, target_shares, seed=0,
                             hist_cost_weight=1.0, share_cost_weight=1.0,
                             preassigned=None):
    """Non-incremental scalar form of greedy_assign (the shape the
    production code's KL caching is verified against): recomputes every
    per-split KL and every total from scratch at each step. Costs
    O(chunks·S²·K) — test-only."""
    import math as _m
    import random as _r

    splits = list(target_shares)
    S = len(splits)
    eps = 1e-12
    keys, seen = [], set()
    for h in hists.values():
        for k in h:
            if k not in seen:
                seen.add(k)
                keys.append(k)
    K = max(1, len(keys))
    kidx = {k: i for i, k in enumerate(keys)}
    G = [0.0] * K
    hvec = {}
    for cid, h in hists.items():
        v = [0.0] * K
        for k, n in h.items():
            v[kidx[k]] = float(n)
        hvec[cid] = v
        for j in range(K):
            G[j] += v[j]
    gs = sum(G) or 1.0
    log_gq = [_m.log(G[j] / gs + eps) for j in range(K)]
    tshare = [float(target_shares[s]) for s in splits]

    def _kl(vec):
        sp = sum(vec) or 1.0
        return sum((vec[j] / sp + eps) * (_m.log(vec[j] / sp + eps) - log_gq[j])
                   for j in range(K))

    def _share(sz):
        tot = sum(sz) or 1.0
        inter = sum(min(sz[j] / tot, tshare[j]) for j in range(S))
        union = sum(max(sz[j] / tot, tshare[j]) for j in range(S))
        return 1.0 - (inter / union if union else 0.0)

    A = [[0.0] * K for _ in range(S)]
    sizes = [0.0] * S
    assignment = {}
    sindex = {s: i for i, s in enumerate(splits)}
    chunk_ids = sorted(hists)
    _r.Random(seed).shuffle(chunk_ids)

    def _cost(trialA, trial_sizes):
        n_total = sum(trial_sizes) or 1.0
        hist_cost = sum((trial_sizes[j] / n_total) * _kl(trialA[j])
                        for j in range(S) if trial_sizes[j])
        return hist_cost_weight * hist_cost + share_cost_weight * _share(trial_sizes)

    for cid in chunk_ids:
        h = hvec[cid]
        hn = sum(h)
        if preassigned and cid in preassigned:
            winner = sindex[preassigned[cid]]
        else:
            n_total = sum(sizes) + hn
            best_cost, winner = None, 0
            for i in range(S):
                trialA = [list(a) for a in A]
                for j in range(K):
                    trialA[i][j] += h[j]
                trial_sizes = list(sizes)
                trial_sizes[i] += hn
                if n_total:
                    hist_cost = sum(trial_sizes[j] / n_total * _kl(trialA[j])
                                    for j in range(S))
                else:
                    hist_cost = 0.0
                cost = (hist_cost_weight * hist_cost
                        + share_cost_weight * _share(trial_sizes))
                if best_cost is None or cost < best_cost:
                    best_cost, winner = cost, i
        for j in range(K):
            A[winner][j] += h[j]
        sizes[winner] += hn
        assignment[cid] = splits[winner]

    # naive polish: identical decision rules to production's move/swap
    # passes, but every trial cost is recomputed from scratch
    def total_cost():
        n_total = sum(sizes) or 1.0
        hist_cost = sum((sizes[j] / n_total) * _kl(A[j])
                        for j in range(S) if sizes[j])
        return hist_cost_weight * hist_cost + share_cost_weight * _share(sizes)

    def _shift(h, hn, frm, to):
        for j in range(K):
            A[frm][j] -= h[j]
            A[to][j] += h[j]
        sizes[frm] -= hn
        sizes[to] += hn

    for _ in range(2):
        moved = False
        for cid in sorted(assignment):
            if preassigned and cid in preassigned:
                continue
            h = hvec[cid]
            hn = sum(h)
            cur = sindex[assignment[cid]]
            best_cost, best_split = total_cost(), cur
            for i in range(S):
                if i == cur:
                    continue
                _shift(h, hn, cur, i)
                cost = total_cost()
                _shift(h, hn, i, cur)
                if cost < best_cost - 1e-12:
                    best_cost, best_split = cost, i
            if best_split != cur:
                _shift(h, hn, cur, best_split)
                assignment[cid] = splits[best_split]
                moved = True
        if not moved:
            break

    def _apply(cid, frm, to):
        h = hvec[cid]
        _shift(h, sum(h), frm, to)
        assignment[cid] = splits[to]

    movable = [c for c in sorted(assignment)
               if not (preassigned and c in preassigned)]
    cap = len(movable) if len(movable) <= 256 else max(
        2, min(32, 50_000 // len(movable)))
    for _ in range(2):
        improved = False
        base = total_cost()
        if base < 1e-6:
            break
        for idx, ca in enumerate(movable):
            sa = sindex[assignment[ca]]
            stride = max(1, len(movable) // cap)
            candidates = movable[(idx + 1) % stride :: stride][:cap]
            for cb in candidates:
                sb = sindex[assignment[cb]]
                if sb == sa or cb == ca:
                    continue
                _apply(ca, sa, sb)
                _apply(cb, sb, sa)
                cost = total_cost()
                if cost < base - 1e-12:
                    base = cost
                    sa = sindex[assignment[ca]]
                    improved = True
                else:
                    _apply(cb, sa, sb)
                    _apply(ca, sb, sa)
        if not improved:
            break
    return assignment


def test_greedy_assign_incremental_matches_scratch_recompute():
    """The production greedy's cached-KL trials (assignment, move
    polish, swap polish) must make the same decision at every step as
    from-scratch recomputation — EXACTLY, not approximately: counts
    are integers (exact in float64), so every cached sum and KL is
    bit-identical to its recomputation and the assignments must be
    equal as dicts."""
    import random as _r

    for trial in range(6):
        rng = _r.Random(100 + trial)
        hists = {}
        for cid in range(rng.choice([40, 200])):
            h = {("b", b): rng.randint(1, 9)
                 for b in range(rng.choice([2, 4, 7])) if rng.random() < 0.8}
            hists[cid] = h or {("b", 0): 1}
        shares = {"train": 0.7, "valid": 0.2, "eval": 0.1}
        pre = {0: "valid", 3: "train"} if trial % 2 else None
        ref = _greedy_assign_reference(hists, shares, seed=trial,
                                       preassigned=pre)
        got = greedy_assign(hists, shares, seed=trial, preassigned=pre)
        assert ref == got, (
            f"trial {trial}: incremental diverged from scratch recompute "
            f"on {sum(1 for c in ref if ref[c] != got[c])}/{len(ref)} chunks"
        )
