"""Registry-count guards: the driver gates exactly the first 50
entries of ``__spark_entry__.queries()``, so a registry edit that
grows past 50 silently drops the tail from correctness checking, and
one that shrinks it wastes gate slots. These constants are also quoted
in module docstrings — keep them honest here, in one place."""

from __future__ import annotations


def test_gate_is_exactly_50_with_50_oracles():
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert len(q) == 50, len(q)
    assert set(o) <= set(q)
    rows_only = set(q) - set(o)
    # round 7 closed the last rows-only slot: the balanced-split gate
    # runs the portable seeded-md5 chunk order whose greedy is replayed
    # by a recursive-CTE oracle, and simple_split's gate facet uses the
    # portable md5 PRF. The python-Random / rand(seed) reference-parity
    # defaults remain the library defaults, covered by tests/test_split.py.
    assert rows_only == set()


def test_all_queries_covers_gate_facets():
    from lours_spark.suite import ALL_QUERIES, GATE_FACETS, QUERIES

    assert len(QUERIES) == 50
    assert len(ALL_QUERIES) == 106
    for combined, facets in GATE_FACETS.items():
        assert combined in QUERIES, combined
        for f in facets:
            assert f in ALL_QUERIES, (combined, f)
    # every standalone query is either a gate query itself, a facet of
    # a combined gate query, or an explicitly bench-only stress/variant
    gated = set(QUERIES) | {
        f for facets in GATE_FACETS.values() for f in facets
    }
    bench_only = set(ALL_QUERIES) - gated
    assert bench_only == {
        "matcher_skew",          # skewed-group matcher stress facet
        "balanced_split_approx", # scale-mode variant of gated balanced_split
        "dedup_clusters_distributed",  # forced-distributed CC variant
        "pack_greedy",           # FFD packing (not SQL-expressible)
        "curation_pipeline",     # composed chain; stages gated separately
        "bloom_novel",           # xxhash64 bloom (no DuckDB twin; pytest)
        "minhash_hot_bucket",    # capped-LSH stress facet (cap pytest-pinned)
        "minhash_hot_bucket_star",  # star-mode twin (semantics pytest-pinned)
    }


def test_docstring_count_literals_match_registry():
    """Every registry count quoted in a module docstring must track the
    real registry — round 9 shipped '(96 entries)' in __spark_entry__
    while ALL_QUERIES had grown to 105."""
    import os
    import re

    import __spark_entry__ as entry

    from lours_spark import suite

    q_count, all_count = len(suite.QUERIES), len(suite.ALL_QUERIES)
    m = re.search(r"ALL_QUERIES``\s*\((\d+) entries\)", entry.__doc__)
    assert m, "__spark_entry__ docstring must quote the ALL_QUERIES count"
    assert int(m.group(1)) == all_count, (m.group(1), all_count)
    assert f"exactly {q_count} queries" in entry.__doc__
    # suite.py quotes both counts in its doctest — executed by the
    # package-wide doctest run, but pin it here too for one-place truth
    assert f"({q_count}, {all_count})" in suite.__doc__
    # COVERAGE.md's gate headroom policy quotes the facet counts of
    # the two wide facet-union slots
    cov = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")
    ).read()
    curation = re.search(r"(\d+) facets\s+ride it today", cov)
    temporal = re.search(r"ride that slot \((\d+)\s+facets today\)", cov)
    assert int(curation.group(1)) == len(suite.GATE_FACETS["pipeline_quality"])
    assert int(temporal.group(1)) == len(suite.GATE_FACETS["forward_fill"])


def test_bench_list_covers_all_queries():
    """bench.py times every registry entry, in registry order."""
    import bench

    from lours_spark.suite import ALL_QUERIES

    assert bench.BENCH_QUERIES == list(ALL_QUERIES)


def test_driver_contract_is_pinned():
    """The gate names (in order) and their oracle SQL text are what the
    driver records; a registry refactor must leave both byte-identical.
    An intended change to a gate query or oracle updates these digests
    in the same commit."""
    import hashlib
    import json

    import __spark_entry__ as entry

    def digest(obj) -> str:
        return hashlib.sha256(json.dumps(obj).encode()).hexdigest()

    assert digest(list(entry.queries())) == (
        "189244fd9303c33dcb9c4d78224d631c1ff0464d73dac19d2329a23da33c0ea5"
    )
    assert digest(entry.oracle_sql()) == (
        "076860ed681da161056ba96ae58584b7e340c864d5db2bdf120f041c29079b0c"
    )


def test_cols_set_exactly_on_union_facets():
    """``Query.cols`` feeds only the NULL-padded union SQL: every facet
    of a union slot needs it, and no other record carries it."""
    from lours_spark import suite

    union_facets = {
        f for g in suite.GATE if isinstance(g, suite.FacetUnion) for f in g.facets
    }
    with_cols = {q.name for q in suite.REGISTRY if q.cols}
    assert with_cols == union_facets
    assert len({q.name for q in suite.REGISTRY}) == len(suite.REGISTRY)


def test_bench_sf1_top20_pinned_to_registry():
    """scripts/bench_sf1.py pins its query list by name — a suite
    rename must fail here, not as a KeyError partway through a
    multi-minute sf1 run (and every pinned name must still resolve a
    sf0.1 reference time in the committed BENCH_FULL.json, or the
    'every ratio <= 2.0' acceptance silently narrows)."""
    import json
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    import bench_sf1

    from lours_spark.suite import ALL_QUERIES

    assert len(bench_sf1.PINNED) == 23
    assert set(bench_sf1.PINNED) <= set(ALL_QUERIES)
    # the round-10 noise-suspect trio must stay in the decade-up set
    assert {"dup_spans", "remove_dup_spans", "semantic_dedup"} <= set(
        bench_sf1.PINNED
    )
    repo = os.path.dirname(os.path.dirname(__file__))
    ref = json.load(open(os.path.join(repo, "BENCH_FULL.json")))["queries"]
    assert set(bench_sf1.PINNED) <= set(ref)

    # artifact lineage: BENCH_SF1's recorded ratios were computed
    # against SOME committed BENCH_FULL; when BENCH_FULL refreshes,
    # recompute each ratio against the CURRENT one and require the
    # acceptance claim to survive with +0.5 margin over each query's
    # recorded bound (default 2.0; documented super-linear stress
    # queries carry their own — see bench_sf1.RATIO_BOUNDS). A drift
    # past that means the sf1 artifact is stale against the new sf0.1
    # baseline — re-run scripts/bench_sf1.py.
    sf1 = json.load(open(os.path.join(repo, "BENCH_SF1.json")))
    assert sf1["acceptance_pass"] is True
    # every pinned query must actually be in the committed artifact
    assert set(bench_sf1.PINNED) <= set(sf1["queries"])
    bounds = sf1.get("ratio_bounds", {})
    for name, entry in sf1["queries"].items():
        if name in ref:
            recomputed = entry["sec"] / (10.0 * ref[name])
            bound = bounds.get(name, bounds.get("default", 2.0))
            assert recomputed <= bound + 0.5, (name, recomputed, bound)


def test_bench_calm_gate_reference_readable():
    """The calm gate compares against the committed BENCH_FULL.json
    calibration — that file must stay parseable with the expected key
    or the gate silently degrades to first-run behavior."""
    import bench

    ref = bench._committed_calibration()
    assert ref is not None, ref
    ref_spark, ref_numpy = ref
    assert 0.05 < ref_spark < 30.0, ref_spark
    assert 0.01 < ref_numpy < 30.0, ref_numpy
    assert bench.CAL_GATE_RATIO > 1.0


def _query_secs(parsed: dict) -> dict:
    """Decode a stdout-line queries dict back to seconds, honouring the
    self-describing ``queries_unit`` marker (absent = seconds)."""
    scale = 100.0 if parsed.get("queries_unit") == "centisec" else 1.0
    return {k: v / scale for k, v in parsed["queries"].items() if k != "omitted_fastest"}


def test_bench_stdout_line_fits_driver_window(capsys):
    """The driver records only the LAST ~2000 chars of bench.py's
    stdout; bench steps per-query precision down 3→2→1 decimals in
    seconds → integer centiseconds, then sheds the STABLE tail set as a
    block, then fastest-first (never the whole dict). Guard that the
    line always fits, keeps the slow tail, self-describes what it
    dropped, and never degrades a realistic suite below 10ms resolution
    (the round-6 integer-seconds fallback zeroed every sub-second win
    in the driver-visible tail)."""
    import json

    import bench

    # realistic regime: a slow tail over a fast majority — the slow
    # queries must survive any shedding, and every reported value must
    # decode to within 10ms of the measurement
    names = list(bench.BENCH_QUERIES)
    slow = set(names[:10])
    qs = {n: (9.87 if n in slow else 0.23) for n in names}
    line = bench.stdout_line(99999.999, 0.1, qs)
    assert len(line) <= 1980, len(line)
    parsed = json.loads(line)
    got = _query_secs(parsed)
    omitted = parsed["queries"].get("omitted_fastest", 0)
    assert slow <= set(got), "shedding must keep the slowest queries"
    assert omitted + len(got) == len(names), (omitted, len(got))
    for name, sec in got.items():
        assert abs(sec - qs[name]) < 0.005 + 1e-9, (name, sec, qs[name])

    # degenerate worst case: all-equal timings still yields a valid,
    # fitting, self-describing line at centisecond resolution
    capsys.readouterr()
    line2 = bench.stdout_line(1.0, 0.1, {n: 9.87 for n in names})
    assert len(line2) <= 1980
    parsed2 = json.loads(line2)
    got2 = _query_secs(parsed2)
    omitted2 = parsed2["queries"].get("omitted_fastest", 0)
    assert omitted2 + len(got2) == len(names)
    assert all(abs(sec - 9.87) < 0.005 + 1e-9 for sec in got2.values())
    # this case sheds by speed too; stderr reports each count apart
    n_stable = len(set(bench.STDOUT_SHED_FIRST) & set(names))
    n_fastest = omitted2 - n_stable
    assert n_fastest > 0, omitted2
    err = capsys.readouterr().err
    assert (
        f"omitting {n_stable} stable-tail and {n_fastest} fastest queries" in err
    ), err


def test_bench_stdout_shed_set_is_stable():
    """r12: the shed set must be the FIXED tail block, not a per-run
    by-speed re-derivation — by-speed shedding let ±20ms noise on the
    sub-0.35s tail churn WHICH queries the driver saw, manufacturing
    phantom dropped/new queries in its round-over-round diff (VERDICT
    r11). With the committed BENCH_FULL.json timings, shedding the
    stable set alone must fit the window (no by-speed extras), so the
    driver-visible query list is identical round over round."""
    import json
    import os

    import bench

    shed = set(bench.STDOUT_SHED_FIRST)
    assert shed <= set(bench.BENCH_QUERIES)
    assert len(shed) == len(bench.STDOUT_SHED_FIRST), "no duplicates"

    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_FULL.json")
    artifact = json.load(open(path))
    qs = artifact["queries"]
    assert set(qs) == set(bench.BENCH_QUERIES)
    line = bench.stdout_line(artifact["value"], artifact["sf"], qs)
    parsed = json.loads(line)
    visible = {k for k in parsed["queries"] if k != "omitted_fastest"}
    assert visible == set(qs) - shed, (
        "stdout must shed exactly the stable set at committed timings"
    )
