from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lours_spark.functions.text import (
    fingerprint,
    language_id,
    simhash,
    token_count,
    tokens,
    word_shingles,
)
from lours_spark.functions.vectors import cosine_similarity, dot, l2_distance
from lours_spark.operators.booleanize import (
    booleanize,
    broadcast_booleanization,
    debooleanize,
    discover_domain,
)
from lours_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from lours_spark.operators.similarity import brute_force_topk, knn_label, lsh_bucket_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different text about spark engines and data"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "le chat est sur la table de la cuisine"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_booleanize_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["b"]), (3, [])],
        "id long, tags array<string>",
    )
    assert discover_domain(df, "tags") == ["a", "b"]
    wide, domain = booleanize(df, "tags")
    assert domain == ["a", "b"]
    assert set(wide.columns) == {"id", "tags.a", "tags.b"}
    back = debooleanize(wide, "tags")
    rows = {r["id"]: list(r["tags"]) for r in back.collect()}
    assert rows == {1: ["a", "b"], 2: ["b"], 3: []}


def test_broadcast_booleanization(spark):
    a = spark.createDataFrame([(1, True)], "id long, `t.x` boolean")
    b = spark.createDataFrame([(2, True)], "id long, `t.y` boolean")
    a2, b2 = broadcast_booleanization(a, b, "t")
    assert set(a2.columns) == set(b2.columns) == {"id", "t.x", "t.y"}
    assert a2.first()["t.y"] is False


def test_tokens_and_counts(docs):
    row = docs.select(token_count(F.col("text")).alias("n")).first()
    assert row["n"] == 9


def test_language_id(docs):
    rows = {r["doc_id"]: r["lang"] for r in docs.select(
        "doc_id", language_id(F.col("text")).alias("lang")
    ).collect()}
    assert rows[0] == "en"
    assert rows[4] == "fr"


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "b a c"), (2, "c b a")], "doc_id long, text string"
    )
    fps = [r["fp"] for r in df.select(fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs)
    sizes = {r["doc_id"]: r["group_size"] for r in groups.collect()}
    assert sizes[0] == 2  # docs 0 and 3
    assert groups.count() == 4


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "one two")], "id long, text string")
    row = df.select(word_shingles(F.col("text"), k=3).alias("s")).first()
    assert list(row["s"]) == ["one two"]


def test_ngram_jaccard_pairs(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (0, 3) in got and got[(0, 3)] == pytest.approx(1.0)
    assert (0, 1) in got  # near-dup
    assert (0, 2) not in got


def test_minhash_lsh_finds_exact_dups(docs):
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 3) in got


def test_simhash_similar_docs_close(docs):
    rows = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", simhash(tokens(F.col("text")), bits=32).alias("sh")
        ).collect()
    }
    assert rows[0] == rows[3]  # identical docs → identical simhash
    ham_01 = bin(rows[0] ^ rows[1]).count("1")
    ham_02 = bin(rows[0] ^ rows[2]).count("1")
    assert ham_01 < ham_02  # near-dup closer than unrelated


def test_vector_functions(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0], [0.0, 1.0])],
        "a array<double>, b array<double>, c array<double>",
    )
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine_similarity(F.col("a"), F.col("b")).alias("cs"),
        cosine_similarity(F.col("a"), F.col("c")).alias("co"),
        l2_distance(F.col("a"), F.col("c")).alias("l2"),
    ).first()
    assert row["d"] == 1.0
    assert row["cs"] == pytest.approx(1.0)
    assert row["co"] == pytest.approx(0.0)
    assert row["l2"] == pytest.approx(2**0.5)


@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(60):
        base = [1.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0]
        vec = [x + rng.uniform(-0.05, 0.05) for x in base]
        rows.append((i, vec, i % 2))
    return rows


def test_similarity_widen_policy(spark, vectors):
    """Corpus-side widen (r11): a narrow corpus is repartitioned so
    the interpreted assignment/cosine folds run shuffle-wide; an
    already-wide corpus passes through untouched (no extra exchange
    at scale)."""
    from lours_spark.operators.similarity import _widen

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    ).coalesce(1)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cap = min(target, 16)
    assert _widen(df).rdd.getNumPartitions() == cap
    wide = df.repartition(cap)
    assert _widen(wide) is wide

    # r12: ONE widen policy — the former three verbatim copies must
    # all be the shared helper (three constants to keep in sync was
    # one review away from drifting)
    from lours_spark import suite
    from lours_spark.operators import decontaminate as _dec  # noqa: F401
    from lours_spark.operators._widen import widen
    from lours_spark.operators.dedup import _widen as dedup_widen

    assert _widen is widen and dedup_widen is widen
    assert suite._widen_by is widen
    # keyed form: hash-repartitions a narrow input to the FULL width
    # (its exchange substitutes for a downstream one)
    assert widen(df, "label").rdd.getNumPartitions() == target
    assert widen(wide, "label") is wide


def test_brute_force_topk_and_knn(spark, vectors):
    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    topk = brute_force_topk(df, df.filter(F.col("vec_id") < 4), k=5)
    assert topk.groupBy("query_id").count().filter(F.col("count") != 5).count() == 0
    # neighbors of an even vector should be even (same cluster)
    n0 = [r["neighbor_id"] for r in topk.filter(F.col("query_id") == 0).collect()]
    assert all(i % 2 == 0 for i in n0)
    labels = knn_label(topk, df)
    preds = {r["query_id"]: r["predicted_label"] for r in labels.collect()}
    assert preds[0] == 0 and preds[1] == 1


def test_lsh_bucket_topk_recall(spark, vectors):
    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    queries = df.filter(F.col("vec_id") < 4)
    exact = brute_force_topk(df, queries, k=3)
    approx = lsh_bucket_topk(df, queries, k=3, num_planes=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # same-cluster structure → decent recall expected
    assert len(e & a) / len(e) >= 0.5


def test_lsh_bucket_topk_multiprobe(spark, vectors):
    """Hamming-1 multi-probe: recall is monotone in num_probes, full
    probing of every 1-bit flip dominates single-bucket recall, and no
    (query, neighbor) pair duplicates (a corpus row holds exactly one
    bucket; the probed set is distinct)."""
    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    queries = df.filter(F.col("vec_id") < 4)
    exact = brute_force_topk(df, queries, k=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    def recall(num_probes):
        rows = lsh_bucket_topk(
            df, queries, k=3, num_planes=3, num_probes=num_probes
        ).collect()
        pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
        assert len(pairs) == len(set(pairs)), "duplicate candidate pair"
        return len(e & set(pairs)) / len(e)

    r1, r_full = recall(1), recall(4)
    assert r_full >= r1
    # with every 1-bit neighbor probed at only 3 planes, the clustered
    # fixture's neighbors are all reachable
    assert r_full >= 0.9


def test_ivf_topk_recall(spark, vectors):
    from lours_spark.operators.similarity import ivf_topk

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    queries = df.filter(F.col("vec_id") < 4)
    exact = brute_force_topk(df, queries, k=3)
    approx = ivf_topk(df, queries, k=3, num_centroids=4, num_probes=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.6
    # full probing → exact recall
    full = ivf_topk(df, queries, k=3, num_centroids=4, num_probes=4)
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert f == e


def test_ivf_topk_fixed_centroids(spark, vectors):
    """The deterministic fixed-centroid mode (the oracle-gated path):
    probing EVERY list must reproduce brute force exactly, and the
    default partial probing must return a subset of it with no
    duplicate pairs."""
    from lours_spark.operators.similarity import ivf_topk

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    queries = df.filter(F.col("vec_id") < 4)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in df.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    exact = brute_force_topk(df, queries, k=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    full = ivf_topk(
        df, queries, k=3, num_probes=len(cents), centroids=cents,
        use_arrow_cosine=False,
    )
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert f == e
    part_rows = ivf_topk(
        df, queries, k=3, num_probes=2, centroids=cents,
        use_arrow_cosine=False,
    ).collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in part_rows]
    assert len(pairs) == len(set(pairs)), "duplicate candidate pair"
    assert len(set(pairs) & e) / len(e) >= 0.5


def test_embedding_near_dup_lsh_matches_exact(spark, vectors):
    """The default LSH path and the opt-in exact broadcast path must
    find the SAME pair set on a clustered corpus (recall target then
    exact-cosine verification removes all false positives)."""
    from lours_spark.operators.dedup import embedding_near_duplicates

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    lsh = embedding_near_duplicates(df, threshold=0.95)
    exact = embedding_near_duplicates(df, threshold=0.95, method="broadcast_exact")
    l = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert len(e) > 0  # clustered fixture genuinely has near-dups
    assert l == e
    # cosines are bit-identical (both verified by the same expression)
    lc = {(r["id_a"], r["id_b"]): r["cosine"] for r in lsh.collect()}
    ec = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact.collect()}
    assert lc == ec


def test_embedding_near_dup_lsh_no_driver_collect(spark, vectors):
    """The default path's plan must not require a driver-side corpus
    materialization: it is pure DataFrame ops (mapInPandas + joins)."""
    from lours_spark.operators.dedup import embedding_near_duplicates

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    plan = embedding_near_duplicates(df, threshold=0.95)._jdf.queryExecution().toString()
    assert "mapInPandas" in plan or "MapInPandas" in plan


def test_ngram_jaccard_doc_freq_pruning(spark):
    """max_doc_freq drops stopword shingles from the index: results are
    a subset of exact (under-counted intersections can only miss
    pairs), and a permissive cap reproduces exact."""
    from lours_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again today"),
        (1, "the quick brown fox jumps over the lazy dog again tomorrow"),
        (2, "the quick brown cat sleeps under the warm sun all day"),
        (3, "completely different text about spark physical plans here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    assert (0, 1) in exact
    loose = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, threshold=0.2, max_doc_freq=0.99).collect()
    }
    assert loose == exact
    pruned = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, threshold=0.2, max_doc_freq=0.5).collect()
    }
    assert pruned <= exact


def test_embedding_near_dup_ivf_low_threshold(spark, vectors):
    """IVF candidates cover the low-threshold regime where sign-LSH
    recall collapses: at 0.6 the pair set must match the exact path
    (all emitted pairs are exact-verified, so precision is always 1;
    this asserts recall)."""
    from lours_spark.operators.dedup import embedding_near_duplicates

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    exact = embedding_near_duplicates(df, threshold=0.6, method="broadcast_exact")
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert len(e) > 0
    ivf = embedding_near_duplicates(
        df, threshold=0.6, method="ivf"
    )
    i = {(r["id_a"], r["id_b"]) for r in ivf.collect()}
    assert i <= e  # exact verify: no false positives ever
    assert len(i & e) / len(e) >= 0.9


def test_decontaminate_removes_overlapping_docs(spark):
    from lours_spark.operators.decontaminate import benchmark_overlap, decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words about spark plans"),
            (3, "quick brown fox appears here too with extras"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox jumps across")], "doc_id long, text string"
    )
    hits = {r["doc_id"]: r["overlap"] for r in
            benchmark_overlap(docs, bench).collect()}
    assert 1 in hits and 3 in hits and 2 not in hits
    clean = decontaminate(docs, bench)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2]


def test_repetition_signals_values(spark):
    from lours_spark.operators.quality import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),          # 4 words, top word 3×, bigram "a a" 2×
            (2, "x y x y x y"),      # trigram "x y x" ×2 + "y x y" ×2 → excess 2
            (3, "solo"),             # 1 word: no bigrams, no trigrams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert out[1]["n_words"] == 4
    assert out[1]["top_word_count"] == 3
    assert out[1]["top_bigram_count"] == 2
    assert out[1]["dup_trigram_excess"] == 0
    assert out[2]["dup_trigram_excess"] == 2  # 4 trigrams, 2 distinct
    assert out[3]["n_words"] == 1
    assert out[3]["top_bigram_count"] == 0
    assert out[3]["dup_trigram_excess"] == 0


def test_gopher_rules_signals_and_flag(spark):
    from lours_spark.operators.quality import filter_gopher, gopher_rules

    docs = spark.createDataFrame(
        [
            # passes every rule (with min_words lowered to 10)
            (1, "the quick brown fox and that dog have fun with it "
                "while they watch the other animals of the field"),
            # bullet-heavy: 3 of 4 lines start with a bullet
            (2, "- one\n- two\n* three\nthe and of that be"),
            # ellipsis-heavy: 2 of 3 lines end with ... / …
            (3, "wait...\nhmm…\nthe and of that be to have"),
            # symbol-heavy: '#' spam
            (4, "the and of # # # # # # that be"),
            # no alphabetic words, no stop words
            (5, "1 2 3 4 5 6 7 8 9 10 11 12"),
            # empty text
            (6, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           gopher_rules(docs, min_words=10).collect()}
    assert out[1]["gopher_keep"] == 1
    assert out[1]["n_words"] == 20
    assert out[1]["n_stop_words"] == 6
    assert out[1]["alpha_word_frac"] == 1.0

    assert out[2]["bullet_line_frac"] == 0.75
    assert out[3]["ellipsis_line_frac"] == 0.666667
    assert out[4]["symbol_word_ratio"] == round(6 / 11, 6)
    assert out[5]["alpha_word_frac"] == 0.0
    assert out[5]["n_stop_words"] == 0
    assert out[6]["n_words"] == 0
    assert out[6]["mean_word_len"] == 0.0
    assert all(out[i]["gopher_keep"] == 0 for i in (2, 3, 4, 5, 6))

    # thresholds are overridable: allow the bullet doc through
    relaxed = {r["doc_id"]: r["gopher_keep"] for r in gopher_rules(
        docs, min_words=5, max_bullet_frac=1.0, min_alpha_frac=0.5,
        min_mean_word_len=1.0,
    ).collect()}
    assert relaxed[2] == 1

    kept = filter_gopher(docs, min_words=10)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    assert kept.columns == ["doc_id", "text"]  # original schema back

    # NULL text: coalesced to empty arrays — n_words 0 (not the
    # size(NULL) = -1 of non-ANSI mode), zero fractions, keep = 0
    nulldoc = spark.createDataFrame(
        [(7, None)], "doc_id long, text string"
    )
    r7 = gopher_rules(nulldoc, min_words=10).first()
    assert r7["n_words"] == 0
    assert r7["mean_word_len"] == 0.0
    assert r7["bullet_line_frac"] == 0.0
    assert r7["ellipsis_line_frac"] == 0.0
    assert r7["gopher_keep"] == 0


def test_gopher_rules_zero_shuffle_plan(spark):
    """The whole pass must stay one codegen'd projection — no
    Exchange, no Join, no Python eval in the plan."""
    from lours_spark.operators.quality import gopher_rules

    docs = spark.createDataFrame(
        [(1, "the and of it")], "doc_id long, text string"
    )
    plan = gopher_rules(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_profile_table_metrics(spark):
    """Exact metrics on a known frame; approximate mode keeps the
    schema and the exact count/min/max/mean while sketching distinct
    and quantiles."""
    import pytest as _pytest

    from lours_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(float(i), i % 3, None if i == 9 else i) for i in range(10)],
        "x double, y int, z int",
    )
    got = {r["column"]: r for r in profile_table(df).collect()}
    assert got["x"]["n"] == 10 and got["x"]["n_null"] == 0
    assert got["x"]["min"] == 0.0 and got["x"]["max"] == 9.0
    assert got["x"]["mean"] == _pytest.approx(4.5)
    assert got["x"]["p50"] == _pytest.approx(4.5)  # linear interpolation
    assert got["y"]["distinct"] == 3
    assert got["z"]["n"] == 9 and got["z"]["n_null"] == 1

    approx = {r["column"]: r for r in profile_table(df, approximate=True).collect()}
    assert approx["x"]["n"] == 10 and approx["x"]["max"] == 9.0
    assert set(approx["x"].asDict()) == set(got["x"].asDict())

    with _pytest.raises(ValueError):
        profile_table(spark.createDataFrame([("a",)], "s string"))


def test_paragraph_dedup_global_first_occurrence(spark):
    """Repeated paragraphs keep only their first (doc, pos) occurrence
    corpus-wide; docs reassemble in original order; fully-duplicated
    docs come back empty with their before-count intact."""
    from lours_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "alpha\n\nshared one\n\nbeta"),
        (2, "shared one\n\ngamma\n\nshared two"),
        (3, "shared two\n\nshared one"),  # nothing survives
        (4, "delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    got = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert got[1]["text"] == "alpha\n\nshared one\n\nbeta"
    assert got[2]["text"] == "gamma\n\nshared two"
    assert got[3]["text"] == "" and got[3]["n_paras_after"] == 0
    assert got[4]["text"] == "delta"
    assert got[3]["n_paras_before"] == 2
    assert got[2]["n_paras_before"] == 3 and got[2]["n_paras_after"] == 2


def test_paragraph_dedup_hash_key_parity(spark):
    """key="hash" (the 100 TB narrow-exchange path: the first-occurrence
    aggregation keys on md5(paragraph), not the paragraph string) yields
    row-identical output to the value-keyed default."""
    from lours_spark.operators.dedup import paragraph_dedup

    rows = [
        (i, "\n\n".join(f"para {(i * 7 + j) % 13}" for j in range(1 + i % 5)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)
    by_value = sorted(map(tuple, paragraph_dedup(df, key="value").collect()))
    by_hash = sorted(map(tuple, paragraph_dedup(df, key="hash").collect()))
    assert by_value == by_hash
    import pytest as _pt

    with _pt.raises(ValueError):
        paragraph_dedup(df, key="md5")


def test_simhash_duplicates_member_cap(spark):
    """A planted mega-group (one boilerplate text shared by most docs)
    keeps an exact group_size/keep_id but a bounded doc_ids array under
    max_members; untruncated groups are unchanged vs the uncapped run."""
    from lours_spark.operators.dedup import simhash_duplicates

    rows = [(i, "the same boilerplate body every mirror serves") for i in range(200)]
    rows += [(1000 + i, "a rarer page that only two hosts mirror") for i in range(2)]
    rows += [(2000, "a unique page unlike anything else at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)

    capped = {r["simhash"]: r for r in simhash_duplicates(df, max_members=5).collect()}
    full = {r["simhash"]: r for r in simhash_duplicates(df).collect()}
    assert set(capped) == set(full)
    mega = next(r for r in capped.values() if r["group_size"] == 200)
    assert mega["doc_ids"] == list(range(5))  # 5 smallest ids, sorted
    assert mega["keep_id"] == 0
    small = next(r for r in capped.values() if r["group_size"] == 2)
    assert small["doc_ids"] == [1000, 1001]  # under the cap: untouched
    assert {k: r["group_size"] for k, r in capped.items()} == {
        k: r["group_size"] for k, r in full.items()
    }


def test_pii_signals_and_redaction(spark):
    """Counts, redaction tokens, and the density filter behave on known
    PII strings; clean text is untouched."""
    from lours_spark.operators.pii import (
        filter_pii_dense,
        pii_signals,
        redact_pii,
    )

    rows = [
        (1, "mail me at jo.doe+x@sub.example.org or admin@a.io thanks"),
        (2, "server 192.168.1.250 and 10.0.0.1 rebooted"),
        (3, "call +33612345678 or 555-123-4567 today"),
        (4, "perfectly clean prose with numbers 12345 and v1.2 inside"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_signals(df).collect()}
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (2, 0, 0)
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 2, 0)
    assert (got[3]["n_email"], got[3]["n_ipv4"], got[3]["n_phone"]) == (0, 0, 2)
    assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (0, 0, 0)

    red = {
        r["doc_id"]: r["red"]
        for r in df.select(
            "doc_id", redact_pii(F.col("text")).alias("red")
        ).collect()
    }
    assert red[1] == "mail me at [EMAIL] or [EMAIL] thanks"
    assert red[2] == "server [IP] and [IP] rebooted"
    assert red[3] == "call [PHONE] or [PHONE] today"
    assert red[4] == rows[3][1]  # untouched

    clean = filter_pii_dense(df)
    assert [r["doc_id"] for r in clean.collect()] == [4]
    loose = filter_pii_dense(df, max_total_pii=2)
    assert sorted(r["doc_id"] for r in loose.collect()) == [1, 2, 3, 4]


def test_stratified_sample_deterministic(spark):
    from lours_spark.operators.sampling import (
        deterministic_sample_n,
        hash_sample,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)],
        "id long, lang string",
    )
    a = stratified_sample(df, "lang", {"en": 1.0, "de": 0.0})
    rows = a.collect()
    assert all(r["lang"] == "en" for r in rows) and len(rows) == 200
    # same seed → identical sample even across repartitioning
    s1 = {r["id"] for r in hash_sample(df, 0.3, seed=7).collect()}
    s2 = {r["id"] for r in hash_sample(df.repartition(13), 0.3, seed=7).collect()}
    assert s1 == s2
    assert 0.2 < len(s1) / 400 < 0.4
    # different seed → different sample
    s3 = {r["id"] for r in hash_sample(df, 0.3, seed=8).collect()}
    assert s1 != s3
    # exactly-n: deterministic and sized
    n1 = [r["id"] for r in deterministic_sample_n(df, 17).collect()]
    n2 = [r["id"] for r in deterministic_sample_n(df.repartition(5), 17).collect()]
    assert n1 == n2 and len(n1) == 17


def test_mixture_weights_and_apply(spark):
    """Domain-mixture reweighting: no-upsampling rates that hit the
    target token mixture in expectation — the most under-represented
    shard keeps rate 1.0, expected post-sample mixture == targets."""
    from lours_spark.operators.sampling import apply_mixture, mixture_weights

    rows = [(i, "a", 8) for i in range(10)] + [(i + 100, "b", 2) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, source string, n_tok long")
    w = {
        r["shard"]: r
        for r in mixture_weights(
            df, {"a": 0.5, "b": 0.5}, token_col="n_tok"
        ).collect()
    }
    # shares 0.8 / 0.2; scale = min(0.8/0.5, 0.2/0.5) = 0.4
    assert abs(w["a"]["share"] - 0.8) < 1e-12
    assert abs(w["a"]["weight"] - 0.25) < 1e-12
    assert abs(w["b"]["weight"] - 1.0) < 1e-12

    # shard missing from the targets -> rate 0 (dropped domain)
    w2 = {
        r["shard"]: r["weight"]
        for r in mixture_weights(df, {"a": 1.0}, token_col="n_tok").collect()
    }
    assert w2["b"] == 0.0

    # a targeted shard with ZERO current tokens must get rate 1.0 and
    # must not zero every other weight (or divide by zero under ANSI)
    zdf = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 0)], "id long, source string, n_tok long"
    )
    wz = {
        r["shard"]: r["weight"]
        for r in mixture_weights(
            zdf, {"a": 0.5, "b": 0.5}, token_col="n_tok"
        ).collect()
    }
    assert wz["b"] == 1.0
    assert wz["a"] > 0.0
    # explicit 0.0 target -> dropped, no div-by-zero
    w0 = {
        r["shard"]: r["weight"]
        for r in mixture_weights(
            df, {"a": 1.0, "b": 0.0}, token_col="n_tok"
        ).collect()
    }
    assert w0["b"] == 0.0 and w0["a"] == 1.0

    # empty targets -> all weights 0.0 (not an AnalysisException)
    we = {
        r["shard"]: r["weight"]
        for r in mixture_weights(df, {}, token_col="n_tok").collect()
    }
    assert we == {"a": 0.0, "b": 0.0}

    # count-style targets normalize: {50, 50} == {0.5, 0.5}
    wc = {
        r["shard"]: r["weight"]
        for r in mixture_weights(
            df, {"a": 50.0, "b": 50.0}, token_col="n_tok"
        ).collect()
    }
    assert abs(wc["a"] - 0.25) < 1e-12 and wc["b"] == 1.0

    # apply: expected mixture ~ targets on a larger corpus; the
    # under-represented shard survives in full
    big = spark.createDataFrame(
        [(i, "a" if i % 5 else "b", 10) for i in range(2000)],
        "id long, source string, n_tok long",
    )
    wdf = mixture_weights(big, {"a": 0.5, "b": 0.5}, token_col="n_tok")
    kept = apply_mixture(big, wdf)
    counts = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts["b"] == 400  # weight 1.0: all kept
    assert abs(counts["a"] / 400 - 1.0) < 0.2  # ~400 of 1600 at rate .25
    # deterministic under repartitioning
    k1 = {r["id"] for r in kept.collect()}
    k2 = {r["id"] for r in apply_mixture(big.repartition(17), wdf).collect()}
    assert k1 == k2


def test_brute_force_topk_blas_matches_expression(spark, vectors):
    """The BLAS scale path returns the same neighbor sets as the
    oracle-parity expression path (per-partition local top-k is a
    lossless cover of the global top-k)."""
    from lours_spark.operators.similarity import brute_force_topk

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    ).repartition(7)  # force multi-partition local top-k + merge
    queries = df.filter(F.col("vec_id") < 6)
    expr = brute_force_topk(df, queries, k=4, method="expression")
    blas = brute_force_topk(df, queries, k=4, method="blas")
    e = {(r["query_id"], r["neighbor_id"]) for r in expr.collect()}
    b = {(r["query_id"], r["neighbor_id"]) for r in blas.collect()}
    assert e == b
    # ranks agree too (well-separated fixture — no 1e-15 rank flips)
    er = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in expr.collect()}
    br = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in blas.collect()}
    assert er == br


def test_brute_force_topk_local_bit_identical_to_expression(spark, vectors):
    """The default ``method="local"`` (per-partition sequential-
    accumulate scoring + local top-k cut) is BIT-identical to the
    declarative expression path — cosine doubles included — because
    the cut only selects rows, never recomputes them, and the scoring
    kernel shares the oracle's left-to-right reduction order."""
    from lours_spark.operators.similarity import brute_force_topk

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    ).repartition(7)  # force multi-partition local top-k + merge
    queries = df.filter(F.col("vec_id") < 6)
    expr = sorted(
        tuple(r)
        for r in brute_force_topk(df, queries, k=4, method="expression").collect()
    )
    local = sorted(
        tuple(r)
        for r in brute_force_topk(df, queries, k=4, method="local").collect()
    )
    assert expr == local  # exact equality: ids, ranks, AND raw doubles


def test_brute_force_topk_broadcast_queries_false_distributed(spark, vectors):
    """broadcast_queries=False must route local/blas AWAY from the
    driver-collecting kernels onto the fully-distributed expression
    join (no collect, no broadcast hint) and still return the same
    neighbor sets; the collecting kernels fail loud past the
    MAX_COLLECTED_QUERIES cap instead of materializing the frame
    (VERDICT r6 item 4 — same guard shape as ivf_topk)."""
    import lours_spark.operators.similarity as sim

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    ).repartition(7)
    queries = df.filter(F.col("vec_id") < 6)
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=4, method="expression").collect()
    )
    for method in ("local", "blas"):
        got = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in brute_force_topk(
                df, queries, k=4, method=method, broadcast_queries=False
            ).collect()
        )
        assert got == want, method
    # cap guard: a query frame over the cap fails loud BEFORE collecting
    # (pinch the cap instead of building 100k rows)
    orig = sim.MAX_COLLECTED_QUERIES
    sim.MAX_COLLECTED_QUERIES = 3
    try:
        with pytest.raises(ValueError, match="broadcast_queries=False"):
            brute_force_topk(df, queries, k=4, method="local").collect()
        with pytest.raises(ValueError, match="broadcast_queries=False"):
            brute_force_topk(df, queries, k=4, method="blas").collect()
    finally:
        sim.MAX_COLLECTED_QUERIES = orig


def test_minhash_xxhash64_variant_matches_md5_pairs(spark):
    """The codegen'd xxhash64 signature path must emit the same
    exact-verified pair set as the md5 path on the test corpus (both
    verify with exact Jaccard; only candidate recall could differ) and
    must not touch md5 in its plan."""
    from lours_spark.operators.dedup import minhash_lsh_pairs

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    md5_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    xx = minhash_lsh_pairs(docs, jaccard_threshold=0.5, hash_fn="xxhash64")
    # the pairs plan reads the eagerly-checkpointed signature frame
    # (r11), so the hash expressions live in the SIGNATURE BUILDER's
    # plan, not the returned frame's — assert there
    from lours_spark.operators.dedup import _minhash_agg

    sig_plan = (
        _minhash_agg(docs, "doc_id", "text", 3, 8, hash_fn="xxhash64")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "xxhash64" in sig_plan and "md5" not in sig_plan.lower().replace(
        "md5_long", ""
    ).replace("md5(", "KEEP(")  # no md5 expressions survive
    xx_pairs = {(r["id_a"], r["id_b"]) for r in xx.collect()}
    assert md5_pairs == xx_pairs and len(md5_pairs) > 0


def test_minhash_lsh_pairs_threads_hash_fn_to_signature_job(
    spark, monkeypatch
):
    """End-to-end hash_fn threading (ADVICE r11): the signature frame
    minhash_lsh_pairs MATERIALIZES (the eager checkpoint job) must
    itself carry the requested hash family — the output-parity check
    alone cannot see which hash the checkpointed job ran, because both
    families verify with exact Jaccard and emit identical pairs by
    design. Spy on the materialize seam and assert on the exact plan
    the checkpoint job executes."""
    import lours_spark.operators.dedup as dd

    captured: list[str] = []
    real = dd.materialize

    def spy(df, eager=True):
        captured.append(
            df._jdf.queryExecution().executedPlan().toString()
        )
        return real(df, eager=eager)

    monkeypatch.setattr(dd, "materialize", spy)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dd.minhash_lsh_pairs(docs, jaccard_threshold=0.5, hash_fn="xxhash64")
    assert captured, "pairs must materialize the signature frame"
    assert "xxhash64" in captured[0]
    captured.clear()
    dd.minhash_lsh_pairs(docs, jaccard_threshold=0.5)  # md5 default
    assert captured and "xxhash64" not in captured[0]


def test_materialize_strategy_gate(spark, monkeypatch):
    """materialize() picks its strategy from the session: local masters
    localCheckpoint (lineage cut, blocks freed by the ContextCleaner,
    NOT recomputable on executor loss); every cluster master and
    dynamic allocation persist() + count(). Same rows either way."""
    import lours_spark.operators._materialize as mat

    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert not mat._use_cache(master, "false"), master
    for master in (
        "local-cluster[2,1,1024]", "spark://h:7077", "yarn", "k8s://h",
    ):
        assert mat._use_cache(master, "false"), master
    assert mat._use_cache("local[4]", "true")

    df = spark.range(10)
    expect = [(i,) for i in range(10)]

    out = mat.materialize(df, eager=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # checkpointed, not a cache entry
    assert not out.storageLevel.useMemory
    assert sorted(tuple(r) for r in out.collect()) == expect

    monkeypatch.setattr(mat, "_use_cache", lambda *_: True)
    try:
        out2 = mat.materialize(df, eager=True)
        assert out2.storageLevel.useMemory  # a real CacheManager entry
        assert sorted(tuple(r) for r in out2.collect()) == expect
        # eager=False still populates the cache before any downstream
        # action: branches of one action would otherwise race it
        spark.catalog.clearCache()
        out3 = mat.materialize(spark.range(7), eager=False)
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert any(i.numCachedPartitions() > 0 for i in infos)
        assert out3.count() == 7
    finally:
        spark.catalog.clearCache()


# ---------------------------------------------------------------- round 6b


def test_global_shuffle_permutation_invariants(spark):
    from lours_spark.operators.ordering import global_shuffle

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    out = global_shuffle(df, seed=3, num_shards=5)
    rows = out.collect()
    # a permutation: every row kept exactly once, pos dense per shard
    assert sorted(r["doc_id"] for r in rows) == list(range(200))
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == set(range(5))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # deterministic across input partitionings (the whole point)
    again = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in global_shuffle(
            df.repartition(7), seed=3, num_shards=5
        ).collect()
    }
    assert again == {(r["doc_id"], r["shard"], r["pos"]) for r in rows}
    # a different seed is a different permutation
    other = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in global_shuffle(df, seed=4, num_shards=5).collect()
    }
    assert other != again


def test_global_shuffle_decorrelates_input_order(spark):
    """Consecutive input ids must scatter: the rank correlation between
    id order and shuffled order should be near zero."""
    from lours_spark.operators.ordering import global_shuffle

    n = 500
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    out = global_shuffle(df, seed=11, num_shards=1)
    order = [r["doc_id"] for r in out.orderBy("pos").collect()]
    # Spearman-ish: normalized mean displacement of a random permutation
    # concentrates near n/3
    disp = sum(abs(pos - doc) for pos, doc in enumerate(order)) / n
    assert disp > n / 5, disp


def test_cap_per_group_semantics(spark):
    from lours_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3), i * 7 % 50) for i in range(90)],
        "doc_id long, source string, n_chars long",
    )
    out = cap_per_group(df, "source", "n_chars", k=10, tiebreak_col="doc_id")
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r["source"], []).append(r)
    assert all(len(v) == 10 for v in per.values())
    # kept rows are exactly the top-10 by (n_chars desc, doc_id asc)
    all_rows = df.collect()
    for src, kept in per.items():
        expect = sorted(
            (r for r in all_rows if r["source"] == src),
            key=lambda r: (-r["n_chars"], r["doc_id"]),
        )[:10]
        assert sorted(r["doc_id"] for r in kept) == sorted(
            r["doc_id"] for r in expect
        )
        ranks = sorted(r["cap_rank"] for r in kept)
        assert ranks == list(range(1, 11))


def test_quality_percentile_groups_and_filter(spark):
    from lours_spark.operators.quality import (
        filter_quality_percentile,
        quality_percentile,
    )

    df = spark.createDataFrame(
        [(1, "en", 0.1), (2, "en", 0.9), (3, "en", 0.5), (4, "en", 0.7),
         (5, "zh", 0.2), (6, "zh", 0.4)],
        "doc_id long, lang string, score double",
    )
    pct = {
        r["doc_id"]: r["q_pct"]
        for r in quality_percentile(df, "score", "lang").collect()
    }
    # cume_dist: fraction of the group at or below this doc
    assert pct[1] == 0.25 and pct[2] == 1.0
    assert pct[3] == 0.5 and pct[4] == 0.75
    assert pct[5] == 0.5 and pct[6] == 1.0  # per-group, not global
    kept = {
        r["doc_id"]
        for r in filter_quality_percentile(
            df, "score", 0.5, group_col="lang"
        ).collect()
    }
    # strict >: "drop the bottom half" drops the doc AT the median too
    assert kept == {2, 4, 6}
    # a Column expression works as the score too
    via_expr = {
        r["doc_id"]: r["q_pct"]
        for r in quality_percentile(
            df, F.col("score") * 2, "lang"
        ).collect()
    }
    assert via_expr == pct  # monotone transform, same order


def test_quality_percentile_singleton_group_survives(spark):
    """A one-document language must NOT be pruned by a percentile
    filter (percent_rank would pin it to 0.0 and drop it at any
    positive threshold — the over-pruning this operator exists to
    avoid; cume_dist gives it 1.0)."""
    from lours_spark.operators.quality import filter_quality_percentile

    df = spark.createDataFrame(
        [(1, "en", 0.9), (2, "en", 0.1), (3, "yo", 0.05)],
        "doc_id long, lang string, score double",
    )
    kept = {
        r["doc_id"]
        for r in filter_quality_percentile(
            df, "score", 0.5, group_col="lang"
        ).collect()
    }
    assert 3 in kept  # sole yo doc survives despite its low raw score
    assert kept == {1, 3}


def test_semantic_dedup_marks_within_cluster_near_dups(spark, vectors):
    from lours_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    # fixed centers = one per true cluster → assignment is the label
    out = semantic_dedup(
        df,
        centroids=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]],
        threshold=0.99,
        use_arrow_cosine=False,
    ).collect()
    assert len(out) == 60  # pass-through, one row per vector
    assert all(r["cluster_id"] == r["vec_id"] % 2 for r in out)
    dups = {r["vec_id"] for r in out if r["is_dup"]}
    survivors = {r["vec_id"] for r in out if not r["is_dup"]}
    # the jittered fixture is tightly clustered: almost everything has
    # a lower-id near-neighbor; the lowest id of each cluster survives
    assert 0 in survivors and 1 in survivors
    assert len(dups) > 40
    # keep-lowest-id greedy: a survivor has NO lower-id neighbor ≥ t
    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    vecs = {i: v for i, v, _ in vectors}
    for s in survivors:
        for other in range(s):
            if other % 2 == s % 2:
                assert cos(vecs[s], vecs[other]) < 0.99, (s, other)


def test_semantic_dedup_kmeans_mode_runs(spark, vectors):
    """Production k-means mode: clusters form, dup marks are a strict
    subset of the exact near-dup relation (clustering only ever MISSES
    pairs, never invents them)."""
    from lours_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    out = semantic_dedup(df, num_clusters=4, threshold=0.995, seed=1).collect()
    assert len(out) == 60
    assert {r["vec_id"] for r in out} == set(range(60))
    import math

    vecs = {i: v for i, v, _ in vectors}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    for r in out:
        if r["is_dup"]:
            i = r["vec_id"]
            assert any(
                cos(vecs[i], vecs[j]) >= 0.995 for j in range(i)
            ), i


def test_write_shuffled_replays_global_shuffle_order(spark, tmp_path):
    """Reading write_shuffled's shard directories in order must replay
    exactly the permutation global_shuffle describes — file row order
    IS the shuffle, no rank column stored."""
    from lours_spark.operators.ordering import global_shuffle, write_shuffled

    df = spark.range(300).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "shuffled")
    write_shuffled(df, out, seed=9, num_shards=4)

    expect = [
        (r["shard"], r["doc_id"])
        for r in global_shuffle(df, seed=9, num_shards=4)
        .orderBy("shard", "pos")
        .collect()
    ]
    got = []
    import glob

    for shard in range(4):
        files = sorted(glob.glob(f"{out}/shard={shard}/*.parquet"))
        assert files, shard
        for f in files:
            # single-file read preserves parquet row order
            got.extend(
                (shard, r["doc_id"])
                for r in spark.read.parquet(f).collect()
            )
    assert got == expect


def test_span_dup_signals_cross_doc_only(spark):
    from lours_spark.operators.dedup import span_dup_signals

    df = spark.createDataFrame(
        [
            (1, "a b c d e unique tail one"),
            (2, "a b c d e different ending two"),
            (3, "totally unrelated words in this document here"),
            (4, "short"),  # under the window → 0 windows, frac 0.0
            (5, "rep rep rep rep rep rep rep rep"),  # within-doc only
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in span_dup_signals(df, window=4).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # docs 1 and 2 share the spans 'a b c d' and 'b c d e'
    assert out[1]["n_dup_windows"] == 2 and out[2]["n_dup_windows"] == 2
    assert out[1]["n_windows"] == 5  # 8 tokens, window 4
    assert out[1]["dup_frac"] == 2 / 5
    assert out[3]["n_dup_windows"] == 0
    assert out[4]["n_windows"] == 0 and out[4]["dup_frac"] == 0.0
    # doc 5 repeats a span WITHIN itself only — cross-doc signal stays 0
    assert out[5]["n_dup_windows"] == 0


def test_remove_dup_spans_semantics(spark):
    from lours_spark.operators.dedup import remove_dup_spans

    df = spark.createDataFrame(
        [
            (1, "p q r s t u v w"),  # canonical 8-token region
            (2, "x p q r s t u v w y"),  # same region embedded
            (3, "m n o short doc"),  # no duplicated span
            (4, "tiny"),  # under the window → passthrough
            (5, "rep rep rep rep rep rep"),  # periodic within-doc
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_dup_spans(df, window=3).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # canonical copy intact; the full >window region vanishes from the
    # non-canonical copy (overlapping windows cover all 8 tokens)
    assert out[1]["text"] == "p q r s t u v w"
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text"] == "x y"
    assert (out[2]["n_tokens_before"], out[2]["n_tokens_removed"]) == (10, 8)
    # untouched docs pass through token-normalized
    assert out[3]["text"] == "m n o short doc"
    assert out[4]["text"] == "tiny" and out[4]["n_tokens_before"] == 1
    # periodic self-overlap collapses to the leading period
    assert out[5]["text"] == "rep"
    assert out[5]["n_tokens_removed"] == 5


def test_remove_dup_spans_null_and_empty_text(spark):
    """NULL text and empty-token docs pass through instead of hitting
    Spark's descending sequence(1, n<1) / element_at(_, 0) traps."""
    from lours_spark.operators.dedup import remove_dup_spans

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c d"), (4, "x a b c d y")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_dup_spans(df, window=3).collect()
    }
    assert out[1]["n_tokens_before"] == 0 and out[1]["text"] == ""
    # empty string tokenizes to one empty token (split semantics)
    assert out[2]["n_tokens_before"] == 1
    assert out[3]["text"] == "a b c d"
    assert out[4]["text"] == "x y"


def test_remove_contaminated_spans(spark):
    from lours_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "intro the quick brown fox says hi"),  # embedded snippet
            (2, "the quick brown fox"),  # fully contaminated
            (3, "clean document with other words"),
            (4, "tiny"),  # under the window → passthrough
            (5, None),  # NULL text → passthrough
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("xx the quick brown fox yy",)], "text string"
    )
    out = {
        r["doc_id"]: r
        for r in remove_contaminated_spans(docs, bench, window=4).collect()
    }
    assert out[1]["text"] == "intro says hi"
    assert out[1]["n_tokens_removed"] == 4
    assert out[2]["text"] == "" and out[2]["n_tokens_removed"] == 4
    assert out[3]["text"] == "clean document with other words"
    assert out[4]["text"] == "tiny"
    assert out[5]["text"] == "" and out[5]["n_tokens_before"] == 0


def test_cluster_representatives(spark):
    from lours_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.0)],
        "doc_id long, quality double",
    )
    # cluster 1 = {1,2,3} (quality tie 2 vs 3 → lowest id wins),
    # docs 4 and 5 are singletons
    cl = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    out = {r["doc_id"]: r for r in
           cluster_representatives(docs, cl).collect()}
    assert {i: out[i]["is_representative"] for i in range(1, 6)} == {
        1: False, 2: True, 3: False, 4: True, 5: True,
    }
    assert out[4]["cluster_id"] == 4 and out[5]["cluster_id"] == 5
    # exactly one representative per cluster
    from collections import Counter

    reps = Counter(
        r["cluster_id"] for r in out.values() if r["is_representative"]
    )
    assert set(reps.values()) == {1}


def test_semantic_dedup_sample_fit(spark, vectors):
    """fit_fraction fits k-means on a hash sample but assigns the full
    corpus: every row still gets a cluster and dup marks remain sound
    (a dup has a lower-id near-neighbor)."""
    from lours_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>, label int"
    )
    out = semantic_dedup(
        df, num_clusters=2, threshold=0.995, seed=1, fit_fraction=0.5
    ).collect()
    assert {r["vec_id"] for r in out} == set(range(60))
    import math

    vecs = {i: v for i, v, _ in vectors}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    dups = [r["vec_id"] for r in out if r["is_dup"]]
    assert dups  # the clustered fixture has near-dups
    for i in dups:
        assert any(cos(vecs[i], vecs[j]) >= 0.995 for j in range(i)), i


def test_filter_quality_percentile_approximate_scale_path(spark):
    """approximate=True must agree with the exact window path on
    well-separated scores, and its plan must contain NO sort/window —
    one aggregation plus a broadcast-joined filter."""
    from pyspark.sql import functions as F

    from lours_spark.operators.quality import filter_quality_percentile

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("lang"),
        F.col("id").cast("double").alias("q"),
    )
    exact = filter_quality_percentile(df, "q", 0.25, "lang")
    approx = filter_quality_percentile(df, "q", 0.25, "lang",
                                       approximate=True)
    e = {r["doc_id"] for r in exact.collect()}
    a = {r["doc_id"] for r in approx.collect()}
    # sketch is exact at this cardinality; allow a tiny boundary delta
    assert len(e.symmetric_difference(a)) <= 8, len(e ^ a)

    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Sort" not in plan.replace("SortAggregate", "")
    assert "BroadcastHashJoin" in plan

    # ungrouped mode works too (single global threshold)
    g = filter_quality_percentile(df, "q", 0.5, approximate=True)
    assert abs(g.count() - 500) <= 8

    # QUANTIZED scores — the realistic regime (quality scores bucket):
    # a huge tied mass sits exactly at the percentile. "Keep strictly
    # above the threshold" would drop the entire mass (here: keep only
    # 200/1000 where 750 was asked); the tie-calibrated slice lands
    # the kept COUNT on target, binomial spread aside.
    q5 = df.withColumn("q", (F.col("doc_id") % 5).cast("double"))
    kept = filter_quality_percentile(
        q5, "q", 0.25, approximate=True
    ).count()
    assert abs(kept - 750) < 60, kept
    # and the per-group form calibrates within each group
    kept_g = filter_quality_percentile(
        q5, "q", 0.25, "lang", approximate=True
    ).count()
    assert abs(kept_g - 750) < 80, kept_g


def test_ngram_logprob_unseen_and_short_docs(spark):
    from pyspark.sql import functions as F

    from lours_spark.operators.quality import ngram_logprob

    model = spark.createDataFrame(
        [(1, "abcabcabc")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(10, "abcabc"),   # all grams known
         (11, "zzzzzz"),   # all grams unseen → pseudo-count path
         (12, "ab"),       # shorter than n → NULL score, 0 grams
         ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           ngram_logprob(docs, model_docs=model).collect()}
    assert out[10]["n_grams"] == 4
    assert out[11]["avg_nll"] > out[10]["avg_nll"]  # unseen is rarer
    assert out[12]["n_grams"] == 0 and out[12]["avg_nll"] is None


def test_ngram_logprob_scoring_join_is_broadcast(spark):
    """The model-count table must broadcast onto the scoring explode:
    no shuffle of per-gram corpus rows, and exactly one hash exchange
    (the final per-doc partial-sum groupBy) besides the model agg."""
    from lours_spark.operators.quality import ngram_logprob

    docs = spark.createDataFrame(
        [(1, "the cat sat")], "doc_id long, text string")
    plan = (
        ngram_logprob(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the total-gram count rides in as a broadcast 1-row frame (round
    # 11: replaced an eager .count() that cost a third full corpus
    # pass) — a BroadcastNestedLoopJoin against one row shuffles
    # nothing; every other join strategy stays banned
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in (
        plan.replace("BroadcastHashJoin", "BHJ")
        .replace("BroadcastNestedLoopJoin", "BNLJ-1row")
    )


def test_minhash_incremental_matches_full_batch(spark):
    """Incremental LSH parity: pairs(new vs index) ∪-semantics equals
    the full-batch run over old∪new RESTRICTED to pairs touching a new
    doc — same signatures, same band collisions, same exact-jaccard
    verify. And the two-batch fold reproduces the one-shot full run."""
    from pyspark.sql import functions as F

    from lours_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    base = "quick brown fox jumps over the lazy dog near the river bank "
    rows = []
    for i in range(40):
        # family structure: every 4th doc is a near-dup of doc i-3
        if i % 4 == 3:
            text = base + f"variant {i - 3} " + "tail common words here"
        else:
            text = base + f"unique {i} " + ("filler %d " % i) * 3
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 30)
    new = docs.filter(F.col("doc_id") >= 30)

    full = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    }
    expected_new = {t for t in full if t[0] >= 30 or t[1] >= 30}

    index = build_minhash_index(old)
    pairs, new_idx = minhash_lsh_pairs_incremental(
        new, index, jaccard_threshold=0.3
    )
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in pairs.collect()
    }
    assert got == expected_new
    assert len(got) > 0  # the family structure guarantees mixed pairs

    # fold: batch1 pairs ∪ batch2 pairs == full pairs (old starts empty)
    empty_index = build_minhash_index(docs.filter(F.lit(False)))
    p1, idx1 = minhash_lsh_pairs_incremental(
        old, empty_index, jaccard_threshold=0.3
    )
    p2, _ = minhash_lsh_pairs_incremental(
        new, idx1, jaccard_threshold=0.3
    )
    folded = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in p1.unionByName(p2).collect()
    }
    assert folded == full

    # the returned index rows are appendable (schema matches)
    assert new_idx.columns == index.columns


def _hot_bucket_docs(spark, mega=60, mega_text=None):
    """mega identical boilerplate docs (ONE band bucket per band holds
    them all) + two small 2-doc near-dup families + singletons."""
    mega_text = mega_text or (
        "subscribe to our newsletter terms of service apply "
        "copyright footer all rights reserved contact us today"
    )
    rows = [(i, mega_text) for i in range(mega)]
    rows += [
        (1000, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta kappa"),
        (1002, "one two three four five six seven eight nine ten"),
        (1003, "one two three four five six seven eight nine eleven"),
        (1004, "totally unrelated text about spark physical planning"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_hot_bucket_cap(spark):
    """The hot-bucket guard (VERDICT r7 item 1): a planted boilerplate
    mega-family must not fan out quadratically — capped buckets are
    skipped BEFORE their collect_list row forms, the small families
    still pair, and the skipped buckets are reported (no silent cap)."""
    docs = _hot_bucket_docs(spark, mega=60)

    uncapped = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    n_uncapped = uncapped.count()
    assert n_uncapped >= 60 * 59 // 2  # the mega family alone

    pairs, dropped = minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, max_bucket_size=20,
        return_dropped=True,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # bounded: every mega pair is gone, candidate volume collapses
    assert not any(a < 1000 and b < 1000 for a, b in got)
    assert len(got) < 20
    # the small families survive the cap
    assert (1000, 1001) in got and (1002, 1003) in got
    # the ledger: identical docs collide in EVERY band → one skipped
    # bucket per band, each holding the whole family
    drows = dropped.collect()
    assert len(drows) == 4  # default bands=4
    assert all(r["bucket_size"] == 60 for r in drows)
    assert set(dropped.columns) == {"band", "band_key", "bucket_size"}

    # cap off + return_dropped: empty ledger, same pair set as plain
    pairs0, dropped0 = minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, return_dropped=True
    )
    assert dropped0.count() == 0
    assert pairs0.count() == n_uncapped


def test_minhash_incremental_hot_bucket_cap(spark):
    """Incremental miner under the cap: an oversized bucket WITH a new
    member is skipped and reported; an all-old oversized bucket (the
    steady-state boilerplate case) is neither mined nor reported — it
    forfeits no pair."""
    from lours_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_incremental,
    )

    docs = _hot_bucket_docs(spark, mega=30)
    old = docs.filter(F.col("doc_id") < 25)  # 25 mega docs
    new = docs.filter(F.col("doc_id") >= 25)  # 5 mega + small families
    index = build_minhash_index(old)

    pairs, _, dropped = minhash_lsh_pairs_incremental(
        new, index, jaccard_threshold=0.5, max_bucket_size=10,
        return_dropped=True,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert not any(a < 1000 and b < 1000 for a, b in got)
    assert (1000, 1001) in got and (1002, 1003) in got
    drows = dropped.collect()
    assert len(drows) == 4 and all(r["bucket_size"] == 30 for r in drows)

    # new batch with NO mega member: the oversized bucket is all-old →
    # ledger stays empty (nothing was forfeited)
    new2 = docs.filter(F.col("doc_id") >= 1000)
    pairs2, _, dropped2 = minhash_lsh_pairs_incremental(
        new2, build_minhash_index(docs.filter(F.col("doc_id") < 30)),
        jaccard_threshold=0.5, max_bucket_size=10, return_dropped=True,
    )
    assert dropped2.count() == 0
    got2 = {(r["id_a"], r["id_b"]) for r in pairs2.collect()}
    assert (1000, 1001) in got2 and (1002, 1003) in got2


def test_minhash_hot_bucket_star(spark):
    """``oversize="star"`` (VERDICT r8 item 1): a capped mega-family
    still COLLAPSES — each member pairs with the bucket's min id at
    O(bucket) cost, so connected components lands the whole family in
    one cluster — while the quadratic fan-out stays dead and the
    ledger still reports the bucket."""
    from lours_spark.split.chunks import connected_components

    docs = _hot_bucket_docs(spark, mega=60)
    pairs, dropped = minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, max_bucket_size=20,
        return_dropped=True, oversize="star",
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    mega = {(a, b) for a, b in got if a < 1000 and b < 1000}
    # O(bucket), not O(bucket²): exactly hub→member, all exact-verified
    assert mega == {(0, i) for i in range(1, 60)}
    assert (1000, 1001) in got and (1002, 1003) in got
    # the ledger is mode-independent — the bucket is still reported
    drows = dropped.collect()
    assert len(drows) == 4 and all(r["bucket_size"] == 60 for r in drows)
    # the family lands in ONE cluster with the cap active
    comp = {
        r["node_id"]: r["component_id"]
        for r in connected_components(pairs).collect()
        if r["node_id"] < 1000
    }
    assert len(comp) == 60 and len(set(comp.values())) == 1

    with pytest.raises(ValueError, match="oversize"):
        minhash_lsh_pairs(
            docs, max_bucket_size=20, oversize="explode"
        ).count()
    # star without a cap is a misconfiguration, not a silent no-op —
    # validated eagerly at every public entry (review r9)
    with pytest.raises(ValueError, match="max_bucket_size"):
        minhash_lsh_pairs(docs, oversize="star")


def test_minhash_incremental_star(spark):
    """Incremental miner with ``oversize="star"``: new members of an
    indexed boilerplate family attach to the family hub (min id, even
    when the hub is old); old×old hub pairs are NOT re-emitted."""
    from lours_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_incremental,
    )

    docs = _hot_bucket_docs(spark, mega=30)
    old = docs.filter(F.col("doc_id") < 25)
    new = docs.filter(F.col("doc_id") >= 25)
    index = build_minhash_index(old)

    pairs, _, dropped = minhash_lsh_pairs_incremental(
        new, index, jaccard_threshold=0.5, max_bucket_size=10,
        return_dropped=True, oversize="star",
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    mega = {(a, b) for a, b in got if a < 1000 and b < 1000}
    # the 5 new family members, each to the (old) hub — nothing else
    assert mega == {(0, i) for i in range(25, 30)}
    assert (1000, 1001) in got and (1002, 1003) in got
    drows = dropped.collect()
    assert len(drows) == 4 and all(r["bucket_size"] == 30 for r in drows)


def test_embedding_hot_bucket_star(spark):
    """Embedding sign-LSH star mode: a mass-duplicated vector family
    collapses to hub→member pairs (verified at cosine 1.0) instead of
    being forfeited; candidate volume stays linear in the family."""
    from lours_spark.operators.dedup import embedding_near_duplicates

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
    rows += [
        (1000, [0.0, 1.0, 0.001, 0.0]),
        (1001, [0.0, 1.0, 0.0, 0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs, dropped = embedding_near_duplicates(
        df, id_col="vec_id", threshold=0.99, method="lsh",
        num_tables=4, planes_per_table=8, max_bucket_size=10,
        return_dropped=True, oversize="star",
    )
    rows_out = pairs.collect()
    got = {(r["id_a"], r["id_b"]) for r in rows_out}
    mega = {(a, b) for a, b in got if a < 1000 and b < 1000}
    assert mega == {(0, i) for i in range(1, 50)}
    assert all(
        r["cosine"] >= 0.99 for r in rows_out if r["id_a"] < 1000
    )
    assert (1000, 1001) in got
    assert dropped.count() >= 4


def test_embedding_incremental_star(spark):
    """Embedding incremental miner star mode: new members of an indexed
    mega-family attach to the family hub; old×old pairs stay unmined."""
    from lours_spark.operators.dedup import (
        build_embedding_index,
        embedding_near_dup_pairs_incremental,
    )

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
    rows += [
        (1000, [0.0, 1.0, 0.001, 0.0]),
        (1001, [0.0, 1.0, 0.0, 0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = df.filter(F.col("vec_id") < 35)
    new = df.filter(F.col("vec_id") >= 35)
    index = build_embedding_index(
        old, id_col="vec_id", threshold=0.99, num_tables=4,
        planes_per_table=8,
    )
    pairs, new_idx, dropped = embedding_near_dup_pairs_incremental(
        new, index, id_col="vec_id", threshold=0.99,
        max_bucket_size=10, return_dropped=True, oversize="star",
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    mega = {(a, b) for a, b in got if a < 1000 and b < 1000}
    assert mega == {(0, i) for i in range(35, 40)}
    assert (1000, 1001) in got
    assert dropped.count() >= 4
    new_idx.unpersist()


def test_embedding_hot_bucket_cap(spark):
    """Embedding sign-LSH under the cap: a mass-duplicated vector (a
    default embedding) concentrates into one bucket per table — capped
    out and reported; distinct near pairs still verify."""
    from lours_spark.operators.dedup import embedding_near_duplicates

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
    rows += [
        (1000, [0.0, 1.0, 0.001, 0.0]),
        (1001, [0.0, 1.0, 0.0, 0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs, dropped = embedding_near_duplicates(
        df, id_col="vec_id", threshold=0.99, method="lsh",
        num_tables=4, planes_per_table=8, max_bucket_size=10,
        return_dropped=True,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1000, 1001) in got
    assert not any(a < 1000 and b < 1000 for a, b in got)
    drows = dropped.collect()
    assert len(drows) >= 4  # the mega bucket in each of the 4 tables
    assert all(r["bucket_size"] >= 50 for r in drows)
    assert set(dropped.columns) == {"table", "sig", "bucket_size"}

    # the cap is an LSH-only knob — other methods bound candidates
    # through their own parameters
    with pytest.raises(ValueError, match="lsh"):
        embedding_near_duplicates(
            df, id_col="vec_id", method="ivf", max_bucket_size=10
        )


@pytest.mark.parametrize("family", ["minhash", "embedding"])
@pytest.mark.parametrize("incremental", [False, True])
def test_lsh_uncapped_ledger_is_empty_and_typed(spark, family, incremental):
    """``return_dropped=True`` without a cap returns an EMPTY ledger
    whose schema (names, types, nullability) equals the capped ledger's
    on the same planted mega-family input, so callers can count, union
    or write it unconditionally — for all four LSH miners."""
    from lours_spark.operators import dedup as D

    if family == "minhash":
        df, col, split, kw = _hot_bucket_docs(spark, mega=12), "doc_id", 8, {}
        one_shot, build, mine_new = (
            D.minhash_lsh_pairs, D.build_minhash_index,
            D.minhash_lsh_pairs_incremental,
        )
    else:
        rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]
        rows += [(1000, [0.0, 1.0, 0.001, 0.0]), (1001, [0.0, 1.0, 0.0, 0.001])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        col, split = "vec_id", 15
        kw = dict(id_col=col, threshold=0.99, num_tables=4, planes_per_table=8)
        one_shot, build, mine_new = (
            D.embedding_near_duplicates, D.build_embedding_index,
            D.embedding_near_dup_pairs_incremental,
        )

    def ledger(**cap):
        if not incremental:
            return one_shot(df, return_dropped=True, **kw, **cap)[-1]
        # the batch holds members of the planted family
        index = build(df.filter(F.col(col) < split), **kw)
        return mine_new(
            df.filter(F.col(col) >= split), index, return_dropped=True,
            **kw, **cap,
        )[-1]

    uncapped, capped = ledger(), ledger(max_bucket_size=5)
    assert uncapped.count() == 0
    assert capped.count() > 0  # the planted family is over the cap
    assert uncapped.schema == capped.schema


def test_embedding_lsh_table_clamp_warns(spark):
    """When the recall target implies more than the 64-table clamp
    (low threshold + auto-sized planes), the saturation is surfaced as
    a warning instead of silently under-delivering recall (ADVICE r7)."""
    import warnings as _w

    rows = [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.warns(UserWarning, match="clamped"):
        embedding_near_duplicates_mod = __import__(
            "lours_spark.operators.dedup", fromlist=["embedding_near_duplicates"]
        )
        embedding_near_duplicates_mod.embedding_near_duplicates(
            df, id_col="vec_id", threshold=0.6, method="lsh",
            target_recall=0.9999,
        )
    # explicit num_tables: no warning
    with _w.catch_warnings():
        _w.simplefilter("error")
        embedding_near_duplicates_mod.embedding_near_duplicates(
            df, id_col="vec_id", threshold=0.6, method="lsh", num_tables=8
        )


def test_minhash_index_param_stamp(spark, tmp_path):
    """The index carries its build parameters as __id column metadata
    (rides the parquet footer — zero-cost to check); the incremental
    miner fails loud on a mismatch and accepts unstamped legacy
    indexes (VERDICT r7 item 7)."""
    from lours_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_incremental,
    )

    docs = spark.createDataFrame(
        [(i, f"some words {i} about things {i}") for i in range(8)],
        "doc_id long, text string",
    )
    index = build_minhash_index(docs, k=3, num_hashes=8)
    path = str(tmp_path / "idx")
    index.write.parquet(path)
    back = spark.read.parquet(path)
    meta = dict(back.schema["__id"].metadata)
    assert meta["lours.minhash.k"] == 3
    assert meta["lours.minhash.num_hashes"] == 8
    assert meta["lours.minhash.hash_fn"] == "md5"

    new = spark.createDataFrame(
        [(100, "some words 1 about things 1")], "doc_id long, text string"
    )
    # matching params: fine
    pairs, _ = minhash_lsh_pairs_incremental(new, back)
    pairs.collect()
    # mismatched k / hash_fn: loud failure BEFORE any mining job
    with pytest.raises(ValueError, match="k, num_hashes, hash_fn"):
        minhash_lsh_pairs_incremental(new, back, k=4)
    with pytest.raises(ValueError, match="cannot be mixed"):
        minhash_lsh_pairs_incremental(new, back, hash_fn="xxhash64")

    # legacy (unstamped) index: accepted as-is
    legacy = back.withColumn("__id", F.expr("__id + 0"))
    assert not dict(legacy.schema["__id"].metadata or {})
    p2, _ = minhash_lsh_pairs_incremental(new, legacy)
    p2.collect()


def test_word_counts_and_merge_pair_stats(spark):
    """BPE counting semantics: pair_count weights by word frequency and
    counts every adjacent position; n_words counts distinct words; the
    top pair is the first merge a BPE trainer would make."""
    from lours_spark.operators.vocab import merge_pair_stats, word_counts

    df = spark.createDataFrame(
        [(1, "low low low lower"), (2, "lowest low newer"), (3, "new new")],
        "doc_id long, text string",
    ).repartition(3)
    wc = {r["word"]: r["n"] for r in word_counts(df).collect()}
    assert wc == {"low": 4, "lower": 1, "lowest": 1, "newer": 1, "new": 2}

    stats = {r["pair"]: (r["pair_count"], r["n_words"]) for r in
             merge_pair_stats(df).collect()}
    # 'lo': in low(x4), lower(x1), lowest(x1) -> 6 occurrences, 3 words
    assert stats["lo"] == (6, 3)
    # 'ow': same words -> 6, 3
    assert stats["ow"] == (6, 3)
    # 'ne': newer(x1) + new(x2) -> 3 occurrences, 2 distinct words
    assert stats["ne"] == (3, 2)
    # 'we': lower, lowest, newer each once -> 3 occurrences, 3 words
    assert stats["we"] == (3, 3)

    top = merge_pair_stats(df, top_n=2).collect()
    assert [r["pair"] for r in top] == ["lo", "ow"]  # count desc, pair asc

    # min_count prunes the long tail (the 100 TB hygiene knob)
    pruned = {r["pair"] for r in merge_pair_stats(df, min_count=4).collect()}
    assert "we" not in pruned and "lo" in pruned


def test_merge_pair_stats_single_char_and_repeats(spark):
    """1-char words contribute no pairs; a repeated char inside one
    word counts once per adjacent position ('aaa' -> 'aa' twice)."""
    from lours_spark.operators.vocab import merge_pair_stats

    df = spark.createDataFrame([(1, "a b aaa")], "doc_id long, text string")
    stats = {r["pair"]: (r["pair_count"], r["n_words"]) for r in
             merge_pair_stats(df).collect()}
    assert stats == {"aa": (2, 1)}


def test_weighted_sample_distribution_and_determinism(spark):
    """A-ES weighted sampling: deterministic under reruns/partitioning,
    inclusion frequency ordered by weight, zero/NULL weights excluded,
    ranks dense 1..k."""
    from lours_spark.operators.sampling import weighted_sample

    rows = [(i, [0, 1, 10][i % 3]) for i in range(600)]
    rows += [(600, None)]
    df = spark.createDataFrame(rows, "doc_id long, w int")

    out = weighted_sample(df, "w", k=100, seed=5)
    got = sorted((r["doc_id"], r["sample_rank"]) for r in out.collect())
    again = sorted(
        (r["doc_id"], r["sample_rank"])
        for r in weighted_sample(df.repartition(13), "w", k=100, seed=5).collect()
    )
    assert got == again and len(got) == 100
    ranks = sorted(r for _, r in got)
    assert ranks == list(range(1, 101))

    by_w = {0: 0, 1: 0, 10: 0}
    w_of = dict(rows[:-1])
    for doc_id, _ in got:
        by_w[w_of[doc_id]] += 1
    assert by_w[0] == 0  # weight 0: never sampled
    assert by_w[10] > by_w[1] * 3  # 10x weight -> much more frequent


def test_weighted_sample_all_heavy_weight_tiny_k(spark):
    """k larger than the positive-weight population returns exactly
    that population."""
    from lours_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, 2.5)], "doc_id long, w double"
    )
    got = sorted(r["doc_id"] for r in weighted_sample(df, "w", k=10).collect())
    assert got == [1, 3]


def test_zorder_key_locality_and_write(spark, tmp_path):
    """The Morton key interleaves correctly (locality on both columns)
    and write_zordered produces files whose per-file min/max ranges on
    BOTH columns are narrow -- the data-skipping property."""
    import pyspark.sql.functions as F

    from lours_spark.operators.zorder import quantize, write_zordered, zorder_key

    n_side = 64
    df = spark.range(n_side * n_side).select(
        (F.col("id") % n_side).alias("x"),
        (F.col("id") / n_side).cast("long").alias("y"),
    )
    path = str(tmp_path / "zordered")
    write_zordered(df, path, ["x", "y"], bits=6, num_files=16)

    back = spark.read.parquet(path)
    assert back.count() == n_side * n_side

    # per-file spans: a z-ordered 64x64 grid in 16 files gives each
    # file a ~16x16 tile -> span ~15 on BOTH axes; a single-column
    # sort would give span 63 on the minor axis
    per_file = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    assert len(per_file) > 4
    worst = max(max(r["sx"], r["sy"]) for r in per_file)
    assert worst <= 31  # every file covers at most a half-axis tile


def test_zorder_three_column_spans(spark, tmp_path):
    """VERDICT r8 item 7 (3-column evidence): Morton interleave on
    THREE columns still bounds every file's per-axis span well below
    the full axis — a 64³ grid in 64 files gives ~12-bit z-tiles
    (aligned tile span 15/axis; a contiguous unaligned z-range can
    straddle one tile boundary, doubling the worst case) — where a
    single-column sort leaves two axes at the full span of 63. The
    measured numbers are recorded in SCALING.md's z-order section."""
    import pyspark.sql.functions as F

    from lours_spark.operators.zorder import write_zordered

    n_side = 64
    df = spark.range(n_side**3).select(
        (F.col("id") % n_side).alias("x"),
        ((F.col("id") / n_side).cast("long") % n_side).alias("y"),
        (F.col("id") / (n_side * n_side)).cast("long").alias("z"),
    )
    path = str(tmp_path / "zordered3")
    write_zordered(df, path, ["x", "y", "z"], bits=6, num_files=64)

    back = spark.read.parquet(path)
    assert back.count() == n_side**3
    per_file = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
            (F.max("z") - F.min("z")).alias("sz"),
        )
        .collect()
    )
    assert len(per_file) > 16
    spans = sorted(max(r["sx"], r["sy"], r["sz"]) for r in per_file)
    # distributional, not worst-case: a contiguous z-range that
    # crosses a HIGH interleaved-bit boundary jumps across the space
    # (the Morton discontinuity curve="hilbert" removes — see
    # test_hilbert_three_column_spans), so the few files containing
    # such crossings legitimately span a full axis — measured: 62/64
    # files <= 31, two boundary files at 63. A single-column sort
    # leaves EVERY file at 63 on both minor axes.
    n = len(spans)
    assert spans[int(n * 0.9)] <= 31          # p90: at most a half-axis
    assert sum(spans) / n <= 31               # mean well below full span
    assert sum(1 for s in spans if s > 47) <= max(4, n // 16)


def test_hilbert_kernel_bijective_and_continuous():
    """Skilling-kernel invariants, exhaustively over small grids: the
    index is a bijection onto [0, side^n) and consecutive indexes
    differ by exactly one step in one coordinate — the continuity
    that removes Morton's cross-space jumps."""
    import numpy as np

    from lours_spark.operators.zorder import _hilbert_index_array

    # the canonical 2x2 U
    U = np.array([[0, 0], [0, 1], [1, 1], [1, 0]], dtype=np.uint64)
    assert _hilbert_index_array(U, 1).tolist() == [0, 1, 2, 3]

    for n, bits in ((2, 3), (3, 2), (3, 3)):
        side = 1 << bits
        grid = np.indices((side,) * n).reshape(n, -1).T.astype(np.uint64)
        H = _hilbert_index_array(grid, bits)
        assert len(set(H.tolist())) == side**n
        order = grid[np.argsort(H)].astype(np.int64)
        steps = np.abs(np.diff(order, axis=0)).sum(axis=1)
        assert (steps == 1).all()


def test_hilbert_three_column_spans(spark, tmp_path):
    """curve="hilbert" on the same 64^3 grid as
    test_zorder_three_column_spans: the continuous curve removes the
    full-axis boundary outliers Morton shows (every contiguous key
    range is a connected region), with the same tile-scale typical
    spans."""
    import pyspark.sql.functions as F

    from lours_spark.operators.zorder import write_zordered

    n_side = 64
    df = spark.range(n_side**3).select(
        (F.col("id") % n_side).alias("x"),
        ((F.col("id") / n_side).cast("long") % n_side).alias("y"),
        (F.col("id") / (n_side * n_side)).cast("long").alias("z"),
    )
    path = str(tmp_path / "hilbert3")
    write_zordered(
        df, path, ["x", "y", "z"], bits=6, num_files=64, curve="hilbert"
    )
    back = spark.read.parquet(path)
    assert back.count() == n_side**3
    per_file = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
            (F.max("z") - F.min("z")).alias("sz"),
        )
        .collect()
    )
    spans = sorted(max(r["sx"], r["sy"], r["sz"]) for r in per_file)
    assert len(spans) > 16
    # no file jumps across the space: every span stays at tile scale
    assert spans[-1] <= 47            # Morton measured 63 here
    assert sum(spans) / len(spans) <= 31

    with pytest.raises(ValueError, match="curve"):
        write_zordered(df, path, ["x", "y"], curve="peano")


def test_hilbert_codegen_matches_arrow(spark):
    """with_hilbert_key (the unrolled codegen chain the write path
    uses) is value-identical to the Arrow/numpy kernel across dims and
    bit widths, propagates NULLs, and its physical plan carries ZERO
    Python stages — every projection fused into one whole-stage
    codegen span."""
    import random

    import numpy as np
    import pyspark.sql.functions as F

    from lours_spark.operators.zorder import (
        _hilbert_index_array,
        hilbert_key,
        with_hilbert_key,
    )

    rng = random.Random(7)
    for n, bits in ((2, 6), (3, 5), (2, 16), (3, 10)):
        rows = sorted(
            {tuple(rng.randrange(1 << bits) for _ in range(n))
             for _ in range(200)}
        )
        cols = [f"c{i}" for i in range(n)]
        sdf = spark.createDataFrame(
            rows, ", ".join(f"{c} long" for c in cols)
        )
        got = [
            r["h"]
            for r in with_hilbert_key(sdf, cols, bits=bits, key_col="h")
            .orderBy(*cols)
            .collect()
        ]
        arrow = [
            r["h"]
            for r in sdf.select(
                *cols, hilbert_key(cols, bits=bits).alias("h")
            )
            .orderBy(*cols)
            .collect()
        ]
        kernel = (
            _hilbert_index_array(np.array(rows, dtype=np.uint64), bits)
            .astype("int64")
            .tolist()
        )
        assert got == arrow == kernel, (n, bits)

    # NULL propagation matches both twins
    df = spark.createDataFrame(
        [(1, 3, 5), (2, None, 5), (3, 4, None)], "id long, x long, y long"
    )
    out = {
        r["id"]: r["h"]
        for r in with_hilbert_key(df, ["x", "y"], bits=4, key_col="h").collect()
    }
    assert out[1] is not None and out[2] is None and out[3] is None

    # plan shape: no Arrow/Python eval anywhere, one codegen span
    plan = (
        with_hilbert_key(
            spark.range(64).select(
                F.col("id").alias("x"), (F.col("id") * 7 % 64).alias("y")
            ),
            ["x", "y"],
            bits=16,
            key_col="h",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "*(1)" in plan and "*(2)" not in plan


def test_hilbert_key_null_propagation(spark):
    """A NULL coordinate yields a NULL key, matching zorder_key's
    bit-op propagation — never a silent coercion to cell 0."""
    import pyspark.sql.functions as F

    from lours_spark.operators.zorder import hilbert_key, zorder_key

    df = spark.createDataFrame(
        [(1, 3, 5), (2, None, 5), (3, 4, None)],
        "id long, x long, y long",
    )
    rows = {
        r["id"]: (r["h"], r["m"])
        for r in df.select(
            "id",
            hilbert_key(["x", "y"], bits=4).alias("h"),
            zorder_key([F.col("x"), F.col("y")], bits=4).alias("m"),
        ).collect()
    }
    assert rows[1][0] is not None and rows[1][1] is not None
    assert rows[2] == (None, None)
    assert rows[3] == (None, None)


def test_zorder_key_validation(spark):
    import pyspark.sql.functions as F
    import pytest as _pt

    from lours_spark.operators.zorder import quantize, zorder_key

    with _pt.raises(ValueError):
        zorder_key([F.col("x")], bits=4)
    with _pt.raises(ValueError):
        zorder_key([F.col("x"), F.col("y")], bits=32)
    with _pt.raises(ValueError):
        quantize(F.col("x"), 5, 5)


def test_train_bpe_matches_naive_reference(spark):
    """The incremental-index trainer produces the exact merge list of a
    from-scratch naive BPE (full recount per iteration) on a corpus
    with repeats, ties, and 1-char words; apply_bpe segments with those
    merges consistently."""
    from collections import Counter

    from lours_spark.operators.vocab import apply_bpe, train_bpe

    texts = [
        "low low low low low lower lower newest newest",
        "newest newest newest newest widest widest widest",
        "a bb a bb ccc low newest wide wider widest",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)

    def naive(word_freqs, num_merges):
        segs = {w: list(w) + ["</w>"] for w in word_freqs}
        merges = []
        for _ in range(num_merges):
            counts = Counter()
            for w, n in word_freqs.items():
                s = segs[w]
                for p in zip(s, s[1:]):
                    counts[p] += n
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append(best)
            for w in word_freqs:
                s, out, i = segs[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                        out.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                segs[w] = out
        return merges

    wf = Counter(w for t in texts for w in t.lower().split())
    expect = naive(dict(wf), 12)
    got = train_bpe(df, num_merges=12)
    assert got == expect

    seg = {r["doc_id"]: r["bpe_tokens"] for r in apply_bpe(df, got).collect()}
    # re-joining subwords reproduces the original words
    for i, t in enumerate(texts):
        rejoined = "".join(seg[i]).replace("</w>", " ").split()
        assert rejoined == t.lower().split()
    # trained merges actually compress: fewer symbols than chars
    assert len(seg[0]) < sum(len(w) + 1 for w in texts[0].split())


def test_train_bpe_vocab_cap_fails_loud(spark):
    """The word-table collect guard (VERDICT r8 item 2): over-cap
    vocabularies raise with pruning guidance via a LIMIT-probe instead
    of OOMing the driver; at-cap corpora train normally; min_count
    pruning brings an over-cap corpus back under."""
    from lours_spark.operators.vocab import train_bpe

    rows = [(i, f"w{i} common common") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # 31 distinct words > cap of 10 → fail loud, message names the knobs
    with pytest.raises(ValueError, match="min_count"):
        train_bpe(df, num_merges=2, max_vocab_words=10)
    # pruning the singleton tail brings it under the same cap
    merges = train_bpe(df, num_merges=2, max_vocab_words=10, min_count=2)
    assert merges  # 'common' alone still yields merges
    # exactly-at-cap trains (probe collects cap+1 only when exceeded)
    assert train_bpe(df, num_merges=2, max_vocab_words=31)


def test_remove_boilerplate_paragraphs(spark):
    """Over-threshold paragraphs vanish from EVERY document (not just
    later occurrences); under-threshold ones all survive; a document
    that was pure boilerplate comes back empty, never dropped."""
    from lours_spark.operators.dedup import remove_boilerplate_paragraphs

    rows = [(i, f"NAV MENU\n\nbody {i}") for i in range(10)]
    rows += [(100, "NAV MENU")]  # pure boilerplate
    rows += [(200, "twice\n\nbody 200"), (201, "twice\n\nbody 201")]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)

    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_paragraphs(
            df, max_doc_frequency=3
        ).collect()
    }
    assert len(out) == 13  # nothing dropped
    for i in range(10):
        assert out[i]["text"] == f"body {i}"
        assert (out[i]["n_paras_before"], out[i]["n_paras_after"]) == (2, 1)
    assert out[100]["text"] == "" and out[100]["n_paras_after"] == 0
    # 'twice' appears in only 2 docs <= 3: kept everywhere
    assert out[200]["text"] == "twice\n\nbody 200"

    # share threshold: floor(0.25 * 13) = 3, same cut
    by_share = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate_paragraphs(
            df, max_doc_share=0.25
        ).collect()
    }
    assert by_share[5] == "body 5" and by_share[200].startswith("twice")

    with pytest.raises(ValueError):
        remove_boilerplate_paragraphs(df)
    with pytest.raises(ValueError):
        remove_boilerplate_paragraphs(
            df, max_doc_frequency=3, max_doc_share=0.5
        )


def test_boilerplate_hash_key_parity(spark):
    """key="hash" (32-byte frequency/anti-join exchange) is
    row-identical to the value-keyed default."""
    from lours_spark.operators.dedup import remove_boilerplate_paragraphs

    rows = [
        (i, "\n\n".join(f"para {(i * 3 + j) % 7}" for j in range(1 + i % 4)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)
    a = sorted(map(tuple, remove_boilerplate_paragraphs(
        df, max_doc_frequency=8, key="value").collect()))
    b = sorted(map(tuple, remove_boilerplate_paragraphs(
        df, max_doc_frequency=8, key="hash").collect()))
    assert a == b
    with pytest.raises(ValueError):
        remove_boilerplate_paragraphs(df, max_doc_frequency=8, key="md5")


def test_ngram_classifier_separates_classes(spark):
    """Log-odds weights trained on a seed split rank held-out documents
    of each class on the right side of sigmoid(bias); empty text scores
    exactly sigmoid(bias) with n_grams=0."""
    import math

    from lours_spark.operators.quality import (
        classifier_score,
        train_ngram_classifier,
    )

    pos_words = "good clean helpful prose article essay"
    neg_words = "buy cheap spam click casino pills"
    rows = [(i, f"{pos_words} sample {i % 3}", 1) for i in range(20)]
    rows += [(100 + i, f"{neg_words} offer {i % 3}", 0) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    w, b = train_ngram_classifier(df, "label", num_buckets=512, seed=3)

    held = spark.createDataFrame(
        [(1, "a clean helpful essay"), (2, "cheap casino spam pills"),
         (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           classifier_score(held, w, b, num_buckets=512, seed=3).collect()}
    base = 1.0 / (1.0 + math.exp(-b))
    assert out[1]["score"] > base > out[2]["score"]
    assert out[3]["n_grams"] == 0
    assert abs(out[3]["score"] - base) < 1e-12

    # degenerate: single-class corpus fails loud
    with pytest.raises(ValueError):
        train_ngram_classifier(
            df.filter("label = 1"), "label", num_buckets=512
        )


def test_classifier_params_stamped_and_checked(spark):
    """ADVICE r8: the trained weights carry a (num_buckets, seed,
    bigrams) stamp; scoring with mismatched hashing params fails loud
    instead of silently degenerating to sigmoid(bias). Unstamped
    (hand-built) frames still score."""
    from lours_spark.operators.quality import (
        classifier_score,
        train_ngram_classifier,
    )
    from lours_spark.streaming.documents import _classifier_score_udf

    df = spark.createDataFrame(
        [(1, "good clean prose", 1), (2, "spam spam spam", 0),
         (3, "buy cheap pills", 0), (4, "helpful essay text", 1)],
        "doc_id long, text string, label int")
    w, b = train_ngram_classifier(
        df, "label", num_buckets=64, seed=5, bigrams=False
    )
    # matching params score fine
    assert classifier_score(
        df, w, b, num_buckets=64, seed=5, bigrams=False
    ).count() == 4
    for bad in (
        dict(num_buckets=128, seed=5, bigrams=False),   # buckets drift
        dict(num_buckets=64, seed=0, bigrams=False),    # seed drift
        dict(num_buckets=64, seed=5, bigrams=True),     # bigram drift
    ):
        with pytest.raises(ValueError, match="trained with"):
            classifier_score(df, w, b, **bad)
    # the streaming twin validates the same stamp at UDF build time
    with pytest.raises(ValueError, match="trained with"):
        _classifier_score_udf(w, float(b), 64, 0, False)
    # an unstamped frame (user-built weights) passes unchecked
    w_plain = spark.createDataFrame(
        [(r["bucket"], r["weight"]) for r in w.collect()],
        "bucket long, weight double",
    )
    assert classifier_score(
        df, w_plain, b, num_buckets=999, seed=42
    ).count() == 4
    # the stamp survives a parquet round-trip (footer metadata)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        w.write.mode("overwrite").parquet(f"{td}/w")
        w_back = spark.read.parquet(f"{td}/w")
        with pytest.raises(ValueError, match="trained with"):
            classifier_score(df, w_back, b, num_buckets=64, seed=0,
                             bigrams=False)


def test_classifier_null_text_counts_in_prior(spark):
    """ADVICE r8: a NULL-text document must contribute its sentinel
    row to the class prior exactly like an empty-string one —
    training on NULL vs '' yields identical (weights, bias)."""
    from lours_spark.operators.quality import train_ngram_classifier

    base = [(1, "good clean prose", 1), (2, "spam spam spam", 0),
            (3, "buy cheap pills", 0)]
    with_null = spark.createDataFrame(
        base + [(4, None, 1)], "doc_id long, text string, label int")
    with_empty = spark.createDataFrame(
        base + [(4, "", 1)], "doc_id long, text string, label int")
    w_n, b_n = train_ngram_classifier(with_null, "label", num_buckets=64)
    w_e, b_e = train_ngram_classifier(with_empty, "label", num_buckets=64)
    assert b_n == pytest.approx(b_e, abs=1e-12)
    rows_n = {r["bucket"]: r["weight"] for r in w_n.collect()}
    rows_e = {r["bucket"]: r["weight"] for r in w_e.collect()}
    assert rows_n == rows_e
    # and the prior actually moved: without doc 4 the pos count is 1
    _, b_without = train_ngram_classifier(
        spark.createDataFrame(
            base, "doc_id long, text string, label int"),
        "label", num_buckets=64)
    assert b_n != pytest.approx(b_without, abs=1e-12)


def test_hashed_ngram_buckets_range_and_multiplicity(spark):
    from lours_spark.operators.quality import hashed_ngram_buckets

    df = spark.createDataFrame(
        [("x x y",), ("",), ("   ",)], ["text"]
    )
    rows = df.select(
        hashed_ngram_buckets(F.col("text"), num_buckets=8).alias("b")
    ).collect()
    # 3 unigrams + 2 bigrams, duplicates preserved (tf by multiplicity)
    assert len(rows[0]["b"]) == 5
    assert all(0 <= v < 8 for v in rows[0]["b"])
    assert rows[1]["b"] == [] and rows[2]["b"] == []
    # unigram-only mode
    uni = df.select(
        hashed_ngram_buckets(
            F.col("text"), num_buckets=8, bigrams=False
        ).alias("b")
    ).collect()
    assert len(uni[0]["b"]) == 3


def test_boilerplate_null_text_and_counts_off(spark):
    """NULL text counts as one empty paragraph (row preserved, '' out)
    and include_counts=False returns the same rebuilt text with one
    row per input id and no bookkeeping columns."""
    from lours_spark.operators.dedup import remove_boilerplate_paragraphs

    rows = [(i, f"NAV\n\nbody {i}") for i in range(6)]
    rows.append((50, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    full = {r["doc_id"]: r for r in remove_boilerplate_paragraphs(
        df, max_doc_frequency=3).collect()}
    assert full[50]["text"] == "" and full[50]["n_paras_before"] == 1
    lean = {r["doc_id"]: r for r in remove_boilerplate_paragraphs(
        df, max_doc_frequency=3, include_counts=False).collect()}
    assert set(lean) == set(full)
    assert all(lean[k]["text"] == full[k]["text"] for k in full)
    assert "n_paras_before" not in next(iter(lean.values())).asDict()

    # hash path rides the shared ledger: identical rebuilds
    hashed = {r["doc_id"]: r["text"] for r in remove_boilerplate_paragraphs(
        df, max_doc_frequency=3, key="hash", include_counts=False).collect()}
    assert hashed == {k: v["text"] for k, v in lean.items()}


def _planted_embeddings(spark, n, dim=16, dup_every=4, seed=11):
    """n vectors, every dup_every-th a near-copy of its predecessor."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    base = None
    for i in range(n):
        if i % dup_every == dup_every - 1 and base is not None:
            v = base + rng.normal(0, 0.01, dim)
        else:
            v = rng.normal(0, 1, dim)
            base = v
        rows.append((i, [float(x) for x in (v / np.linalg.norm(v))]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_incremental_matches_one_shot(spark):
    """Incremental mining (old corpus indexed, new drop mined against
    it) equals the one-shot LSH run over everything, restricted to
    pairs with a new side — same plane family, same collisions, same
    verified cosines."""
    from lours_spark.operators.dedup import (
        build_embedding_index,
        embedding_near_dup_pairs_incremental,
        embedding_near_duplicates,
    )

    df = _planted_embeddings(spark, 80)
    old = df.filter("vec_id % 5 != 0")
    new = df.filter("vec_id % 5 = 0")
    L, r = 8, 12

    index = build_embedding_index(
        old, num_tables=L, planes_per_table=r
    )
    pairs, new_idx = embedding_near_dup_pairs_incremental(
        new, index, num_tables=L, planes_per_table=r, threshold=0.95
    )
    got = {
        (p["id_a"], p["id_b"], round(p["cosine"], 9))
        for p in pairs.collect()
    }
    full = embedding_near_duplicates(
        df, threshold=0.95, num_tables=L, planes_per_table=r
    )
    want = {
        (p["id_a"], p["id_b"], round(p["cosine"], 9))
        for p in full.collect()
        if p["id_a"] % 5 == 0 or p["id_b"] % 5 == 0
    }
    assert got == want and len(got) > 0
    # the returned index rows append-extend the corpus index
    assert new_idx.columns == ["__id", "__vec", "__sigs"]
    assert new_idx.count() == new.count()


def test_embedding_index_stamp_mismatch_fails_loud(spark):
    from lours_spark.operators.dedup import (
        build_embedding_index,
        embedding_near_dup_pairs_incremental,
    )

    df = _planted_embeddings(spark, 20)
    index = build_embedding_index(df, num_tables=8, planes_per_table=12)
    with pytest.raises(ValueError, match="plane famil"):
        embedding_near_dup_pairs_incremental(
            df, index, num_tables=4, planes_per_table=12
        )
    # None params resolve FROM the stamp: no count, no mismatch
    pairs, _ = embedding_near_dup_pairs_incremental(
        df.limit(0), index
    )
    assert pairs.count() == 0


def test_embedding_incremental_hot_bucket_cap(spark):
    """A planted mega-family (one vector duplicated across the corpus)
    is skipped-and-counted per table instead of pair-exploding."""
    import numpy as np

    from lours_spark.operators.dedup import (
        build_embedding_index,
        embedding_near_dup_pairs_incremental,
    )

    rng = np.random.default_rng(3)
    v = rng.normal(0, 1, 16)
    v = [float(x) for x in (v / np.linalg.norm(v))]
    rows = [(i, v) for i in range(60)]  # one family, every bucket hot
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    old = df.filter("vec_id < 40")
    new = df.filter("vec_id >= 40")
    index = build_embedding_index(old, num_tables=4, planes_per_table=12)
    pairs, _, dropped = embedding_near_dup_pairs_incremental(
        new, index, num_tables=4, planes_per_table=12,
        max_bucket_size=8, return_dropped=True,
    )
    assert pairs.count() == 0  # the family never fans out
    d = dropped.collect()
    assert len(d) == 4  # one skipped bucket per table
    assert all(r["bucket_size"] == 60 for r in d)


def test_embedding_index_preserves_vector_dtype(spark):
    """The index must carry the INPUT element type (float or double) —
    a silent float32 downcast would make incremental verify cosines
    diverge from the one-shot path on double corpora and drop boundary
    pairs. Parity is re-asserted on an array<double> corpus."""
    from lours_spark.operators.dedup import (
        build_embedding_index,
        embedding_near_dup_pairs_incremental,
        embedding_near_duplicates,
    )

    df64 = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]])
         for r in _planted_embeddings(spark, 60).collect()],
        "vec_id long, embedding array<double>",
    )
    idx = build_embedding_index(df64, num_tables=6, planes_per_table=10)
    assert dict(idx.dtypes)["__vec"] == "array<double>"

    old = df64.filter("vec_id % 5 != 0")
    new = df64.filter("vec_id % 5 = 0")
    index = build_embedding_index(old, num_tables=6, planes_per_table=10)
    pairs, _ = embedding_near_dup_pairs_incremental(
        new, index, num_tables=6, planes_per_table=10, threshold=0.95
    )
    got = {(p["id_a"], p["id_b"], p["cosine"]) for p in pairs.collect()}
    want = {
        (p["id_a"], p["id_b"], p["cosine"])
        for p in embedding_near_duplicates(
            df64, threshold=0.95, num_tables=6, planes_per_table=10
        ).collect()
        if p["id_a"] % 5 == 0 or p["id_b"] % 5 == 0
    }
    assert got == want and len(got) > 0  # bit-exact cosines, no rounding


def test_embedding_index_unstamped_fails_loud(spark):
    """Every legitimate embedding index is stamped (the builder is
    new); a stripped stamp means the plane family can't be verified
    and must raise, not silently mine with zero cross-batch recall."""
    from lours_spark.operators.dedup import (
        embedding_near_dup_pairs_incremental,
    )

    df = _planted_embeddings(spark, 20)
    fake_index = df.selectExpr(
        "vec_id as __id", "embedding as __vec",
        "array(0L, 1L) as __sigs",
    )
    with pytest.raises(ValueError, match="no build-parameter stamp"):
        embedding_near_dup_pairs_incremental(
            df, fake_index, num_tables=2, planes_per_table=8
        )
