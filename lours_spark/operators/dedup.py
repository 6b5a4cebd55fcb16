"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all built on shuffle-minimal Spark plans:

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle on
  a 16-byte key regardless of document size;
- **MinHash + LSH**: shingle → per-doc signature (no shuffle) → band
  keys → one bucket groupBy + pair fan-out → Jaccard verification of
  candidates only (``_bucket_pairs`` + ``_verify_pairs``, shared with
  the embedding sign-LSH miners). At 100 TB the bucket shuffle moves
  signatures (tiny), not documents;
- **SimHash**: near-dup candidates = identical simhash values (or
  rotated-band variants);
- **n-gram Jaccard**: exact similarity join via shingle inverted index
  (explode + equi-join + count ratio) — the verification oracle for LSH;
- **embedding cosine**: near-dup pairs above a cosine threshold (see
  ``operators/similarity.py`` for the top-k variant).

All hashing defaults to the md5-based portable hash
(``functions/text.md5_long``) so every operator is oracle-checkable
bit-for-bit in DuckDB; the minhash path also offers an opt-in
codegen'd ``xxhash64`` family for production corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lours_spark.functions import text as TX
from lours_spark.functions import vectors as V


# the ONE widen policy: see operators._widen for the policy + scale notes
from lours_spark.operators._materialize import materialize  # noqa: E402
from lours_spark.operators._widen import widen as _widen  # noqa: E402


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group by normalized-text fingerprint; keep the min id as the
    canonical representative. Output: (doc_id, group_size) per kept doc.

    >>> df = spark.createDataFrame(
    ...     [(1, "Hello  World"), (2, "hello world"), (3, "other")],
    ...     "doc_id long, text string")
    >>> rows = sorted(exact_duplicates(df).collect())
    >>> [(r["doc_id"], r["group_size"]) for r in rows]
    [(1, 2), (3, 1)]
    """
    fp = TX.fingerprint(F.col(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select(id_col, "fingerprint", "group_size")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    key: str = "value",
) -> DataFrame:
    """Global paragraph-level exact dedup (the Dolma-style pass between
    document-level dedup and quality filtering): every paragraph that
    already appeared earlier in the corpus — in ANY document — is
    removed; the first occurrence (lowest (doc id, position)) survives
    and documents are reassembled with their remaining paragraphs in
    original order.

    Spark shape: posexplode → one row per paragraph; global first
    occurrence via ``min(struct(id, pos))`` per paragraph value (an
    aggregation, not a window — partial aggregation runs map-side so
    the exchange carries one row per DISTINCT paragraph, not one per
    paragraph occurrence); survivors rebuild with
    ``array_sort(collect_list(struct(pos, para)))``. Two shuffles
    total (paragraph key + doc reassembly) regardless of corpus size.

    ``key`` picks what the first-occurrence exchange carries:
    ``"value"`` (default) keys on the paragraph string itself — exact
    semantics, the oracle-gated form; ``"hash"`` keys on
    ``md5(paragraph)`` so the aggregation exchange and the winner join
    carry a 32-char digest instead of arbitrarily long paragraph text —
    the 100 TB path (a boilerplate paragraph repeated 10⁹ times costs
    the same either way thanks to map-side combine, but DISTINCT
    paragraphs dominate a crawl and each one rides the wire once; md5
    keeps that ride at 32 bytes). Results are identical short of an
    md5 collision (~n²/2¹²⁹ for n distinct paragraphs — at 10¹²
    paragraphs the collision odds are ~10⁻¹⁵), parity-locked by
    ``tests/test_operators.py::test_paragraph_dedup_hash_key_parity``.

    Returns (id_col, text, n_paras_before, n_paras_after).

    >>> df = spark.createDataFrame(
    ...     [(1, "a\\n\\nb"), (2, "b\\n\\nc")], "doc_id long, text string")
    >>> rows = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    >>> rows[2]["text"]  # 'b' already appeared in doc 1
    'c'
    >>> (rows[2]["n_paras_before"], rows[2]["n_paras_after"])
    (2, 1)
    """
    if key not in ("value", "hash"):
        raise ValueError(f"key must be 'value' or 'hash', got {key!r}")
    paras = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__para"),
    )
    if key == "hash":
        paras = paras.withColumn("__k", F.md5(F.col("__para")))
        key_col = "__k"
    else:
        key_col = "__para"
    first = paras.select(key_col, "__id", "__pos").groupBy(key_col).agg(
        F.min(F.struct("__id", "__pos")).alias("__first")
    )
    kept = (
        paras.join(first, key_col)
        .filter(
            (F.col("__first.__id") == F.col("__id"))
            & (F.col("__first.__pos") == F.col("__pos"))
        )
    )
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_paras_after"),
    )
    before = paras.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_paras_before")
    )
    return (
        before.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_paras_before",
            F.coalesce(F.col("n_paras_after"), F.lit(0)).alias("n_paras_after"),
        )
    )


def _boilerplate_paras(df, id_col, text_col, sep):
    """(id, pos, para) exploded frame shared by the boilerplate
    operator and its ledger; NULL text counts as one empty paragraph
    (a NULL-text document must still get an output row)."""
    return df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("__pos", "__para"),
    )


def _boilerplate_threshold(
    freq, df, id_col, max_doc_frequency, max_doc_share
):
    """Apply the one threshold rule both entry points share: keep rows
    of ``freq`` (any frame with a ``doc_freq`` column) strictly OVER
    the absolute count, or over ``floor(share * distinct ids)``."""
    if (max_doc_frequency is None) == (max_doc_share is None):
        raise ValueError(
            "give exactly one of max_doc_frequency / max_doc_share"
        )
    if max_doc_frequency is not None:
        return freq.filter(F.col("doc_freq") > max_doc_frequency)
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n"))
    return freq.crossJoin(F.broadcast(n_docs)).filter(
        F.col("doc_freq")
        > F.floor(F.lit(float(max_doc_share)) * F.col("n"))
    ).drop("n")


def remove_boilerplate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    max_doc_frequency: "int | None" = None,
    max_doc_share: "float | None" = None,
    key: str = "value",
    include_counts: bool = True,
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet/RefinedWeb line
    filter): a paragraph that appears in MORE than ``max_doc_frequency``
    distinct documents (or more than ``max_doc_share`` of the corpus) is
    navigation/cookie-banner/licence boilerplate and is removed from
    EVERY document — unlike :func:`paragraph_dedup`, which keeps the
    first occurrence of each paragraph.

    Exactly one of ``max_doc_frequency`` / ``max_doc_share`` must be
    given; with ``max_doc_share`` the absolute threshold is
    ``floor(share * n_docs)`` over the input's distinct-id count.

    Spark shape: posexplode → per-paragraph distinct-document count
    (two-phase ``count_distinct`` — partial aggregation collapses a
    paragraph's repeats within a document map-side) → the OVER-threshold
    set is tiny by construction (at threshold K it has at most
    total_occurrences / K members), so survivors come from a LEFT ANTI
    join that AQE plans as a broadcast; reassembly is the same
    ``array_sort(collect_list(struct(pos, para)))`` as paragraph_dedup.
    ``key="hash"`` keys the frequency exchange and the anti join on
    ``md5(paragraph)`` — 32-byte wire rows at crawl scale (same
    collision odds as :func:`paragraph_dedup`; parity-locked by
    ``test_boilerplate_hash_key_parity``).

    Returns (id_col, text, n_paras_before, n_paras_after) — or just
    (id_col, text) with ``include_counts=False``, which also skips the
    bookkeeping aggregation over the exploded-paragraph frame (one
    fewer paragraph-volume exchange; the row set comes from ``df``'s
    ids instead — what the curation pipeline uses). Documents whose
    every paragraph was boilerplate come back with empty text, never
    dropped; NULL text counts as one empty paragraph. Ids are assumed
    unique (reset_index first otherwise): duplicate ids would merge
    their paragraphs into one rebuilt document.

    >>> df = spark.createDataFrame(
    ...     [(1, "FOOTER\\n\\na"), (2, "FOOTER\\n\\nb"), (3, "FOOTER\\n\\nc")],
    ...     "doc_id long, text string")
    >>> rows = {r["doc_id"]: r for r in
    ...         remove_boilerplate_paragraphs(df, max_doc_frequency=2).collect()}
    >>> rows[1]["text"], rows[1]["n_paras_before"], rows[1]["n_paras_after"]
    ('a', 2, 1)
    >>> rows[3]["text"]  # removed from every doc, not just later ones
    'c'
    """
    if key not in ("value", "hash"):
        raise ValueError(f"key must be 'value' or 'hash', got {key!r}")
    paras = _boilerplate_paras(df, id_col, text_col, sep)
    if key == "hash":
        # the hash path's over-threshold set IS the public ledger —
        # one shared expression tree, so the offline artifact a stream
        # strips against can never desynchronize from this operator
        paras = paras.withColumn("__k", F.md5(F.col("__para")))
        key_col = "__k"
        boiler = boilerplate_paragraph_hashes(
            df, id_col=id_col, text_col=text_col, sep=sep,
            max_doc_frequency=max_doc_frequency,
            max_doc_share=max_doc_share,
        ).select(F.col("para_md5").alias("__k"))
    else:
        key_col = "__para"
        freq = paras.groupBy(key_col).agg(
            F.count_distinct("__id").alias("doc_freq")
        )
        boiler = _boilerplate_threshold(
            freq, df, id_col, max_doc_frequency, max_doc_share
        ).select(key_col)
    kept = paras.join(boiler, key_col, "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_paras_after"),
    )
    if not include_counts:
        return (
            df.select(F.col(id_col).alias("__id"))
            .join(rebuilt.drop("n_paras_after"), "__id", "left")
            .select(
                F.col("__id").alias(id_col),
                F.coalesce(F.col("text"), F.lit("")).alias("text"),
            )
        )
    before = paras.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_paras_before")
    )
    return (
        before.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_paras_before",
            F.coalesce(F.col("n_paras_after"), F.lit(0)).alias("n_paras_after"),
        )
    )


def boilerplate_paragraph_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    max_doc_frequency: "int | None" = None,
    max_doc_share: "float | None" = None,
) -> DataFrame:
    """The boilerplate LEDGER: md5 + distinct-document frequency of
    every paragraph OVER the threshold (same thresholds as
    :func:`remove_boilerplate_paragraphs`). Returns (para_md5 string,
    doc_freq long) — bounded by total_occurrences / threshold, so it
    collects safely; feed it to
    ``streaming.documents.curate_document_stream`` as the FROZEN
    boilerplate set a long-running stream strips per batch (the
    streaming twin can't re-count corpus frequencies per micro-batch).

    >>> df = spark.createDataFrame(
    ...     [(1, "FOOT\\n\\na"), (2, "FOOT\\n\\nb"), (3, "FOOT")],
    ...     "doc_id long, text string")
    >>> rows = boilerplate_paragraph_hashes(df, max_doc_frequency=2).collect()
    >>> [(r["doc_freq"],) for r in rows]
    [(3,)]
    """
    freq = _boilerplate_paras(df, id_col, text_col, sep).groupBy(
        F.md5("__para").alias("para_md5")
    ).agg(F.count_distinct("__id").alias("doc_freq"))
    return _boilerplate_threshold(
        freq, df, id_col, max_doc_frequency, max_doc_share
    )


def with_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Shingle set + minhash signature columns ``mh_0..mh_{n-1}``.

    Shape: shingles once per doc (higher-order fn, interpreted) →
    explode → ``groupBy(doc).agg(min(hash_i))`` — the md5/conv hashing
    runs as codegen'd JVM expressions on the exploded rows, and each
    hash is computed exactly once per (shingle, seed). The shuffle is
    on (doc_id, shingle) pairs — tiny rows. The all-expression variant
    (``functions.text.minhash_signature``) avoids the shuffle but
    re-evaluates the interpreted shingle pipeline per hash column
    because CollapseProject inlines it — measured ~10× slower.
    """
    return df.join(
        _minhash_agg(df, id_col, text_col, k, num_hashes), id_col
    )


def _minhash_agg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, shingle set, mh_0..mh_{n-1}) — the signature table alone.

    ``hash_fn="md5"`` (default): the engine-portable 60-bit md5 hash —
    DuckDB replicates it exactly, which is what makes the minhash
    operators oracle-checkable. ``hash_fn="xxhash64"``: Spark's
    codegen'd seeded xxhash64 — cheaper per shingle (no hex string, no
    conv; measured ~12% end-to-end on a 500k-doc corpus, where the
    shingle HOF and bucket shuffle dominate rather than the hash);
    signatures differ from the md5 form (different hash family, same
    minhash guarantees), and downstream exact-Jaccard verification
    keeps emitted pairs exact either way."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    sh = _widen(df).select(
        F.col(id_col),
        F.explode(TX.word_shingles(F.col(text_col), k=k)).alias("__shingle"),
    )
    if hash_fn == "xxhash64":
        hashes = [
            F.min(F.xxhash64(F.lit(i), F.col("__shingle"))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    else:
        hashes = [
            F.min(TX.md5_long(F.col("__shingle"), i)).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy(id_col).agg(
        F.collect_set("__shingle").alias("__shingles"),
        *hashes,
    )


def _band_rows(
    sig: DataFrame,
    bands: int,
    rows_per_band: int,
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """(__id, [carry...], band, band_key) rows from a signature frame —
    all band keys in ONE projection + explode (a per-band union would
    re-read the signature frame once per leg and quadruple the plan):
    each row fans out to (band, md5(band's signature slice)). ``carry``
    columns ride the explode so callers don't need a join back to the
    signature frame to recover per-row flags."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"mh_{i}").cast("string")
                            for i in range(
                                b * rows_per_band, (b + 1) * rows_per_band
                            )
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "__id", *carry, F.explode(band_structs).alias("__b")
    ).select(
        "__id",
        *carry,
        F.col("__b.band").alias("band"),
        F.col("__b.band_key").alias("band_key"),
    )


def _check_oversize(oversize: str, max_bucket_size: "int | None") -> None:
    """Eager validation of the hot-bucket knobs at every public entry
    (the knobs-set-together convention of ``require_classifier_knobs``
    / ``_check_index_params``): a typo'd mode or a star request with
    no cap must fail at call time, not silently run uncapped."""
    if oversize not in ("skip", "star"):
        raise ValueError(
            f"oversize must be 'skip' or 'star', got {oversize!r}"
        )
    if oversize != "skip" and max_bucket_size is None:
        raise ValueError(
            "oversize='star' requires max_bucket_size — star mode is a "
            "treatment for buckets OVER the cap; without a cap there is "
            "nothing to star"
        )


def _cap_bucket_rows(
    rows: DataFrame,
    key_cols: "tuple[str, ...]",
    max_bucket_size: int,
    has_new_col: "str | None" = None,
    oversize: str = "skip",
) -> "tuple[DataFrame, DataFrame, DataFrame | None]":
    """Split bucket-member rows into (kept, dropped, star) around a
    hot-bucket cap — the ``max_bucket_size`` guard of every LSH miner.
    Per-bucket candidate fan-out is quadratic in bucket size, so ONE
    bucket holding a 10⁶-member boilerplate family (or a mass-duplicated
    embedding, one bucket per table) is 10¹² pairs and a multi-MB
    ``collect_list`` row; in an incremental index such a bucket grows
    with corpus age, not batch size. Bucket sizes come from a window
    count over the SAME keys the downstream ``groupBy`` clusters on, so
    the filter costs no extra exchange AND — the point — an oversized
    bucket is cut BEFORE its ``collect_list`` row ever materializes.

    ``kept`` is the member rows of buckets with 2..max size (singleton
    buckets pair with nothing — pre-cut here too). ``dropped`` is one
    row per oversized bucket ``(*key_cols, bucket_size)`` — the
    no-silent-caps ledger the miners return with
    ``return_dropped=True`` (count it, log it, or feed the member docs
    to :func:`exact_duplicates`: near-identical mega families are best
    pre-collapsed by exact fingerprint before shingling); when
    ``has_new_col`` names a boolean member flag, only oversized buckets
    that CONTAIN a flagged member are reported (an all-old oversized
    bucket forfeits no pair in the incremental miner).

    ``oversize`` decides what an oversized bucket FORFEITS:

    - ``"skip"`` (default): all of its pairs — ledger-only. The
      byte-identical legacy mode every gate query runs.
    - ``"star"``: emit ``(min_id, member)`` candidate pairs — one per
      member, O(bucket) not O(bucket²) — as the third return frame
      (columns ``id_a < id_b``). :func:`_bucket_pairs` unions them into
      the candidate set, so the exact verify stage prices them and
      connected components then collapses a verified mega-family into
      ONE cluster even with the cap active — the crawl-dedup behavior
      a boilerplate family needs. The hub min-id comes from a window
      min over the same keys (no extra exchange). With ``has_new_col``,
      only pairs with a new side are emitted (old×old hub pairs were
      mined when those members were new). A ledger row then means
      "quadratic fan-out withheld", not "no pairs emitted".

    ``star`` is ``None`` when ``oversize="skip"`` (validation happens
    in :func:`_check_oversize` at the public entries)."""
    w = Window.partitionBy(*key_cols)
    sized = rows.withColumn("__bsz", F.count(F.lit(1)).over(w))
    if has_new_col is not None:
        sized = sized.withColumn(
            "__bnew", F.max(F.col(has_new_col).cast("int")).over(w)
        )
    kept = sized.filter(
        (F.col("__bsz") > 1) & (F.col("__bsz") <= max_bucket_size)
    ).drop("__bsz", *(["__bnew"] if has_new_col is not None else []))
    over = sized.filter(F.col("__bsz") > max_bucket_size)
    if has_new_col is not None:
        over = over.filter(F.col("__bnew") == 1)
    dropped = over.select(
        *key_cols, F.col("__bsz").alias("bucket_size")
    ).distinct()
    star = None
    if oversize == "star":
        # hub = the bucket's min id (min over a struct so the hub's
        # new-flag rides along); `over` kept ALL rows of qualifying
        # buckets (both filters are bucket-level), so the window min
        # is the true bucket minimum — and the window spec matches the
        # sizing window, so no extra exchange is introduced
        hub_fields = [F.col("__id")] + (
            [F.col(has_new_col).cast("int").alias("__hn")]
            if has_new_col is not None
            else []
        )
        starred = over.withColumn("__hub", F.min(F.struct(*hub_fields)).over(w))
        starred = starred.filter(F.col("__id") != F.col("__hub.__id"))
        if has_new_col is not None:
            starred = starred.filter(
                F.col(has_new_col) | (F.col("__hub.__hn") == 1)
            )
        # hub is the bucket min, so id_a < id_b holds by construction
        star = starred.select(
            F.col("__hub.__id").alias("id_a"), F.col("__id").alias("id_b")
        )
    return kept, dropped, star


def _bucket_pairs(
    rows: DataFrame,
    key_cols: "tuple[str, ...]",
    max_bucket_size: "int | None",
    oversize: str,
    new_col: "str | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """Bucket-member rows ``(__id, *key_cols[, new_col])`` → (distinct
    candidate pairs ``id_a < id_b``, over-cap-bucket ledger) — the
    candidate stage of every LSH miner.

    ONE ``groupBy`` on the bucket key collects each bucket's ids and a
    narrow JVM-side double-explode fans them out into pairs: a
    self-join on the key would re-walk the signature subtree once per
    leg (exchange reuse does not cover map-side Python stages). With
    ``max_bucket_size`` the rows pass :func:`_cap_bucket_rows` first and
    its star pairs join the candidates; without a cap the ledger is the
    empty ``(*key_cols, bucket_size)`` frame, typed from ``rows`` (its
    ``limit(0)`` plan folds to an empty local relation, so reading it
    never runs the signature pass).

    ``new_col`` names a boolean member flag (rows of a new batch mined
    against an index): only buckets with a flagged member fan out — the
    all-old ones are dropped before the explode — and only pairs with a
    flagged side are kept; old×old pairs were mined when those rows
    were new."""
    if max_bucket_size is None:
        star = None
        dropped = rows.select(
            *key_cols, F.lit(0).cast("long").alias("bucket_size")
        ).limit(0)
    else:
        rows, dropped, star = _cap_bucket_rows(
            rows, key_cols, max_bucket_size,
            has_new_col=new_col, oversize=oversize,
        )
    member, flags, keep = F.col("__id"), [], F.size("__m") > 1
    if new_col is not None:
        member = F.struct("__id", new_col)
        flags = [F.max(F.col(new_col).cast("int")).alias("__has_new")]
        keep = keep & (F.col("__has_new") == 1)
    buckets = (
        rows.groupBy(*key_cols)
        .agg(F.collect_list(member).alias("__m"), *flags)
        .filter(keep)
    )

    # the exploded sides are the pair ids themselves, or member structs
    a, b = ("id_a", "id_b") if new_col is None else ("a", "b")
    fan = buckets.select(F.explode("__m").alias(a), "__m").select(
        a, F.explode("__m").alias(b)
    )
    if new_col is None:
        candidates = fan.filter(F.col("id_a") < F.col("id_b"))
    else:
        candidates = (
            fan.filter(F.col("a.__id") < F.col("b.__id"))
            .filter(F.col(f"a.{new_col}") | F.col(f"b.{new_col}"))
            .select(
                F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
            )
        )
    if star is not None:
        candidates = candidates.unionByName(star)
    # a pair may share several buckets (bands / tables)
    return candidates.distinct(), dropped


def _verify_pairs(
    candidates: DataFrame,
    payload: DataFrame,
    score,
    threshold: float,
    score_name: str,
) -> DataFrame:
    """Exact verification of candidate pairs — the last stage of every
    near-dup miner: fetch both sides' ``__p`` from the ``(__id, __p)``
    payload frame by id (two joins that ship only candidate ids'
    payloads), score them with ``score(pa, pb) -> Column`` and keep
    ``(id_a, id_b, score_name)`` rows scoring ``>= threshold``."""
    pa = payload.select(F.col("__id").alias("id_a"), F.col("__p").alias("__pa"))
    pb = payload.select(F.col("__id").alias("id_b"), F.col("__p").alias("__pb"))
    return (
        candidates.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn(score_name, score(F.col("__pa"), F.col("__pb")))
        .filter(F.col(score_name) >= threshold)
        .select("id_a", "id_b", score_name)
    )


def _jaccard(a, b):
    """Exact set Jaccard of two shingle-set array columns."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(
        F.array_union(a, b)
    )


def _vec_payload(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The ``(__id, __p)`` verify payload of a vector frame."""
    return df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__p"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "md5",
    max_bucket_size: "int | None" = None,
    return_dropped: bool = False,
    oversize: str = "skip",
) -> "DataFrame | tuple[DataFrame, DataFrame]":
    """MinHash-LSH candidate generation + exact Jaccard verification.

    Plan: signatures (narrow) → unpivot band keys (narrow) → ONE
    groupBy on (band, band_key) collecting each bucket's ids — the
    only candidate shuffle, over tiny rows — → narrow double-explode
    into distinct candidate pairs → verify with exact shingle Jaccard
    (join on doc ids to fetch shingles). Returns pairs (id_a < id_b)
    with their exact jaccard ≥ threshold.

    ``hash_fn``: ``"md5"`` (default, engine-portable / oracle-checkable)
    or ``"xxhash64"`` (codegen'd, the at-scale choice — see
    :func:`_minhash_agg`). Emitted pairs are exact-verified either way;
    only candidate recall depends on the hash family, identically in
    distribution.

    ``max_bucket_size`` / ``return_dropped`` / ``oversize``: the
    hot-bucket guard — buckets over the cap are skipped (or, with
    ``oversize="star"``, reduced to hub pairs) before their collect,
    and ``return_dropped=True`` also returns the ``(band, band_key,
    bucket_size)`` ledger, empty when uncapped; see
    :func:`_cap_bucket_rows`.

    Runs eagerly: the shingle+minhash signature pass runs a
    distributed job AT CALL TIME (the signature frame is materialized
    once because three legs of the pairs plan consume it; the session
    picks the strategy, see ``operators/_materialize.py``). Callers
    that only wanted a lazy plan (explain, conditional pipelines) pay
    the full pass up front.
    """
    _check_oversize(oversize, max_bucket_size)
    rows_per_band = num_hashes // bands
    sig = _minhash_agg(
        df, id_col, text_col, k, num_hashes, hash_fn=hash_fn
    ).withColumnRenamed(id_col, "__id")
    # materialize once: the band explode and BOTH verify legs read
    # this subtree inside one action, which would otherwise re-run the
    # dominant minhash pass per leg
    sig = materialize(sig, eager=True)
    candidates, dropped = _bucket_pairs(
        _band_rows(sig, bands, rows_per_band), ("band", "band_key"),
        max_bucket_size, oversize,
    )
    verified = _verify_pairs(
        candidates, sig.select("__id", F.col("__shingles").alias("__p")),
        _jaccard, jaccard_threshold, "jaccard",
    )
    if return_dropped:
        return verified, dropped
    return verified


def build_minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """The persistable near-dup INDEX of a corpus: one row per document
    with its shingle set and minhash signature (``doc_id, __shingles,
    mh_0..mh_{n-1}``) — everything :func:`minhash_lsh_pairs_incremental`
    needs to match future batches against this corpus WITHOUT
    re-reading or re-shingling its text. Write it to parquet next to
    the corpus; it is ~(distinct shingles + n longs) per doc.

    An incremental corpus build is then a fold: per crawl drop, mine
    new-vs-(index ∪ new) pairs, act on them, and append the drop's
    index rows (the frame this returns for the new batch alone) to the
    stored index. Parameters (k, num_hashes, hash_fn) must match
    across batches — band keys are derived from the signatures, so
    ``bands`` may vary per query.

    The build parameters are STAMPED into the index as column metadata
    on ``__id`` (StructField metadata rides the Spark schema in every
    parquet footer, costs zero rows and zero jobs to read back) —
    :func:`minhash_lsh_pairs_incremental` fails loud on a mismatch, so
    a stream resumed with different (k, num_hashes, hash_fn) cannot
    silently mix incompatible signatures into one durable index.
    Pre-round-8 indexes carry no stamp and are accepted as-is."""
    out = _minhash_agg(
        df, id_col, text_col, k, num_hashes, hash_fn=hash_fn
    ).withColumnRenamed(id_col, "__id")
    return out.withColumn(
        "__id",
        F.col("__id").alias(
            "__id",
            metadata={
                "lours.minhash.k": k,
                "lours.minhash.num_hashes": num_hashes,
                "lours.minhash.hash_fn": hash_fn,
            },
        ),
    )


def _check_index_params(
    index: DataFrame, k: int, num_hashes: int, hash_fn: str
) -> None:
    """Fail loud when a stamped index disagrees with the mining call's
    parameters (see :func:`build_minhash_index`); unstamped (legacy)
    indexes pass. Pure schema inspection — no Spark job."""
    try:
        meta = dict(index.schema["__id"].metadata or {})
    except KeyError:
        return
    if "lours.minhash.k" not in meta:
        return
    stamped = (
        meta.get("lours.minhash.k"),
        meta.get("lours.minhash.num_hashes"),
        meta.get("lours.minhash.hash_fn"),
    )
    if stamped != (k, num_hashes, hash_fn):
        raise ValueError(
            f"minhash index was built with (k, num_hashes, hash_fn)="
            f"{stamped} but this call uses ({k}, {num_hashes}, "
            f"{hash_fn!r}) — signatures from different parameter sets "
            f"cannot be mixed; re-mine with the index's parameters or "
            f"rebuild the index."
        )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "md5",
    max_bucket_size: "int | None" = None,
    return_dropped: bool = False,
    oversize: str = "skip",
) -> "tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]":
    """Incremental MinHash-LSH near-dup mining: pairs between a NEW
    document batch and an indexed corpus (plus new×new), without ever
    re-mining old×old pairs or touching old text.

    Returns ``(pairs, new_index_rows)``: ``pairs`` is exactly
    ``minhash_lsh_pairs(old ∪ new)`` RESTRICTED to pairs with at least
    one new side (same signatures → same band collisions → same
    verified jaccard; parity-tested), and ``new_index_rows`` is the
    new batch's index frame to append to the stored index for the next
    batch.

    ``max_bucket_size`` / ``return_dropped`` / ``oversize``: the
    hot-bucket guard of :func:`minhash_lsh_pairs`, new-sided (only
    buckets with a new member are reported or starred); with
    ``return_dropped=True`` the ``(band, band_key, bucket_size)``
    ledger is a third return frame; see :func:`_cap_bucket_rows`.

    Scale shape: the new batch is shingled once (the only text work);
    the index contributes a NARROW projection (id + n signature longs
    → band keys, no shingle explode). Candidates come from ONE
    groupBy over the unioned band rows — buckets whose members are all
    old are dropped before the pair fan-out, so steady-state cost per
    batch is ~|new| × bucket-mates, not |corpus|². Exact-jaccard
    verification fetches shingle sets by id from the index/new frames
    (a join that ships only candidate ids' shingles).

    ``new_docs`` ids must be disjoint from the index's (enforce
    upstream; an id on both sides would self-pair at jaccard 1.0).

    Materialization: the returned ``new_index_rows`` frame is
    materialized here (the session picks the strategy:
    ``operators/_materialize.py``) — the pairs plan reads it on THREE
    legs (band explode + both shingle-fetch sides) and the caller's
    index append reads it again, so the batch's shingle+minhash pass
    runs once, eagerly, at call time. A caller ``unpersist()`` frees
    it on a cluster and is a no-op in local mode.
    """
    _check_oversize(oversize, max_bucket_size)
    rows_per_band = num_hashes // bands
    _check_index_params(index, k, num_hashes, hash_fn)
    new_sig = build_minhash_index(
        new_docs, id_col, text_col, k, num_hashes, hash_fn=hash_fn
    )
    new_sig = materialize(new_sig, eager=True)
    sig = index.withColumn("__new", F.lit(False)).unionByName(
        new_sig.withColumn("__new", F.lit(True))
    )
    # the __new flag rides the band explode — a join back to sig would
    # re-scan the parquet index side a second time just to re-attach it
    candidates, dropped = _bucket_pairs(
        _band_rows(sig, bands, rows_per_band, carry=("__new",)),
        ("band", "band_key"), max_bucket_size, oversize, new_col="__new",
    )
    pairs = _verify_pairs(
        candidates, sig.select("__id", F.col("__shingles").alias("__p")),
        _jaccard, jaccard_threshold, "jaccard",
    )
    if return_dropped:
        return pairs, new_sig, dropped
    return pairs, new_sig


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
    max_doc_freq: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via a shingle inverted index:
    explode distinct shingles, equi-join on shingle, count intersections,
    Jaccard = |∩| / (|A|+|B|−|∩|). The equi-join shuffles on the shingle
    key; stopword shingles create skew — AQE skew-join handles moderate
    cases, and ``max_doc_freq`` (fraction of the corpus, e.g. 0.2)
    drops shingles above that document frequency from the INDEX side
    before the self-join, the standard prefix-filter knob at data-lake
    scale. Pruning index shingles makes the measured intersection an
    UNDER-count, so pairs can only be missed, never invented — leave
    it None (default) when exact results are required (the oracle-gated
    setting)."""
    # ONE walk of the (interpreted, expensive) shingle HOF: the set
    # size rides along each exploded row, per-shingle doc lists come
    # from a single groupBy, and pair counting is a narrow
    # double-explode — the former self-join + two size joins walked
    # the shingle expression four times (no exchange reuse) and cost
    # three extra shuffles
    exploded = _widen(df).select(
        F.col(id_col).alias("__id"),
        TX.word_shingles(F.col(text_col), k=k).alias("__sh"),
    ).select(
        "__id",
        F.size("__sh").alias("__n"),  # shingles are distinct per doc
        F.explode("__sh").alias("shingle"),
    )
    if max_doc_freq is not None:
        n_docs = df.count()
        cap = int(max_doc_freq * n_docs)
        common_shingles = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > cap)
            .select("shingle")
        )
        exploded = exploded.join(
            F.broadcast(common_shingles), "shingle", "left_anti"
        )
    buckets = (
        exploded.groupBy("shingle")
        .agg(F.collect_list(F.struct("__id", "__n")).alias("__docs"))
        .filter(F.size("__docs") > 1)
    )
    pairs = (
        buckets.select(F.explode("__docs").alias("a"), "__docs")
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("a.__n").alias("n_a"),
            F.explode("__docs").alias("b"),
        )
        .filter(F.col("id_a") < F.col("b.__id"))
        .select(
            "id_a", "n_a",
            F.col("b.__id").alias("id_b"),
            F.col("b.__n").alias("n_b"),
        )
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_members: "int | None" = None,
) -> DataFrame:
    """Documents sharing an identical simhash value — groupBy on the
    packed hash (one shuffle on a long). Hamming-distance-1 variants can
    union ``bits`` rotated copies before the groupBy.

    ``max_members`` bounds the ``doc_ids`` array: on crawl-shaped data a
    boilerplate family collapses onto ONE simhash value, and an
    unbounded ``collect_list`` materializes a multi-MB aggregation row
    (the same hot-bucket hazard the LSH miners cap). With a cap, each
    group keeps its ``max_members`` smallest ids (a row_number over the
    SAME simhash key the groupBy clusters on — no extra exchange) while
    ``group_size`` and ``keep_id`` stay exact, so nothing is silent:
    ``group_size > size(doc_ids)`` marks a truncated group.
    """
    h = df.select(
        F.col(id_col), TX.simhash(TX.tokens(F.col(text_col)), bits=bits).alias("simhash")
    )
    member = F.col(id_col)
    if max_members is not None:
        w = Window.partitionBy("simhash").orderBy(id_col)
        h = h.withColumn("__rn", F.row_number().over(w))
        # collect_list drops NULLs -> the array holds only ranks <= cap
        member = F.when(F.col("__rn") <= max_members, F.col(id_col))
    return (
        h.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min(id_col).alias("keep_id"),
            F.array_sort(F.collect_list(member)).alias("doc_ids"),
        )
        .filter(F.col("group_size") > 1)
        .select("simhash", "group_size", "keep_id", "doc_ids")
    )


def _lsh_sizing(
    df, threshold, num_tables, planes_per_table, target_recall
):
    """Shared sign-LSH auto-sizing (one-shot AND index paths):
    ``planes_per_table=None`` → ``max(12, ⌈log2(n)⌉ + 4)`` from one
    count() (a fixed r is a scale cliff — see
    :func:`embedding_near_duplicates`); ``num_tables=None`` → the L
    that ``target_recall`` implies at the threshold angle, clamped to
    [4, 64] with a loud warning at saturation."""
    import math

    auto_r = planes_per_table is None
    if auto_r:
        n = df.count()
        planes_per_table = max(12, math.ceil(math.log2(max(n, 2))) + 4)
    if num_tables is None:
        p = 1.0 - math.acos(max(min(threshold, 0.9999), -1.0)) / math.pi
        pr = p ** planes_per_table
        needed = (
            1
            if pr >= 1.0
            else math.ceil(math.log(1 - target_recall) / math.log(1 - pr))
        )
        num_tables = max(4, min(64, needed))
        if needed > 64:
            # auto-r grows with the corpus, so the table count the
            # recall target implies can silently saturate the L≤64
            # clamp — say so instead of under-delivering recall
            # without a signal
            import warnings

            warnings.warn(
                f"embedding sign-LSH: target_recall={target_recall} "
                f"at threshold={threshold} with "
                f"{'auto-sized' if auto_r else ''} planes_per_table="
                f"{planes_per_table} needs {needed} tables; clamped "
                f"to 64, boundary-pair recall ≈ "
                f"{1 - (1 - pr) ** 64:.6f}. Pass num_tables "
                f"explicitly to lift the clamp, or a smaller "
                f"planes_per_table to need fewer tables.",
                # user frame: user -> public operator -> _lsh_sizing
                stacklevel=3,
            )
    return num_tables, planes_per_table


def _sign_planes(dim: int, L: int, r: int, seed):
    """The ONE plane family of every sign-LSH path (one-shot AND
    index builds share this — the incremental parity contract is
    'byte-identical collisions', which holds only while both paths
    hash with literally the same matrix)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, L * r))


def _sign_sig_matrix(M, planes, L: int, r: int):
    """(n, L) int64 signature matrix: r sign bits per table, packed
    little-endian — shared by the one-shot and index signature
    kernels."""
    import numpy as np

    weights = (1 << np.arange(r)).astype(np.int64)
    S = (M @ planes) >= 0
    return (S.reshape(len(M), L, r).astype(np.int64) * weights).sum(axis=2)


def build_embedding_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_tables: "int | None" = None,
    planes_per_table: "int | None" = None,
    target_recall: float = 0.9999,
    seed: int = 7,
) -> DataFrame:
    """The persistable embedding near-dup INDEX: one row per vector
    with its raw embedding and all ``num_tables`` sign-LSH signatures
    (``__id, __vec, __sigs``) — everything
    :func:`embedding_near_dup_pairs_incremental` needs to match future
    crawl drops against this corpus WITHOUT re-reading or re-hashing
    its vectors. The embedding twin of :func:`build_minhash_index`:
    write it to parquet next to the corpus; incremental builds fold
    new drops in by appending the new batch's rows.

    Signatures come from the one-shot operator's exact plane family
    (``rng(seed)`` standard normals, sizing via the shared
    ``_lsh_sizing`` — auto-r from this frame's count when
    ``planes_per_table`` is None), so incremental mining against the
    index produces byte-identical collisions to a one-shot run. The
    resolved build parameters are STAMPED into the schema (column
    metadata on ``__id``, zero-cost check in every parquet footer) and
    the incremental miner fails loud on mismatch.

    ``__vec`` keeps the INPUT column's exact element type (float or
    double) — a downcast here would make the incremental verify
    cosines diverge from the one-shot path on double corpora and
    silently drop boundary pairs.
    """
    import numpy as np
    import pandas as pd

    L, r = _lsh_sizing(
        df, threshold, num_tables, planes_per_table, target_recall
    )

    def signatures(batches):
        planes = None
        for batch in batches:
            if len(batch) == 0:
                continue
            M = np.stack(batch[vec_col].to_numpy()).astype("float64")
            if planes is None:
                planes = _sign_planes(M.shape[1], L, r, seed)
            sigs = _sign_sig_matrix(M, planes, L, r)
            yield pd.DataFrame(
                {
                    "__id": batch[id_col].to_numpy(),
                    "__vec": batch[vec_col],
                    "__sigs": list(sigs),
                }
            )

    vec_type = df.schema[vec_col].dataType.simpleString()
    out = df.select(id_col, vec_col).mapInPandas(
        signatures, f"__id long, __vec {vec_type}, __sigs array<long>"
    )
    return out.withColumn(
        "__id",
        F.col("__id").alias(
            "__id",
            metadata={
                "lours.emb.num_tables": L,
                "lours.emb.planes_per_table": r,
                "lours.emb.seed": seed,
            },
        ),
    )


def _emb_index_meta(index: DataFrame) -> dict:
    """The lours.emb.* stamp of an embedding index frame (empty dict
    when absent). Pure schema inspection — no Spark job."""
    try:
        return dict(index.schema["__id"].metadata or {})
    except KeyError:
        return {}


def _check_emb_index_params(index: DataFrame, L: int, r: int, seed) -> None:
    """Fail loud when an embedding index disagrees with the mining
    call's resolved parameters — INCLUDING a missing stamp: unlike the
    minhash index (where pre-round-8 artifacts legitimately carry no
    stamp), every embedding index ever built is stamped, so a missing
    stamp means the metadata was stripped (a schema-merging read, a
    rebuilt frame, a non-Spark writer) and the plane family can no
    longer be trusted to match."""
    meta = _emb_index_meta(index)
    if "lours.emb.num_tables" not in meta:
        raise ValueError(
            "embedding index carries no build-parameter stamp "
            "(expected lours.emb.* column metadata on __id — present "
            "in every build_embedding_index output and preserved by "
            "parquet round-trips). A stripped stamp means the plane "
            "family cannot be verified; rebuild the index or restore "
            "the original schema."
        )
    stamped = (
        meta.get("lours.emb.num_tables"),
        meta.get("lours.emb.planes_per_table"),
        meta.get("lours.emb.seed"),
    )
    if stamped != (L, r, seed):
        raise ValueError(
            f"embedding index was built with (num_tables, "
            f"planes_per_table, seed)={stamped} but this call resolves "
            f"to ({L}, {r}, {seed}) — signatures from different plane "
            f"families cannot be mixed; pass the index's parameters "
            f"explicitly or rebuild the index."
        )


def embedding_near_dup_pairs_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_tables: "int | None" = None,
    planes_per_table: "int | None" = None,
    target_recall: float = 0.9999,
    seed: int = 7,
    max_bucket_size: "int | None" = None,
    return_dropped: bool = False,
    oversize: str = "skip",
) -> "tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]":
    """Incremental embedding near-dup mining: cosine ≥ ``threshold``
    pairs between a NEW vector batch and an indexed corpus (plus
    new×new), without re-hashing old vectors or re-mining old×old
    pairs — the embedding twin of
    :func:`minhash_lsh_pairs_incremental`, sharing its contract:
    returns ``(pairs, new_index_rows)`` where ``pairs`` equals the
    one-shot ``embedding_near_duplicates(old ∪ new, method="lsh")``
    RESTRICTED to pairs with at least one new side (same seeded plane
    family → same sign collisions; parity-tested), and
    ``new_index_rows`` is the new batch's index frame to append.

    When ``planes_per_table``/``num_tables`` are None they resolve
    FROM the index's stamp (auto-sizing on the new batch alone would
    drift r as batches vary in size — the stamp is the source of
    truth); an index without a stamp fails loud (see
    :func:`_check_emb_index_params`).

    Scale shape: the new batch is hashed once (one Arrow BLAS pass —
    the only vector math); the index contributes its PRE-COMPUTED
    signature arrays (a narrow projection — vectors stay columnar
    until the verify join ships only candidate ids' vectors). Buckets
    whose members are all old are dropped BEFORE the pair fan-out, so
    steady-state cost per batch is ~|new| × bucket-mates, not
    |corpus|². ``max_bucket_size`` / ``return_dropped`` / ``oversize``:
    the new-sided hot-bucket guard of
    :func:`minhash_lsh_pairs_incremental` over ``(table, sig)``
    buckets, ledger ``(table, sig, bucket_size)``; see
    :func:`_cap_bucket_rows`.

    ``new_docs`` ids must be disjoint from the index's (enforce
    upstream; an id on both sides would self-pair at cosine 1.0).

    Materialization: the returned ``new_index_rows`` frame is
    materialized here, as in :func:`minhash_lsh_pairs_incremental` —
    the pairs plan reads it on several legs and the caller's index
    append reads it again, so the batch's Arrow hashing pass runs
    once, eagerly, at call time.
    """
    _check_oversize(oversize, max_bucket_size)
    meta = _emb_index_meta(index)
    if "lours.emb.num_tables" in meta:
        if num_tables is None:
            num_tables = meta["lours.emb.num_tables"]
        if planes_per_table is None:
            planes_per_table = meta["lours.emb.planes_per_table"]
    L, r = _lsh_sizing(
        new_docs, threshold, num_tables, planes_per_table, target_recall
    )
    _check_emb_index_params(index, L, r, seed)
    new_idx = build_embedding_index(
        new_docs, id_col=id_col, vec_col=vec_col, threshold=threshold,
        num_tables=L, planes_per_table=r, seed=seed,
    )
    new_idx = materialize(new_idx, eager=True)
    both = index.withColumn("__new", F.lit(False)).unionByName(
        new_idx.withColumn("__new", F.lit(True))
    )
    sig_rows = both.select(
        "__id",
        "__new",
        F.posexplode("__sigs").alias("table", "sig"),
    )
    candidates, dropped = _bucket_pairs(
        sig_rows, ("table", "sig"), max_bucket_size, oversize,
        new_col="__new",
    )
    pairs = _verify_pairs(
        candidates, both.select("__id", F.col("__vec").alias("__p")),
        V.cosine_similarity_arrow(), threshold, "cosine",
    )
    if return_dropped:
        return pairs, new_idx, dropped
    return pairs, new_idx


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "lsh",
    num_tables: int | None = None,
    planes_per_table: int | None = None,
    target_recall: float = 0.9999,
    num_centroids: int | None = None,
    num_probes: int = 3,
    seed: int = 7,
    max_bucket_size: "int | None" = None,
    return_dropped: bool = False,
    oversize: str = "skip",
) -> "DataFrame | tuple[DataFrame, DataFrame]":
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    ``max_bucket_size`` / ``return_dropped`` / ``oversize``
    (``method="lsh"`` only — a cap on the other methods raises): the
    hot-bucket guard of :func:`minhash_lsh_pairs` over the ``(table,
    sig)`` sign-LSH buckets, ledger ``(table, sig, bucket_size)``; see
    :func:`_cap_bucket_rows`.

    ``method="lsh"`` (default — the 100 TB path): banded
    random-hyperplane sign LSH. Each vector gets ``num_tables``
    signatures of ``planes_per_table`` sign bits (one Arrow-batched
    BLAS pass, planes derived from ``seed``); vectors colliding in ANY
    table become candidate pairs via a bucket groupBy (shuffle on
    (table, signature) only — never all-pairs, no driver collect, no
    corpus broadcast). Candidates are then re-verified with the exact
    sequential-order cosine expression, so every emitted pair truly
    passes ``threshold`` (no false positives; recall < 1 is the only
    approximation). Recall for a pair exactly AT the threshold angle θ
    is 1 − (1 − p^r)^L with p = 1 − θ/π; when ``num_tables`` is None,
    L is solved from ``target_recall`` (clamped to [4, 64] — low
    thresholds can saturate the clamp; raise ``num_tables`` or lower
    ``planes_per_table`` explicitly there). Larger ``planes_per_table``
    shrinks buckets (candidate volume ~ L·n²·2^−r for unrelated
    vectors) at the cost of more tables for the same recall.

    ``planes_per_table=None`` (default) AUTO-SIZES r to the corpus:
    ``max(12, ⌈log2(n)⌉ + 4)`` from one ``count()`` (parquet-footer
    cheap). A fixed r is a scale cliff: r=12 means 4096 buckets per
    table, so once n ≫ 2^12 the verify stage goes quadratic — measured
    266 s for 200k vectors where the auto size runs in seconds. Auto-r
    keeps expected unrelated-pair candidates ~L·n/16 (linear in n);
    pass an explicit r to pin the round-5/6 behavior or to skip the
    count when the caller already knows the corpus size.

    ``method="ivf"`` (the 100 TB path for LOW thresholds): sign-LSH
    collision probability per table is (1 − θ/π)^r, which collapses for
    wide angles — at threshold 0.6 even r=8 needs hundreds of tables
    for high recall. IVF sidesteps the angle: k-means inverted lists
    with multi-probe assignment (each vector fans out to its
    ``num_probes`` nearest centroids via one broadcast-BLAS pass — no
    assignment shuffle), candidates = pairs sharing a probed centroid,
    then the same exact-cosine verify. Candidate volume per centroid
    list is (n·probes/k)² — pick ``num_centroids`` ~ √n to bound it.

    ``method="broadcast_exact"`` (opt-in, small corpora): exact
    all-pairs via ONE broadcast of the normalized corpus matrix and a
    per-partition BLAS matmul. O(n·dim) driver+executor memory — OOMs
    at data-lake scale, which is why it is not the default.
    """
    import numpy as np
    import pandas as pd

    _check_oversize(oversize, max_bucket_size)
    if method == "lsh":
        num_tables, planes_per_table = _lsh_sizing(
            df, threshold, num_tables, planes_per_table, target_recall
        )
        return _embedding_near_dup_lsh(
            df, id_col, vec_col, threshold, num_tables, planes_per_table,
            seed, max_bucket_size=max_bucket_size,
            return_dropped=return_dropped, oversize=oversize,
        )
    if max_bucket_size is not None or return_dropped:
        raise ValueError(
            "max_bucket_size/return_dropped apply to method='lsh' only "
            "(ivf bounds candidate volume via num_centroids)"
        )
    if method == "ivf":
        return _embedding_near_dup_ivf(
            df, id_col, vec_col, threshold,
            num_centroids=num_centroids, num_probes=num_probes, seed=seed,
        )
    if method != "broadcast_exact":
        raise ValueError(f"unknown method {method!r}")

    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    M = np.stack(pdf[vec_col].to_numpy()).astype("float64")
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    U = M / norms[:, None]
    bc = df.sparkSession.sparkContext.broadcast((ids, U))
    margin = threshold - 1e-6

    def block(batches):
        all_ids, all_u = bc.value
        for batch in batches:
            B = np.stack(batch[vec_col].to_numpy()).astype("float64")
            bn = np.linalg.norm(B, axis=1)
            bn[bn == 0] = 1.0
            S = (B / bn[:, None]) @ all_u.T
            out_a, out_b = [], []
            for i, ida in enumerate(batch[id_col].to_numpy()):
                mask = (S[i] >= margin) & (all_ids > ida)
                if mask.any():
                    bs = all_ids[mask]
                    out_a.extend([ida] * len(bs))
                    out_b.extend(bs.tolist())
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    candidates = df.select(id_col, vec_col).mapInPandas(
        block, "id_a long, id_b long"
    )
    return _verify_pairs(
        candidates, _vec_payload(df, id_col, vec_col),
        V.cosine_similarity_arrow(), threshold, "cosine",
    )



def _embedding_near_dup_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_centroids: int | None = None,
    num_probes: int = 3,
    seed: int = 7,
) -> DataFrame:
    """IVF candidate generation + exact cosine verify (see
    :func:`embedding_near_duplicates`). K-means lists come from MLlib
    (distributed, sampling-based init); multi-probe assignment is one
    mapInPandas pass against the broadcast (k × dim) centroid matrix —
    the only shuffles are the centroid-bucket groupBy on (id, centroid)
    rows (:func:`_bucket_pairs`, so the probe runs once) and the verify
    join back to vectors."""
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if num_centroids is None:
        # √n lists bound per-list candidate volume; one count is the
        # price of auto-tuning (pass num_centroids to skip it)
        n = df.count()
        num_centroids = max(4, min(4096, int(n ** 0.5)))
    feats = df.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("__features")
    )
    model = KMeans(
        k=num_centroids, seed=seed, featuresCol="__features",
        predictionCol="__c",
    ).fit(feats)
    C = np.stack([np.asarray(c, dtype="float64") for c in model.clusterCenters()])
    bc = df.sparkSession.sparkContext.broadcast(C)
    m = int(min(num_probes, len(C)))

    def probe(batches):
        cents = bc.value
        c2 = (cents ** 2).sum(axis=1)
        for batch in batches:
            if len(batch) == 0:
                continue
            M = np.stack(batch[vec_col].to_numpy()).astype("float64")
            # squared L2 to every centroid; top-m via argpartition
            d2 = (M ** 2).sum(axis=1)[:, None] - 2.0 * (M @ cents.T) + c2[None, :]
            idx = (
                np.argpartition(d2, m - 1, axis=1)[:, :m]
                if m < len(cents)
                else np.tile(np.arange(len(cents)), (len(M), 1))
            )
            yield pd.DataFrame(
                {
                    "__id": np.repeat(batch[id_col].to_numpy(), idx.shape[1]),
                    "__c": idx.reshape(-1).astype(np.int32),
                }
            )

    assigned = df.select(id_col, vec_col).mapInPandas(probe, "__id long, __c int")
    candidates, _ = _bucket_pairs(assigned, ("__c",), None, "skip")
    return _verify_pairs(
        candidates, _vec_payload(df, id_col, vec_col),
        V.cosine_similarity_arrow(), threshold, "cosine",
    )


def _embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_tables: int,
    planes_per_table: int,
    seed: int,
    max_bucket_size: "int | None" = None,
    return_dropped: bool = False,
    oversize: str = "skip",
) -> "DataFrame | tuple[DataFrame, DataFrame]":
    """Banded sign-LSH candidate generation + exact cosine verify (see
    :func:`embedding_near_duplicates`). One mapInPandas pass computes
    every table signature with a single (batch × planes) BLAS product;
    the only shuffles are the (table, signature) bucket groupBy on
    tiny signature rows and the verify join back to vectors."""
    import numpy as np
    import pandas as pd

    L, r = int(num_tables), int(planes_per_table)

    def signatures(batches):
        planes = None
        for batch in batches:
            if len(batch) == 0:
                continue
            M = np.stack(batch[vec_col].to_numpy()).astype("float64")
            if planes is None:
                planes = _sign_planes(M.shape[1], L, r, seed)
            # shared kernel: the incremental index path hashes with
            # literally the same matrix — the parity contract
            sigs = _sign_sig_matrix(M, planes, L, r)
            ids = np.repeat(batch[id_col].to_numpy(), L)
            yield pd.DataFrame(
                {
                    "__id": ids,
                    "table": np.tile(np.arange(L, dtype=np.int32), len(M)),
                    "sig": sigs.reshape(-1),
                }
            )

    sig = df.select(id_col, vec_col).mapInPandas(
        signatures, "__id long, table int, sig long"
    )
    if max_bucket_size is not None and (oversize == "star" or return_dropped):
        # the star leg / the ledger action and the bucket groupBy each
        # consume the signature subtree, and exchange reuse does not
        # cover map-side Python stages: materialize so the dominant
        # BLAS pass runs once
        sig = materialize(sig, eager=True)
    candidates, dropped = _bucket_pairs(
        sig, ("table", "sig"), max_bucket_size, oversize
    )
    verified = _verify_pairs(
        candidates, _vec_payload(df, id_col, vec_col),
        V.cosine_similarity_arrow(), threshold, "cosine",
    )
    if return_dropped:
        return verified, dropped
    return verified


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    centroids: "list[list[float]] | None" = None,
    num_clusters: int = 16,
    seed: int = 42,
    use_arrow_cosine: bool = True,
    cluster_col: str = "cluster_id",
    dup_col: str = "is_dup",
    fit_fraction: "float | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space coarsely, then mark as duplicate every
    vector that has a LOWER-id near-neighbor (cosine ≥ ``threshold``)
    in the SAME cluster. Keep-lowest-id is this implementation's
    deterministic representative choice (the paper keeps the member
    farthest from the centroid; any single-representative rule prunes
    the same near-dup groups).

    Appends ``cluster_col`` and boolean ``dup_col``; all input columns
    pass through. Filter ``NOT is_dup`` for the pruned corpus.

    Clustering bounds the O(n²) pairwise scan to within-cluster: with
    balanced clusters the candidate volume is n²/k, so at corpus scale
    pick ``num_clusters`` ∝ n / target_cluster_size (SemDeDup used
    k≈√n·c). Cross-cluster near-dups are missed by construction —
    that's the approximation the paper accepts; raise k for speed,
    lower it for recall.

    ``centroids`` — fixed coarse centers instead of k-means: the
    deterministic, oracle-expressible mode (argmin assignment via the
    same sequential-fold L2 as :func:`operators.similarity.ivf_topk`,
    ties toward the lower centroid index). ``use_arrow_cosine=False``
    makes the verify cosine's summation order match the DuckDB twin.

    Scale shape: assignment is one narrow projection (literal-array
    argmin, no shuffle) or MLlib k-means; the pair scan shuffles the
    slim (id, vec, cluster) projection once on the cluster key; the
    dup-mark rejoin is on the id key. A mega-cluster serializes its
    own pairs only — AQE skew splitting applies to the sort-merge
    self-join.

    ``fit_fraction``: fit the k-means on a deterministic hash sample
    instead of the full corpus (the 100 TB path — with k ∝ n the FIT
    is the quadratic-ish term, measured 17x wall for 5x vectors at
    k=5k; sample-fitting caps it while full-corpus assignment stays
    one ``model.transform`` pass). Keep the sample ≳ 50·k vectors.
    """
    from lours_spark.operators.similarity import _l2sq_expr

    if centroids is not None:
        C = len(centroids)
        cent_arr = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
        )
        vec = F.col(vec_col)
        pairs = F.zip_with(
            F.transform(cent_arr, lambda cv: _l2sq_expr(vec, cv)),
            F.sequence(F.lit(0), F.lit(C - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
        # corpus-side widen: the interpreted C×dim argmin fold
        # runs before the cluster-key exchange, i.e. on the scan's
        # partitions — single-task on a one-file corpus; no-op at scale
        assigned = _widen(df).withColumn(
            cluster_col, F.array_min(pairs).getField("i")
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = df.withColumn(
            "__sd_features",
            array_to_vector(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ),
        )
        km = KMeans(
            k=num_clusters, seed=seed, featuresCol="__sd_features",
            predictionCol=cluster_col,
        )
        if fit_fraction is not None:
            # the corpus-scale path: k-means iterations cost
            # O(n·k·dim·iters) on the FULL frame, and SemDeDup scales k
            # with n — fitting on a deterministic hash sample caps the
            # fit at O(s·k) while assignment stays ONE model.transform
            # pass over everything (centroid quality degrades only with
            # sample sparsity per cluster; keep s ≳ 50·k vectors)
            from lours_spark.operators.sampling import hash_sample

            fit_df = hash_sample(
                feats, fit_fraction, id_col=id_col, seed=seed
            )
            model = km.fit(fit_df)
        else:
            model = km.fit(feats)
        assigned = model.transform(feats).drop("__sd_features")

    # assigned feeds three legs (both pair-join sides + the dup-mark
    # rejoin) and is deliberately not materialized: a literal-array
    # argmin is cheaper to re-run per leg than one materialization job.
    slim = assigned.select(
        F.col(id_col).alias("__sd_id"),
        F.col(vec_col).alias("__sd_v"),
        F.col(cluster_col).alias("__sd_c"),
    )
    cosine = (
        V.cosine_similarity_arrow()(F.col("__sd_va"), F.col("__sd_vb"))
        if use_arrow_cosine
        else V.cosine_similarity(F.col("__sd_va"), F.col("__sd_vb"))
    )
    dup_ids = (
        slim.select(
            F.col("__sd_id").alias("__sd_ida"),
            F.col("__sd_v").alias("__sd_va"),
            F.col("__sd_c").alias("__sd_ca"),
        )
        .join(
            slim.select(
                F.col("__sd_id").alias("__sd_idb"),
                F.col("__sd_v").alias("__sd_vb"),
                F.col("__sd_c").alias("__sd_cb"),
            ),
            (F.col("__sd_ca") == F.col("__sd_cb"))
            & (F.col("__sd_idb") < F.col("__sd_ida")),
        )
        .filter(cosine >= threshold)
        .select(F.col("__sd_ida").alias("__sd_dup_id"))
        .distinct()
    )
    return (
        assigned.join(
            dup_ids.withColumn(dup_col, F.lit(True)),
            assigned[id_col] == dup_ids["__sd_dup_id"],
            "left",
        )
        .drop("__sd_dup_id")
        .withColumn(dup_col, F.coalesce(F.col(dup_col), F.lit(False)))
    )


def remove_dup_spans(
    df: DataFrame,
    window: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2022 ExactSubstr,
    token-window form): every ``window``-token span that occurs more
    than once in the corpus — across documents OR within one — is
    removed from every occurrence EXCEPT the first (canonical = lowest
    ``(doc id, position)``), and documents are rebuilt from their
    surviving tokens. This is the *removal* counterpart of
    :func:`span_dup_signals` (which only scores); a long duplicated
    region longer than ``window`` is covered by its overlapping
    windows, so the whole region disappears from non-canonical copies
    while the canonical copy keeps it intact. One nuance: a span that
    repeats WITHIN one document overlapping itself (periodic text like
    ``rep rep rep ...``) erodes into the canonical occurrence's tail —
    the doc keeps only the leading period, which is exactly the
    boilerplate-collapse behavior a repetition filter wants.

    Reconstruction is token-normalized: surviving tokens re-join with
    single spaces (the reference granularity of the signal — byte-exact
    reconstruction would need byte offsets, not token windows).

    Returns ``(id_col, n_tokens_before, n_tokens_removed, text)`` —
    docs shorter than ``window`` tokens pass through unchanged.

    Spark shape: windows explode to |tokens| rows; ONE hash
    aggregation per distinct span finds duplicated spans and their
    canonical occurrence simultaneously (``count`` + ``min(struct(id,
    pos))`` share the exchange, map-side partials collapse per-doc
    repeats); non-canonical occurrences join back on the span key,
    collapse to per-doc covered-position arrays (positions, not
    intervals — ``array_except`` against ``sequence(1, n)`` is then a
    single hash-set pass, JVM-side), and the rebuild is pure column
    expressions. Three shuffles total (span agg, span join, doc
    regroup) regardless of corpus size; no driver collect, no Python
    in the hot path.

    >>> df = spark.createDataFrame(
    ...     [(1, "a b c d"), (2, "x a b c y")],
    ...     "doc_id long, text string")
    >>> rows = {r["doc_id"]: r for r in
    ...         remove_dup_spans(df, window=3).collect()}
    >>> rows[2]["text"]  # 'a b c' first occurred in doc 1
    'x y'
    >>> (rows[1]["text"], rows[2]["n_tokens_removed"])
    ('a b c d', 3)
    """
    # NULL text → NULL token array → size() = -1 (non-ANSI), and
    # sequence(1, -1) DESCENDS through 0 where element_at errors —
    # normalize to an empty array so null-text docs pass through
    toks = F.coalesce(
        TX.tokens(F.col(text_col)), F.array().cast("array<string>")
    )
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    n_w = n - (window - 1)
    # guard the sequence: Spark's sequence(1, 0) yields a DESCENDING
    # [1, 0], not an empty array, so short docs must branch explicitly
    positions = F.when(n_w >= 1, F.sequence(F.lit(1), n_w)).otherwise(
        F.array().cast("array<int>")
    )
    wnds = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                positions,
                lambda i: F.struct(
                    i.alias("__pos"),
                    F.concat_ws(
                        " ", F.slice(F.col("__toks"), i, window)
                    ).alias("__span"),
                ),
            )
        ).alias("__w"),
    ).select(
        id_col,
        F.col("__w.__pos").alias("__pos"),
        F.col("__w.__span").alias("__span"),
    )
    dup = (
        wnds.groupBy("__span")
        .agg(
            F.count(F.lit(1)).alias("__occ"),
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first"),
        )
        .filter(F.col("__occ") >= 2)
        .select("__span", "__first")
    )
    covered_starts = (
        wnds.join(dup, "__span")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"__first.{id_col}"))
                & (F.col("__pos") == F.col("__first.__pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__starts"))
    )
    joined = base.join(covered_starts, id_col, "left")
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + (window - 1)),
            )
        )
    )
    # same descending-sequence guard as `positions` above, for n = 0
    kept_pos = F.when(
        n >= 1, F.array_except(F.sequence(F.lit(1), n), covered)
    ).otherwise(F.array().cast("array<int>"))
    rebuilt = F.array_join(
        F.transform(kept_pos, lambda p: F.element_at(F.col("__toks"), p)),
        " ",
    )
    return joined.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens_before"),
        F.size(covered).cast("long").alias("n_tokens_removed"),
        rebuilt.alias("text"),
    )


def cluster_representatives(
    df: DataFrame,
    clusters: DataFrame,
    quality_col: str = "quality",
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Pick ONE representative per near-duplicate cluster — the
    highest-``quality_col`` member, ties broken by lowest id — and
    flag every row so callers either keep the representatives or audit
    what a dedup pass would drop. Docs absent from ``clusters`` are
    singleton clusters (their own representative). This is the
    keep-best-of-cluster curation step that follows near-dup
    clustering (FineWeb/Dolma style): keep-lowest-id dedup silently
    discards the best-written copy of a boilerplate family.

    ``clusters`` is ``(id_col, cluster_col)`` — e.g. the output of
    :func:`lours_spark.split.chunks.connected_components` over
    near-dup pairs, renamed.

    Returns ``df``'s rows + ``cluster_col`` (coalesced to the doc's
    own id for singletons) + boolean ``is_representative``.

    Spark shape: one left join on id (the cluster frame is
    |clustered docs| ≪ corpus → broadcastable) and one row_number
    window partitioned by cluster id — a single hash exchange on the
    cluster key; near-dup clusters are shallow, so no skew salting.

    >>> docs = spark.createDataFrame(
    ...     [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1)],
    ...     "doc_id long, quality double")
    >>> cl = spark.createDataFrame(
    ...     [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long")
    >>> rows = {r["doc_id"]: r for r in
    ...         cluster_representatives(docs, cl).collect()}
    >>> [rows[i]["is_representative"] for i in (1, 2, 3, 4)]
    [False, True, False, True]
    >>> rows[4]["cluster_id"]  # singleton: its own cluster
    4
    """
    cl = clusters.select(F.col(id_col), F.col(cluster_col))
    joined = df.join(cl, id_col, "left").withColumn(
        cluster_col, F.coalesce(F.col(cluster_col), F.col(id_col))
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    return joined.withColumn(
        "is_representative", F.row_number().over(w) == 1
    )


def span_dup_signals(
    df: DataFrame,
    window: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-span fraction (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" signal,
    reduced to a per-document score): slide a ``window``-token window
    over every document and measure what fraction of a doc's windows
    also occur in at least one OTHER document. High fractions mark
    boilerplate mirrors, templated spam, and licence walls that
    paragraph- or whole-doc dedup miss because the surrounding text
    differs. (Within-doc repetition is a separate signal —
    :func:`operators.quality.repetition_signals`.)

    Returns one row per input doc: ``n_windows``, ``n_dup_windows``,
    ``dup_frac`` (0.0 for docs shorter than ``window`` tokens).

    Spark shape: windows explode to one row per (doc, position) —
    |tokens| rows, the unavoidable cost of span granularity — then ONE
    hash aggregation per distinct window string finds spans spanning
    ≥2 docs (map-side partial collapses each doc's repeats before the
    exchange), and a broadcast-friendly semi-join flags the dup
    windows. No driver collect; everything keys on the window string,
    so Catalyst can AQE both exchanges.
    """
    toks = TX.tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__w"))
    n_w = F.size("__w") - (window - 1)
    # guard the sequence: Spark's sequence(1, 0) yields a DESCENDING
    # [1, 0], not an empty array, so short docs must branch explicitly
    positions = F.when(n_w >= 1, F.sequence(F.lit(1), n_w)).otherwise(
        F.array().cast("array<int>")
    )
    wnds = base.select(
        id_col,
        F.explode(
            F.transform(
                positions,
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("__w"), i, window)
                ),
            )
        ).alias("__span"),
    )
    dup_spans = (
        wnds.groupBy("__span")
        .agg(F.count_distinct(F.col(id_col)).alias("__docs"))
        .filter(F.col("__docs") >= 2)
        .select("__span")
    )
    flagged = wnds.join(dup_spans.withColumn("__dup", F.lit(1)), "__span", "left")
    per_doc = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.coalesce(F.sum("__dup"), F.lit(0)).alias("n_dup_windows"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("long")
            .alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.coalesce("n_dup_windows", F.lit(0)).cast("double")
                / F.col("n_windows"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )
