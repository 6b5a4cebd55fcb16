"""Repetition-based document quality signals (Gopher §A1.1 /
RefinedWeb-style filters) for training-data curation.

Per document:

- ``n_words`` — whitespace token count;
- ``top_word_count`` — occurrences of the most frequent word (a high
  share of one token marks boilerplate/spam);
- ``top_bigram_count`` — occurrences of the most frequent word bigram;
- ``dup_trigram_excess`` — total trigrams minus distinct trigrams
  (repeated-passage mass; 0 for clean text).

Spark shape: two explode → groupBy chains (words, bigrams) with
map-side partial aggregation — the shuffle carries (doc, gram, count)
partials, never document text — plus one pure-expression column for
the trigram excess (``word_shingles`` is already distinct; the excess
is arithmetic on sizes, zero extra shuffle). "Most frequent" needs
only ``max(count)``, not the gram itself, so no tie-break enters the
result and the whole thing stays order-free deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lours_spark.functions.text import _bind, tokens, word_shingles

#: Gopher rule 6's stop-word set (Rae et al. 2021, appendix A1.1):
#: a document must contain at least two of these to pass.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition metrics (see module docstring).

    >>> df = spark.createDataFrame(
    ...     [(1, "spam spam spam spam"), (2, "four distinct words here")],
    ...     "doc_id long, text string")
    >>> rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    >>> rows[1]["top_word_count"], rows[2]["top_word_count"]
    (4, 1)
    >>> rows[1]["dup_trigram_excess"]  # 2 total trigrams, 1 distinct
    1
    """
    toks = tokens(F.col(text_col))
    base = _spread_narrow(docs).select(
        F.col(id_col),
        toks.alias("__w"),
        # total trigrams - distinct trigrams, 0 below 3 words
        F.when(
            F.size(toks) >= 3,
            F.size(toks)
            - F.lit(2)
            - F.size(word_shingles(F.col(text_col), 3)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_trigram_excess"),
    )
    words = base.select(
        id_col, "dup_trigram_excess", F.explode("__w").alias("__word")
    )
    word_stats = (
        words.groupBy(id_col, "dup_trigram_excess", "__word")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy(id_col, "dup_trigram_excess")
        .agg(
            F.sum("__n").alias("n_words"),
            F.max("__n").alias("top_word_count"),
        )
    )
    bigrams = base.select(
        F.col(id_col),
        F.explode(
            _bind(
                F.col("__w"),
                # guard: sequence(1, 0) would run DESCENDING in Spark,
                # fabricating bigrams for 1-word docs
                lambda w: F.when(
                    F.size(w) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - 1),
                        lambda i: F.concat_ws(
                            " ", F.element_at(w, i), F.element_at(w, i + 1)
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("__bg"),
    )
    bigram_stats = (
        bigrams.groupBy(id_col, "__bg")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy(id_col)
        .agg(F.max("__n").alias("top_bigram_count"))
    )
    return (
        word_stats.join(bigram_stats, id_col, "left")
        .select(
            id_col,
            "n_words",
            "top_word_count",
            F.coalesce("top_bigram_count", F.lit(0)).cast("long").alias(
                "top_bigram_count"
            ),
            "dup_trigram_excess",
        )
    )


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_words: int = 2,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
    _keep_all_columns: bool = False,
) -> DataFrame:
    """Gopher/MassiveText document-level quality rules (Rae et al.
    2021, appendix A1.1) as one pure-expression pass: per document the
    seven rule signals plus the combined ``gopher_keep`` flag.

    Signals (all per document):

    - ``n_words`` — whitespace token count (empty tokens dropped);
    - ``mean_word_len`` — mean characters per word;
    - ``symbol_word_ratio`` — (``#`` + ellipsis occurrences) / words;
    - ``bullet_line_frac`` — fraction of lines starting with a bullet
      (``-``, ``*``, ``•``);
    - ``ellipsis_line_frac`` — fraction of lines ending with ``...`` /
      ``…``;
    - ``alpha_word_frac`` — fraction of words containing an ASCII
      letter (tokens are lowercased, so ``[a-z]``);
    - ``n_stop_words`` — DISTINCT stop words present (Gopher keeps a
      doc only if ≥ ``min_stop_words`` of its eight appear).

    ``gopher_keep`` is the conjunction of the published thresholds
    (each overridable). Fractions are rounded to 6 dp BEFORE the
    threshold comparison so the flag is bit-stable across engines.

    Scale shape: zero shuffles, zero joins, zero Python — one
    whole-stage-codegen projection over the corpus scan (the token and
    line arrays are bound once via lambda binding, not recomputed per
    signal). Reference for the rule set: the Gopher paper; the
    reference repo has no corpus-curation layer (this is part of the
    beyond-reference training-data suite).

    >>> df = spark.createDataFrame(
    ...     [(1, "the quick brown fox and that dog have fun with it "
    ...          "while they watch the other animals of the field")],
    ...     "doc_id long, text string")
    >>> r = gopher_rules(df, min_words=10).first()
    >>> r["n_words"], r["n_stop_words"], r["gopher_keep"]
    (20, 6, 1)
    >>> gopher_rules(df).first()["gopher_keep"]  # default min 50 words
    0
    """
    text = F.col(text_col)

    def word_signals(w: Column) -> Column:
        n = F.size(w)
        total_chars = F.aggregate(
            w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        )
        alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
        symbols = F.regexp_count(text, F.lit("#")) + F.regexp_count(
            text, F.lit(r"\.\.\.|…")
        )
        stops = F.size(
            F.array_intersect(
                F.array_distinct(w),
                F.array(*[F.lit(s) for s in stopwords]),
            )
        )
        nz = n > 0
        return F.struct(
            n.cast("long").alias("n_words"),
            F.when(nz, F.round(total_chars / n, 6))
            .otherwise(F.lit(0.0))
            .alias("mean_word_len"),
            F.when(nz, F.round(symbols / n, 6))
            .otherwise(F.lit(0.0))
            .alias("symbol_word_ratio"),
            F.when(nz, F.round(alpha / n, 6))
            .otherwise(F.lit(0.0))
            .alias("alpha_word_frac"),
            stops.cast("long").alias("n_stop_words"),
        )

    def line_signals(lines: Column) -> Column:
        # split() yields >= 1 element for non-NULL text; the NULL-text
        # coalesce below yields an EMPTY array, so guard the division
        n = F.size(lines)
        bullets = F.size(
            F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))
        )
        ellipses = F.size(
            F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))
        )
        nz = n > 0
        return F.struct(
            F.when(nz, F.round(bullets / n, 6))
            .otherwise(F.lit(0.0))
            .alias("bullet_line_frac"),
            F.when(nz, F.round(ellipses / n, 6))
            .otherwise(F.lit(0.0))
            .alias("ellipsis_line_frac"),
        )

    clash = [c for c in docs.columns if c in _GOPHER_SIGNAL_COLS]
    if clash:
        raise ValueError(f"input columns collide with signal names: {clash}")
    # NULL text coalesces to empty arrays (like dedup.remove_dup_spans):
    # size(NULL) is -1 under non-ANSI mode, which would report
    # n_words=-1 instead of 0 in the signal output
    empty = F.array().cast("array<string>")
    words = F.coalesce(
        F.filter(tokens(text), lambda x: x != F.lit("")), empty
    )
    lead = list(docs.columns) if _keep_all_columns else [id_col]
    sig = docs.select(
        *lead,
        _bind(words, word_signals).alias("__ws"),
        _bind(F.coalesce(F.split(text, "\n"), empty), line_signals).alias(
            "__ls"
        ),
    ).select(*lead, "__ws.*", "__ls.*")
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_frac)
        & (F.col("n_stop_words") >= min_stop_words)
    )
    return sig.withColumn("gopher_keep", keep.cast("int"))


def ngram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    *,
    model_docs: DataFrame | None = None,
    out_col: str = "avg_nll",
) -> DataFrame:
    """Corpus-typicality score — the shuffle-light analog of CCNet's
    LM-perplexity filter: fit a character n-gram frequency model on
    ``model_docs`` (default: the corpus itself), then score every
    document by its mean negative log2 self-information,
    ``-(1/m) Σ log2(count(gram) / total_grams)``. Typical prose lands
    low; gibberish, key-mash and wrong-script text land high (their
    grams are rare under the corpus model); grams UNSEEN by the model
    get one smoothing pseudo-count. Returns ``id_col, n_grams,
    out_col`` (documents shorter than ``n`` chars score NULL).

    Scale shape: the model is a char n-gram count table — bounded by
    alphabet^n, NOT corpus size — built by one explode + one hash agg
    with map-side partials, then BROADCAST back onto a second explode,
    so the scoring join never shuffles the corpus; the only exchange
    carrying per-document data is the final groupBy(id) of (id,
    partial-sum) rows. Two passes over the text, zero Python.

    >>> df = spark.createDataFrame(
    ...     [(1, "the cat sat on the mat"),
    ...      (2, "the cat sat on the rug"),
    ...      (3, "zq xv jw qq kx zz pq")],
    ...     "doc_id long, text string")
    >>> rows = {r["doc_id"]: r["avg_nll"] for r in
    ...         ngram_logprob(df).collect()}
    >>> rows[3] > rows[1], rows[3] > rows[2]  # gibberish scores worse
    (True, True)
    """
    text = F.lower(F.col(text_col))

    def grams(t):
        # split-to-chars ONCE, then O(1) element_at per position —
        # substring(t, i, n) per position re-scans the string from the
        # start (O(len) each, O(len^2) per document: measured 6s vs
        # ~1s over the sf0.1 corpus)
        def build(cs):
            return F.when(
                F.size(cs) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(cs) - (n - 1)),
                    lambda i: F.concat(
                        *[
                            F.element_at(cs, (i + j).cast("int"))
                            for j in range(n)
                        ]
                    ),
                ),
            )

        return _bind(
            F.filter(F.split(t, ""), lambda x: x != F.lit("")), build
        )

    src = _spread_narrow(
        (model_docs if model_docs is not None else docs).select(
            text.alias("__t")
        )
    )
    model_grams = src.select(
        F.explode(grams(F.col("__t"))).alias("gram")
    )
    counts = model_grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # total gram count as a broadcast 1-row frame instead of an eager
    # .count(): the literal form paid a THIRD full pass over the corpus
    # (explode + count at build time) before the model pass and the
    # scoring pass even started; as a frame it folds over the model
    # aggregation's exchange, which exchange reuse shares with the
    # broadcast-join leg — the model text is exploded ONCE, not twice
    total_df = counts.agg(F.sum("__cnt").alias("__total"))

    # explode_outer keeps one null-gram row per too-short document, so
    # every doc survives to the final groupBy and no restore-join (and
    # its extra shuffle) is needed: count("gram") skips the null row
    # (n_grams 0) and avg skips its null term (score NULL)
    doc_grams = _spread_narrow(docs).select(
        F.col(id_col), F.explode_outer(grams(text)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(counts), "gram", "left")
        .crossJoin(F.broadcast(total_df))
        .select(
            id_col,
            "gram",
            F.when(
                F.col("gram").isNotNull(),
                # unseen grams (model_docs != docs): one pseudo-count
                -F.log2(
                    F.coalesce(F.col("__cnt"), F.lit(1)) / F.col("__total")
                ),
            ).alias("__nll"),
        )
        .groupBy(id_col)
        .agg(
            F.count("gram").alias("n_grams"),
            F.avg("__nll").alias(out_col),
        )
    )


_GOPHER_SIGNAL_COLS = (
    "n_words", "mean_word_len", "symbol_word_ratio", "alpha_word_frac",
    "n_stop_words", "bullet_line_frac", "ellipsis_line_frac", "gopher_keep",
)


def filter_gopher(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", **thresholds) -> DataFrame:
    """Keep only documents passing :func:`gopher_rules`, original
    schema preserved. The flag is computed inline on the same scan and
    dropped after the filter — no join, no shuffle, no second pass
    (a semi-join against the signal frame would re-scan the corpus).

    >>> df = spark.createDataFrame(
    ...     [(1, "the of and that be to have with more words here now"),
    ...      (2, "zz xx yy")], "doc_id long, text string")
    >>> [r["doc_id"] for r in
    ...  filter_gopher(df, min_words=5).collect()]
    [1]
    """
    sig = gopher_rules(
        docs, id_col, text_col, _keep_all_columns=True, **thresholds
    )
    return sig.filter(F.col("gopher_keep") == 1).drop(*_GOPHER_SIGNAL_COLS)


def quality_percentile(
    df: DataFrame,
    score_col,
    group_col: str | None = None,
    id_col: str = "doc_id",
    pct_col: str = "q_pct",
) -> DataFrame:
    """Percentile position of each document's quality score within its
    group (``cume_dist`` ∈ (0, 1]: the fraction of the group at or
    below this document — the empirical CDF). The standard form of
    "drop the bottom X% per language" — an absolute score threshold
    over-prunes low-resource languages whose score distribution sits
    lower, a per-group percentile doesn't.

    cume_dist, NOT percent_rank: percent_rank is (rank−1)/(n−1), which
    pins every singleton group to 0.0 — a one-document language would
    be dropped by ANY positive threshold, the exact failure mode this
    operator exists to avoid. cume_dist gives the singleton 1.0 and a
    two-doc group {0.5, 1.0}, so "drop the bottom half" does what it
    says at every group size.

    ``score_col`` may be a column name or a Column expression (e.g.
    ``functions.text.quality_score(F.col("text"))``). Ordering ties
    break by ``id_col`` so the percentile is a total order —
    deterministic across engines and partitionings.

    Scale shape: one hash exchange on ``group_col`` + a per-group
    window; no global sort. With ``group_col=None`` the window IS a
    single partition — fine for reporting frames, wrong for a 100 TB
    corpus (group first, or quantile-bucket via approx thresholds).

    >>> df = spark.createDataFrame(
    ...     [(1, "en", 0.5), (2, "en", 1.0), (3, "en", 0.0)],
    ...     "doc_id long, lang string, q double")
    >>> sorted((r["doc_id"], round(r["q_pct"], 6)) for r in
    ...        quality_percentile(df, "q", "lang").collect())
    [(1, 0.666667), (2, 1.0), (3, 0.333333)]
    """
    from pyspark.sql import Window

    score = F.col(score_col) if isinstance(score_col, str) else score_col
    parts = [group_col] if group_col is not None else []
    w = Window.partitionBy(*parts).orderBy(
        F.asc("__qp_score"), F.asc(id_col)
    )
    return (
        df.withColumn("__qp_score", score)
        .withColumn(pct_col, F.cume_dist().over(w))
        .drop("__qp_score")
    )


def filter_quality_percentile(
    df: DataFrame,
    score_col,
    min_pct: float,
    group_col: str | None = None,
    id_col: str = "doc_id",
    pct_col: str = "q_pct",
    approximate: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Drop the bottom ``min_pct`` fraction of each group by quality:
    keep documents whose cume_dist exceeds ``min_pct`` (see
    :func:`quality_percentile`). Strict ``>`` so ``min_pct=0.5`` on a
    two-doc group keeps exactly the better one, and a singleton group
    (cume_dist 1.0) survives any ``min_pct < 1``.

    ``approximate=True`` is the 100 TB path: instead of a per-group
    window (a full SORT of every group — the exact path's cost on
    billion-row groups), compute each group's ``min_pct`` score
    threshold with ``approx_percentile`` (fixed-memory KLL-style
    sketch, map-side partials), broadcast-join the |groups|-row
    threshold table back, and filter. The threshold mass is
    TIE-CALIBRATED: real quality scores are quantized (length/ratio
    buckets), so a huge tied mass can sit exactly AT the percentile —
    "keep strictly above" would drop that entire mass and over-prune
    arbitrarily (measured 65% pruned where 20% was asked on the bench
    corpus). A second |groups|-row aggregation counts the below/at
    masses and keeps the deterministic-hash top slice of the tied docs
    that lands the group's kept COUNT on target. Within-epsilon
    documents may differ from the exact answer (sketch ``accuracy``
    bounds the rank error; the tie slice is hash-chosen, not
    id-rank-chosen) and no ``pct_col`` is emitted, but nothing sorts:
    the corpus is touched by two aggs + one broadcast-joined filter.
    NULL scores diverge deliberately: the exact window ranks them
    LOWEST (Spark's NULLS FIRST), so past-the-threshold NULL docs can
    survive; the approximate mode drops NULL-scored docs outright
    (NULL fails every comparison) and excludes them from the sketch —
    coalesce the score upstream if NULL must mean something.

    >>> df = spark.createDataFrame(
    ...     [(i, "en", float(i)) for i in range(100)],
    ...     "doc_id long, lang string, q double")
    >>> exact = filter_quality_percentile(df, "q", 0.5, "lang")
    >>> approx = filter_quality_percentile(
    ...     df, "q", 0.5, "lang", approximate=True)
    >>> exact.count(), approx.count()
    (50, 50)

    All-tied groups calibrate too (the exact path keeps the top half
    by id tie-break; the hash slice keeps ~half):

    >>> tied = spark.createDataFrame(
    ...     [(i, "en", 1.0) for i in range(400)],
    ...     "doc_id long, lang string, q double")
    >>> n = filter_quality_percentile(
    ...     tied, "q", 0.5, "lang", approximate=True).count()
    >>> 140 < n < 260  # ~200, hash-binomial spread
    True
    """
    if not approximate:
        return quality_percentile(
            df, score_col, group_col, id_col=id_col, pct_col=pct_col
        ).filter(F.col(pct_col) > min_pct)

    from lours_spark.split.splitter import portable_fraction

    score = F.col(score_col) if isinstance(score_col, str) else score_col
    scored = df.withColumn("__fq_score", score)
    keys = [group_col] if group_col is not None else []

    def bjoin(left, right):
        return (
            left.join(F.broadcast(right), keys)
            if keys
            else left.crossJoin(F.broadcast(right))
        )

    thresholds = scored.groupBy(*keys).agg(
        F.percentile_approx(
            "__fq_score", F.lit(min_pct), F.lit(accuracy)
        ).alias("__fq_thr")
    )
    # second narrow agg: how much mass sits below vs AT the threshold —
    # the drop budget left for the tied mass, as a fraction of it
    stats = (
        bjoin(scored, thresholds)
        .groupBy(*keys, "__fq_thr")
        .agg(
            F.count(F.when(F.col("__fq_score") < F.col("__fq_thr"), 1)).alias(
                "__fq_below"
            ),
            F.count(F.when(F.col("__fq_score") == F.col("__fq_thr"), 1)).alias(
                "__fq_at"
            ),
            # NON-NULL count: percentile_approx ignores NULL scores, so
            # the drop budget must be a fraction of the same mass —
            # count(*) would inflate it and over-drop tied docs
            F.count("__fq_score").alias("__fq_n"),
        )
        .withColumn(
            "__fq_drop_at",
            F.greatest(
                F.lit(0.0),
                F.least(
                    F.lit(1.0),
                    (F.lit(min_pct) * F.col("__fq_n") - F.col("__fq_below"))
                    / F.greatest(F.col("__fq_at"), F.lit(1)).cast("double"),
                ),
            ),
        )
    )
    # portable_fraction works for any id type (md5 of the string form)
    # and is seeded off min_pct so repeated filters decorrelate
    keep = (F.col("__fq_score") > F.col("__fq_thr")) | (
        (F.col("__fq_score") == F.col("__fq_thr"))
        & (
            portable_fraction(F.col(id_col), int(min_pct * 1000))
            >= F.col("__fq_drop_at")
        )
    )
    return (
        bjoin(scored, stats)
        .filter(keep)
        .drop(
            "__fq_score", "__fq_thr", "__fq_below", "__fq_at",
            "__fq_n", "__fq_drop_at",
        )
    )


# ---------------------------------------------------------------------------
# hashed n-gram linear quality classifier (fastText/DCLM-style)
# ---------------------------------------------------------------------------


def require_classifier_knobs(
    weights,
    bias,
    min_score,
    num_buckets: "int | None" = None,
    seed=None,
    bigrams: "bool | None" = None,
) -> None:
    """Shared validation of the classifier-stage configuration (batch
    pipeline AND streaming twin): a trained model without a threshold
    — or vice versa — is a misconfiguration, not a skipped stage; fail
    loud rather than silently running with no classifier cut. When the
    scoring knobs (num_buckets/seed/bigrams) are passed too, they are
    checked against the stamp ``train_ngram_classifier`` wrote into
    the weights frame — scoring with hashing parameters that differ
    from training degenerates to near-constant ``sigmoid(bias)``
    (keep-all or drop-all) with no error otherwise."""
    knobs = (weights is not None, bias is not None, min_score is not None)
    if any(knobs) and not all(knobs):
        raise ValueError(
            "classifier_weights, classifier_bias and "
            "classifier_min_score must be set together "
            "(train_ngram_classifier returns the first two)"
        )
    if weights is not None and num_buckets is not None:
        _check_classifier_params(weights, num_buckets, seed, bigrams)


def _check_classifier_params(
    weights: DataFrame, num_buckets: int, seed, bigrams: "bool | None"
) -> None:
    """Fail loud when a stamped weights frame disagrees with the
    scoring call's hashing parameters (same pattern as the minhash /
    embedding index stamps — ``operators.dedup._check_index_params``);
    unstamped (hand-built or legacy) frames pass. Pure schema
    inspection — no Spark job."""
    try:
        meta = dict(weights.schema["bucket"].metadata or {})
    except KeyError:
        return
    if "lours.classifier.num_buckets" not in meta:
        return
    stamped = (
        meta.get("lours.classifier.num_buckets"),
        meta.get("lours.classifier.seed"),
        meta.get("lours.classifier.bigrams"),
    )
    used = (
        int(num_buckets),
        str(seed),
        bool(bigrams) if bigrams is not None else stamped[2],
    )
    if stamped != used:
        raise ValueError(
            f"classifier weights were trained with (num_buckets, seed, "
            f"bigrams)={stamped} but this call scores with {used} — "
            f"hashed buckets would not line up and every document "
            f"would score ~sigmoid(bias); score with the training "
            f"parameters or retrain."
        )


def _spread_narrow(df: DataFrame) -> DataFrame:
    """Round-robin a NARROW projection across the cluster when the
    source arrives in fewer partitions than there are cores (a small
    corpus read as one parquet file serializes the per-gram md5 work
    onto one task — the same near-serial trap as pipeline.py's
    post-percentile middle). At real scale the input already has more
    partitions than defaultParallelism and this is a no-op — no
    exchange is ever added to a 100 TB scan."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def hashed_ngram_buckets(
    text: Column,
    num_buckets: int = 1 << 18,
    seed: int | str = 0,
    bigrams: bool = True,
) -> Column:
    """Feature buckets of a document for a hashed linear classifier:
    every whitespace unigram (and, with ``bigrams``, every adjacent
    word bigram) hashed onto ``[0, num_buckets)`` with the portable
    md5 PRF — the fastText hashing trick, engine-reproducible.

    One bucket per gram OCCURRENCE (term frequency is preserved by
    multiplicity); empty tokens are dropped, so blank text yields an
    empty array. Pure Column expression — evaluates inside whole-stage
    codegen with the token array bound once.

    >>> df = spark.createDataFrame([("a b",)], ["text"])
    >>> row = df.select(hashed_ngram_buckets(
    ...     F.col("text"), num_buckets=16).alias("b")).first()
    >>> len(row["b"])  # 'a', 'b', 'a b'
    3
    >>> all(0 <= v < 16 for v in row["b"])
    True
    """
    from lours_spark.functions.text import md5_long

    # bind the FILTERED array: higher-order functions are interpreted
    # (no codegen CSE), so an unbound `filter(tokens, ...)` referenced
    # inside the per-bigram lambda would re-run over the whole token
    # array for every bigram index — O(n_tokens²) per document
    def build(words: Column) -> Column:
        n = F.size(words)
        bi = (
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat(
                        F.element_at(words, i.cast("int")),
                        F.lit(" "),
                        F.element_at(words, (i + 1).cast("int")),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
            if bigrams
            else F.array().cast("array<string>")
        )
        grams = F.concat(words, bi)
        return F.transform(
            grams, lambda g: md5_long(g, seed) % F.lit(num_buckets)
        )

    return _bind(
        F.filter(tokens(text), lambda w: F.length(w) > 0), build
    )


def train_ngram_classifier(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    num_buckets: int = 1 << 18,
    seed: int | str = 0,
    bigrams: bool = True,
    smoothing: float = 1.0,
) -> "tuple[DataFrame, float]":
    """Train a hashed n-gram naive-Bayes log-odds classifier (the
    closed-form linear model behind "quality classifier" curation
    stages a la CCNet/DCLM: positives = a trusted corpus, negatives =
    raw crawl). Returns ``(weights, bias)``: a (bucket BIGINT, weight
    DOUBLE) DataFrame plus a float bias, consumable by
    :func:`classifier_score`.

    Per-bucket weight is the smoothed log-likelihood ratio
    ``ln((pos_b+a)/(pos+aB)) - ln((neg_b+a)/(neg+aB))``, CENTERED so
    a never-seen bucket scores exactly 0 (the unseen-bucket default is
    folded into the bias — scores are identical to the uncentered
    model, but the weight table only needs observed buckets). Training
    is ONE distributed pass: explode grams → a single map-side-combined
    groupBy(bucket) carrying two conditional counts. The gram totals
    AND the per-class document counts both derive from that one
    aggregate (each document contributes a sentinel ``-1`` bucket row,
    so the class split never re-scans — or re-tokenizes, when the
    label is text-derived — the corpus). Nothing driver-sized except
    a handful of scalars.

    ``label_col`` must be 0/1 (cast tolerated). Both classes must be
    non-empty.

    >>> df = spark.createDataFrame(
    ...     [(1, "good clean prose", 1), (2, "good text", 1),
    ...      (3, "spam spam spam", 0), (4, "buy spam now", 0)],
    ...     "doc_id long, text string, label int")
    >>> w, b = train_ngram_classifier(df, "label", num_buckets=64)
    >>> spam_w = [r for r in w.collect()]
    >>> bool(len(spam_w) > 0)
    True
    """
    import math

    lab = F.col(label_col).cast("int")
    # every document contributes one sentinel bucket -1 (real buckets
    # live in [0, num_buckets)): its per_bucket row IS the per-class
    # document count, so the class split costs no second corpus scan.
    # NULL text coalesces to '' so the concat below stays non-NULL and
    # the explode keeps the sentinel — a NULL-text document must still
    # count in the class prior (classifier_score keeps such documents
    # via explode_outer; dropping them here would skew the bias)
    g = _spread_narrow(
        docs.select(
            lab.alias("__y"),
            F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
        )
    ).select(
        "__y",
        F.explode(
            F.concat(
                F.array(F.lit(-1).cast("long")),
                hashed_ngram_buckets(
                    F.col("__t"), num_buckets=num_buckets, seed=seed,
                    bigrams=bigrams,
                ),
            )
        ).alias("bucket"),
    )
    # one job over gram volume, lineage truncated so the weights frame
    # (consumed again by classifier_score's broadcast) never re-runs
    # the corpus aggregation
    per_bucket = (
        g.groupBy("bucket")
        .agg(
            F.sum(F.col("__y")).alias("__pos"),
            F.sum(1 - F.col("__y")).alias("__neg"),
        )
    )
    # deferred result stage: the corpus-aggregation shuffle still runs
    # at the materialize call, but the tot aggregate right below
    # consumes every partition, so that same action writes the
    # checkpoint blocks — eager=True paid one extra populating job for
    # the same guarantee. The session picks the strategy
    # (operators/_materialize.py).
    from lours_spark.operators._materialize import materialize

    per_bucket = materialize(per_bucket, eager=False)
    tot = per_bucket.agg(
        F.sum(F.when(F.col("bucket") >= 0, F.col("__pos"))).alias("p"),
        F.sum(F.when(F.col("bucket") >= 0, F.col("__neg"))).alias("n"),
        F.sum(F.when(F.col("bucket") == -1, F.col("__pos"))).alias("np"),
        F.sum(F.when(F.col("bucket") == -1, F.col("__neg"))).alias("nn"),
    ).first()
    pos_tot, neg_tot = float(tot["p"] or 0), float(tot["n"] or 0)
    if pos_tot == 0 or neg_tot == 0:
        raise ValueError("both classes need at least one gram occurrence")
    a, B = float(smoothing), float(num_buckets)
    # unseen-bucket default, folded into the bias so missing rows = 0
    default = math.log(a / (pos_tot + a * B)) - math.log(
        a / (neg_tot + a * B)
    )
    # hashing params are STAMPED as column metadata (rides the schema
    # into any parquet footer, zero rows / zero jobs to read back) so
    # scoring with mismatched num_buckets/seed/bigrams fails loud
    # instead of silently degenerating to sigmoid(bias) — the same
    # contract as the minhash/embedding index stamps
    weights = per_bucket.filter(F.col("bucket") >= 0).select(
        F.col("bucket").alias(
            "bucket",
            metadata={
                "lours.classifier.num_buckets": int(num_buckets),
                "lours.classifier.seed": str(seed),
                "lours.classifier.bigrams": bool(bigrams),
            },
        ),
        (
            F.log((F.col("__pos") + a) / F.lit(pos_tot + a * B))
            - F.log((F.col("__neg") + a) / F.lit(neg_tot + a * B))
            - F.lit(default)
        ).alias("weight"),
    )
    n_pos, n_neg = int(tot["np"] or 0), int(tot["nn"] or 0)
    bias = math.log(max(n_pos, 1) / max(n_neg, 1)) + default
    return weights, bias


def classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1 << 18,
    seed: int | str = 0,
    bigrams: bool = True,
) -> DataFrame:
    """Score every document with a trained hashed-linear model:
    ``score = sigmoid(bias + mean(weight of each gram occurrence))``
    (the mean normalizes for document length, as fastText does).
    Returns (id_col, n_grams, score); a document with no grams scores
    ``sigmoid(bias)``.

    Scale shape: grams explode doc-locally and broadcast-join the
    weight table (bounded by num_buckets — megabytes), so the ONLY
    exchange over gram volume is the map-side-combined groupBy(id)
    that immediately collapses it back to one row per document
    (``explode_outer`` keeps gram-free documents in the stream — no
    re-join back to the input). Hashing and the
    mean replay exactly in the DuckDB oracle (portable md5 PRF,
    deterministic fold order irrelevant at round-6).

    >>> df = spark.createDataFrame(
    ...     [(1, "good clean prose", 1), (2, "spam spam spam", 0)],
    ...     "doc_id long, text string, label int")
    >>> w, b = train_ngram_classifier(df, "label", num_buckets=64)
    >>> out = {r["doc_id"]: r["score"]
    ...        for r in classifier_score(df, w, b, num_buckets=64).collect()}
    >>> bool(out[1] > out[2])
    True
    """
    _check_classifier_params(weights, num_buckets, seed, bigrams)
    # explode_outer keeps gram-free documents in the stream as a NULL
    # bucket row, so ONE groupBy covers every document — no re-join
    # back to the input (count("bucket") skips the NULL sentinel)
    g = _spread_narrow(
        docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    ).select(
        "__id",
        F.explode_outer(
            hashed_ngram_buckets(
                F.col("__t"), num_buckets=num_buckets, seed=seed,
                bigrams=bigrams,
            )
        ).alias("bucket"),
    )
    agg = (
        g.join(F.broadcast(weights), "bucket", "left")
        .groupBy("__id")
        .agg(
            F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("__sw"),
            F.count("bucket").alias("n_grams"),
        )
    )
    raw = F.lit(float(bias)) + F.coalesce(
        F.col("__sw") / F.nullif(F.col("n_grams"), F.lit(0)), F.lit(0.0)
    )
    return agg.select(
        F.col("__id").alias(id_col),
        "n_grams",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-raw))).alias("score"),
    )
