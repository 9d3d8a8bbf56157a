"""Text analysis operators for corpus curation: language ID, quality
scoring, token counting, document fingerprinting. All JVM expressions
(regexp/array/aggregate builtins) — oracle-expressible in ANSI SQL and
shuffle-free (pure map stage) at any scale.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# language marker words (tiny demonstration lexicons; the operator
# shape — argmax over per-language marker hit counts — is the real
# n-gram-heuristic structure)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
    "de": ["der", "die", "und", "das", "ein"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens(text: Column) -> Column:
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND
    letter/digit/punct boundaries (a cheap BPE proxy), counting the
    resulting segments."""
    return F.size(
        F.filter(
            F.split(text, r"(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|[^a-zA-Z0-9]+"),
            lambda t: t != "",
        )
    )


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    toks = tokens(F.lower(text))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def mean_word_len(text: Column) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, total / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: rewards reasonable length, mean word
    length in [3,10], some stopwords, low punctuation noise. The exact
    formula is arbitrary but deterministic and SQL-expressible."""
    n_tok = token_count(text)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
    mwl = mean_word_len(text)
    wl_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(0.25)).otherwise(F.lit(0.0))
    sw_ok = F.when(stopword_ratio(text) >= 0.01, F.lit(0.25)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
    return len_ok + wl_ok + sw_ok + punct_ok


def lang_id(text: Column, markers: dict[str, list[str]] | None = None) -> Column:
    """Argmax over per-language marker-word hit counts; 'und' when no
    marker hits. Ties break by language-code order (deterministic)."""
    markers = markers or LANG_MARKERS
    toks = tokens(F.lower(text))
    scores = []
    for lang in sorted(markers):
        arr = F.array(*[F.lit(w) for w in markers[lang]])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # reverse of ascending (hits, lang) sort => on tied hits the
    # alphabetically LAST language code wins (the oracle mirrors this)
    best = F.reverse(F.array_sort(F.array(*scores)))[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def normalized_text(text: Column) -> Column:
    """Fingerprint normalization: lowercase, collapse whitespace,
    strip punctuation."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^\w\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(text))


def let_bound(col: Column, fn) -> Column:
    """Let-bind `col` as a higher-order-function lambda variable:
    `get(transform(array(col), x -> fn(x)), 0)`. Everything `fn`
    builds references the lambda variable, which Catalyst evaluates
    exactly once per row — unlike a plain column alias, which
    CollapseProject happily re-inlines into every reference inside
    downstream HOF lambda bodies (re-evaluating the whole defining
    expression per reference, or per *element* when the reference sits
    in a per-element lambda)."""
    return F.get(F.transform(F.array(col), fn), F.lit(0))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every character `k`-gram of
    the alphanumeric-normalized text, slide a window of `w` consecutive
    hashes, and select each window's minimum. Guarantees every shared
    substring of length >= w+k-1 between two documents shares at least
    one selected fingerprint, with ~2/(w+1) storage density.

    Output: one row per distinct (doc, fingerprint) — `(id_col, fp)`.
    Docs with fewer than `w` k-gram hashes contribute their single
    global minimum (MOSS's short-document rule); empty/shorter-than-k
    docs contribute nothing.

    Scale shape: pure JVM higher-order expressions, shuffle-free until
    the caller aggregates; O(len·w) comparisons per doc. Hashes are
    md5-hex-slice (`conv(substr(md5(g),1,8),16,10)`) so DuckDB
    reproduces them bit-for-bit — the whole operator is exactly
    oracle-checkable.

    Construction notes (both measured): the window minima are w shifted
    `slice`s of the hash array folded pairwise with `zip_with(...,
    least)` — NOT `transform(seq, j -> array_min(slice(hashes, j,
    w)))`, whose captured-column lambda body gets the md5 pipeline
    re-inlined and re-run PER WINDOW (O(n²), ~9 s for 50 docs). And the
    clean text / hash array are `let_bound` lambda variables, not
    column aliases — as plain aliases CollapseProject re-inlined the
    hash pipeline 11x across the slices and size() references (23 md5
    nodes in the optimized plan; 13.6 s for 500 docs vs ~1 s bound).
    """
    import functools

    empty_longs = F.array().cast("array<long>")

    def selected(h: Column) -> Column:
        m = F.size(h)
        n_win = m - F.lit(w - 1)
        shifted = [F.slice(h, F.lit(1 + i), n_win) for i in range(w)]
        wmins = functools.reduce(
            lambda a, b: F.zip_with(a, b, lambda p, q: F.least(p, q)), shifted
        )
        return (
            F.when(m >= w, F.array_distinct(wmins))
            .when(m > 0, F.array(F.array_min(h)))
            .otherwise(empty_longs)
        )

    def hashed(c: Column) -> Column:
        n = F.length(c)
        grams = F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.substring(c, i, F.lit(k)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        hashes = F.transform(
            grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        )
        return let_bound(hashes, selected)

    clean = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    sel = let_bound(clean, hashed)
    return df.select(F.col(id_col), F.explode(sel).alias("fp"))


def word_grams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams (multiset, original order) of a token
    array; empty when there are fewer than n tokens.

    `toks` MUST be a bound column reference (project tokens() into a
    column first), not an inline tokenization expression: Catalyst does
    not CSE expression trees referenced inside higher-order-function
    lambdas, so an inline `tokens(text)` here would re-run the whole
    split/trim/filter once per gram — O(tokens^2) per row. The single
    shared gram builder for corpus_ngram_topk and curation's
    n-gram operators."""
    sz = F.size(toks)
    # ascending 1-based starts; clamp so short texts never feed
    # sequence() a descending range (ANSI error), then discard via when
    idx = F.sequence(F.lit(1), F.greatest(sz - n + 1, F.lit(1)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


def doc_shingles(
    df: DataFrame, text_col: str = "text", n: int = 13, id_col: str | None = None
) -> DataFrame:
    """Per-doc distinct word n-grams as an exploded (id, shingle) frame,
    or the corpus-distinct shingle set (one `shingle` column) when
    `id_col` is None.

    The single shingle pipeline shared by contamination checks
    (curation.contamination_flags, sketch.bloom_contamination) and
    their DuckDB mirrors — tokenization rule, the in-lambda
    re-tokenization guard, and gram bounds live here only.
    """
    ids = [F.col(id_col)] if id_col else []
    # tokens bound to a column before gram construction (in-lambda
    # re-tokenization is O(tokens^2) per row otherwise)
    sh = df.select(*ids, tokens(F.col(text_col)).alias("tk")).select(
        *ids,
        F.explode(F.array_distinct(word_grams(F.col("tk"), n))).alias("shingle"),
    )
    return sh if id_col else sh.distinct()


def corpus_ngram_topk(
    df: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide most-frequent word n-grams with a deterministic
    tie-break (count desc, ngram asc).

    Scale shape: explode -> partial-agg count (map-side combine) -> one
    shuffle on the n-gram -> TakeOrderedAndProject(k) — the final
    ordering never materializes a global sort, each task keeps only its
    local top-k heap. This is the plan Spark picks for
    orderBy().limit(k) and is the right one at 100 TB.
    """
    grams = df.select(tokens(F.col(text_col)).alias("tk")).select(
        F.explode(word_grams(F.col("tk"), n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("ngram"))
        .limit(k)
    )


def length_percentiles(
    df: DataFrame,
    group_col: str = "role",
    text_col: str = "text",
    percentiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact interpolated length percentiles per group (one shuffle,
    partial-agg friendly). Exact percentile is fine here because the
    group count is tiny (roles/languages); for high-cardinality groups
    swap in approx_percentile — same plan shape, bounded state."""
    out = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        *[
            F.round(
                F.percentile(F.length(F.col(text_col)), F.lit(p)), 6
            ).alias(f"p{int(p * 100)}")
            for p in percentiles
        ],
    )
    return out


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    classic CCNet-style perplexity proxy without an external LM: train
    word frequencies on the corpus itself, score each doc by the mean
    ln P(token). Low scores flag gibberish / non-language documents.

    Vocabulary = words with corpus count >= min_count (a deterministic
    cutoff — a top-K vocab would need a tie-break that differs across
    engines); out-of-vocabulary tokens get a 0.5 pseudo-count.

    Scale shape: the exploded word frame is persisted (two consumers —
    the count shuffle and the scoring join — and Spark shares no common
    subplan between them, so without the cache the corpus would be
    tokenized and exploded twice); the corpus total derives from the
    pre-filter word counts (no third pass); the vocab (>=min_count
    survivors, i.e. the Zipf head) is broadcast back and the total is a
    broadcast cross join — scoring is map-side + one partial-agg per
    doc. Call session.release_persisted() between jobs in long sessions."""
    from fluent_bit_spark.session import persist_tracked

    tk = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("tk"))
    words = persist_tracked(tk.select("id", F.explode("tk").alias("w")))
    wcounts = words.groupBy("w").agg(F.count("*").alias("cnt"))
    vocab = wcounts.filter(F.col("cnt") >= min_count)
    total = wcounts.agg(F.sum("cnt").alias("_total"))
    scored = (
        words.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "logp", F.log(F.coalesce(F.col("cnt"), F.lit(0.5)) / F.col("_total"))
        )
    )
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.round(F.avg("logp"), 6).alias("logprob"),
        F.count("*").alias("n_tok"),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Corpus-trained add-k bigram LM score per document — the bigram
    upgrade of unigram_logprob: mean ln P(w2 | w1) with
    P = (C(w1,w2) + k) / (C(w1) + k*V) over the corpus's own counts.
    Output (id, n_bigrams, logprob); docs with < 2 tokens have no
    bigram and emit no row.

    Per-bigram ln terms are fixed-pointed to BIGINT before the per-doc
    sum (the bm25 convention), so the mean is independent of partition
    summation order — exactly oracle-checkable, unlike a float AVG.

    Scale shape: the exploded bigram frame is persisted (it feeds the
    corpus count AND the scoring join); corpus bigram counts join back
    on the bigram key (one shuffle), left-context counts on w1, and V
    rides in as a 1-row broadcast.
    """
    from fluent_bit_spark.session import persist_tracked

    # tk feeds both the bigram and the unigram explode — persist so the
    # corpus tokenization runs once (the unigram_logprob rationale)
    tk = persist_tracked(
        df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("tk"))
    )
    sz = F.size("tk")
    grams = F.zip_with(
        F.slice(F.col("tk"), 1, F.greatest(sz - 1, F.lit(0))),
        F.slice(F.col("tk"), 2, F.greatest(sz - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = persist_tracked(
        tk.select("id", F.explode(grams).alias("g")).select("id", "g.w1", "g.w2")
    )
    uni = persist_tracked(
        tk.select(F.explode("tk").alias("w")).groupBy("w").agg(
            F.count("*").alias("n1")
        )
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    vtot = uni.agg(F.count("*").alias("_v"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vtot))
        .withColumn(
            "_fx",
            F.round(
                F.log(
                    (F.col("n2") + F.lit(k))
                    / (F.col("n1") + F.lit(k) * F.col("_v"))
                )
                * 1_000_000
            ).cast("long"),
        )
    )
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.sum("_fx") / F.lit(1_000_000.0) / F.count("*"), 6
        ).alias("logprob"),
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    classic gibberish / binary-blob / base64 detector in quality
    pipelines: natural language sits in a mid band, repeated-char spam
    scores near 0, random blobs near ln(alphabet).

    Output: (id, n_chars, n_distinct, entropy). Per-character terms
    -p·ln(p) are fixed-pointed to BIGINT and summed over the SORTED
    distinct-character array, so the result is bit-identical across
    engines and partitionings (round-6 after the integer sum).

    Scale shape: pure array expressions over one row — shuffle-free
    map stage. The char array and its distinct set are let-bound
    lambda variables (each is referenced inside nested HOF lambdas; a
    plain alias would be re-inlined per element — the winnowing
    lesson). Cost is O(len · distinct) comparisons per row, with
    distinct bounded by the alphabet.
    """
    def ent(chars: Column) -> Column:
        n = F.size(chars)

        def over_distinct(d: Column) -> Column:
            terms = F.transform(
                d,
                lambda c: let_bound(
                    F.size(F.filter(chars, lambda x: x == c)).cast("double") / n,
                    lambda p: F.round(-(p * F.log(p)) * 1_000_000_000).cast("long"),
                ),
            )
            return F.struct(
                n.alias("n_chars"),
                F.size(d).alias("n_distinct"),
                F.round(
                    F.aggregate(terms, F.lit(0).cast("long"), lambda a, t: a + t)
                    / 1_000_000_000.0,
                    6,
                ).alias("entropy"),
            )

        return let_bound(F.array_sort(F.array_distinct(chars)), over_distinct)

    chars_expr = F.filter(F.split(F.col(text_col), ""), lambda c: c != "")
    out = df.select(
        F.col(id_col),
        let_bound(chars_expr, ent).alias("_e"),
    )
    return out.select(
        id_col,
        F.col("_e.n_chars").alias("n_chars"),
        F.col("_e.n_distinct").alias("n_distinct"),
        F.when(F.col("_e.n_chars") > 0, F.col("_e.entropy"))
        .otherwise(F.lit(0.0))
        .alias("entropy"),
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """CCNet-style per-language LM-quality bucketing (Wenzek et al.
    2020): score every document with the corpus-trained add-k bigram
    LM (bigram_logprob — fixed-point, partition-order independent) and
    split each language into head / middle / tail terciles by score.
    CCNet keeps `head` (and often `middle`) as training data; `tail`
    is the low-quality cut.

    Deterministic: the tercile order is (round-6 logprob DESC, id), so
    NTILE assignments are identical across engines and partitionings.
    Docs with < 2 tokens have no bigram and emit no row (the
    bigram_logprob contract).

    Scale shape: bigram_logprob's shuffles plus one per-language NTILE
    window. Languages are a bounded-cardinality partition key; if one
    language dominates the corpus, swap the exact NTILE for the
    hist_quantiles sketch cutoffs — the operator contract (per-lang
    score terciles) stays the same.
    """
    from pyspark.sql import Window

    scored = bigram_logprob(df, id_col, text_col, k)
    j = scored.join(df.select(F.col(id_col), F.col(lang_col)), id_col)
    t = F.ntile(3).over(
        Window.partitionBy(lang_col).orderBy(
            F.col("logprob").desc(), F.col(id_col)
        )
    )
    bucket = (
        F.when(t == 1, F.lit("head"))
        .when(t == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return j.select(
        id_col, lang_col, "n_bigrams", "logprob", bucket.alias("bucket")
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-`k` keywords per document by smoothed tf-idf
    (`tf * (ln((N+1)/(df+1)) + 1)`, the sklearn-style smooth idf),
    ties broken by term ascending. Output: (id, term, tf, score, rank).

    Scale shape: explode -> two hash aggregations (doc-term tf, then
    term doc-frequency) -> shuffle join on term -> per-doc top-k
    window. The corpus size N rides in via a 1-row broadcast cross
    join (no driver-side action, plan stays lazy). Scores are rounded
    to 6 decimals BEFORE ranking so the ordering is reproducible
    across engines (ln differs by <=1 ulp between libms; ranking on
    the rounded value makes the tie-break deterministic)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = df.agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "tf", "score", "rank")
    )


def pmi_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    window: int = 2,
    min_count: int = 5,
) -> DataFrame:
    """Top-`k` co-occurring word pairs by pointwise mutual information
    over within-`window` ordered co-occurrences. Output
    (w1, w2, n_pair, pmi), ranked (pmi desc, w1, w2).

    Pairs are built map-side with zero joins: for each distance d the
    token array is zipped with its own d-shifted slice, so the first
    shuffle moves (pair, count) keys, never positions. Marginals join
    on the vocab (same shape as tfidf's df join); corpus totals ride
    in as 1-row broadcast cross joins (lazy, no driver action).

    pmi = ln(P(a,b) / (P(a)P(b))) computed as a left-folded sum of
    per-integer ln terms — no giant integer products that could
    overflow at corpus scale — and rounded to 6 decimals BEFORE
    ranking (tfidf's cross-engine float-lockstep convention).
    min_count filters pairs AFTER the totals are taken, so
    probabilities stay those of the full pair population.
    """
    from fluent_bit_spark.session import persist_tracked

    # toks feeds two plan branches (pair generation + marginal counts);
    # Spark shares no common subplans, so persist (dedup.py convention)
    toks = persist_tracked(df.select(tokens(F.lower(F.col(text_col))).alias("tk")))
    sz = F.size(F.col("tk"))
    arms = [
        F.zip_with(
            F.slice(F.col("tk"), 1, F.greatest(sz - d, F.lit(0))),
            F.slice(F.col("tk"), d + 1, F.greatest(sz - d, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        for d in range(1, window + 1)
    ]
    pairs = toks.select(F.explode(F.concat(*arms)).alias("p")).select(
        "p.w1", "p.w2"
    )
    pair_counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_p"))
    tok_counts = (
        toks.select(F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n_t"))
    )
    total_pairs = pair_counts.agg(F.sum("n_p").alias("total_pairs"))
    total_tok = tok_counts.agg(F.sum("n_t").alias("total_tok"))
    scored = (
        pair_counts.filter(F.col("n_p") >= min_count)
        .join(tok_counts.withColumnRenamed("term", "w1").withColumnRenamed("n_t", "n1"), "w1")
        .join(tok_counts.withColumnRenamed("term", "w2").withColumnRenamed("n_t", "n2"), "w2")
        .crossJoin(F.broadcast(total_pairs))
        .crossJoin(F.broadcast(total_tok))
        .withColumn(
            "pmi",
            F.round(
                (
                    (
                        (F.log("n_p") - F.log("total_pairs"))
                        - F.log("n1")
                    )
                    - F.log("n2")
                )
                + F.lit(2.0) * F.log("total_tok"),
                6,
            ),
        )
    )
    return (
        scored.select("w1", "w2", F.col("n_p").alias("n_pair"), "pmi")
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    broadcast_queries: bool = True,
) -> DataFrame:
    """BM25 retrieval: top-`k` documents per query. Output
    (query_id, doc_id, score, rank), rank by (score desc, doc_id).

    Lucene-style idf = ln(1 + (N - df + 0.5)/(df + 0.5)); query terms
    are DISTINCT (query-side tf fixed at 1). Per-term contributions
    are fixed-pointed to round(x * 1e6) BIGINT before the per-(query,
    doc) sum, so the accumulated score is integer arithmetic —
    order-independent across partitions and engines (float summation
    order would differ run to run); the float math inside one term is
    a fixed expression tree the DuckDB oracle replicates operand for
    operand.

    Scale shape: the (doc, term) tf table shuffles once; query terms
    join it on term (queries broadcast — the small side); doc length
    joins on its natural key; N and avg_len ride in as a 1-row
    broadcast. Document frequency is aggregated AFTER restricting tf
    to query-vocabulary terms — df(term) counts the same docs either
    way, but the aggregate shrinks from corpus-vocabulary size to
    |query vocab| rows, so it broadcasts instead of shuffle-joining
    (at web scale the full-vocab df pass is the dominant cost this
    avoids). No per-row Python anywhere.

    `broadcast_queries` guards the broadcast side's size assumption:
    the default presumes a bounded query set (the serving / eval /
    bounded-mining case — hard_negatives caps its query sample for
    exactly this reason). A caller whose query set scales with the
    corpus must pass False: the query-side joins (vocab semi-join,
    query terms, df) then shuffle-join instead, identical values,
    with hot-term skew riding AQE's skew-join splitting.
    """
    from fluent_bit_spark.session import persist_tracked

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    # tf feeds three consumers (dfreq, dlen, the query join); persist so
    # the corpus is tokenized and aggregated once (dedup.py convention)
    tf = persist_tracked(toks.groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    dlen = tf.groupBy(id_col).agg(F.sum("tf").alias("len_d"))
    stats = dlen.agg(
        F.count("*").alias("n_docs"), F.sum("len_d").alias("total_len")
    )
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(
            F.array_distinct(tokens(F.lower(F.col(query_text_col))))
        ).alias("term"),
    )
    qvocab = qterms.select("term").distinct()
    _q = F.broadcast if broadcast_queries else (lambda d: d)
    # query-vocab tf slice: map-side broadcast semi-restriction of the
    # persisted tf — feeds both the df aggregate and the scoring join
    tf_q = tf.join(_q(qvocab), "term", "left_semi")
    dfreq = tf_q.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf_q.join(_q(qterms), "term")
        .join(_q(dfreq), "term")
        .join(dlen, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_ts",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b)
                    * F.col("len_d")
                    / (F.col("total_len") / F.col("n_docs"))
                )
            ),
        )
        .withColumn("_fx", F.round(F.col("_ts") * 1_000_000).cast("long"))
    )
    agg = scored.groupBy(query_id_col, id_col).agg(
        (F.sum("_fx") / F.lit(1_000_000.0)).alias("score")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), id_col)
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def retrieval_eval(
    docs: DataFrame,
    every: int = 25,
    qtokens: int = 8,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-retrieval evaluation harness over bm25_topk: every
    `every`-th doc's first `qtokens` tokens become a query whose ground
    truth is the doc itself; the full corpus is the candidate set.
    Output is ONE row: (n_queries, hits_at_1, hits_at_k, recall_at_1,
    recall_at_k, mrr).

    MRR accumulates round(1e6 / rank) integers (the fixed-point
    convention), so the metric is summation-order-independent and
    exactly oracle-checkable. The eval composes entirely from the
    production retrieval path — it measures the same plan a user runs.
    """
    q = docs.filter(F.col(id_col) % every == 0).select(
        F.col(id_col).alias("query_id"),
        F.array_join(
            F.slice(tokens(F.lower(F.col(text_col))), 1, qtokens), " "
        ).alias("text"),
    )
    res = bm25_topk(docs, q, k=k, text_col=text_col, id_col=id_col)
    hits = res.filter(F.col(id_col) == F.col("query_id")).select(
        "query_id", "rank"
    )
    per_q = q.select("query_id").join(hits, "query_id", "left")
    agg = per_q.agg(
        F.count("*").alias("n_queries"),
        F.sum(F.when(F.col("rank") == 1, 1).otherwise(0)).alias("hits_at_1"),
        F.sum(F.when(F.col("rank").isNotNull(), 1).otherwise(0)).alias(
            f"hits_at_{k}"
        ),
        F.sum(
            F.coalesce(
                F.round(F.lit(1_000_000.0) / F.col("rank")).cast("long"),
                F.lit(0),
            )
        ).alias("_mrr_fx"),
    )
    return agg.select(
        "n_queries",
        "hits_at_1",
        f"hits_at_{k}",
        F.round(F.col("hits_at_1") / F.col("n_queries"), 6).alias("recall_at_1"),
        F.round(F.col(f"hits_at_{k}") / F.col("n_queries"), 6).alias(
            f"recall_at_{k}"
        ),
        F.round(
            F.col("_mrr_fx") / F.lit(1_000_000.0) / F.col("n_queries"), 6
        ).alias("mrr"),
    )


def bpe_merges(df: DataFrame, text_col: str = "text", iters: int = 5) -> DataFrame:
    """BPE-style vocabulary induction: `iters` greedy pair merges over
    the corpus word-frequency table. Output one merge rule per
    iteration: (iter, left, right, merged, cnt), ordered by iter.

    Classic byte-pair encoding (Sennrich et al. 2016), restricted to
    the merge-table induction (no end-of-word marker): words split to
    characters; each round counts adjacent symbol pairs weighted by
    word frequency, picks the most frequent (ties: cnt desc, pair
    lexicographic — fully deterministic, so the DuckDB oracle matches
    hash-exactly), and rewrites every word by greedy leftmost
    non-overlapping replacement ('aaa' + (a,a) -> ['aa','a']).

    Scale shape: the working set is the DISTINCT-word table (vocab-
    bound, not corpus-bound) — one pair-count shuffle per iteration;
    the winning rule joins back as a 1-row broadcast, and the rewrite
    is a map-side array fold. The whole induction is one lazy plan:
    no driver-side collect between iterations; per-level persists
    (dedup.py convention) keep lineage linear instead of 2^iters.

    A word shorter than 2 symbols contributes no pairs; if pairs are
    exhausted before `iters`, later iterations emit no rule row.
    """
    tops, _ = _bpe_iterate(df, text_col, iters, apply_last=False)
    out = tops[0]
    for t in tops[1:]:
        out = out.union(t)
    return out.orderBy("iter")


def bpe_vocab(df: DataFrame, text_col: str = "text", iters: int = 5) -> DataFrame:
    """The encoded vocabulary after applying ALL `iters` induced merge
    rules: (word, n, encoded) where encoded is the space-joined symbol
    sequence — the encode side of bpe_merges (same induction, with the
    final rule applied too). Vocab-bound like the induction itself."""
    _, cur = _bpe_iterate(df, text_col, iters, apply_last=True)
    return cur.select(
        "word", "n", F.array_join("sym", " ").alias("encoded")
    ).orderBy("word")


def _bpe_iterate(
    df: DataFrame, text_col: str, iters: int, apply_last: bool
) -> tuple[list[DataFrame], DataFrame]:
    """Shared BPE induction loop: returns (per-iteration rule frames,
    the running (n, sym) — or, with apply_last, (word, n, sym) —
    vocab). With apply_last the final rule is folded in as well
    (encode semantics) and the word rides along for the output;
    without, the vocab stops one rewrite short (induction only needs
    pair counts) and the word column is dropped so the benched
    induction path doesn't cache the string payload per iteration."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    from fluent_bit_spark.session import persist_tracked

    toks = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
    base = toks.groupBy("word").agg(F.count("*").alias("n"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    carry = ["word"] if apply_last else []
    cur = persist_tracked(base.select(*carry, "n", chars.alias("sym")))
    tops = []
    for it in range(1, iters + 1):
        sz = F.size(F.col("sym"))
        pairs = F.zip_with(
            F.slice(F.col("sym"), 1, F.greatest(sz - 1, F.lit(0))),
            F.slice(F.col("sym"), 2, F.greatest(sz - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        pc = (
            cur.select("n", F.explode(pairs).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("cnt"))
        )
        top = persist_tracked(
            pc.orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .select(
                F.lit(it).alias("iter"),
                F.col("a").alias("left"),
                F.col("b").alias("right"),
                F.concat("a", "b").alias("merged"),
                "cnt",
            )
        )
        tops.append(top)
        if it < iters or apply_last:
            # global agg, not select: it yields exactly ONE row even
            # when no pair exists (NULL rule -> the fold's condition is
            # NULL -> no-op), whereas crossJoin with an empty rule
            # frame would wipe the whole vocab
            rule = F.broadcast(
                top.agg(
                    F.max("left").alias("_ma"), F.max("right").alias("_mb")
                )
            )
            # greedy leftmost fold; F.get (0-based, NULL out-of-bounds)
            # instead of element_at(acc, -1), which throws under ANSI
            # on the empty initial accumulator
            folded = F.aggregate(
                "sym",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.get(acc, F.size(acc) - 1) == F.col("_ma"))
                    & (s == F.col("_mb")),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(F.col("_ma"), F.col("_mb"))),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            )
            cur = persist_tracked(
                cur.crossJoin(rule).select(*carry, "n", folded.alias("sym"))
            )
    return tops, cur


def doc_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-stop per-document stats frame."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_chars_m": F.length(t),
            "n_tokens": token_count(t),
            "n_subword_tokens": bpe_ish_token_count(t),
            "mean_word_len": F.round(mean_word_len(t), 6),
            "stopword_ratio": F.round(stopword_ratio(t), 6),
            "punct_ratio": F.round(punct_ratio(t), 6),
            "quality": quality_score(t),
            "lang_pred": lang_id(t),
            "fingerprint": fingerprint_md5(t),
        }
    )


def inverted_postings(
    df: DataFrame,
    k: int = 5,
    min_df: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_df: bool = True,
) -> DataFrame:
    """Inverted-index posting lists: for every term appearing in at
    least `min_df` documents, the top-`k` documents by term frequency
    (ties: doc id asc). Output (term, doc_id, tf, rank) — the
    materialized index a sparse-retrieval serving tier loads, built
    with the same trim/lower/whitespace tokenization as the BM25 path.

    Scale shape: explode -> one (term, doc) partial-agg shuffle for tf
    -> per-term df counts (tiny, broadcast back) -> per-term top-k.
    Hot terms (stopwords) are pre-limited per input partition before
    the global rank window (a partition can only contribute its own
    top k per term — the quota_sample/throttle bound), so a term in
    every document never lands its full posting list on one reducer.
    """
    from fluent_bit_spark.operators.skew import topk_per_group

    # tokens() trims internally — this is exactly the BM25 path's
    # tokenization expression
    toks = tokens(F.lower(F.col(text_col)))
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("_df"))
    # broadcast is vocab-bound, not constant-bound: fine for the
    # df-floored vocabularies this targets; a corpus whose qualifying
    # vocabulary approaches driver memory passes broadcast_df=False —
    # the df join then shuffles (identical values) with hot-term skew
    # riding AQE's skew-join splitting
    _b = F.broadcast if broadcast_df else (lambda d: d)
    qualified = tf.join(_b(dfreq.filter(F.col("_df") >= min_df)), "term")
    return topk_per_group(
        qualified,
        ["term"],
        [F.col("tf").desc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
    ).select("term", id_col, "tf", "rank")


def hard_negatives(
    docs: DataFrame,
    every: int = 25,
    qtokens: int = 8,
    n_neg: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_queries: int | None = 100_000,
) -> DataFrame:
    """BM25 hard-negative mining for dense-retriever training (the
    DPR-style recipe): every `every`-th doc's first `qtokens` tokens
    form a query, the positive is the doc itself, and the hard
    negatives are the top-ranked OTHER docs from the production
    bm25_topk path (re-ranked after dropping self). Output
    (query_id, doc_id, kind, neg_rank, score): one positive row
    (neg_rank 0, NULL score -- the positive is labeled, not retrieved)
    plus up to n_neg 'hard_negative' rows.

    Scale shape: exactly bm25_topk's (queries are the every-th-doc
    sample, always the broadcast side) plus one per-query rank window
    over the already-top-k lists.  The every-th-doc sample is
    corpus-proportional, which at 100 TB would push a
    corpus-vocabulary-sized side through bm25_topk's broadcasts —
    `max_queries` caps it with a deterministic md5-ordered top-k
    (distributed TakeOrdered, partition-invariant, same rule in the
    DuckDB oracle), keeping the broadcast side constant-bounded no
    matter the corpus.  Pass None to disable the cap; mine more
    negatives by raising `every` instead of the cap where possible."""
    from fluent_bit_spark.functions.hashing import md5_32

    q = docs.filter(F.col(id_col) % every == 0).select(
        F.col(id_col).alias("query_id"),
        F.array_join(
            F.slice(tokens(F.lower(F.col(text_col))), 1, qtokens), " "
        ).alias("text"),
    )
    if max_queries is not None:
        q = (
            q.withColumn("_qh", md5_32(F.col("query_id").cast("string")))
            .orderBy("_qh", "query_id")
            .limit(max_queries)
            .drop("_qh")
        )
    res = bm25_topk(docs, q, k=n_neg + 1, text_col=text_col, id_col=id_col)
    w = Window.partitionBy("query_id").orderBy("rank")
    negs = (
        res.filter(F.col(id_col) != F.col("query_id"))
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= n_neg)
        .select(
            "query_id",
            id_col,
            F.lit("hard_negative").alias("kind"),
            "neg_rank",
            "score",
        )
    )
    pos = q.select(
        "query_id",
        F.col("query_id").alias(id_col),
        F.lit("positive").alias("kind"),
        F.lit(0).alias("neg_rank"),
        F.lit(None).cast("double").alias("score"),
    )
    return pos.unionByName(negs)


def subword_count_portable(text: Column) -> Column:
    """bpe_ish_token_count without lookaround (RE2-safe, so the DuckDB
    oracle can run the same passes): letter<->digit boundaries are
    materialized by two regexp_replace passes, then segments split on
    non-alphanumeric runs. Equals bpe_ish_token_count on every input
    (the two-pass insertion marks exactly the boundaries the
    lookaround split cuts at) -- pytest asserts the equivalence over
    the corpus fixtures."""
    c = F.regexp_replace(text, r"([a-zA-Z])([0-9])", r"$1 $2")
    c = F.regexp_replace(c, r"([0-9])([a-zA-Z])", r"$1 $2")
    return F.size(F.filter(F.split(c, r"[^a-zA-Z0-9]+"), lambda t: t != ""))


def tokenizer_fertility(
    df: DataFrame,
    by: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-group tokenizer fertility: subword segments per whitespace
    word -- the metric that tells you which languages (or sources) pay
    more tokens per word under a BPE-ish tokenizer, i.e. where the
    token budget actually goes. Output (by, n_docs, n_words,
    n_subwords, fertility) with fertility = round(subwords/words, 6)
    computed from the two integer sums (one division at the end -- no
    per-row float accumulation).

    Scale shape: a map stage producing two longs per doc, then one
    groupBy shuffle on the group key with map-side partial sums."""
    t = F.col(text_col)
    per = df.select(
        F.col(by),
        token_count(t).cast("long").alias("_nw"),
        subword_count_portable(t).cast("long").alias("_ns"),
    )
    return per.groupBy(by).agg(
        F.count("*").alias("n_docs"),
        F.sum("_nw").alias("n_words"),
        F.sum("_ns").alias("n_subwords"),
        F.when(
            F.sum("_nw") > 0,
            F.round(F.sum("_ns").cast("double") / F.sum("_nw"), 6),
        ).alias("fertility"),
    )


def ttr_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level lexical diversity per group: total tokens, distinct
    token types, and the type-token ratio (the Heaps-law operating
    point). A collapsing TTR across crawl snapshots is the classic
    early-warning that a source started repeating itself — checked per
    source BEFORE the mixture weights are set.

    Scale shape: tokens explode map-side; types are a (group, token)
    distinct with map-side partial dedup (token vocabulary is sublinear
    in corpus size by Heaps' law); totals ride the same exploded pass.
    """
    toks = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col),
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("_tok"),
    )
    totals = toks.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    types = (
        toks.select(group_col, "_tok")
        .distinct()
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    return totals.join(types, group_col).select(
        group_col,
        "n_docs",
        "n_tokens",
        "n_types",
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("ttr"),
    )


# integer nDCG discount table: disc_milli(r) = round(1e6 / log2(r+1)).
# Precomputed once so BOTH engines consume the same literals — the
# metric stays integer-exact end to end (no runtime float logs).
NDCG_DISC_MILLI = {
    r: round(1_000_000 / math.log2(r + 1)) for r in range(1, 101)
}


def ndcg_eval(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Graded-relevance nDCG@k per query, integer-exact:

        dcg_milli  = sum over hits of gain * disc_milli(rank)
        idcg_milli = same over the ideal ordering of the query's
                     qrels (gain DESC, doc_id as the tie-break)
        ndcg_ppm   = dcg_milli * 1_000_000 div idcg_milli

    `results` = (query_id, doc_id, rank); `qrels` = (query_id,
    doc_id, gain). Discounts come from the shared NDCG_DISC_MILLI
    literal table, so the fixed-point metric is bit-identical in any
    engine that consumes the same constants.

    Scale shape: one equi-join of results against the (small) qrel
    set, one vocabulary-sized window over qrels for the ideal
    ordering, group-bys on query_id throughout — candidate lists are
    already top-k-bounded upstream.
    """
    from pyspark.sql import Window

    pairs = [x for r in range(1, k + 1) for x in (F.lit(r), F.lit(NDCG_DISC_MILLI[r]))]
    disc = F.create_map(*pairs)
    hits = results.filter(F.col("rank") <= k).join(
        qrels, ["query_id", "doc_id"]
    )
    dcg = hits.groupBy("query_id").agg(
        F.sum(F.col("gain") * disc[F.col("rank")]).alias("dcg_milli")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("gain").desc(), F.col("doc_id")
    )
    ideal = (
        qrels.withColumn("_ir", F.row_number().over(w))
        .filter(F.col("_ir") <= k)
        .groupBy("query_id")
        .agg(F.sum(F.col("gain") * disc[F.col("_ir")]).alias("idcg_milli"))
    )
    return ideal.join(dcg, "query_id", "left").select(
        "query_id",
        F.coalesce("dcg_milli", F.lit(0)).cast("long").alias("dcg_milli"),
        F.col("idcg_milli").cast("long"),
        # all-zero-gain qrels make idcg 0: nDCG undefined -> NULL
        # (also keeps ANSI mode from raising DIVIDE_BY_ZERO)
        F.when(
            F.col("idcg_milli") > 0,
            F.expr("coalesce(dcg_milli, 0) * 1000000 div idcg_milli"),
        ).alias("ndcg_ppm"),
    )
