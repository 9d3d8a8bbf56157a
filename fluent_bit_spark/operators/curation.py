"""Corpus-curation operators a large-scale training-data pipeline
needs beyond parse/route: PII redaction, Gopher-style quality rules,
benchmark-contamination detection, per-domain quota sampling, and
corpus-level common-line removal.

All hot paths are JVM Column expressions (regexp/array builtins — no
Python UDFs), so every operator here is oracle-expressible in ANSI SQL
and survives whole-stage codegen. Scale shapes:

- pii_redact / gopher_quality: pure map stages, shuffle-free.
- contamination_flags: benchmark n-gram set is small by construction
  (eval suites are KBs-MBs, corpus is TBs) -> broadcast inner join
  against exploded corpus shingles, then one partial-agg shuffle on
  doc_id.
- quota_sample: one shuffle on the group column; ranking key is a
  content hash so results are partition/order independent. Skewed
  groups are bounded by the same per-partition pre-limit trick used by
  filters.throttle (a partition only needs its first `n` rows per
  group as candidates).
- common_line_filter: line doc-frequency = one shuffle of (line_hash,
  doc_id) pairs with map-side partial distinct; the resulting common
  set is tiny (a line must repeat across >k docs) -> broadcast
  anti-semantics join back.

Reference anchor: the reference has no corpus ops (it is a log
shipper); these follow the published Gopher (Rae et al. 2021) /
C4 / CCNet curation recipes re-expressed as Spark plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from fluent_bit_spark.functions.hashing import md5_32

# ---------------------------------------------------------------------------
# PII redaction

# Patterns kept to the Java-regex / RE2 common subset so the DuckDB
# oracle can run the identical pattern strings. Order matters (SSN
# before phone would also work; email first avoids '@10.0.0.1' hosts
# being half-eaten by the IP rule) and is part of the contract.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_redact(
    df: DataFrame, text_col: str = "text", out: str = "redacted"
) -> DataFrame:
    """Replace PII spans with typed placeholder tokens and count the
    replacements per category (n_<name> columns). Pure map stage."""
    c: Column = F.col(text_col)
    counts = {}
    for name, pat, repl in PII_RULES:
        counts[f"n_{name}"] = F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        c = F.regexp_replace(c, pat, repl)
    return df.withColumns({out: c, **counts})


def pii_leak(
    df: DataFrame,
    rules: list[tuple[str, str, str]] = PII_RULES,
    text_col: str = "text",
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "norm_role",
    src_role: str = "user",
    dst_role: str = "assistant",
) -> DataFrame:
    """Cross-turn PII leak detection: PII values first uttered by
    `src_role` that a later `dst_role` turn repeats verbatim (the
    training-data failure where an assistant echoes a user's email).

    Scale shape: span extraction is one whole-stage-codegen map pass
    (all rules folded into one flatten/explode — no per-rule scan);
    candidate values aggregate to their first utterance per
    (conversation, type, value); the leak probe is an equi-join on the
    conversation key with a contains() residual — never wider than a
    conversation, so it shuffles on conv_id exactly once and survives
    100 TB the same way every per-conversation operator here does."""
    def _tagged(name: str):
        # NB: a second lambda parameter would be interpreted by Spark
        # as the array-index argument, not a Python default — close
        # over the rule name instead
        return lambda v: F.struct(
            F.lit(name).alias("pii_type"), v.alias("value")
        )

    spans = F.flatten(
        F.array(
            *[
                F.transform(
                    F.regexp_extract_all(F.col(text_col), F.lit(pat), 0),
                    _tagged(name),
                )
                for name, pat, _ in rules
            ]
        )
    )
    src = (
        df.filter(F.col(role_col) == src_role)
        .select(conv_col, order_col, F.explode(spans).alias("s"))
        .groupBy(conv_col, "s.pii_type", "s.value")
        .agg(F.min(order_col).alias("first_seen"))
    )
    dst = df.filter(F.col(role_col) == dst_role).select(
        conv_col, F.col(order_col).alias("leak_turn_idx"), text_col
    )
    return dst.join(src, on=conv_col).filter(
        (F.col("leak_turn_idx") > F.col("first_seen"))
        & F.col(text_col).contains(F.col("value"))
    ).select(conv_col, "leak_turn_idx", "pii_type", "value", "first_seen")


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, table A1 flavor)


def _lines(text: Column) -> Column:
    """Non-empty trimmed lines."""
    return F.filter(
        F.transform(F.split(text, r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher-flavor quality signals + a pass flag:

    - word count in [10, 100000]
    - mean word length in [2, 12]
    - symbol-to-word ratio ('#' or ellipsis) <= 0.1
    - fraction of words with an alphabetic character >= 0.7
    - fraction of duplicate (non-empty) lines <= 0.3
    - fraction of lines starting with a bullet <= 0.9
    - fraction of lines ending in an ellipsis <= 0.3

    All thresholds are the published Gopher constants except the word
    floor (10 vs 50 — the synthetic docs are short). Shuffle-free.
    """
    t = F.col(text_col)
    # words/lines arrays bound to columns: every metric below references
    # them, and inlined trees would re-tokenize once per metric (and the
    # filter-lambda metrics once per word) — bound attributes are free.
    df = df.withColumns(
        {
            "_gq_words": F.filter(
                F.split(F.trim(t), r"\s+"), lambda w: w != ""
            ),
            "_gq_lines": _lines(t),
        }
    )
    words = F.col("_gq_words")
    n_words = F.size(words)
    mean_wlen = F.when(
        n_words > 0,
        F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)) / n_words,
    ).otherwise(F.lit(0.0))
    n_symbols = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\."), 0))
    symbol_ratio = F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    frac_alpha = F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0))

    lines = F.col("_gq_lines")
    n_lines = F.size(lines)
    frac_dup_lines = F.when(
        n_lines > 0,
        (n_lines - F.size(F.array_distinct(lines))) / n_lines,
    ).otherwise(F.lit(0.0))
    frac_bullet = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•]"))) / n_lines,
    ).otherwise(F.lit(0.0))
    frac_ellipsis = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)$"))) / n_lines,
    ).otherwise(F.lit(0.0))

    out = df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len_g": F.round(mean_wlen, 6),
            "symbol_ratio": F.round(symbol_ratio, 6),
            "frac_alpha_words": F.round(frac_alpha, 6),
            "frac_dup_lines": F.round(frac_dup_lines, 6),
            "frac_bullet_lines": F.round(frac_bullet, 6),
            "frac_ellipsis_lines": F.round(frac_ellipsis, 6),
        }
    ).drop("_gq_words", "_gq_lines")
    return out.withColumn(
        "gopher_pass",
        (F.col("n_words") >= 10)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len_g") >= 2.0)
        & (F.col("mean_word_len_g") <= 12.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("frac_alpha_words") >= 0.7)
        & (F.col("frac_dup_lines") <= 0.3)
        & (F.col("frac_bullet_lines") <= 0.9)
        & (F.col("frac_ellipsis_lines") <= 0.3),
    )


# ---------------------------------------------------------------------------
# benchmark contamination (n-gram overlap against an eval suite)


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_overlap: int = 1,
) -> DataFrame:
    """Per-corpus-doc count of distinct word n-grams that also appear
    anywhere in `benchmark` (the standard 13-gram decontamination
    check). Returns (id, n_overlap, contaminated) for docs with any
    overlap.

    Scale shape: the benchmark shingle set is broadcast (eval suites
    are tiny next to the corpus); corpus shingles are exploded map-side
    and never materialized as a full table.
    """
    from fluent_bit_spark.operators.text_analysis import doc_shingles

    bench = doc_shingles(benchmark, text_col, n)
    corpus_sh = doc_shingles(corpus, text_col, n, id_col=id_col)
    hits = corpus_sh.join(F.broadcast(bench), "shingle")
    return (
        hits.groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_overlap"))
        .withColumn("contaminated", F.col("n_overlap") >= min_overlap)
    )


def dup_ngram_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Per-document fraction of n-gram positions whose n-gram also
    occurs elsewhere in the corpus (in another document, or more than
    once in this one) — the duplicate-span quality signal the
    RefinedWeb/Dolma recipes threshold on instead of running full
    substring dedup.

    Returns (id, n_grams, n_dup_grams, dup_fraction) for docs with at
    least one n-gram (shorter docs have no n-gram positions).

    Scale shape: one explode + one count shuffle on the n-gram, then a
    broadcast-unfriendly-but-sparse join back: only grams with corpus
    count > 1 are joined (the duplicate set is far smaller than the
    gram universe), and per-doc coverage is a partial-agg groupBy.
    """
    from fluent_bit_spark.session import persist_tracked
    from fluent_bit_spark.operators.text_analysis import tokens, word_grams

    # persisted: the exploded gram frame feeds BOTH the count shuffle
    # and the join-back side; without the cache the corpus is
    # tokenized + gram-exploded twice (see session.persist_tracked)
    grams = persist_tracked(
        df.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("tk")
        ).select("id", F.explode(word_grams(F.col("tk"), n)).alias("g"))
    )
    counts = (
        grams.groupBy("g")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("g")
        .withColumn("_dup", F.lit(1))
    )
    marked = grams.join(counts, "g", "left")
    return (
        marked.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_grams"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6),
        )
    )


# ---------------------------------------------------------------------------
# per-domain quota sampling


def quota_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    salt: str = "",
) -> DataFrame:
    """Keep at most `n` rows per group, selected by content-hash order
    (ties broken by the key) — a deterministic, partition-independent
    per-domain quota. Re-runs over re-partitioned data keep identical
    rows (same property as sampling.hash_sample).

    One shuffle on `group_col`. Hot groups are pre-limited per input
    partition first (a partition can only contribute its own first `n`
    per group) via skew.topk_per_group, so a skewed domain never lands
    >n*partitions rows on one reducer.
    """
    from fluent_bit_spark.operators.skew import topk_per_group

    h = md5_32(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    return topk_per_group(
        df.withColumn("_qh", h),
        [group_col],
        [F.col("_qh").asc(), F.col(key_col).asc()],
        n,
    ).drop("_qh")


# ---------------------------------------------------------------------------
# corpus-level common-line removal (CCNet/C4-style boilerplate strip)


def intra_doc_dedup(
    df: DataFrame,
    text_col: str = "text",
    out: str = "clean_text",
) -> DataFrame:
    """Within-document repetition removal: drop repeated (trimmed,
    non-empty) lines keeping each line's FIRST occurrence, rebuild the
    text in original order, and report how many lines were dropped.

    This is the intra-doc counterpart of common_line_filter (which is
    corpus-level): web-scraped documents repeat their own nav chrome /
    footers; LLM transcripts repeat tool banners. Entirely array
    expressions over one row — a shuffle-free map stage that survives
    whole-stage codegen, which is the only shape that is acceptable for
    a per-document cleanup at 100 TB.

    First-occurrence keep is expressed as `filter(lines, (l, i) ->
    array_position(lines, l) == i+1)` rather than array_distinct so the
    ordering contract is explicit (and mirrored verbatim by the DuckDB
    oracle's `list_filter(.., (l, i) -> list_position(..) = i)`).

    The lines array is bound to a column before the filter: Catalyst
    does not CSE expressions referenced inside higher-order-function
    lambdas, and an inline _lines(text) in the array_position lambda
    re-splits the document once per line — O(lines^2) per row
    (measured 10x at 1500 lines).
    """
    bound = df.withColumn("_idd_lines", _lines(F.col(text_col)))
    lines = F.col("_idd_lines")
    kept = F.filter(
        lines, lambda l, i: F.array_position(lines, l) == i + F.lit(1)
    )
    return bound.withColumns(
        {
            out: F.array_join(kept, "\n"),
            "n_dropped": F.size(lines) - F.size(kept),
        }
    ).drop("_idd_lines")


def curation_scorecard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.75,
    min_entropy: float = 2.7,
    min_logprob: float = -3.45,
) -> DataFrame:
    """The composed filter stack a training-data pipeline actually
    runs: heuristic quality score + char-distribution entropy +
    corpus-trained bigram-LM score, joined into one per-doc scorecard
    with the final keep decision

        keep = quality >= q AND entropy >= e AND logprob >= l

    (docs too short for a bigram score fail the LM cut — coalesce to
    FALSE, mirrored by the oracle).

    Output: (id, quality, entropy, logprob, keep). Scale shape: the
    quality and entropy stages are shuffle-free maps over the same
    scan; the LM stage contributes its own shuffles (see
    bigram_logprob); the three join back on the doc id, which AQE
    plans as broadcasts once the per-doc frames are aggregated. One
    lazy plan end-to-end — this is the "run the whole stack in one
    pass" shape that matters at 100 TB, not three separate jobs.
    """
    from fluent_bit_spark.operators.text_analysis import (
        bigram_logprob,
        char_entropy,
        quality_score,
    )

    q = df.select(F.col(id_col), quality_score(F.col(text_col)).alias("quality"))
    e = char_entropy(df, id_col, text_col).select(id_col, "entropy")
    lm = bigram_logprob(df, id_col, text_col).select(id_col, "logprob")
    keep = (
        (F.col("quality") >= min_quality)
        & (F.col("entropy") >= min_entropy)
        & F.coalesce(F.col("logprob") >= min_logprob, F.lit(False))
    )
    return (
        q.join(e, id_col)
        .join(lm, id_col, "left")
        .select(id_col, "quality", "entropy", "logprob", keep.alias("keep"))
    )


def c4_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """C4-style cleanup (Raffel et al. 2020, the `en` pipeline rules):

    line level — keep only (trimmed, non-empty) lines that end in a
    terminal punctuation mark (. ! ? ") AND have >= 3 words AND do not
    contain the word "javascript" (case-insensitive);
    page level — `c4_pass` requires >= 5 sentences in the retained
    text, no "lorem ipsum", and no curly brace in the RAW page (the
    code-page heuristic).

    Output: (id, n_lines, n_kept, n_sentences, has_lorem, has_brace,
    c4_pass, clean_text). Entirely array/regexp Column expressions over
    one row — shuffle-free map stage inside whole-stage codegen, the
    only acceptable shape for per-page cleanup at 100 TB.

    The lines array is bound to a column before filtering (in-lambda
    re-splitting is O(lines^2) per row — the intra_doc_dedup lesson).
    """
    low = F.lower(F.col(text_col))
    bound = df.withColumn("_c4_lines", _lines(F.col(text_col)))
    lines = F.col("_c4_lines")
    # kept and clean_text are bound columns too: each is referenced by
    # several output columns, and the lambda-bearing filter tree is
    # exempt from codegen subexpression elimination — unbound, the
    # per-line regex work ran 4x per row (measured in the plan)
    bound = bound.withColumn(
        "_c4_kept",
        F.filter(
            lines,
            lambda l: l.rlike(r'[.!?"]$')
            & (
                F.size(F.filter(F.split(l, r"\s+"), lambda w: w != ""))
                >= min_words_per_line
            )
            & ~F.lower(l).contains("javascript"),
        ),
    ).withColumn("clean_text", F.array_join(F.col("_c4_kept"), "\n"))
    has_lorem = low.contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    return (
        bound.withColumn(
            "n_sentences",
            F.size(F.regexp_extract_all(F.col("clean_text"), F.lit(r"[.!?]"), 0)),
        )
        .withColumns(
            {
                "n_lines": F.size(lines),
                "n_kept": F.size(F.col("_c4_kept")),
                "has_lorem": has_lorem,
                "has_brace": has_brace,
                "c4_pass": (F.col("n_sentences") >= min_sentences)
                & ~has_lorem
                & ~has_brace,
            }
        )
        .select(
            id_col, "n_lines", "n_kept", "n_sentences",
            "has_lorem", "has_brace", "c4_pass", "clean_text",
        )
    )


def cross_doc_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Cross-document duplicated n-gram span removal — the n-gram
    approximation of exact-substring training-data dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better";
    the suffix-array pass replaced by a gram shuffle, which is the
    shape that distributes).

    Contract (deterministic; mirrored verbatim by the DuckDB oracle):

    - an *occurrence* is a word n-gram starting at 1-based token
      position `s` of document `d`;
    - a gram is *duplicated* when it occurs >= 2 times corpus-wide
      (across documents or repeated within one);
    - the *canonical* occurrence of a duplicated gram is the
      lexicographically smallest (doc, start);
    - a token is removed iff at least one NON-canonical duplicated
      occurrence covers it — so exactly one copy of every duplicated
      span survives (keep-first, matching exact_dedup's policy).

    Output: (id_col, n_tokens, removed_tokens, cleaned_text), one row
    per input document, cleaned_text rebuilt in original token order
    (empty string when everything was removed).

    Scale shape: occurrences are built map-side (bound token array ->
    word_grams -> posexplode; no per-gram re-tokenization). Duplicate
    detection + canonical pick is ONE shuffle on the gram with
    map-side partial aggregation; the occurrence->stats self-join
    reuses the persisted occurrence frame (both consumers, no common-
    subplan sharing otherwise). Removed positions come back as one
    per-doc sorted array (a shuffle of ~n ints per non-canonical
    occurrence — proportional to the duplicated volume, NOT the
    corpus), and the rebuild is a shuffle-free array filter against
    the original token array. The raw corpus text is never shuffled.
    At 100 TB, raise `n` (the reference setting in the paper is
    50-token spans) to shrink the dup set and splice points.
    """
    from fluent_bit_spark.session import persist_tracked
    from fluent_bit_spark.operators.text_analysis import tokens, word_grams

    # tokenization feeds the occurrence build AND the rebuild join —
    # persist so the corpus splits once (the bigram_logprob rationale);
    # occ additionally feeds both sides of its stats self-join
    toks_f = persist_tracked(
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("tk")).withColumn(
            "nt", F.size("tk")
        )
    )
    occ = persist_tracked(
        toks_f.select(F.col(id_col), F.posexplode(word_grams(F.col("tk"), n)))
        .select(F.col(id_col), (F.col("pos") + 1).alias("start"), F.col("col").alias("g"))
    )
    stats = occ.groupBy("g").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("start").alias("s"))).alias("fst"),
    )
    non_canon = occ.join(stats.filter(F.col("cnt") >= 2), "g").filter(
        ~((F.col(id_col) == F.col("fst.d")) & (F.col("start") == F.col("fst.s")))
    )
    removed = (
        non_canon.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))).alias("p"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("p")).alias("rm"))
    )
    joined = toks_f.join(removed, id_col, "left").withColumn(
        "rm", F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    )
    rm = F.col("rm")
    kept = F.filter(F.col("tk"), lambda t, i: ~F.array_contains(rm, i + F.lit(1)))
    out = joined.select(
        F.col(id_col),
        F.col("nt").alias("n_tokens"),
        F.size("rm").alias("removed_tokens"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )
    return out


def common_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 2,
    out: str = "clean_text",
) -> DataFrame:
    """Remove every (trimmed, non-empty) line that occurs in more than
    `max_doc_freq` distinct documents — the classic boilerplate /
    navigation-chrome strip — and rebuild the text with original line
    order. Docs whose every line is common keep an empty string.

    Scale shape: doc-frequency is one shuffle of (line, doc) pairs with
    map-side partial distinct; the surviving common-line set is small
    by definition (must repeat across >max_doc_freq docs) and is
    broadcast for the anti join.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(_lines(F.col(text_col))).alias("pos", "line"),
    )
    common = (
        lines.groupBy("line")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("line")
    )
    kept = lines.join(F.broadcast(common), "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(out)
    )
    return df.select(id_col).join(rebuilt, id_col, "left").fillna({out: ""})


def clean_text(
    df: DataFrame,
    text_col: str = "text",
    out: str = "clean_text",
) -> DataFrame:
    """C4/CCNet-style text normalization: strip ASCII control
    characters (keeping \\t and \\n semantics by collapsing them with
    the whitespace pass), normalize curly quotes and unicode dashes to
    their ASCII forms, collapse whitespace runs to single spaces, and
    trim. Output adds (out, n_ctrl_removed, changed) — the cleanup
    every web/transcript corpus runs before tokenization so that
    hashing, dedup, and token counts see canonical bytes.

    All Java/RE2-common-subset regexes and per-codepoint translate —
    shuffle-free map stage, exact in both engines.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    no_ctrl = F.regexp_replace(
        t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""
    )
    quoted = F.translate(
        no_ctrl, "‘’“”–—", "''\"\"--"
    )
    cleaned = F.trim(F.regexp_replace(quoted, "\\s+", " "))
    # one withColumns pass: every expression resolves against the INPUT
    # frame, so out == text_col (in-place normalize) stays correct —
    # a chained second pass would re-resolve t against the replaced
    # column and corrupt n_ctrl_removed/changed
    return df.withColumns(
        {
            out: cleaned,
            "n_ctrl_removed": (F.length(t) - F.length(no_ctrl)).cast("int"),
            "changed": cleaned != t,
        }
    )


# ---------------------------------------------------------------------------
# URL canonicalization + crawl dedup

# Tracking parameters removed during canonicalization (the published
# crawl-dedup convention: utm_* plus the big click-id params). Prefix
# match for utm_, exact match for the rest -- part of the contract.
TRACKING_PARAM_PREFIXES: tuple[str, ...] = ("utm_",)
TRACKING_PARAMS: tuple[str, ...] = ("fbclid", "gclid", "msclkid", "yclid")

URL_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"


def canonicalize_url(url: Column) -> Column:
    """Crawl-dedup URL canonicalization, entirely in JVM expressions:

    - scheme and host lowercased; default port stripped (:443 for
      https, :80 for http)
    - fragment dropped
    - tracking params removed (TRACKING_PARAM_PREFIXES/_PARAMS),
      surviving params sorted bytewise, empty query dropped
    - trailing '/' stripped from non-root paths; empty path -> '/'

    Everything else (path case, percent-encoding, param values) is
    preserved -- over-normalizing merges distinct pages, which is the
    worse failure for training data. Non-URL strings (no scheme://)
    come back NULL so callers can route them to a quarantine sink.

    Scale shape: a pure map stage -- canonicalization itself never
    shuffles; the dedup that follows groups on the canonical string
    (16-byte digest at the shuffle via md5 if keys are long)."""
    scheme = F.lower(F.nullif(F.regexp_extract(url, URL_RE, 1), F.lit("")))
    host = F.lower(F.nullif(F.regexp_extract(url, URL_RE, 2), F.lit("")))
    host = F.when(
        (scheme == "https") & host.endswith(":443"),
        F.substring(host, 1, F.length(host) - 4),
    ).when(
        (scheme == "http") & host.endswith(":80"),
        F.substring(host, 1, F.length(host) - 3),
    ).otherwise(host)
    path = F.regexp_extract(url, URL_RE, 3)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.nullif(F.regexp_extract(url, URL_RE, 4), F.lit(""))
    def _is_tracking(p: Column) -> Column:
        # static prefix list -> plain OR chain at plan time (no fold)
        cond = F.lit(False)
        for pre in TRACKING_PARAM_PREFIXES:
            cond = cond | p.startswith(pre)
        for name in TRACKING_PARAMS:
            cond = cond | p.startswith(name + "=") | (p == name)
        return cond

    kept = F.array_sort(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda p: (p != "") & ~_is_tracking(p),
        )
    )
    canon_query = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        scheme.isNotNull() & host.isNotNull(),
        F.concat(scheme, F.lit("://"), host, path, canon_query),
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-URL crawl dedup: one row per canonical URL with the
    kept doc (min id -- deterministic, matches the exact-dedup
    convention) and the variant count. Rows whose URL fails to
    canonicalize (no scheme://) are dropped here; route them from
    canonicalize_url's NULL before calling this if they must survive.

    Scale shape: one groupBy shuffle keyed on the canonical URL."""
    return (
        df.select(F.col(id_col), canonicalize_url(F.col(url_col)).alias("canon_url"))
        .filter(F.col("canon_url").isNotNull())
        .groupBy("canon_url")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_variants"))
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering (fastText-style linear classifier)

QUALITY_CLF_BUCKETS = 64


def quality_clf_weights(buckets: int = QUALITY_CLF_BUCKETS) -> list[float]:
    """The classifier's FIXED weight table: one weight per hash bucket
    in [-1, 1], derived deterministically from md5 of the bucket index
    (a stand-in for weights exported from an offline fastText run --
    the point is the INFERENCE shape, not these particular values).
    Stable across engines/runs so the oracle interpolates the exact
    floats via repr()."""
    import hashlib

    return [
        ((int(hashlib.md5(f"w{i}".encode()).hexdigest()[:8], 16) % 2001) - 1000)
        / 1000.0
        for i in range(buckets)
    ]


def quality_classifier(
    df: DataFrame,
    threshold: float = 0.5,
    buckets: int = QUALITY_CLF_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear quality classifier as pure JVM
    expressions: each token hashes to a bucket (md5_32 % buckets), the
    doc logit is the MEAN bucket weight, score = sigmoid(logit).
    Output (doc_id, n_tokens, score, keep).

    This is the model-based quality filter shape (CCNet/LLaMA-style
    fastText keep/drop) with inference compiled into the plan: the
    weight table ships as a broadcast literal array, scoring is a map
    stage -- no model server, no Python in the hot path. Per-token
    weights are fixed-pointed to 1e6 BIGINT before the per-doc sum, so
    accumulation is order-independent and the oracle replays it
    exactly. Empty docs score sigmoid(0) = 0.5 with n_tokens = 0.

    Scale shape: one (doc, token-bucket) explode feeding a partial-agg
    sum -- the same single shuffle every bag-of-words op here pays; at
    100 TB swap in the real exported weights, nothing else changes."""
    from fluent_bit_spark.operators.text_analysis import tokens

    w_fx = [int(round(w * 1_000_000)) for w in quality_clf_weights(buckets)]
    warr = F.array(*[F.lit(x) for x in w_fx])
    tok = df.select(
        F.col(id_col),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("_t"),
    ).select(
        id_col,
        F.when(
            F.col("_t").isNotNull(),
            F.element_at(warr, (md5_32(F.col("_t")) % buckets + 1).cast("int")),
        ).alias("_wfx"),
    )
    agg = tok.groupBy(id_col).agg(
        F.count("_wfx").alias("n_tokens"),
        F.coalesce(F.sum("_wfx"), F.lit(0)).alias("_sfx"),
    )
    logit = F.when(F.col("n_tokens") > 0, F.col("_sfx") / (1_000_000.0 * F.col("n_tokens"))).otherwise(F.lit(0.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return agg.select(
        id_col,
        "n_tokens",
        score.alias("score"),
        (score >= threshold).alias("keep"),
    )


def minhash_contam(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
    bench_offset: int = 5_000_000,
) -> DataFrame:
    """Fuzzy benchmark decontamination: `contamination_flags` catches
    verbatim n-gram overlap, but a training doc that paraphrases or
    lightly edits an eval item slips through exact matching. This runs
    ONE banded MinHash-LSH pass over corpus ∪ benchmark (benchmark ids
    offset so pairs orient corpus→bench), keeps the exact-Jaccard-
    verified pairs that cross the corpus/benchmark boundary, and
    reports per contaminated corpus doc: how many benchmark items it
    near-duplicates and the worst (max) Jaccard.

    Scale shape: identical to dedup_minhash — banded equi-join, never
    corpus × benchmark; the benchmark side rides the same signature
    pipeline instead of a second bespoke one.
    """
    from fluent_bit_spark.operators.dedup import minhash_dedup_pairs

    u = corpus.select(F.col(id_col), F.col(text_col)).unionByName(
        benchmark.select(
            (F.col(id_col) + F.lit(bench_offset)).alias(id_col),
            F.col(text_col),
        )
    )
    pairs = minhash_dedup_pairs(
        u,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
    )
    # candidate pairs are emitted id_a < id_b, so the boundary filter is
    # exactly "a in corpus, b in benchmark"
    cross = pairs.filter(
        (F.col("id_a") < F.lit(bench_offset))
        & (F.col("id_b") >= F.lit(bench_offset))
    )
    return (
        cross.select(F.col("id_a").alias(id_col), "jaccard")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bench"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def ip_anonymize(ip: Column, key: str = "fbs") -> Column:
    """Prefix-preserving IPv4 anonymization (octet-granularity
    Crypto-PAn simplification): octet i is XORed with a byte derived
    from md5(key + '/' + the preceding octets), so two addresses
    sharing their first k octets share exactly the first k anonymized
    octets — subnet structure survives for rate/fan-out analytics
    while the address is unlinkable without the key. Xu et al.'s
    Crypto-PAn preserves prefixes at every BIT; octet granularity is
    the deliberate closed-form variant both engines replay exactly
    (md5 first-byte masks, the repo's md5_32 convention).

    Non-IPv4 input (not 4 dot-parts, non-numeric, out of range)
    yields NULL rather than a half-anonymized string. Pure expression
    — no UDF, no shuffle."""
    parts = F.split(ip, r"\.")
    outs = []
    valid = F.size(parts) == 4
    for i in range(4):
        # F.get, not [] — ANSI mode raises on out-of-bounds indexing
        # of the malformed rows this guard exists for
        octet = F.get(parts, i).try_cast("int")
        valid = valid & octet.isNotNull() & (octet >= 0) & (octet <= 255)
        prefix = (
            F.concat_ws(".", *[F.get(parts, j) for j in range(i)])
            if i
            else F.lit("")
        )
        mask = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(key + "/"), prefix)), 1, 2
                ),
                16,
                10,
            )
            .cast("int")
        )
        outs.append(octet.bitwiseXOR(mask).cast("string"))
    return F.when(valid, F.concat_ws(".", *outs))


def fim_transform(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cut1_pct: int = 40,
    cut2_pct: int = 70,
    min_chars: int = 10,
) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al., 2022):
    split each document at two deterministic character cuts and emit
    the PSM reordering `<PRE>prefix<SUF>suffix<MID>middle` — the
    autoregressive trick that teaches infilling without architecture
    changes. Cuts are fixed percentage offsets of the char length
    (integer floor), so the transform replays identically across
    engines and runs; docs under `min_chars` pass through unsplit
    (fim = NULL, the train-as-is convention).

    Pure substring expressions, shuffle-free map stage."""
    if not 0 < cut1_pct < cut2_pct < 100:
        raise ValueError(
            f"need 0 < cut1 < cut2 < 100, got {cut1_pct}, {cut2_pct}"
        )
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    c1 = F.floor(n * cut1_pct / 100).cast("int")
    c2 = F.floor(n * cut2_pct / 100).cast("int")
    fim = F.concat(
        F.lit("<PRE>"),
        t.substr(F.lit(1), c1),
        F.lit("<SUF>"),
        t.substr(c2 + 1, n - c2),
        F.lit("<MID>"),
        t.substr(c1 + 1, c2 - c1),
    )
    return df.select(
        F.col(id_col),
        n.alias("n_chars"),
        F.when(n >= min_chars, fim).alias("fim"),
    )
