"""Deduplication operators for large-scale corpus curation.

Beyond the reference's surface (a log pipeline has no dedup stage) —
these are the operations a 100 TB training-data pipeline needs, built
Spark-first:

- exact_dedup: hash-groupBy. Grouping key is a digest of the content,
  not the content itself, so the shuffle moves 16-byte keys instead of
  documents.
- minhash_lsh: word-shingle MinHash signatures (affine permutations of
  md5-derived 31-bit hashes, all JVM expressions), banded LSH
  bucketing, bucket self-join for candidates, exact Jaccard
  verification of candidates. At scale: candidate generation is an
  equi-join on (band_idx, band_key) — shuffle proportional to
  candidate count, never O(n^2).
- simhash: 62-bit SimHash entirely in JVM expressions (single fold
  updating all bit votes per token), near-dup = banded signature join
  + Hamming check. Both signature families hash via md5 slices so the
  DuckDB oracle re-derives identical signatures in pure SQL.
- ngram_jaccard: exact Jaccard over token sets within a blocking key
  (for oracle-checkable exact dedup of modest blocks).
- embedding near-dup: random-hyperplane LSH buckets + in-bucket cosine
  (see similarity.py for the shared primitives).

Dedup policy: a document is dropped if it pairs with a smaller id —
the standard keep-first policy; transitive chains collapse toward the
minimum via `resolve_clusters` (iterated min-label propagation).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fluent_bit_spark.functions.hashing import md5_32
from fluent_bit_spark.operators.text_analysis import tokens
from fluent_bit_spark.session import persist_tracked
# perfbench (worker.py conv_skew) imports release_persisted from here
from fluent_bit_spark.session import release_persisted  # noqa: F401


# ---------------------------------------------------------------------------
# exact

def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the smallest id per identical content (digest group key)."""
    digest = F.md5(F.concat_ws("\x00", *[F.col(c).cast("string") for c in content_cols]))
    keep = (
        df.withColumn("_d", digest)
        .groupBy("_d")
        .agg(F.min(id_col).alias(id_col))
        .drop("_d")
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# tokens & shingles (shared)

def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-shingles (distinct) from a BOUND token-array column.

    `toks` must be a column reference, not an inline tokenization
    expression: Catalyst does not CSE expression trees referenced
    inside higher-order-function lambdas, so an inline tokens tree in
    the slice lambda below would re-run the whole split/trim/filter
    once per shingle — O(tokens^2) per row (measured 19x slower at 400
    tokens/doc). Project text_analysis.tokens() into a column first
    (see shingle_frame)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", toks))))


def jaccard_col(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _spread(df: DataFrame, spread: bool = True) -> DataFrame:
    """Spread CPU-heavy per-row work across the cluster when the input
    arrives in few partitions (single parquet file, createDataFrame),
    WITHOUT collapsing an already well-partitioned large input: the
    file count is a no-job partitioning hint — a source with at least
    defaultParallelism files keeps its native partitioning. The hint
    sees leaf scan files only, so callers that repartitioned explicitly
    should pass spread=False to keep their layout."""
    if not spread:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        hint = len(df.inputFiles())
    except Exception:
        hint = 0
    return df.repartition(par) if hint < par else df


# ---------------------------------------------------------------------------
# MinHash + LSH

# deterministic affine permutation constants (seeded, module-level).
# 31-bit Mersenne prime: a,b,h < 2^31 keeps a*h+b < 2^62 (no int64
# overflow under ANSI arithmetic).
MINHASH_P = (1 << 31) - 1


def perm_consts(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, MINHASH_P - 1)), int(rng.randint(0, MINHASH_P - 1)))
        for _ in range(num_perm)
    ]


def shingle_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    spread: bool = True,
) -> DataFrame:
    """(id, sh) frame with tokens BOUND to a column before shingling —
    the scale-correct way to shingle (see shingles_from_tokens)."""
    tk = _spread(df, spread).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("tk")
    )
    return tk.select("id", shingles_from_tokens(F.col("tk"), k).alias("sh"))


def minhash_sig_from_shingles(sh: Column, num_perm: int = 64) -> Column:
    """Array<long> MinHash signature from a bound shingle-array column,
    all JVM expressions: base hash = md5_32(shingle) mod p
    (cross-engine reproducible); permutation i = (a_i*h + b_i) mod p;
    signature_i = min over shingles.

    Computed as ONE fold over the base-hash array (aggregate +
    zip_with): hashing runs once per shingle, and each base hash
    updates all `num_perm` minima in a single pass. (The naive
    formulation — num_perm independent `array_min(transform(...))`
    expressions — recomputes the shingle pipeline per permutation
    because Catalyst does not CSE across higher-order lambdas: ~64x
    slower.)"""
    base = F.transform(sh, lambda s: md5_32(s) % F.lit(MINHASH_P))
    consts = perm_consts(num_perm)
    consts_arr = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in consts
        ]
    )
    init = F.array(*([F.lit(MINHASH_P).cast("long")] * num_perm))
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            consts_arr,
            lambda m, c: F.least(m, (h * c["a"] + c["b"]) % F.lit(MINHASH_P)),
        ),
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    spread: bool = True,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b): equal band slice of the
    signature => candidate. Returns distinct pairs.

    Band key = the band's signature values joined as a string — exact
    slice equality (no hash-collision candidates, so the DuckDB oracle
    reproduces the candidate set bit-for-bit); the join key stays small
    (`rows` longs as text)."""
    # tokens and shingles are bound to columns (shingle_frame) before
    # the signature fold — in-lambda re-evaluation otherwise makes the
    # signature stage O(tokens^2) per row (measured 4.5x at 400 tok).
    return minhash_candidates_from_shingles(
        shingle_frame(df, text_col, id_col, shingle_k, spread), num_perm, bands
    )


def minhash_candidates_from_shingles(
    shingled: DataFrame, num_perm: int = 64, bands: int = 16
) -> DataFrame:
    """minhash_candidates over a prebuilt (id, sh) shingle frame —
    callers that also need the shingle sets for verification (eval /
    dedup_pairs paths) build the frame once instead of re-tokenizing
    the corpus per consumer."""
    rows = num_perm // bands
    # persist: the self-join consumes the signatures TWICE (both join
    # sides) and Spark has no common-subplan sharing across them — at
    # any scale you compute signatures once, not per side
    sig = persist_tracked(
        shingled.select(
            "id", minhash_sig_from_shingles(F.col("sh"), num_perm).alias("sig")
        )
    )
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * rows + r + 1)
                                for r in range(rows)
                            ],
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("e"),
    ).select("id", "e.band", "e.bh")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=[F.col("a.band") == F.col("b.band"), F.col("a.bh") == F.col("b.bh"),
                      F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    spread: bool = True,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard >= threshold."""
    # candidates repartition internally; the shingle-verification side
    # gets its own spread (separate lineage, one exchange each)
    cands = minhash_candidates(df, text_col, id_col, num_perm, bands, spread, shingle_k)
    # persisted: joined twice below (id_a and id_b sides)
    docs = persist_tracked(shingle_frame(df, text_col, id_col, shingle_k, spread))
    return (
        cands.join(docs.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(docs.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("jaccard", jaccard_col(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    spread: bool = True,
) -> DataFrame:
    """Measure, don't guess: precision/recall of MinHash-LSH candidate
    generation against the exact shingle-Jaccard truth at `threshold`.
    Truth is the blocked all-pairs set (same `block_col`), and the LSH
    candidate set is restricted to the same blocks so both sides rank
    the same pair universe. Output is ONE row: (n_truth, n_pred, tp,
    fp, fn, precision, recall) — the scorecard that tells you whether
    a given (num_perm, bands) operating point clears your recall bar
    BEFORE you burn a 100 TB pass on it.

    With 4-row bands (64/16) at threshold 0.5 the S-curve predicts
    ~64% candidate recall — a deliberately lossy operating point the
    scorecard should expose (the shipped dedup uses 2-row bands).

    Scale shape: the truth side is an inverted shingle index — a
    (block, shingle) equi-join generates ONLY pairs that actually
    share a shingle, a pair-level groupBy counts |A∩B|, and Jaccard
    is |A∩B| / (|A| + |B| - |A∩B|). Exactly equivalent to the blocked
    all-pairs array intersect for any threshold > 0 (a pair above
    threshold shares >= 1 shingle, and shingle sets here are never
    empty — shingles_from_tokens emits >= 1 entry per doc), but the
    work is proportional to shared postings, not block^2: web-scale
    blocks where most pairs share nothing cost almost nothing. The
    per-(block, shingle) group size bounds the blowup — a stop-shingle
    in s docs of a block emits s^2/2 pairs, still <= the all-pairs
    block^2/2 it replaces. The candidate side is the banded equi-join;
    the final full-outer join and count run over pair keys only. The
    shingle frame is built ONCE and persisted — the signature path,
    the postings self-join, and the size lookups all consume it, so
    the corpus is tokenized a single time.
    """
    if threshold <= 0.0:
        raise ValueError(
            f"threshold must be > 0 (got {threshold}): at 0 the truth set "
            "is all blocked pairs and the scorecard is meaningless"
        )
    src = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"))
    sides = persist_tracked(
        shingle_frame(df, text_col, id_col, shingle_k, spread).join(src, "id")
    )
    cand = minhash_candidates_from_shingles(
        sides.select("id", "sh"), num_perm, bands
    )
    posts = sides.select("blk", "id", F.explode("sh").alias("g"))
    inter = (
        posts.alias("a")
        .join(
            posts.alias("b"),
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.g") == F.col("b.g"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    sizes = sides.select("id", F.size("sh").alias("_sz"))
    truth = (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("_sz").alias("_sza")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("_sz").alias("_szb")),
            "id_b",
        )
        .filter(
            F.col("_n") / (F.col("_sza") + F.col("_szb") - F.col("_n"))
            >= threshold
        )
        .select("id_a", "id_b")
        .withColumn("_t", F.lit(True))
    )
    pred = (
        cand.join(
            src.withColumnRenamed("id", "id_a").withColumnRenamed("blk", "blk_a"),
            "id_a",
        )
        .join(
            src.withColumnRenamed("id", "id_b").withColumnRenamed("blk", "blk_b"),
            "id_b",
        )
        .filter(F.col("blk_a") == F.col("blk_b"))
        .select("id_a", "id_b")
        .withColumn("_p", F.lit(True))
    )
    joined = truth.join(pred, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("_t"), F.lit(False)).alias("t"),
        F.coalesce(F.col("_p"), F.lit(False)).alias("p"),
    )

    def _n(c: Column) -> Column:
        return F.sum(F.when(c, 1).otherwise(0)).cast("long")

    counts = joined.agg(
        _n(F.col("t")).alias("n_truth"),
        _n(F.col("p")).alias("n_pred"),
        _n(F.col("t") & F.col("p")).alias("tp"),
        _n(F.col("p") & ~F.col("t")).alias("fp"),
        _n(F.col("t") & ~F.col("p")).alias("fn"),
    )
    return counts.select(
        "n_truth",
        "n_pred",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("n_pred") > 0,
            F.round(F.col("tp").cast("double") / F.col("n_pred"), 6),
        ).alias("precision"),
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("tp").cast("double") / F.col("n_truth"), 6),
        ).alias("recall"),
    )


def resolve_clusters(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """Min-label propagation over the duplicate graph: returns
    (id, cluster_id=min id in its connected component). Bounded
    iterations; each round is one groupBy — at scale this is the
    standard iterative connected-components-by-hashmin."""
    edges = pairs.select("id_a", "id_b")
    sym = edges.union(edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
    labels = sym.groupBy("id_a").agg(F.min("id_b").alias("lbl"))
    labels = labels.select(
        F.col("id_a").alias("id"), F.least("id_a", "lbl").alias("lbl")
    )
    for _ in range(max_iter):
        joined = (
            sym.join(labels, sym.id_a == labels.id, "left")
            .select(F.col("id_b").alias("id"), "lbl")
            .union(labels)
        )
        new_labels = joined.groupBy("id").agg(F.min("lbl").alias("lbl"))
        if new_labels.exceptAll(labels).isEmpty():
            labels = new_labels
            break
        labels = new_labels
    return labels.select("id", F.col("lbl").alias("cluster_id"))


# ---------------------------------------------------------------------------
# SimHash

# 62-bit SimHash: each token contributes two independent 31-bit md5
# slices (bytes 0-3 and 4-7 of md5(token)); bit j of the signature is
# the majority vote of bit j across tokens. Everything is JVM
# expressions — one fold over the token-hash array updates all 62 vote
# counters per token (same single-pass pattern as minhash_sig_from_shingles),
# so there is no Python in the row path at all, and the DuckDB oracle
# re-derives identical signatures from md5() in pure SQL.

SIMHASH_BITS = 62
_M31 = (1 << 31) - 1  # & mask keeping the low 31 bits


def simhash_from_tokens(toks: Column) -> Column:
    """62-bit SimHash from a BOUND token-array column as a long (0 for
    empty). `toks` must be a column reference: it is referenced inside
    the bit-packing lambda (the majority vote needs size(toks)), and an
    inline tokenization tree there would re-tokenize once per signature
    bit (62x per row)."""
    hs = F.transform(
        toks,
        lambda t: F.struct(
            md5_32(t).bitwiseAND(F.lit(_M31)).alias("h1"),
            md5_32(t, 9).bitwiseAND(F.lit(_M31)).alias("h2"),
        ),
    )
    # per-bit constants: which 31-bit half, and 2^j / 2^(j+1) within it
    # (bit extraction via modulo keeps every op in exact long arithmetic)
    bit_consts = F.array(
        *[
            F.struct(
                F.lit(j // 31).alias("half"),
                F.lit(1 << (j % 31)).alias("p1"),
                F.lit(1 << (j % 31 + 1)).alias("p2"),
            )
            for j in range(SIMHASH_BITS)
        ]
    )
    init = F.array(*([F.lit(0).cast("long")] * SIMHASH_BITS))
    votes = F.aggregate(
        hs,
        init,
        lambda acc, h: F.zip_with(
            acc,
            bit_consts,
            lambda cnt, c: cnt
            + F.when(
                (
                    F.when(c["half"] == 0, h["h1"]).otherwise(h["h2"]) % c["p2"]
                )
                >= c["p1"],
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )
    n = F.size(toks)
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)])
    packed = F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda cnt, p: F.when(cnt * 2 >= n, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return F.coalesce(F.when(n > 0, packed), F.lit(0).cast("long"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    spread: bool = True,
) -> DataFrame:
    """Banded simhash join + exact Hamming verification. Band count =
    max_hamming+1 (pigeonhole: <=max_hamming differing bits cannot touch
    every band, so some band matches — 100% recall; the 62-SIMHASH_BITS
    mod bands leftover top bits are unbanded, which only strengthens
    the guarantee since diffs there touch no band)."""
    nbands = max(2, max_hamming + 1)
    width = SIMHASH_BITS // nbands
    mask = (1 << width) - 1
    df = _spread(df, spread)
    # persisted: the banded self-join consumes signatures on both sides.
    # tokens bound to a column first — see simhash_from_tokens.
    sigs = persist_tracked(
        df.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("tk")
        ).select("id", simhash_from_tokens(F.col("tk")).alias("sh"))
    )
    banded = sigs.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("sh", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("e"),
    ).select("id", "sh", "e.band", "e.bh")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, on=[F.col("a.band") == F.col("b.band"), F.col("a.bh") == F.col("b.bh"),
                      F.col("a.id") < F.col("b.id")])
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
    )
    return cands.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard within a blocking key

def jaccard_pairs_blocked(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard for all pairs sharing a blocking key,
    computed through an inverted token index: a (block, token)
    equi-join generates only pairs that actually share a token, a
    pair-level count gives |A∩B|, and sizes close the Jaccard. For
    any threshold > 0 this is exactly the blocked all-pairs sweep it
    replaces (a pair at or above threshold shares >= 1 token; a
    zero-union pair scores 0.0 under jaccard_col and is excluded
    either way), but work is proportional to shared postings, never
    block^2 — the same truth-side shape as minhash_eval."""
    if threshold <= 0.0:
        raise ValueError(
            f"threshold must be > 0 (got {threshold}): at 0 the result "
            "is all blocked pairs — use an explicit block self-join for that"
        )
    # persisted: tokenization feeds the postings self-join and both
    # size lookups
    docs = persist_tracked(
        df.select(
            F.col(block_col).alias("blk"),
            F.col(id_col).alias("id"),
            F.array_distinct(tokens(F.col(text_col))).alias("tok"),
        )
    )
    posts = docs.select("blk", "id", F.explode("tok").alias("w"))
    inter = (
        posts.alias("a")
        .join(
            posts.alias("b"),
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.w") == F.col("b.w"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    sizes = docs.select("id", F.size("tok").alias("_sz"))
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("_sz").alias("_sza")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("_sz").alias("_szb")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("_n") / (F.col("_sza") + F.col("_szb") - F.col("_n")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    block_tokens: int = 2,
) -> DataFrame:
    """Blocked Levenshtein near-dup pairs: documents sharing a block
    key (their first `block_tokens` whitespace tokens) are compared
    pairwise and kept when edit distance <= max_dist.

    Character-level edit distance catches the near-dups token-set
    methods miss (single-char typos, punctuation drift, small
    insertions) and is the standard "fuzzy exact" tier between exact
    hash dedup and MinHash.

    Scale shape: one shuffle on the block key; pairs are O(block^2)
    *within* a block only (same contract as jaccard_pairs_blocked) --
    a prefix block key keeps blocks small on web text, and the
    comparison uses Spark's bounded levenshtein(l, r, threshold),
    which early-exits after a diagonal band of width max_dist instead
    of filling the full O(len_a*len_b) matrix. Pairs that straddle a
    block boundary (an edit inside the first `block_tokens` tokens)
    are out of contract, exactly like a differing MinHash band.
    """
    if max_dist < 0 or block_tokens < 1:
        raise ValueError("max_dist must be >= 0 and block_tokens >= 1")
    # persisted: tokenization feeds both sides of the block self-join
    docs = persist_tracked(
        df.select(
            F.array_join(
                F.slice(tokens(F.col(text_col)), 1, block_tokens), " "
            ).alias("blk"),
            F.col(id_col).alias("id"),
            F.col(text_col).alias("txt"),
        )
    )
    a, b = docs.alias("a"), docs.alias("b")
    return (
        a.join(b, on=[F.col("a.blk") == F.col("b.blk"), F.col("a.id") < F.col("b.id")])
        .withColumn(
            "dist", F.levenshtein(F.col("a.txt"), F.col("b.txt"), int(max_dist))
        )
        .filter(F.col("dist") >= 0)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rolling-ingestion dedup: keep rows of the NEW batch that are
    exact-duplicate neither of the prior snapshot nor of an earlier
    row in the batch (lowest id wins within the batch — deterministic
    regardless of partitioning).

    The snapshot side reduces to DISTINCT digests before the
    left-anti join, so the recurring cost at 10^12-row corpora is a
    shuffle of 16-byte keys — never historical text — and the
    snapshot digest table is exactly what the previous run's output
    already materializes."""
    seen = seen_df.select(
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_digest")
    ).distinct()
    batch = new_df.withColumn(
        "_digest", F.md5(F.coalesce(F.col(text_col), F.lit("")))
    )
    w = Window.partitionBy("_digest").orderBy(id_col)
    first = batch.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return (
        first.join(seen, "_digest", "left_anti")
        .drop("_rn")
        .withColumnRenamed("_digest", "digest")
    )
