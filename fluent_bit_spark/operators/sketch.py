"""Probabilistic sketch operators: Bloom-filter membership, count-min
frequency estimation, HyperLogLog register construction.

These are the fixed-size summaries a 100 TB log pipeline leans on when
the exact structure (the full shingle set, the full token histogram,
the full distinct set) no longer fits in a broadcast or a single
executor:

- Bloom: `contamination_flags` (curation.py) broadcasts the exact
  benchmark shingle set — fine for eval suites, unboundedly large for
  e.g. "every URL we already crawled". The bloom build collapses any
  set to m bits with zero false negatives; membership is pure JVM
  bit arithmetic against a literal word array (no join, no shuffle).
- Count-min: per-token exact counting shuffles |vocab| keys; the CMS
  is a fixed depth x width counter grid that answers point frequency
  queries with one-sided (over-estimate) error.
- HyperLogLog: COUNT(DISTINCT x) shuffles every distinct value; the
  HLL register table is <= 2^p rows regardless of cardinality and
  merges with a trivial MAX — the shape used for per-window distinct
  counts over unbounded streams.

All hashing goes through md5 hex slices (`functions.hashing.md5_32`),
the repo's cross-engine convention: DuckDB re-derives identical
positions via ('0x'||substr(md5(x),1,8))::BIGINT, so every sketch here
is EXACTLY oracle-checkable — registers, counters, and bloom verdicts
(including false positives) are deterministic and engine-independent.

Reference parity note: Fluent Bit itself has no sketch stage; these
belong to the "beyond the reference: training-data pipeline" brief
(SURVEY.md §2.9) alongside the dedup/ANN family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fluent_bit_spark.functions.hashing import md5_32
from fluent_bit_spark.session import local_frame, persist_tracked

# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

# 32-bit words; word values and the bit-31 mask reach 2^31..2^32-1,
# which is sign-safe ONLY because F.lit(list[int]) builds array<bigint>
# literals — do not port the packed words to array<int>/JVM int[]
_WORD_BITS = 32


def _probe_pos(col: Column, seed: int, modulus: int) -> Column:
    """Seeded hash position: md5_32(col || '#seed') % modulus.

    THE oracle-parity contract for every sketch here — the DuckDB
    mirror is ('0x'||substr(md5(val||'#seed'),1,8))::BIGINT % modulus
    (md5_32 is always non-negative, so % == pmod). Single definition;
    keep in sync with flagship_oracle._sketch_sql only.
    """
    return md5_32(F.concat(col, F.lit(f"#{seed}"))) % F.lit(modulus)


def bloom_positions(col: Column, m: int, k: int) -> Column:
    """Array of the k bit positions `col` sets in an m-bit bloom."""
    return F.array(*[_probe_pos(col, i, m) for i in range(k)])


def bloom_build(df: DataFrame, value_col: str, m: int, k: int) -> list[int]:
    """Build the m-bit filter from `df[value_col]`; returns m/32 packed
    32-bit words.

    The collect here is the sketch itself, not the data: the output is
    O(m) bits by construction (like a broadcast-join build side), while
    `df` may be arbitrarily large — positions are computed map-side and
    only the <= k*|df| distinct set bits cross to the driver.
    """
    rows = (
        df.select(F.explode(bloom_positions(F.col(value_col), m, k)).alias("pos"))
        .distinct()
        .collect()
    )
    words = [0] * ((m + _WORD_BITS - 1) // _WORD_BITS)
    for r in rows:
        words[r.pos // _WORD_BITS] |= 1 << (r.pos % _WORD_BITS)
    return words


def bloom_member(col: Column, words: list[int], m: int, k: int) -> Column:
    """True when all k positions of `col` are set in `words`.

    Pure JVM expression against two literal arrays (the packed filter
    and a 32-entry power-of-two table); no join and no shuffle — this
    is what replaces the broadcast set-join at scale.
    """
    lit_words = F.lit(words)
    lit_pow2 = F.lit([1 << b for b in range(_WORD_BITS)])
    hit = F.lit(True)
    for i in range(k):
        pos = _probe_pos(col, i, m)
        word = F.element_at(lit_words, F.shiftright(pos, 5).cast("int") + F.lit(1))
        mask = F.element_at(lit_pow2, (pos % F.lit(_WORD_BITS)).cast("int") + F.lit(1))
        hit = hit & (word.bitwiseAND(mask) != F.lit(0))
    return hit


def bloom_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    m: int = 1 << 14,
    k: int = 4,
) -> DataFrame:
    """Benchmark decontamination through a bloom prefilter, with the
    exact join kept alongside so the false-positive behavior is visible
    (and oracle-checked) rather than hidden.

    Returns (id, n_bloom, n_exact, bloom_contaminated, contaminated)
    for docs where the bloom flags at least one shingle. Guarantee:
    n_bloom >= n_exact always (no false negatives), so filtering on the
    bloom verdict before the exact join is a sound prefilter — at scale
    the exact join then only sees the (tiny) bloom-positive slice.
    """
    from fluent_bit_spark.operators.text_analysis import doc_shingles

    # both frames feed two consumers each (build+join, agg+semi-join);
    # no common-subplan sharing in Spark, so persist per the dedup.py
    # convention (caller releases via session.release_persisted())
    bench_sh = persist_tracked(doc_shingles(benchmark, text_col, n))
    words = bloom_build(bench_sh, "shingle", m, k)

    flagged = persist_tracked(
        doc_shingles(corpus, text_col, n, id_col=id_col).filter(
            bloom_member(F.col("shingle"), words, m, k)
        )
    )
    exact = flagged.join(F.broadcast(bench_sh), "shingle", "left_semi").groupBy(
        id_col
    ).agg(F.count_distinct("shingle").alias("n_exact"))
    return (
        flagged.groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_bloom"))
        .join(exact, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_bloom"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.lit(True).alias("bloom_contaminated"),
            (F.coalesce("n_exact", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def cms_probes(key_col: str, depth: int, width: int) -> Column:
    """Exploded (seed, pos) probe rows — one per hash row of the grid."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("seed"),
                    _probe_pos(F.col(key_col), s, width).alias("pos"),
                )
                for s in range(depth)
            ]
        )
    ).alias("pr")


def cms_counters(
    counts: DataFrame,
    key_col: str = "token",
    n_col: str = "n",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-min counter grid (seed, pos, cnt) from an exact per-key
    count frame.

    Building from pre-aggregated counts is identical to folding the raw
    stream (counter[s][pos] = sum of n over keys hashing to pos) but
    shuffles |vocab| rows once instead of the full stream; the final
    grid is depth*width rows regardless of vocabulary size.
    """
    return (
        counts.select(F.col(n_col).alias("_n"), cms_probes(key_col, depth, width))
        .select("pr.seed", "pr.pos", "_n")
        .groupBy("seed", "pos")
        .agg(F.sum("_n").alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame,
    keys: DataFrame,
    key_col: str = "token",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-frequency estimate per key: min over the depth counters at
    the key's positions. The counter grid is depth*width rows — always
    broadcast side; keys stream through map-side.

    Left join: a key whose (seed, pos) cell is absent from the grid was
    never counted there — the cell is 0, so the key's estimate is 0 (an
    inner join would drop the key, or min over only its occupied cells).
    """
    probed = keys.select(
        F.col("*"), cms_probes(key_col, depth, width)
    ).select(F.col("*"), F.col("pr.seed").alias("seed"), F.col("pr.pos").alias("pos")).drop("pr")
    joined = probed.join(F.broadcast(counters), ["seed", "pos"], "left")
    group_cols = [c for c in keys.columns]
    return joined.groupBy(*group_cols).agg(
        F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est")
    )


def cms_topk_compare(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 20,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Exact token top-k with the count-min estimate alongside:
    (token, exact_n, cms_est), ordered (exact_n desc, token).

    Demonstrates the one-sided error contract (cms_est >= exact_n,
    equality when no collision) on a deterministic grid both engines
    reproduce bit-for-bit.
    """
    from fluent_bit_spark.operators.text_analysis import tokens

    # counts feeds both the grid build and the exact top-k; persist so
    # the full-vocab aggregation runs once (dedup.py convention)
    counts = persist_tracked(
        docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    counters = cms_counters(counts, "token", "n", depth, width)
    top = counts.orderBy(F.col("n").desc(), "token").limit(k).select(
        "token", F.col("n").alias("exact_n")
    )
    return (
        cms_estimate(counters, top, "token", depth, width)
        .select("token", "exact_n", "cms_est")
        .orderBy(F.col("exact_n").desc(), "token")
    )


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

_M31 = (1 << 31) - 1
_HLL_HASH_BITS = 62  # two 31-bit md5 slices; keeps every value positive


def hll_bucket_rho(value_col: str, p: int = 10) -> tuple[Column, Column]:
    """The (bucket, rho) column pair underlying every HLL aggregate —
    shared by the batch register builder and the streaming windowed
    variant so both produce byte-identical registers.

    62-bit hash = two 31-bit md5 slices; bucket = top p bits, rho =
    1 + leading zeros of the remaining bits via length(bin(rest)) —
    exact integer arithmetic, no log2 rounding hazard. Integer
    shift/mask only: h spans 62 bits, beyond double's 2^53 exact range,
    so float division here would misbucket values.
    """
    rest_bits = _HLL_HASH_BITS - p
    v = F.col(value_col).cast("string")
    h = (
        md5_32(v).bitwiseAND(F.lit(_M31)) * F.lit(1 << 31)
        + md5_32(v, 9).bitwiseAND(F.lit(_M31))
    )
    bucket = F.shiftright(h, rest_bits)
    rest = h.bitwiseAND(F.lit((1 << rest_bits) - 1))
    rho = (
        F.when(rest == 0, F.lit(rest_bits + 1))
        .otherwise(F.lit(rest_bits) - F.length(F.bin(rest)) + F.lit(1))
        .cast("long")
    )
    return bucket, rho


def hll_registers(
    df: DataFrame, value_col: str, p: int = 10, by: tuple[str, ...] = ()
) -> DataFrame:
    """HLL register table (*by, bucket, max_rho) for COUNT(DISTINCT
    value) — overall, or per group when `by` names grouping columns
    (the per-window rollup shape: one <=2^p-row register set per group,
    and any set of groups merges to a coarser rollup with a plain MAX,
    never re-reading the data).

    62-bit hash = (md5_32(x) & M31) << 31 | (md5_32(x, offset 9) & M31);
    bucket = top p bits, rho = 1 + leading zeros of the remaining
    62 - p bits (via length(bin(rest)) — exact integer arithmetic, no
    log2 rounding hazard). Output <= 2^p rows; mergeable by MAX.
    Empty buckets are absent (count them as zeros when estimating).
    """
    # COUNT(DISTINCT x) ignores NULLs; without the filter a NULL value
    # would survive as a (NULL, NULL) register row and crash hll_estimate
    df = df.filter(F.col(value_col).isNotNull())
    bucket, rho = hll_bucket_rho(value_col, p)
    keys = [*by, "bucket"]
    return (
        df.select(*[F.col(c) for c in by], bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*keys)
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(registers: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """Roll grouped registers up to coarser groups (or the overall set
    when `by` is empty) — pure MAX over <=2^p rows per group, the merge
    law that makes HLL distributable and incrementally maintainable."""
    return registers.groupBy(*by, "bucket").agg(
        F.max("max_rho").alias("max_rho")
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram quantiles
# ---------------------------------------------------------------------------


def hist_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    width: int = 64,
) -> DataFrame:
    """Quantile estimates from a fixed-width histogram: the
    bounded-memory percentile path when exact per-group percentiles
    (len_percentiles) would shuffle every value.

    bucket = value div width (integer division, non-negative values);
    per-bucket counts cumulate in bucket order; the q-quantile is the
    first bucket whose running count reaches ceil(q * total). Output
    (q, bucket, lo, hi, cum_n, n_total) — `hi` is the inclusive upper
    edge, i.e. the estimate, always >= the exact q-quantile and within
    `width` of it. Everything is integer except q itself, and
    ceil(q*total) is the same IEEE double both engines compute, so the
    result is deterministic and exactly oracle-checkable.

    Scale shape: one shuffle of #buckets keys (bounded by domain/width,
    not by row count) with map-side partial counts; the cumulative
    window runs over that bounded bucket table, never the raw values.
    """
    return _hist_quantiles(df, value_col, qs, width, by=())


def hist_quantiles_by(
    df: DataFrame,
    value_col: str,
    by: tuple[str, ...],
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    width: int = 64,
) -> DataFrame:
    """Per-group histogram quantiles: same bounded-memory estimate,
    with the cumulative window partitioned by the group columns — the
    bucket table is #groups x #buckets rows and every window stage is
    group-parallel (no single-partition stage at all)."""
    return _hist_quantiles(df, value_col, qs, width, by=by)


def _hist_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...],
    width: int,
    by: tuple[str, ...],
) -> DataFrame:
    bcols = [F.col(c) for c in by]
    buckets = (
        df.select(*bcols, F.expr(f"{value_col} div {width}").alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy(*by, "bucket")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(*by)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*by).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = buckets.select(
        *by,
        "bucket",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n").over(w_all).alias("n_total"),
    )
    spark = df.sparkSession
    qdf = local_frame(spark, [(float(q),) for q in qs], "q double")
    hit = qdf.join(
        cum, F.col("cum_n") >= F.ceil(F.col("q") * F.col("n_total"))
    )
    w_first = Window.partitionBy(*by, "q").orderBy("bucket")
    return (
        hit.withColumn("_rn", F.row_number().over(w_first))
        .filter(F.col("_rn") == 1)
        .select(
            *by,
            "q",
            "bucket",
            (F.col("bucket") * width).alias("lo"),
            (F.col("bucket") * width + width - 1).alias("hi"),
            "cum_n",
            "n_total",
        )
        .orderBy(*by, "q")
    )


def hll_estimate(registers: list[tuple[int, int]], p: int = 10) -> float:
    """Driver-side estimator over collected (bucket, max_rho) rows —
    standard HLL with the small-range linear-counting correction.
    Kept out of the gated query output (FP summation order is
    engine-dependent); tests assert it against the exact distinct."""
    import math

    m = 1 << p
    regs = [0] * m
    for bucket, max_rho in registers:
        regs[bucket] = max_rho
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est


def mad_outliers(
    df: DataFrame,
    value_col: str,
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    width: int = 16,
    z_thresh: float = 3.5,
    consistency: float = 0.6745,
) -> DataFrame:
    """Robust outlier detection with the modified z-score
    (Iglewicz–Hoaglin): robust_z = 0.6745 * (x - median) / MAD, flag
    |robust_z| > 3.5. Mean/stddev z-scores move with the outliers they
    hunt; median/MAD don't — this is the screen that survives a burst
    of pathological latencies.

    Median and MAD come from the bounded-memory `hist_quantiles`
    estimate (exact-on-grid, within `width` of the true value — see
    hist_quantiles), NOT an exact percentile that would shuffle every
    value to rank at 100 TB. `value_col` must be integral so both
    estimates are integers and robust_z is the same IEEE double in
    every engine.

    Scale shape: two bounded bucket-count passes (#buckets keys each)
    plus two 1-row broadcasts back onto the row stream; no row-level
    sort anywhere.
    """
    vals = df.filter(F.col(value_col).isNotNull())
    med = hist_quantiles(vals, value_col, qs=(0.5,), width=width).select(
        F.col("hi").alias("_med")
    )
    staged = vals.crossJoin(F.broadcast(med)).withColumn(
        "_dev", F.abs(F.col(value_col) - F.col("_med"))
    )
    mad = hist_quantiles(staged, "_dev", qs=(0.5,), width=width).select(
        F.col("hi").alias("_mad")
    )
    scored = staged.crossJoin(F.broadcast(mad)).withColumn(
        "robust_z",
        F.round(
            F.lit(consistency)
            * (F.col(value_col) - F.col("_med")).cast("double")
            / F.col("_mad").cast("double"),
            6,
        ),
    )
    return scored.filter(F.abs(F.col("robust_z")) > z_thresh).select(
        *id_cols,
        value_col,
        F.col("_med").alias("med_est"),
        F.col("_mad").alias("mad_est"),
        "robust_z",
    )
