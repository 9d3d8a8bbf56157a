"""Deterministic content-addressed sampling and dataset splits.

A 100 TB curation pipeline needs reproducible sampling that does not
depend on partitioning, row order, executor count, or Spark's RNG:
the decision for a row must be a pure function of the row's key. Both
operators hash with the cross-engine md5 slice (functions/hashing.md5_32)
so the DuckDB oracle reproduces the exact same row sets, and a re-run
over re-partitioned data selects identical rows (resume/idempotence).

- hash_sample: keep a deterministic ~rate fraction keyed on any column
  (content hash for dedup-stable sampling, id for uniform).
- hash_split: assign train/val/test (or arbitrary named buckets) by
  hash range — disjoint, exhaustive, stable under re-runs.

Scale shape: both are pure map-side projections/filters (no shuffle,
no state); they compose with scans so Catalyst pushes surviving-column
pruning into the reader.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fluent_bit_spark.functions.hashing import md5_32

# hash domain: md5_32 is uniform on [0, 2^32)
_DOMAIN = 1 << 32


def hash_bucket(key: Column, buckets: int = _DOMAIN, salt: str = "") -> Column:
    """Deterministic bucket in [0, buckets) from the key's content."""
    return md5_32(F.concat(key.cast("string"), F.lit(salt))) % F.lit(buckets)


def hash_sample(
    df: DataFrame, key: str, rate: float, salt: str = ""
) -> DataFrame:
    """Keep rows whose content hash falls below `rate` of the domain —
    a deterministic, partition-independent ~rate sample."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1] (got {rate})")
    threshold = int(rate * _DOMAIN)
    return df.filter(hash_bucket(F.col(key), salt=salt) < F.lit(threshold))


def hash_split(
    df: DataFrame,
    key: str,
    splits: dict[str, float],
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Label every row with a named split by hash range. `splits` maps
    name -> fraction; fractions must sum to 1 (the last split absorbs
    rounding). Disjoint and exhaustive by construction."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1 (got {total})")
    h = hash_bucket(F.col(key), salt=salt)
    expr = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        bound = int(acc * _DOMAIN)
        expr = (
            F.when(h < bound, F.lit(name))
            if expr is None
            else expr.when(h < bound, F.lit(name))
        )
    last = F.lit(names[-1])
    expr = expr.otherwise(last) if expr is not None else last
    return df.withColumn(out, expr)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Exact stratified sampling with largest-remainder allocation:
    take round(total * fraction) rows overall, split across strata
    proportionally — each stratum contributes floor(n_i * fraction),
    and the leftover seats go to the strata with the largest fractional
    quotas (ties by stratum name). Within a stratum, rows are chosen in
    content-hash order (partition-independent, resume-stable — the
    hash_sample property), so re-runs select identical rows. Rows with
    a NULL stratum are excluded before counting (they can never join
    the allocation table).

    Unlike hash_sample (which keeps a ~fraction BINOMIAL sample whose
    size wobbles per stratum), the output size is exact per stratum —
    the "balanced subcorpus" step a training mixture needs before
    tokenization. Output: (stratum, key, rk) for the selected rows.

    Scale shape: stratum counts are one partial-agg shuffle; the
    allocation table is #strata rows (a single-task window over a tiny
    aggregated frame, then broadcast back). Row selection pre-limits
    per input partition BEFORE the per-stratum rank window (a
    partition can only contribute its own first take_i — the
    quota_sample/throttle bound), so a hot stratum never lands its
    full row set on one reducer.

    Determinism across engines: quotas are n_i * fraction in exact
    IEEE double, base = floor(quota), leftovers = round(total *
    fraction) - sum(base) — every comparison the oracle replays
    bit-identically. Requires 0 <= fraction <= 1.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1] (got {fraction})")
    s, k = F.col(stratum_col), F.col(key_col)
    # NULL strata are excluded up front: the allocation join is on the
    # stratum key, so counting NULL rows would reserve seats the join
    # can never fill (silently shrinking the promised total)
    df = df.filter(s.isNotNull())
    counts = df.groupBy(s.alias("stratum")).agg(F.count("*").alias("n"))
    quotas = counts.withColumn("_q", F.col("n") * F.lit(fraction))
    # seat budget = round(total_rows * fraction): integer sum FIRST,
    # one multiply after (bit-stable; a sum of per-stratum doubles
    # would be accumulation-order-dependent)
    take_total = F.floor(F.sum("n") * F.lit(fraction) + F.lit(0.5))
    alloc = _largest_remainder_alloc(quotas, take_total, cap=False)
    return _select_by_hash_rank(
        df.select(s.alias("stratum"), k.alias("key")), alloc, salt
    )


def _largest_remainder_alloc(
    quotas: DataFrame, take_total: Column, cap: bool
) -> DataFrame:
    """Shared largest-remainder seat allocation: `quotas` carries
    (stratum, n, _q); `take_total` is an aggregate Column over `quotas`
    yielding the seat budget. base = floor(_q); leftovers (budget -
    sum(base)) go to the largest fractional quotas, ties by stratum;
    `cap` bounds each take at the stratum size (no redistribution).
    Returns (stratum, _take)."""
    from pyspark.sql import Window

    ranked = (
        quotas.withColumn("_base", F.floor(F.col("_q")).cast("long"))
        .withColumn("_frac", F.col("_q") - F.col("_base"))
        .withColumn(
            "_fr",
            F.row_number().over(
                Window.orderBy(F.col("_frac").desc(), F.col("stratum"))
            ),
        )
    )
    sums = quotas.agg(
        take_total.cast("long").alias("_tt"),
        F.sum(F.floor(F.col("_q")).cast("long")).alias("_bs"),
    )
    take = F.col("_base") + F.when(
        F.col("_fr") <= F.col("_tt") - F.col("_bs"), 1
    ).otherwise(0)
    if cap:
        take = F.least(take, F.col("n"))
    return (
        ranked.crossJoin(F.broadcast(sums))
        .withColumn("_take", take)
        .select("stratum", "_take")
    )


def _select_by_hash_rank(rows: DataFrame, alloc: DataFrame, salt: str) -> DataFrame:
    """Shared selection stage for the allocation samplers: keep each
    stratum's first `_take` rows in content-hash order (the
    skew.topk_per_group bound — a hot stratum never lands its full row
    set on one reducer). `rows` carries (stratum, key); `alloc`
    carries (stratum, _take). Output: (stratum, key, rk)."""
    from fluent_bit_spark.operators.skew import topk_per_group

    staged = rows.withColumn(
        "_h", md5_32(F.concat(F.col("key").cast("string"), F.lit(salt)))
    ).join(F.broadcast(alloc), "stratum")
    return topk_per_group(
        staged,
        ["stratum"],
        [F.col("_h").asc(), F.col("key").asc()],
        F.col("_take"),
        rank_col="rk",
    ).select("stratum", "key", "rk")


def weighted_sample(
    df: DataFrame,
    weights: DataFrame,
    total: int,
    stratum_col: str,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Weighted-allocation sampling — the training-mix manifest step:
    given per-stratum target weights (e.g. mixture_weights' temperature
    -scaled shares), allocate `total` seats by largest remainder
    (quota = total * weight, base = floor, leftovers to the largest
    fractional quotas, ties by stratum) and select each stratum's rows
    in content-hash order. Output (stratum, key, rk).

    Takes are CAPPED at the stratum's row count with NO redistribution
    — a stratum smaller than its target simply under-fills (the
    shortfall is a data-availability fact the mix report should
    surface, not silently paper over by oversampling someone else).
    Strata present in `weights` but absent from `df` (or vice versa)
    contribute nothing — including to the leftover pool: the seat
    budget is the PARTICIPATING strata's quota sum (fixed-pointed per
    stratum before summation so the budget is accumulation-order
    independent), so an absent stratum's seats vanish rather than
    leaking to everyone else as spurious +1s. With normalized weights
    and all strata present, the realized budget is round(total);
    unnormalized weights scale it proportionally.

    `weights` must carry one non-negative weight per stratum —
    duplicates would fan out the selection join (validated with one
    tiny aggregate over the weights table, which is #strata rows by
    contract).

    Scale shape: identical to stratified_sample — tiny allocation
    table broadcast back, partition pre-limit before the per-stratum
    rank window.
    """
    if total < 0:
        raise ValueError(f"total must be >= 0 (got {total})")
    s, k = F.col(stratum_col), F.col(key_col)
    w = weights.select(F.col(stratum_col).alias("stratum"), F.col("weight"))
    chk = w.agg(
        F.count("*").alias("n"),
        F.count_distinct(F.col("stratum")).alias("d"),
        F.min("weight").alias("mn"),
    ).collect()[0]
    if chk.n != chk.d:
        raise ValueError("weights must carry one row per stratum (duplicates found)")
    if chk.mn is not None and chk.mn < 0:
        raise ValueError(f"weights must be non-negative (min = {chk.mn})")
    df = df.filter(s.isNotNull())
    counts = df.groupBy(s.alias("stratum")).agg(F.count("*").alias("n"))
    quotas = counts.join(w, "stratum").withColumn(
        "_q", F.lit(total) * F.col("weight")
    )
    # budget = participating quota sum, fixed-pointed per stratum so
    # the double summation order can never flip the rounding
    take_total = F.floor(
        F.sum(F.round(F.col("_q") * 1_000_000).cast("long"))
        / F.lit(1_000_000.0)
        + F.lit(0.5)
    )
    alloc = _largest_remainder_alloc(quotas, take_total, cap=True)
    return _select_by_hash_rank(
        df.select(s.alias("stratum"), k.alias("key")), alloc, salt
    )


def dsir_weights(
    docs: DataFrame,
    target: Column,
    buckets: int = 4096,
    k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): represent every
    document as hashed word-bigram bucket counts, estimate the target
    and raw (non-target) bucket distributions with add-k smoothing,
    and score each doc by its log importance ratio

        log w(x) = sum_b count_x(b) * [ln p_target(b) - ln p_raw(b)]

    Documents resembling the target distribution score high; sampling
    proportional to w(x) is the DSIR selection step (compose with
    hash_sample / quota-style ranking downstream).

    `target` is a boolean Column marking the target-distribution rows
    (e.g. ``F.col("lang") == "en"``). Output: (id_col, n_feats, logw),
    one row per doc with >= 1 bigram; per-bucket log-ratios are
    fixed-pointed to BIGINT before the per-doc sum (the bm25/bigram
    convention) so the result is independent of partition order.

    Scale shape: the hashed-feature frame is persisted (it feeds the
    bucket-distribution shuffle AND the per-doc aggregation); the
    bucket table is `buckets` rows — broadcast back for scoring, so
    the per-doc pass is map-side + one partial-agg shuffle on the doc
    id. Nothing downstream of the explode ever re-reads the corpus.
    """
    from fluent_bit_spark.session import persist_tracked
    from fluent_bit_spark.operators.text_analysis import tokens, word_grams

    tk = docs.select(
        F.col(id_col).alias("id"), target.alias("is_t"), tokens(F.col(text_col)).alias("tk")
    )
    feats = persist_tracked(
        tk.select("id", "is_t", F.explode(word_grams(F.col("tk"), 2)).alias("g")).select(
            "id", "is_t", (md5_32(F.col("g")) % F.lit(buckets)).alias("b")
        )
    )
    stats = feats.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("t"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("r"),
    )
    tot = stats.agg(F.sum("t").alias("tt"), F.sum("r").alias("rt"))
    lam = (
        stats.crossJoin(F.broadcast(tot))
        .withColumn(
            "lam",
            F.round(
                (
                    F.log((F.col("t") + F.lit(k)) / (F.col("tt") + F.lit(k * buckets)))
                    - F.log((F.col("r") + F.lit(k)) / (F.col("rt") + F.lit(k * buckets)))
                )
                * 1_000_000
            ).cast("long"),
        )
        .select("b", "lam")
    )
    per_doc = feats.groupBy("id", "b").agg(F.count("*").alias("cnt"))
    return per_doc.join(F.broadcast(lam), "b").groupBy(
        F.col("id").alias(id_col)
    ).agg(
        F.sum("cnt").alias("n_feats"),
        F.round(F.sum(F.col("cnt") * F.col("lam")) / 1_000_000.0, 6).alias("logw"),
    )


def mixture_weights(
    docs: DataFrame,
    alpha: float = 0.3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled data-mixture weights per source — the
    multilingual-sampling recipe (share^alpha, renormalized): sources
    small in raw share are up-weighted as alpha -> 0. Output
    (source, n_docs, n_tokens, share, weight), shares/weights rounded
    to 6 decimals after a fixed expression tree both engines replicate
    (pow on exact integer ratios; the normalizer is a 1-row broadcast).

    Scale shape: one groupBy(source) over a map-side token count; the
    per-source table is tiny (sources ~ O(100)) so everything after
    the first aggregation is broadcast arithmetic.
    """
    from fluent_bit_spark.operators.text_analysis import token_count

    per_src = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_tokens"),
    )
    tot = per_src.agg(F.sum("n_tokens").alias("_tot"))
    # share^alpha fixed-pointed to BIGINT (x 1e9): the normalizing sum
    # is then integer arithmetic — order-independent across engines
    powed = per_src.crossJoin(F.broadcast(tot)).withColumn(
        "_fx",
        F.round(
            F.pow(F.col("n_tokens") / F.col("_tot"), F.lit(alpha))
            * 1_000_000_000
        ).cast("long"),
    )
    norm = powed.agg(F.sum("_fx").alias("_z"))
    return (
        powed.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("_tot"), 6).alias("share"),
            F.round(F.col("_fx") / F.col("_z"), 6).alias("weight"),
        )
        .orderBy("source")
    )


def epoch_shuffle(
    df: DataFrame,
    epochs: int,
    id_col: str = "doc_id",
    out: str = "pos",
    prefix_buckets_hex: int = 2,
) -> DataFrame:
    """Deterministic per-epoch global training order WITHOUT a global
    window: every epoch gets an independent full shuffle of the corpus
    (order key = md5(epoch:id)), and each row's exact global position
    in its epoch comes from a two-level rank — within-bucket
    row_number + the cumulative size of all lower buckets.

    The bucket is the order key's own hex prefix, so bucket order IS
    key order: sorting (bucket, key) equals sorting (key).  The
    within-bucket windows parallelize across 256 buckets per epoch,
    and the base cumsum runs over bucket COUNTS only (256 rows per
    epoch, broadcast back) — the naive row_number() OVER (ORDER BY
    key) would serialize the corpus through one task at 100 TB.

    Epoch count is a small constant (a training run's passes), so the
    epochs×corpus explode is the intended output size, not blow-up.
    """
    from pyspark.sql import Window

    if not isinstance(epochs, int) or epochs <= 0:
        raise ValueError(f"epochs must be a positive int, got {epochs!r}")
    hexlen = prefix_buckets_hex
    keyed = (
        df.select(id_col)
        .withColumn(
            "epoch", F.explode(F.array(*[F.lit(i) for i in range(epochs)]))
        )
        .withColumn(
            "_key",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("epoch").cast("string"),
                    F.col(id_col).cast("string"),
                )
            ),
        )
        .withColumn(
            "_bucket",
            F.conv(F.substring("_key", 1, hexlen), 16, 10).cast("int"),
        )
    )
    win = Window.partitionBy("epoch", "_bucket").orderBy("_key", id_col)
    ranked = keyed.withColumn(
        "_r", (F.row_number().over(win) - 1).cast("long")
    )
    counts = keyed.groupBy("epoch", "_bucket").count()
    wb = (
        Window.partitionBy("epoch")
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = counts.withColumn(
        "_base", F.coalesce(F.sum("count").over(wb), F.lit(0)).cast("long")
    ).select("epoch", "_bucket", "_base")
    return (
        ranked.join(F.broadcast(bases), ["epoch", "_bucket"])
        .select(
            "epoch", id_col, (F.col("_base") + F.col("_r")).alias(out)
        )
    )


def kfold_assign(
    df: DataFrame,
    k: int = 5,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    prefix_buckets_hex: int = 2,
) -> DataFrame:
    """Deterministic stratified k-fold assignment: within each stratum,
    rows take their md5-order rank and fold = rank % k — so fold sizes
    within every stratum differ by at most 1 (exact balance, unlike
    hash%k whose folds fluctuate binomially), and the assignment is
    reproducible from ids alone.

    Rank uses the epoch_shuffle two-level scheme — within-bucket
    row_number (bucket = the order key's own hex prefix, so bucket
    order IS key order) plus the broadcast cumsum of bucket counts —
    never a per-stratum global window that would serialize a hot
    stratum through one task.
    """
    from pyspark.sql import Window

    hexlen = prefix_buckets_hex
    keyed = df.select(stratum_col, id_col).withColumn(
        "_key", F.md5(F.col(id_col).cast("string"))
    ).withColumn(
        "_bucket", F.conv(F.substring("_key", 1, hexlen), 16, 10).cast("int")
    )
    win = Window.partitionBy(stratum_col, "_bucket").orderBy("_key", id_col)
    ranked = keyed.withColumn("_r", (F.row_number().over(win) - 1).cast("long"))
    counts = keyed.groupBy(stratum_col, "_bucket").count()
    wb = (
        Window.partitionBy(stratum_col)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = counts.withColumn(
        "_base", F.coalesce(F.sum("count").over(wb), F.lit(0)).cast("long")
    )
    return (
        ranked.join(
            F.broadcast(base.select(stratum_col, "_bucket", "_base")),
            [stratum_col, "_bucket"],
        )
        .select(
            id_col,
            stratum_col,
            ((F.col("_base") + F.col("_r")) % F.lit(k)).cast("int").alias("fold"),
        )
    )


def priority_sample(
    df: DataFrame,
    rates_ppm: dict,
    level_col: str = "level",
    id_col: str = "event_id",
    default_ppm: int = 1_000_000,
) -> DataFrame:
    """Severity-tiered deterministic log sampling — the observability
    cost-control standard (keep every error, 1% of debug): a record
    survives when ``md5(id) % 1_000_000 < rate_ppm[level]``, so the
    decision is content-keyed (replay-stable, partition-invariant) and
    per-tier rates are exact in expectation. Each kept row carries
    ``weight_milli = 1_000_000_000 // rate_ppm`` — the inverse-
    probability weight (x1000) that makes downstream counts unbiased:
    sum(weight_milli)/1000 estimates the pre-sample count.

    Scale shape: a pure filter — no shuffle, no state; the rate table
    is a literal CASE chain (tiers are enum-sized).
    """
    from fluent_bit_spark.functions.hashing import md5_32

    rate = F.lit(default_ppm)
    for lvl, ppm in sorted(rates_ppm.items()):
        if not 0 <= ppm <= 1_000_000:
            raise ValueError(f"rate for {lvl!r} must be 0..1e6 ppm, got {ppm}")
        rate = F.when(F.col(level_col) == lvl, F.lit(ppm)).otherwise(rate)
    h = md5_32(F.col(id_col).cast("string")) % 1_000_000
    # the rate>0 guard matters beyond semantics: surviving rows always
    # have a positive rate, but a constant-foldable rate (literal level
    # column, e.g. from the dummy input) would otherwise constant-fold
    # `div 0` at PLAN time and fail under ANSI before the filter runs
    weight = F.when(
        F.col("_rate") > 0, F.expr("1000000000 div _rate")
    ).cast("long")
    return (
        df.withColumn("_rate", rate)
        .filter(h < F.col("_rate"))
        .withColumn("weight_milli", weight)
        .drop("_rate")
    )
