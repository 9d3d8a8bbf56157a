"""Skew handling & stable ordering for hot conversations.

The transcript table is Zipf-skewed on conv_id (a few conversations
hold a large share of turns). Two distinct needs:

1. High-cardinality per-conv aggregates (counts, bytes per conv):
   `salted_agg` — two-phase aggregation, partial per (conv_id, salt)
   then final merge. At 1000 executors this bounds any single task to
   1/salt_buckets of the hottest key instead of the whole key.
   (Low-cardinality aggregates don't need this — map-side combine
   already collapses them; see aggregate.py.)

2. Stable (conv_id, turn_idx) ordering for sequence-dependent logic
   (`turn_rank`, first/last turn): a window must see a whole
   conversation, which is bounded by max conversation length — fine to
   co-locate. AQE skew-join/partition splitting plus
   `repartition(conv_id)` keeps the layout balanced; rows within a
   conversation are ordered by turn_idx with event-ts tiebreak, never
   by arrival order, so results are deterministic under any shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    limit,
    rank_col: str | None = None,
) -> DataFrame:
    """Skew-bounded per-group top-k: stage 1 pre-limits per INPUT
    partition (any row in the true global top-`limit` is also in its
    own partition's top-`limit` under the same total order), stage 2
    ranks globally per group — so a hot group never lands its full row
    set on one reducer; the global window sees at most
    limit * num_partitions rows per group.

    `limit` may be an int or a per-row Column (e.g. a joined
    allocation); `order_cols` must be a TOTAL order within each group
    or the kept set is nondeterministic. With `rank_col` set, the
    global 1-based rank is kept in the output under that name.

    The single implementation behind quota_sample, filters.throttle,
    sampling's allocation samplers, and the inverted-index postings.
    """
    lim = limit if isinstance(limit, Column) else F.lit(limit)
    pre = Window.partitionBy(F.spark_partition_id(), *group_cols).orderBy(
        *order_cols
    )
    staged = (
        df.withColumn("_tk_pre", F.row_number().over(pre))
        .filter(F.col("_tk_pre") <= lim)
        .drop("_tk_pre")
    )
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    name = rank_col or "_tk_rn"
    out = staged.withColumn(name, F.row_number().over(w)).filter(
        F.col(name) <= lim
    )
    return out if rank_col else out.drop(name)


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    `aggs`: out_name -> (fn, col) with fn in {count, sum, min, max}.
    Phase 1 aggregates per (key, salt) — salt derived from a hash of
    stable row identity, not random, so reruns are deterministic.
    Phase 2 merges partials per key (count -> sum of partials, etc.).
    """
    merge_fn = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
    # salt = input partition id mod buckets: free to compute, splits a
    # hot key across however many partitions it arrived in, and the
    # merged result is salt-invariant.
    salt = (F.spark_partition_id() % salt_buckets).alias("_salt")
    phase1_aggs = []
    for out, (fn, col) in aggs.items():
        c = F.count(col) if fn == "count" else getattr(F, fn)(col)
        phase1_aggs.append(c.alias(out))
    partial = df.withColumn("_salt", salt).groupBy(key, "_salt").agg(*phase1_aggs)
    final_aggs = [
        merge_fn[fn](out).alias(out) for out, (fn, _) in aggs.items()
    ]
    return partial.groupBy(key).agg(*final_aggs)


def stable_turn_order(df: DataFrame) -> DataFrame:
    """Deterministic within-conversation rank `turn_rank` — per conv_id,
    (turn_idx, ts) ordered, independent of arrival/shuffle order. This
    is the ordering the per-turn text-equality invariant is defined
    under."""
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx"), F.col("ts"))
    return df.withColumn("turn_rank", F.row_number().over(w))


def stable_turn_order_skew_safe(df: DataFrame) -> DataFrame:
    """stable_turn_order for corpora with PATHOLOGICALLY hot
    conversations: identical `turn_rank` values (row_number within
    conv_id by (turn_idx, ts)) without ever giving one task a whole
    conversation.

    The plain window hash-partitions by conv, so a conversation with
    10^9 turns is one task's sort — the single shape in this pipeline
    a hot key can break at 10^12-turn scale. Here the global order
    (conv_id, turn_idx, ts) is built with a RANGE repartition (the range
    partitioner splits a hot conversation across as many partitions
    as it needs) + within-partition sort; a per-partition row_number
    plus driver-side cumulative partition offsets (numPartitions tiny
    rows — the only collect) yields each row's global rank, and the
    within-conv rank is global_rank - min(global_rank per conv) + 1.
    Conversations are contiguous in the global order, so the
    subtraction reproduces the window's row_number exactly (pinned by
    an equality pytest). The min-per-conv aggregate is map-side
    combinable (skew-safe), and the join back rides AQE's skew-join
    splitting.

    Trade-off: one extra shuffle + a numPartitions-row collect vs the
    plain window — use stable_turn_order when max conversation length
    is bounded (the common case); this variant when skew_report shows
    a conversation outweighing a whole task. The range layout has
    `spark.sql.shuffle.partitions` partitions."""
    from fluent_bit_spark.session import persist_tracked

    ob = [F.col("conv_id"), F.col("turn_idx"), F.col("ts")]
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # persisted: the range layout feeds the offsets count AND the rank
    # pass; recomputation must see the same partition boundaries
    srt = persist_tracked(
        df.repartitionByRange(n, *ob)
        .sortWithinPartitions(*ob)
        .withColumn("_pid", F.spark_partition_id())
    )
    cnts = {
        r["_pid"]: r["c"]
        for r in srt.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    if not cnts:
        return stable_turn_order(srt).drop("_pid")  # empty input: plain window on nothing
    # cumulative offsets as ONE array literal indexed by _pid:
    # element_at on a constant array is O(1) per row and a single
    # Literal node in the plan, vs a literal create_map whose
    # GetMapValue is a linear scan over 2*numPartitions expression
    # nodes — at the many-thousand-partition scale this operator
    # targets that was a real per-row cost and plan blowup.
    offsets, acc = [], 0
    for p in range(max(cnts) + 1):
        offsets.append(acc)
        acc += cnts.get(p, 0)
    off_arr = F.lit(offsets).cast("array<bigint>")
    wp = Window.partitionBy("_pid").orderBy(*ob)
    g = srt.withColumn(
        "_g",
        F.element_at(off_arr, F.col("_pid") + F.lit(1))
        + F.row_number().over(wp),
    )
    base = g.groupBy("conv_id").agg(F.min("_g").alias("_b"))
    return (
        g.join(base, "conv_id")
        .withColumn("turn_rank", (F.col("_g") - F.col("_b") + F.lit(1)).cast("int"))
        .drop("_pid", "_g", "_b")
    )


def skew_report(df: DataFrame, topk: int = 20) -> DataFrame:
    """Heavy-hitter skew diagnostic: the top-`topk` conv_ids by row count
    with each key's exact share of the table in parts-per-million
    (integer floor division — engine-exact, no float rounding). This is
    the report that decides the salting/AQE-skew-split parameters for
    the conv_id repartition (the north rule's "explicit skew handling"
    made measurable): any key whose share_ppm exceeds
    1e6/shuffle-partitions by a wide margin needs salting.

    Scale shape: per-key counts get map-side partial aggregation; the
    total is a scalar aggregate broadcast back; the top-k is a
    TakeOrdered (per-partition pre-limit, never a global sort
    materialization).
    """
    counts = df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("_sk_total"))
    ranked = (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            # integer DIV, not float /: exact rational floor in both
            # engines (double division can land at 4999.999... and
            # truncate differently than DuckDB's //)
            "share_ppm",
            F.expr("n_rows * CAST(1000000 AS BIGINT) div _sk_total"),
        )
        .orderBy(F.desc("n_rows"), F.col("conv_id"))
        .limit(topk)
    )
    # unpartitioned window is safe here: it runs AFTER the limit, over
    # at most `topk` rows (the WindowExec single-partition warning is
    # about this bounded frame, not the table)
    w = Window.orderBy(F.desc("n_rows"), F.col("conv_id"))
    return (
        ranked.withColumn("rnk", F.row_number().over(w))
        .select("conv_id", "n_rows", "share_ppm", "rnk")
    )
