"""Privacy / compliance governance operators.

The reference stops at delivery; a lakehouse feeding model training
also has to answer compliance questions about what it delivered.
These operators cover the four audits a data-protection review
actually runs against a 10^12-turn corpus:

- `k_anonymity` — per quasi-identifier combination group sizes with
  an at-risk flag (Sweeney's k-anonymity: any combination shared by
  fewer than k records re-identifies its members).
- `canary_extract` — corpus-wide census of injected canary tokens
  (the secret-sharer memorization probe: canaries planted upstream
  must be findable, counted, and traceable before and after every
  transform; a canary that survives into a training shard is a leak).
- `template_novelty` — per-day count of never-seen-before log
  templates (the "new log schema appeared" alarm; the batch analog
  of an operator noticing that parsers.conf no longer covers the
  fleet's output — conf/parsers.conf is hand-maintained in the
  reference, so drift shows up only as parse failures there).
- `tombstone_delete` — right-to-erasure propagation: anti-join a
  tombstone key list and emit both the surviving rows and the
  per-day deletion manifest an auditor signs off on.

All four reports are vocabulary-sized (QI combinations, canary ids,
template ids, days), so they stay alert-sized at any corpus scale;
the only row-scale output is `tombstone_delete`'s survivor frame,
which is a filter, not a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def k_anonymity(
    df: DataFrame,
    qi_cols: tuple,
    k: int = 5,
) -> DataFrame:
    """Group-size census over the quasi-identifier columns: one row
    per observed QI combination with

    - ``n``: how many records share the combination;
    - ``at_risk``: ``n < k`` (the combination breaks k-anonymity —
      an attacker who knows a member's QI values singles them out
      among fewer than k candidates).

    The dataset's k-anonymity level is ``min(n)`` over the output.

    Scale shape: one groupBy whose key cardinality is the QI
    vocabulary (domains multiply, rows don't) with map-side partial
    counts; no joins, no windows. At 100 TB the shuffle moves one
    row per QI combination per map partition.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k!r}")
    return (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("at_risk", F.col("n") < F.lit(k))
    )


def canary_extract(
    df: DataFrame,
    group_col: str = "conv_id",
    text_col: str = "text",
    pattern: str = r"CANARY-[0-9a-f]{8}",
) -> DataFrame:
    """Corpus-wide canary census: every match of ``pattern`` in
    ``text_col``, aggregated to one row per distinct canary token with

    - ``n_groups``: distinct ``group_col`` values carrying it (a
      canary planted once but appearing in many conversations has
      been duplicated by the pipeline);
    - ``n_hits``: total occurrences (a row may repeat a canary).

    Scale shape: `regexp_extract_all` + explode is a shuffle-free map
    stage emitting only matches (canaries are rare by construction);
    the groupBy key is the canary vocabulary. Nothing row-scale ever
    shuffles.
    """
    hits = df.select(
        F.col(group_col).alias("_g"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
        ).alias("canary"),
    )
    return hits.groupBy("canary").agg(
        F.count_distinct("_g").alias("n_groups"),
        F.count(F.lit(1)).alias("n_hits"),
    )


def template_novelty(
    df: DataFrame,
    template_col: str = "template",
    day_col: str = "day",
) -> DataFrame:
    """Per-day novelty report over pre-masked log templates: for each
    day, how many distinct templates were active, how many of them
    were seen for the first time ever that day, and the new share in
    ppm (``n_new * 1_000_000 div n_active``, integer floor so both
    engines agree bit-for-bit).

    Day one of a corpus reports every template as new; after that the
    curve decays toward zero, and a spike marks an upstream format
    change — the same signal `dataquality.schema_drift` gives for
    JSON payloads, here for unstructured lines.

    Scale shape: two template-vocabulary-sized aggregations (first
    seen per template, then distinct-actives per day) joined on the
    day spine; templated text collapses to a tiny distinct set by
    design, so every stage after the first groupBy is alert-sized.
    """
    per_day = (
        df.groupBy(template_col, day_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )
    first_seen = per_day.groupBy(template_col).agg(
        F.min(day_col).alias("_first")
    )
    joined = per_day.join(first_seen, template_col)
    return (
        joined.groupBy(day_col)
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                (F.col("_first") == F.col(day_col)).cast("long")
            ).alias("n_new"),
        )
        .select(
            day_col,
            "n_active",
            "n_new",
            F.expr("n_new * 1000000 div n_active").alias("new_ppm"),
        )
    )


def tombstone_delete(
    df: DataFrame,
    tombstones: DataFrame,
    key_col: str = "conv_id",
    day_col: Column | None = None,
    holds: DataFrame | None = None,
):
    """Right-to-erasure propagation: drop every row whose ``key_col``
    appears in ``tombstones`` (single column, same name) and return
    ``(survivors, manifest)`` where the manifest is the per-day audit
    record: rows deleted, rows kept, and distinct keys deleted.

    ``holds`` (optional, same single-column shape) is the LEGAL-HOLD
    exception list: a held key is exempt from deletion even when
    tombstoned (litigation/regulatory hold outranks the erasure
    request — the row survives, and the manifest reports it
    separately as ``n_held_rows`` so the auditor sees WHY the
    deletion did not happen).

    Scale shape: tombstone and hold lists are small by nature
    (requests), so every join broadcasts — the corpus never shuffles;
    the manifest aggregation groups by day with map-side combine.
    """
    day = day_col if day_col is not None else F.date_trunc("day", F.col("ts"))
    tomb = tombstones.select(key_col).distinct()
    with_held = holds is not None
    if with_held:
        held = holds.select(key_col).distinct()
        effective = tomb.join(F.broadcast(held), key_col, "left_anti")
        held_tomb = F.broadcast(
            tomb.join(F.broadcast(held), key_col, "left_semi")
            .withColumnRenamed(key_col, "_k")
            .withColumn("_h", F.lit(1))
        )
    keys = F.broadcast(effective if with_held else tomb)
    survivors = df.join(keys, key_col, "left_anti")
    tagged = df.select(
        day.alias("day"),
        F.col(key_col).alias("_k"),
    ).join(keys.withColumnRenamed(key_col, "_k").withColumn("_t", F.lit(1)),
           "_k", "left")
    if with_held:
        tagged = tagged.join(held_tomb, "_k", "left")
    aggs = [
        F.sum(F.when(F.col("_t").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_deleted"),
        F.sum(F.when(F.col("_t").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.count_distinct(
            F.when(F.col("_t").isNotNull(), F.col("_k"))
        ).alias("n_keys_deleted"),
    ]
    if with_held:
        aggs.append(
            F.sum(F.when(F.col("_h").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_held_rows")
        )
    manifest = tagged.groupBy("day").agg(*aggs)
    return survivors, manifest


def contribution_clamp(
    df: DataFrame,
    max_rows_per_user_day: int = 4,
    value_cap_cents: int = 10_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Differential-privacy sensitivity bounding WITHOUT the noise —
    the deterministic prep every user-level DP release runs first:
    per (user, day) keep at most ``max_rows_per_user_day`` events
    (md5-ranked on the event id, so the selection is content-keyed
    and replay-stable — never 'first N by arrival') and clamp each
    kept value to ``value_cap_cents`` (integer cents).  The per-day
    report shows exactly how much signal bounding cost:

    (day, n_raw, n_kept, users, clipped_users, sum_raw_cents,
     sum_clamped_cents)

    where clipped_users counts users who lost rows OR had a value
    clamped.  All integer, so the accounting is engine-exact; the
    noise mechanism itself is intentionally out of scope (noise is
    non-deterministic by definition and belongs at release time).

    Scale shape: one window partitioned by (user, day) — groups are
    per-user-day sized, never corpus-scale — then a per-day groupBy
    with map-side combine.
    """
    from pyspark.sql import Window

    from fluent_bit_spark.functions.hashing import md5_32

    day = F.date_trunc("day", F.col(ts_col))
    cents = F.floor(F.col(value_col) * 100 + 0.5).cast("long")
    w = Window.partitionBy(user_col, day).orderBy(
        md5_32(F.col(id_col).cast("string")), F.col(id_col)
    )
    staged = df.select(
        day.alias("day"),
        F.col(user_col).alias("_u"),
        cents.alias("_raw"),
        F.row_number().over(w).alias("_rk"),
    ).withColumn(
        "_kept", F.col("_rk") <= F.lit(max_rows_per_user_day)
    ).withColumn(
        "_clamped",
        F.least(F.col("_raw"), F.lit(value_cap_cents)),
    )
    return staged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("_kept").cast("long")).alias("n_kept"),
        F.count_distinct("_u").alias("users"),
        F.count_distinct(
            F.when(
                (~F.col("_kept"))
                | (F.col("_kept") & (F.col("_raw") > value_cap_cents)),
                F.col("_u"),
            )
        ).alias("clipped_users"),
        F.sum("_raw").alias("sum_raw_cents"),
        F.sum(F.when(F.col("_kept"), F.col("_clamped")).otherwise(0))
        .cast("long")
        .alias("sum_clamped_cents"),
    )
