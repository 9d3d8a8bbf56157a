"""Data-quality / pipeline-governance operators.

Fluent Bit's job ends when the record is delivered; a 10^12-turn
lakehouse also has to prove the delivered data is *right* over time.
These operators cover the governance layer a pipeline owner runs
between the reference's output stage and a training run:

- `data_diff` — regression diff of two pipeline versions' outputs
  (the blue/green deploy check: re-run the parse→enrich plan on a
  candidate build and report exactly which keys changed and how).
- `schema_drift` — per-JSON-key first-seen / last-seen monitor over
  event days (the upstream-format-change alarm: a producer adding,
  renaming, or dropping a payload field shows up here before it
  breaks a parser — the batch analog of the reference re-compiling
  parsers on config reload, src/flb_parser.c).
- `tvd_drift` — distribution drift between a reference window and
  the current window as exact integer total-variation distance in
  ppm (the data-drift alarm behind retraining/backfill decisions;
  chosen over PSI because TVD is closed under integer ppm shares,
  so both engines agree bit-for-bit — no `ln` ulp roulette).

All three are governance ops: their working sets are key sets,
JSON-key vocabularies, and bin histograms — orders of magnitude
smaller than the data they audit — so every output here is safe to
collect/alert on even when the input is 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fluent_bit_spark.session import local_frame


def data_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: tuple = ("conv_id", "turn_idx"),
    compare_cols: tuple | None = None,
) -> DataFrame:
    """Per-key regression diff between two versions of the same table:
    one row per key that is not identical in both, with

    - ``verdict``: ``only_old`` (key vanished in the new build),
      ``only_new`` (key appeared), or ``changed`` (present in both
      but at least one compared column differs under null-safe
      equality);
    - ``changed_cols``: comma-joined sorted list of differing columns
      (empty for ``only_old`` / ``only_new``).

    ``compare_cols`` defaults to every shared non-key column.

    Scale shape: ONE full-outer sort-merge join on the key — both
    sides shuffle once on the same key so AQE plans one co-partitioned
    exchange; all column compares are null-safe JVM expressions inside
    whole-stage codegen, and the output is bounded by the diff size,
    not the table size. For incremental audits, pre-filter both sides
    with `sources.zone_maps` pruning so only partitions whose stats
    changed are ever read.
    """
    keys = list(key_cols)
    if compare_cols is None:
        compare_cols = tuple(
            c for c in old.columns if c not in keys and c in new.columns
        )
    o = old.select(*keys, *[F.col(c).alias(f"_o_{c}") for c in compare_cols])
    n = new.select(
        *keys,
        F.lit(1).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    j = o.withColumn("_in_old", F.lit(1)).join(n, keys, "full_outer")
    changed = F.concat_ws(
        ",",
        *[
            F.when(
                ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), F.lit(c)
            )
            for c in sorted(compare_cols)
        ],
    )
    verdict = (
        F.when(F.col("_in_old").isNull(), F.lit("only_new"))
        .when(F.col("_in_new").isNull(), F.lit("only_old"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(
            *keys,
            verdict.alias("verdict"),
            F.when(
                F.col("_in_old").isNotNull() & F.col("_in_new").isNotNull(),
                changed,
            )
            .otherwise(F.lit(""))
            .alias("changed_cols"),
        )
        .filter((F.col("verdict") != "changed") | (F.col("changed_cols") != ""))
    )


def schema_drift(
    df: DataFrame,
    json_col: str = "props",
    day_col: str = "day",
) -> DataFrame:
    """Per-JSON-key lifecycle report over event days: for every key
    that ever appears in ``json_col``, the first/last day it was seen,
    how many distinct days it appeared, how many records carried it,
    and a status relative to the observed day span:

    - ``stable``   — present from the first day through the last;
    - ``new``      — first appeared after the span started;
    - ``dropped``  — last seen before the span ended;
    - ``transient``— both (appeared late AND vanished early).

    Scale shape: `json_object_keys` + explode is a shuffle-free map
    stage; the groupBy key is the JSON key vocabulary (tens to
    thousands of rows at any corpus size) with map-side combine, and
    the span bounds arrive as a broadcast 1-row cross join — the
    report is alert-sized no matter how big the input is.
    """
    keyed = df.select(
        F.col(day_col).alias("_day"),
        F.explode(F.json_object_keys(F.col(json_col))).alias("key"),
    )
    per_key = keyed.groupBy("key").agg(
        F.min("_day").alias("first_seen"),
        F.max("_day").alias("last_seen"),
        F.countDistinct("_day").alias("n_days"),
        F.count(F.lit(1)).alias("n_records"),
    )
    bounds = df.agg(
        F.min(day_col).alias("_lo"), F.max(day_col).alias("_hi")
    )
    late = F.col("first_seen") > F.col("_lo")
    early = F.col("last_seen") < F.col("_hi")
    return per_key.crossJoin(F.broadcast(bounds)).select(
        "key",
        "first_seen",
        "last_seen",
        "n_days",
        "n_records",
        F.when(late & early, F.lit("transient"))
        .when(late, F.lit("new"))
        .when(early, F.lit("dropped"))
        .otherwise(F.lit("stable"))
        .alias("status"),
    )


def tvd_drift(
    df: DataFrame,
    group_col: str = "event_type",
    bin_col: str = "bin",
    cur_col: str = "is_cur",
    threshold_ppm: int = 100_000,
) -> DataFrame:
    """Distribution drift per group between a reference window
    (``cur_col`` = 0) and the current window (``cur_col`` = 1), as
    exact integer total-variation distance in ppm:

        tvd_ppm = sum_bins |p_ppm(bin) - q_ppm(bin)| // 2

    where each side's per-bin share is ``count * 1_000_000 //
    side_total`` (integer floor division, so both engines agree
    bit-for-bit — TVD was chosen over PSI precisely because it stays
    closed under integer arithmetic). ``drifted`` flags groups whose
    TVD exceeds ``threshold_ppm``; 100_000 ppm = 10 % of probability
    mass moved.

    Input is pre-binned: callers map the raw value to an integer
    ``bin_col`` (fixed-width cents-bucketing keeps that exact too)
    and a 0/1 ``cur_col`` window indicator.

    Scale shape: one groupBy over (group, bin) counts BOTH sides in a
    single pass (no self-join of the two windows); per-group totals
    come back as a broadcast join over the group vocabulary; the
    final reduce is over #groups × #bins rows. Nothing after the
    first aggregate ever touches row-scale data.
    """
    b = df.groupBy(group_col, bin_col).agg(
        F.sum(1 - F.col(cur_col)).cast("long").alias("_ref"),
        F.sum(cur_col).cast("long").alias("_cur"),
    )
    totals = b.groupBy(group_col).agg(
        F.sum("_ref").alias("n_ref"), F.sum("_cur").alias("n_cur")
    )
    # one-sided groups (all rows in a single window) have a zero total
    # on the other side; their share there is 0 by convention — the
    # guard also keeps ANSI mode from raising DIVIDE_BY_ZERO
    shares = b.join(F.broadcast(totals), group_col).select(
        group_col,
        "n_ref",
        "n_cur",
        F.when(F.col("n_ref") > 0, F.expr("_ref * 1000000 div n_ref"))
        .otherwise(F.lit(0))
        .alias("_p"),
        F.when(F.col("n_cur") > 0, F.expr("_cur * 1000000 div n_cur"))
        .otherwise(F.lit(0))
        .alias("_q"),
    )
    return (
        shares.groupBy(group_col)
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.expr("CAST(sum(abs(_p - _q)) div 2 AS BIGINT)").alias("tvd_ppm"),
        )
        .withColumn("drifted", F.col("tvd_ppm") > F.lit(threshold_ppm))
    )


def kappa_agreement(
    df: DataFrame,
    label_a: str,
    label_b: str,
    group_col: str | None = None,
) -> DataFrame:
    """Cohen's kappa between two annotators' labels, in exact integer
    ppm (share-quantized): per group —

        po_ppm    = agreements * 1_000_000 div n
        pe_ppm    = sum_l (share_a(l) * share_b(l)) div 1_000_000
                    where share_x(l) = n_x(l) * 1_000_000 div n
        kappa_ppm = floor((po_ppm - pe_ppm) * 1_000_000
                          / (1_000_000 - pe_ppm))   [NULL if pe = 1]

    Shares are floored to ppm BEFORE the chance-agreement product, so
    every intermediate fits a 64-bit integer even at 10^12 rows (the
    textbook formula needs n^2) and both engines agree bit-for-bit.
    kappa may be negative (worse than chance); Spark's `div` and
    DuckDB's `//` both truncate toward zero on integers (verified),
    so the integral division stays cross-engine exact there too.

    Agreement is null-safe: both-null counts as agreement, null-vs-
    value does not.

    Scale shape: one groupBy to per-(group, label-pair) marginals
    (label vocabulary sized), then arithmetic on alert-sized frames.
    """
    g = [group_col] if group_col else []
    gc = [F.col(c) for c in g]
    n_agree = F.sum(
        F.col(label_a).eqNullSafe(F.col(label_b)).cast("long")
    ).alias("_agree")
    totals = df.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"), n_agree
    )
    ml = df.groupBy(*g, F.col(label_a).alias("_l")).agg(
        F.count(F.lit(1)).alias("_na")
    )
    mr = df.groupBy(*g, F.col(label_b).alias("_l")).agg(
        F.count(F.lit(1)).alias("_nb")
    )
    marg = ml.join(mr, [*g, "_l"], "full_outer").select(
        *g,
        F.coalesce("_na", F.lit(0)).alias("_na"),
        F.coalesce("_nb", F.lit(0)).alias("_nb"),
    )
    pe = (
        marg.join(F.broadcast(totals), g) if g else marg.crossJoin(F.broadcast(totals))
    )
    pe = pe.groupBy(*g).agg(
        F.first("n").alias("n"),
        F.first("_agree").alias("_agree"),
        F.sum(
            F.expr("(_na * 1000000 div n) * (_nb * 1000000 div n)")
        ).alias("_pesum"),
    )
    po_ppm = F.expr("_agree * 1000000 div n")
    pe_ppm = F.expr("_pesum div 1000000")
    staged = pe.select(
        *g,
        F.col("n"),
        po_ppm.alias("po_ppm"),
        pe_ppm.alias("pe_ppm"),
    )
    return staged.withColumn(
        "_num", (F.col("po_ppm") - F.col("pe_ppm")) * F.lit(1_000_000)
    ).withColumn("_den", F.lit(1_000_000) - F.col("pe_ppm")).withColumn(
        "kappa_ppm",
        F.when(
            # Spark `div` and DuckDB `//` both truncate toward zero on
            # integers, so the negative-kappa branch stays cross-engine
            # exact with the plain integral division
            F.col("_den") > 0,
            F.expr("_num div _den"),
        ).otherwise(F.lit(None).cast("long")),
    ).drop("_num", "_den")


# Avro spec type promotions a READER may apply to a WRITER's value
_PROMOTABLE = [
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"),
    ("float", "double"),
    ("string", "bytes"), ("bytes", "string"),
]


def schema_compat(
    old_schema: DataFrame,
    new_schema: DataFrame,
) -> DataFrame:
    """Schema-registry style backward-compatibility check between a
    WRITER (old) and READER (new) flat record schema, per the Avro
    spec's resolution rules — the check a pipeline owner runs before
    deploying the schema a `schema_drift` alarm surfaced:

    Inputs: frames of (field, type, has_default). Per field:

    - both, same type                         -> ``ok``
    - both, writer->reader promotable          -> ``promoted``
    - both, otherwise                          -> ``breaking_type``
    - writer-only (reader dropped it)          -> ``removed_ok``
      (resolution skips writer fields the reader lacks)
    - reader-only with a default               -> ``added_ok``
    - reader-only without a default            -> ``breaking_no_default``

    Plus ``compatible`` = the field-level verdict is non-breaking.
    The schema's overall verdict is ``bool_and(compatible)``.

    Scale shape: schemas are field-vocabulary sized; one full-outer
    join + a broadcast promotion table. Nothing here ever touches the
    data the schemas describe.
    """
    spark = old_schema.sparkSession
    o = old_schema.select(
        "field", F.col("type").alias("_ot"),
    )
    n = new_schema.select(
        "field",
        F.col("type").alias("_nt"),
        F.col("has_default").alias("_nd"),
    )
    promo = F.broadcast(
        local_frame(spark, _PROMOTABLE, "_ot string, _nt string")
        .withColumn("_promo", F.lit(True))
    )
    j = o.join(n, "field", "full_outer").join(
        promo, ["_ot", "_nt"], "left"
    )
    verdict = (
        F.when(F.col("_ot").isNull() & F.col("_nd"), F.lit("added_ok"))
        .when(F.col("_ot").isNull(), F.lit("breaking_no_default"))
        .when(F.col("_nt").isNull(), F.lit("removed_ok"))
        .when(F.col("_ot") == F.col("_nt"), F.lit("ok"))
        .when(F.col("_promo"), F.lit("promoted"))
        .otherwise(F.lit("breaking_type"))
    )
    return j.select(
        "field",
        F.col("_ot").alias("old_type"),
        F.col("_nt").alias("new_type"),
        verdict.alias("verdict"),
        (~verdict.startswith("breaking")).alias("compatible"),
    )


def profile_columns(df: DataFrame, cols: list) -> DataFrame:
    """Deequ-style column profile: one row per profiled column with
    the ORDER-INDEPENDENT statistics (n, n_null, n_distinct, min,
    max as strings) — deliberately no float mean/stddev, whose
    accumulation order differs per engine/partitioning and would make
    the profile itself non-reproducible.

    Scale shape: one aggregate pass per column batched into a single
    job via unioned per-column aggregates over vocabulary-sized
    results; each per-column aggregate is map-side combinable.
    """
    parts = []
    for c in cols:
        parts.append(
            df.agg(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                F.min(F.col(c)).cast("string").alias("min_value"),
                F.max(F.col(c)).cast("string").alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def check_constraints(df: DataFrame, rules: list) -> DataFrame:
    """Deequ/Great-Expectations-style constraint suite: evaluate each
    rule against the frame and emit (rule, metric_ppm, threshold_ppm,
    passed). Rules are tuples:

    - ``('completeness', col, min_ppm)`` — non-null share >= bound;
    - ``('uniqueness', col, min_ppm)`` — distinct/total >= bound;
    - ``('in_range', col, lo, hi, min_ppm)`` — share inside [lo, hi]
      (nulls count as outside) >= bound;
    - ``('matches', col, regex, min_ppm)`` — share matching >= bound.

    Shares are exact integer ppm (count * 1_000_000 div n), so the
    verdict is engine-reproducible. Scale shape: ONE aggregate pass
    computes every rule's counters simultaneously (conditional sums);
    the output is rule-sized.
    """
    n = F.count(F.lit(1))
    aggs, meta = [], []
    for i, rule in enumerate(rules):
        kind, col = rule[0], rule[1]
        if kind == "completeness":
            cnt, thr = F.sum(F.col(col).isNotNull().cast("long")), rule[2]
            name = f"completeness({col})"
        elif kind == "uniqueness":
            cnt, thr = F.count_distinct(F.col(col)), rule[2]
            name = f"uniqueness({col})"
        elif kind == "in_range":
            lo, hi, thr = rule[2], rule[3], rule[4]
            cnt = F.sum(
                (F.col(col).isNotNull() & F.col(col).between(lo, hi)).cast("long")
            )
            name = f"in_range({col},{lo},{hi})"
        elif kind == "matches":
            rx, thr = rule[2], rule[3]
            cnt = F.sum(
                F.coalesce(F.col(col).rlike(rx), F.lit(False)).cast("long")
            )
            name = f"matches({col})"
        else:
            raise ValueError(f"unknown rule kind {kind!r}")
        aggs.append(cnt.alias(f"_c{i}"))
        meta.append((name, thr))
    wide = df.agg(n.alias("_n"), *aggs)
    rows = None
    for i, (name, thr) in enumerate(meta):
        # a global agg emits one row even for an empty table (_n = 0):
        # report 0 ppm (failing any positive threshold — no data means
        # nothing certified) rather than raising ANSI DIVIDE_BY_ZERO
        ppm = F.when(
            F.col("_n") > 0, F.expr(f"_c{i} * 1000000 div _n")
        ).otherwise(F.lit(0))
        r = wide.select(
            F.lit(name).alias("rule"),
            ppm.alias("metric_ppm"),
            F.lit(thr).cast("long").alias("threshold_ppm"),
            (ppm >= F.lit(thr)).alias("passed"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


def fk_integrity(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    name: str = "fk",
) -> DataFrame:
    """Referential-integrity audit: how many child rows reference a
    key absent from the parent (orphans), as count and exact ppm —
    the join-health check a lakehouse runs after every ingest batch
    (a nonzero orphan rate means a partial load or an out-of-order
    CDC apply).

    Scale shape: one left join against the parent's distinct key set
    (broadcast when it fits) feeding one aggregate — a single
    declarative plan, no driver-side counting.
    """
    marked = child.select(F.col(child_key).alias("_k")).join(
        parent.select(F.col(parent_key).alias("_k"))
        .distinct()
        .withColumn("_hit", F.lit(1)),
        "_k",
        "left",
    )
    return marked.agg(
        F.lit(name).alias("relation"),
        F.count(F.lit(1)).alias("n_child"),
        F.coalesce(
            F.sum(F.col("_hit").isNull().cast("long")), F.lit(0)
        ).alias("n_orphans"),
    ).select(
        "relation",
        "n_child",
        "n_orphans",
        # empty child table: vacuously 0 orphans (and no ANSI div-0)
        F.when(
            F.col("n_child") > 0,
            F.expr("n_orphans * 1000000 div n_child"),
        )
        .otherwise(F.lit(0))
        .alias("orphan_ppm"),
    )


def ks_drift(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value_bin",
    cur_col: str = "is_cur",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance per group between
    a reference window (``cur_col`` = 0) and the current window
    (``cur_col`` = 1), in ppm:

        ks_ppm = max over observed values v of
                 |ecdf_ref_ppm(v) - ecdf_cur_ppm(v)|

    where each side's cumulative share is ``cum_count * 1_000_000 //
    side_total`` (integer floor division — cross-engine exact, the
    same quantization contract as tvd_drift). KS complements TVD: TVD
    sees total mass moved anywhere; KS sees the largest ordered-CDF
    gap, so a small mass moved far (a tail shift) scores high on KS
    while barely moving TVD.

    Input is pre-binned to an integral ``value_col`` (token counts,
    cents, bucketed latencies).

    Scale shape: one groupBy over (group, value) counts both sides in
    a single pass; the cumulative window then runs over DISTINCT
    values per group — bounded by metric cardinality, never by row
    count. Empty sides yield NULL ks_ppm (no division blowup under
    ANSI)."""
    counts = df.groupBy(group_col, value_col).agg(
        F.sum(
            F.when(F.col(cur_col).cast("int") == 0, 1).otherwise(0)
        ).alias("_na"),
        F.sum(
            F.when(F.col(cur_col).cast("int") == 1, 1).otherwise(0)
        ).alias("_nb"),
    )
    wg = Window.partitionBy(group_col)
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = (
        counts.withColumn("_ta", F.sum("_na").over(wg))
        .withColumn("_tb", F.sum("_nb").over(wg))
        .withColumn("_ca", F.sum("_na").over(wcum))
        .withColumn("_cb", F.sum("_nb").over(wcum))
        .withColumn(
            "_gap",
            F.abs(
                F.expr("_ca * CAST(1000000 AS BIGINT) div nullif(_ta, 0)")
                - F.expr("_cb * CAST(1000000 AS BIGINT) div nullif(_tb, 0)")
            ),
        )
    )
    return staged.groupBy(group_col).agg(
        F.max("_gap").alias("ks_ppm"),
        F.max("_ta").alias("n_ref"),
        F.max("_tb").alias("n_cur"),
    )
