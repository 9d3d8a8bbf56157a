"""Aggregate sinks & timeseries functions.

- `counter` ≙ out_counter (plugins/out_counter/counter.c:24-46):
  running record total per sink.
- `flowcounter` ≙ out_flowcounter
  (plugins/out_flowcounter/out_flowcounter.c:101-125): counts & bytes
  per tag per time unit. The reference windows on wall-clock ticks; we
  bind windows to the event timestamp (`F.window(ts, ...)`) which makes
  results deterministic — a documented improvement, same aggregate
  surface.
- `timeseries_forecast` ≙ TIMESERIES_FORECAST/_R
  (include/fluent-bit/stream_processor/flb_sp_timeseries.h:52-64):
  simple linear regression y = a + b·x via Spark's `regr_slope` /
  `regr_intercept` (numerically the same Σx/Σy/Σxy/Σx² computation the
  reference keeps incrementally).

Scale notes: these group-bys carry low-cardinality keys (sink, tag,
window), so Spark's partial (map-side) aggregation collapses each
partition to a handful of rows before the shuffle — the 100 TB plan is
scan-heavy, shuffle-light. No salting needed here; see skew.py for the
high-cardinality conv_id paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def counter(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Total record count (per key set, default per sink)."""
    keys = keys if keys is not None else ["sink"]
    return df.groupBy(*keys).agg(F.count("*").alias("records"))


def flowcounter(
    df: DataFrame,
    keys: list[str] | None = None,
    window: str = "1 hour",
    ts: str = "ts",
    bytes_col: str = "text",
) -> DataFrame:
    """Counts and byte totals per key per event-time window; emits
    window bounds plus rate columns like the reference's
    {counts, bytes, counts/unit, bytes/unit} record."""
    keys = keys if keys is not None else ["sink", "tag"]
    win = F.window(F.col(ts), window)
    return (
        df.groupBy(*keys, win.alias("w"))
        .agg(
            F.count("*").alias("counts"),
            F.sum(F.length(bytes_col)).alias("bytes"),
        )
        .select(
            *keys,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "counts",
            "bytes",
        )
    )


def sessionize(
    df: DataFrame,
    key: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Session aggregation per key: `session_window(ts, gap)` — counts
    and bounds per session. (Not in the reference's SQL surface —
    SURVEY.md §2.5 notes session windows are absent there; free on
    Spark and listed as an addition.)"""
    return (
        df.groupBy(key, F.session_window(F.col("ts"), gap).alias("sw"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            key,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_turns",
        )
    )


def timeseries_forecast(
    df: DataFrame,
    x: str,
    y: str,
    group_keys: list[str] | None = None,
) -> DataFrame:
    """Linear-regression fit per group: slope and intercept, the model
    TIMESERIES_FORECAST(x, y, n) evaluates at its horizon."""
    keys = group_keys or []
    return df.groupBy(*keys).agg(
        F.regr_slope(F.col(y), F.col(x)).alias("slope"),
        F.regr_intercept(F.col(y), F.col(x)).alias("intercept"),
    )


def rate_anomalies(df: DataFrame) -> DataFrame:
    """Rolling z-score spike detection over hourly `ts` rates: for each
    (event_type, hour) bucket, compare the count against the mean/std
    of the trailing 6 OBSERVED buckets (ROWS frame — gaps don't widen
    the window); a spike is z > 3. `z`/`spike` are NULL until a full
    trailing window exists or when the window variance is 0.

    Determinism note: mean/variance are derived from exact integer
    window sums (sum n, sum n^2) with only IEEE-correctly-rounded
    ops (+,-,*,/,sqrt) after that, so Spark and any SQL oracle agree
    bit-for-bit — unlike stddev_samp/stddev_pop, whose accumulation
    order differs per engine.

    Scale shape: one shuffle to the (event_type, hour) aggregate
    (map-side partial), then a per-key ordered window over tiny hourly
    rows.
    """
    from pyspark.sql import Window

    window_hours, z_threshold = 6, 3.0
    # NULL timestamps have no hour bucket — drop them up front (engines
    # disagree on NULL placement in window ORDER BY: Spark NULLS FIRST,
    # DuckDB NULLS LAST, so keeping them would also break the oracle)
    hourly = (
        df.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-window_hours, -1)
    )
    s1 = F.sum("n").over(w)
    s2 = F.sum(F.col("n") * F.col("n")).over(w)
    cnt = F.count("n").over(w)
    k = F.lit(float(window_hours))
    mean = s1 / k
    var = (s2 - s1 * s1 / k) / k
    z = (F.col("n") - mean) / F.sqrt(var)
    full = (cnt == window_hours) & (var > 0)
    return hourly.select(
        "event_type",
        "hour",
        "n",
        F.when(full, F.round(mean, 6)).alias("mean_n"),
        F.when(full, F.round(z, 6)).alias("z"),
        F.when(full, z > F.lit(z_threshold)).alias("spike"),
    )


def m4_downsample(df: DataFrame) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): per
    (event_type, 6-hour `ts` bucket) keep min, max, first and last
    `value` — the four points
    that make a line chart pixel-exact at the bucket resolution. The
    scalable analog of the reference's out_plot (plugins/out_plot:
    writes every point for gnuplot); at 100 TB you downsample
    map-side-combinably instead of shipping raw points.

    first/last tie-break on (ts, event_id) via a zero-padded string key —
    min_by/arg_min take one ordering argument in both engines, and the
    padded concatenation sorts exactly like the (ts, id) tuple for
    non-negative ids (20-digit pad covers the whole BIGINT range; a
    negative id would misorder — row ids are non-negative).
    Output: (event_type, bucket_start_s BIGINT epoch seconds, n, v_min, v_max,
    v_first, v_last). Values are the stored doubles, bit-identical to
    the oracle's; rows with a NULL value are dropped (a NULL point
    renders nothing, and the engines disagree on whether min_by skips
    it).

    Scale shape: one partial-agg shuffle on (key, bucket) — min/max/
    min_by/max_by all combine map-side; no windows, no sort.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    step_us = F.lit(21600 * 1_000_000).cast("long")
    # pure integer FLOOR arithmetic (pmod keeps pre-1970 timestamps in
    # the bucket that starts before them; plain % would truncate toward
    # zero); (us - pmod) is an exact multiple of step_us (itself a
    # multiple of 1e6), so the division is exact
    bucket = ((us - F.pmod(us, step_us)) / F.lit(1_000_000)).cast("long")
    order_key = F.concat(
        F.lpad(us.cast("string"), 20, "0"),
        F.lit("#"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    return (
        df.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(F.col("event_type"), bucket.alias("bucket_start_s"))
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.min_by("value", order_key).alias("v_first"),
            F.max_by("value", order_key).alias("v_last"),
        )
    )


def alert_edges(df: DataFrame) -> DataFrame:
    """Flap suppression over rate_anomalies: emit only spike-state
    TRANSITIONS — 'alert' when the flag goes false->true, 'resolve' on
    true->false (NULL z hours count as not-spiking). A monitoring sink
    pages on edges, not on every hot hour; this is the dedup between
    the anomaly detector and the pager.

    Output (event_type, hour, n, z, kind). One extra per-key lag window
    over the already-tiny hourly verdict table.
    """
    from pyspark.sql import Window

    v = rate_anomalies(df)
    sp = F.coalesce(F.col("spike"), F.lit(False))
    w = Window.partitionBy("event_type").orderBy("hour")
    staged = v.withColumn("_sp", sp).withColumn(
        "_prev", F.coalesce(F.lag("_sp").over(w), F.lit(False))
    )
    return (
        staged.filter(F.col("_sp") != F.col("_prev"))
        .select(
            "event_type",
            "hour",
            "n",
            "z",
            F.when(F.col("_sp"), F.lit("alert")).otherwise(F.lit("resolve")).alias("kind"),
        )
    )


def ewma_hourly(
    df: DataFrame,
    alpha: float = 0.3,
    window_hours: int = 8,
) -> DataFrame:
    """Exponentially-weighted moving average of hourly `ts` rates per
    event_type, truncated
    to the trailing `window_hours` OBSERVED buckets (current included)
    and renormalized: ewma_t = sum(w_j * n_{t-j}) / sum(w_j) with
    w_j = (1-alpha)^j. The smoothing baseline a telemetry dashboard
    draws under the raw rate line.

    The textbook recursive EWMA is a sequential recurrence; truncation
    makes it a windowed dot product instead — exact for the kept terms,
    and the dropped tail's weight is (1-alpha)^window_hours (~6% at the
    defaults), absorbed by the renormalizing denominator.

    Determinism: the trailing counts are gathered as an ordered window
    list and both the weighted numerator and the weight sum are
    fixed-pointed to BIGINT per term before summation — integer sums in
    any order, then one division, round-6. Output (event_type, hour, n,
    ewma).

    Scale shape: one (key, hour) partial-agg shuffle + a per-key window
    over tiny hourly rows (the rate_anomalies shape).
    """
    from pyspark.sql import Window

    hourly = (
        df.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(window_hours - 1), 0)
    )
    # frame order is hour-ascending, so element i of the list is
    # (size-1-i) hours before the current bucket
    trail = F.collect_list("n").over(w)
    staged = hourly.withColumn("_tr", trail)
    sz = F.size("_tr")
    ages = F.sequence(sz - 1, F.lit(0), F.lit(-1))
    num = F.aggregate(
        F.zip_with(
            F.col("_tr"),
            ages,
            lambda x, j: F.round(
                x * F.pow(F.lit(1.0 - alpha), j) * 1_000_000
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    den = F.aggregate(
        F.transform(
            ages,
            lambda j: F.round(F.pow(F.lit(1.0 - alpha), j) * 1_000_000).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return staged.select(
        "event_type",
        "hour",
        "n",
        F.round(num.cast("double") / den.cast("double"), 6).alias("ewma"),
    )


def statsd_flush(df: DataFrame) -> DataFrame:
    """statsd-server flush semantics over records parsed by
    sources.parse_statsd (the aggregation a statsd daemon applies
    between the wire format the reference ingests at
    plugins/in_statsd/statsd.c:142 and its downstream emit):

    - counter: sum of value/sample_rate (rate-corrected count);
    - timer:   sum + min + max of the raw values;
    - gauge:   last non-incremental value plus every '+/-' delta
               recorded AFTER it (or the bare delta sum when no
               absolute value was ever set), in `okey` order;
    - set:     distinct raw-string count.

    The gauge rule is one window pass: a row contributes iff NO
    non-incremental gauge row follows it — that keeps the final
    absolute write and exactly the deltas after it, with no join-back.
    Output: (mtype, bucket, n, value, v_min, v_max); v_min/v_max are
    timer-only (NULL elsewhere), matching the per-type field presence
    of the packed records.

    Scale shape: one window partitioned by (mtype, bucket) ordered by
    the caller's total-order key, then one partial-agg shuffle on the
    same key — no self-joins, no collects.  All summed values must be
    exactly representable (integers / halves here), so the sums are
    order-independent across partitions.
    """
    from pyspark.sql import Window

    okey = F.col("okey")
    w_after = (
        Window.partitionBy("mtype", "bucket")
        .orderBy("okey")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    is_gauge = F.col("mtype") == "gauge"
    nonincr_after = F.max(
        F.when(is_gauge & (F.col("incremental") == 0), okey)
    ).over(w_after)
    gauge_contrib = F.when(
        is_gauge & nonincr_after.isNull(), F.col("value_num")
    )
    contrib = (
        F.when(F.col("mtype") == "counter", F.col("value_num") / F.col("sample_rate"))
        .when(F.col("mtype") == "timer", F.col("value_num"))
        .otherwise(gauge_contrib)
    )
    staged = df.withColumn("_contrib", contrib)
    return staged.groupBy("mtype", "bucket").agg(
        F.count("*").alias("n"),
        F.round(
            F.coalesce(
                F.sum("_contrib"),
                F.count_distinct(F.col("value_str")).cast("double"),
            ),
            6,
        ).alias("value"),
        F.min(F.when(F.col("mtype") == "timer", F.col("value_num"))).alias("v_min"),
        F.max(F.when(F.col("mtype") == "timer", F.col("value_num"))).alias("v_max"),
    )


def reliability_report(
    df: DataFrame,
    key_col: str = "tool",
    err_col=None,
) -> DataFrame:
    """Per-key reliability ranking with a Wilson score lower bound:
    the raw error rate over-ranks keys with tiny samples (1 error in 1
    call looks worse than 90 in 100), so SLO dashboards rank by the
    95% lower confidence bound instead. Output per non-null key:
    (key, n_turns, n_errs, err_rate, wilson_lb). All math is +,*,/ and
    one sqrt — every step IEEE-correctly-rounded, so Spark and DuckDB
    produce bit-identical doubles from the same expression tree.

    Scale shape: one low-cardinality groupBy (map-side combine); the
    Wilson expression is a shuffle-free scalar pass over the aggregate.
    """
    err = err_col if err_col is not None else F.col("is_err")
    agg = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(err.cast("long")).alias("n_errs"),
        )
    )
    n = F.col("n_turns").cast("double")
    e = F.col("n_errs").cast("double")
    zl = F.lit(1.96)
    z2 = zl * zl
    phat = e / n
    lb = (
        phat
        + z2 / (F.lit(2.0) * n)
        - zl * F.sqrt((phat * (F.lit(1.0) - phat) + z2 / (F.lit(4.0) * n)) / n)
    ) / (F.lit(1.0) + z2 / n)
    return agg.select(
        key_col,
        "n_turns",
        "n_errs",
        F.round(phat, 6).alias("err_rate"),
        F.round(lb, 6).alias("wilson_lb"),
    )


def burn_rate_alerts(
    df: DataFrame,
    err_col,
    slo: float = 0.95,
    long_hours: int = 6,
) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the SRE-workbook pattern):
    burn = error_rate / error_budget, where budget = 1 - slo. A page
    fires only when BOTH the short (1 h) and the long (`long_hours`)
    aligned `ts` window burn faster than the budget (burn > 1) — the long window filters
    blips, the short window ends the page quickly once the burn stops.
    Output one row per hour: (window_start, n, n_err, short_burn,
    long_burn, alert).

    Scale shape: one hourly groupBy (map-side combine) produces the
    bounded per-hour table; the long window is a second tiny aggregate
    over hour rows joined back by bucket — no row-level window at all.
    """
    budget = 1.0 - slo
    hourly = (
        df.select(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            err_col.cast("long").alias("_e"),
        )
        .groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_e").alias("n_err"))
    )
    # align long windows on epoch buckets (integral µs math — DuckDB's
    # epoch_us // N is the exact mirror)
    bucket = F.expr(
        f"unix_micros(CAST(window_start AS TIMESTAMP))"
        f" div {3600 * long_hours * 1_000_000}"
    )
    hb = hourly.withColumn("_b", bucket)
    longw = hb.groupBy("_b").agg(
        F.sum("n").alias("_ln"), F.sum("n_err").alias("_le")
    )
    out = hb.join(F.broadcast(longw), "_b").select(
        "window_start",
        "n",
        "n_err",
        F.round(
            (F.col("n_err").cast("double") / F.col("n").cast("double"))
            / F.lit(budget),
            6,
        ).alias("short_burn"),
        F.round(
            (F.col("_le").cast("double") / F.col("_ln").cast("double"))
            / F.lit(budget),
            6,
        ).alias("long_burn"),
    )
    return out.withColumn(
        "alert",
        (F.col("short_burn") > F.lit(1.0))
        & (F.col("long_burn") > F.lit(1.0)),
    )


def mtbf_report(df: DataFrame) -> DataFrame:
    """Mean time between failures per `tool` over an already-filtered
    failure stream: MTBF = observed span / (n-1) — algebraically equal
    to the mean of consecutive gaps, but computed from ONE min/max/count
    groupBy (map-side combine) instead of a per-key ordered window over
    every failure row. Integer µs division (div), so the report is
    exact in any engine. Keys with a single failure have no gap and
    report NULL mtbf.
    """
    agg = (
        df.filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_failures"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )
    span_us = F.unix_micros(
        F.col("last_ts").cast("timestamp_ltz")
    ) - F.unix_micros(F.col("first_ts").cast("timestamp_ltz"))
    return agg.select(
        "tool",
        "n_failures",
        "first_ts",
        "last_ts",
        F.when(
            F.col("n_failures") > 1,
            F.expr(
                "(unix_micros(CAST(last_ts AS TIMESTAMP))"
                " - unix_micros(CAST(first_ts AS TIMESTAMP)))"
                " div (n_failures - 1)"
            ),
        ).alias("mtbf_us"),
    )


def backpressure_sim(
    df: DataFrame,
    drain_per_hour: int,
    mem_buf_limit: int,
) -> DataFrame:
    """Per-sink buffer-occupancy simulation under a constant drain
    rate — the batch analog of the reference's backpressure loop
    (Mem_Buf_Limit pause/resume, src/flb_input_chunk.c): given hourly
    arrival counts, replay the queue

        q_t = max(0, q_{t-1} + arrivals_t - drain)

    via its Lindley closed form ``q_t = S_t - min(0, min_{s<=t} S_s)``
    with ``S`` the running sum of (arrivals - drain), and flag hours
    where the depth exceeds ``mem_buf_limit`` as ``paused`` (the
    reference would stop the input plugin there).

    Input must be a DENSE hourly spine per sink (missing hours =
    zero arrivals still drain); `hour_spine` below builds one.

    Output: (sink, hour, n_in, queue_depth, paused).

    Scale shape: all work happens after aggregation to
    (#sinks x #hours) rows — the two windows (cumsum + running min)
    partition by sink, so no single-task global window; integer math
    end to end, so both engines agree bit-for-bit.

    Caveat vs the real thing: the closed form models an unbounded
    buffer and flags the overflow; it does not model the *feedback*
    (a paused input stops arriving), which is path-dependent and
    belongs to the streaming variant, not a closed-form audit.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("sink")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = F.sum(F.col("n_in") - F.lit(drain_per_hour)).over(w)
    staged = df.withColumn("_s", s).withColumn(
        "queue_depth", F.col("_s") - F.least(F.lit(0), F.min("_s").over(w))
    )
    return staged.select(
        "sink",
        "hour",
        "n_in",
        F.col("queue_depth").cast("long").alias("queue_depth"),
        (F.col("queue_depth") > F.lit(mem_buf_limit)).alias("paused"),
    )


def hour_spine(
    df: DataFrame,
    sink_col: str = "sink",
    ts_col: str = "ts",
) -> DataFrame:
    """Dense (sink, hour, n_in) frame over the corpus' full hour
    range: every sink gets every hour between the global min and max,
    with zero-filled arrival counts — the input `backpressure_sim`
    needs so empty hours still drain.

    Scale shape: the spine is #sinks x #hours rows built from a
    1-row aggregate exploded with `sequence()` (never row-scale), and
    the counts arrive by left join from a map-side-combined groupBy.
    """
    bounds = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("_lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("_hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("_lo", "_hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    sinks = df.select(F.col(sink_col).alias(sink_col)).distinct()
    counts = df.groupBy(
        F.col(sink_col), F.date_trunc("hour", F.col(ts_col)).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_in"))
    return (
        sinks.crossJoin(hours)
        .join(counts, [sink_col, "hour"], "left")
        .select(
            sink_col,
            "hour",
            F.coalesce(F.col("n_in"), F.lit(0)).cast("long").alias("n_in"),
        )
    )


def seasonal_anomaly(
    df: DataFrame,
    split_day: int = 15,
    factor: int = 2,
) -> DataFrame:
    """Hour-of-day seasonal baseline anomaly screen over `ts`: days <=
    split_day build a per-(event_type, hour-of-day) baseline (total count and number
    of distinct baseline days); each later (group, day, hour-of-day)
    cell is compared against the baseline MEAN by exact cross
    multiplication — no division anywhere, so both engines agree
    bit-for-bit:

        high : n * base_days >  factor * base_total
        low  : n * base_days * factor <  base_total
        ok   : otherwise

    This is the seasonal complement of `rate_anomalies` (rolling z):
    a fleet whose traffic is hour-of-day periodic needs the baseline
    keyed by hour-of-day, not a trailing window.

    Output: (event_type, day, hod, n, base_total, base_days, verdict) for
    current-window cells only.

    Scale shape: one groupBy to (group, day, hod) cells, a broadcast
    join of the (group, hod) baseline (at most 24 x groups rows),
    and a map-side verdict. Nothing row-scale survives stage one.
    """
    cells = df.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.hour(F.col("ts")).alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    dd = F.dayofmonth(F.col("day"))
    base = (
        cells.filter(dd <= split_day)
        .groupBy("grp", "hod")
        .agg(
            F.sum("n").alias("base_total"),
            F.count(F.lit(1)).alias("base_days"),
        )
    )
    cur = cells.filter(dd > split_day)
    j = cur.join(F.broadcast(base), ["grp", "hod"], "left")
    verdict = (
        F.when(F.col("base_total").isNull(), F.lit("no_baseline"))
        .when(
            F.col("n") * F.col("base_days")
            > F.lit(factor) * F.col("base_total"),
            F.lit("high"),
        )
        .when(
            F.col("n") * F.col("base_days") * F.lit(factor)
            < F.col("base_total"),
            F.lit("low"),
        )
        .otherwise(F.lit("ok"))
    )
    # baseline-less cells keep verdict 'no_baseline'; their totals are
    # zero-filled so the output carries no nullable integral columns
    # (nullable int64 promotes to float64 in Arrow/pandas comparators)
    return j.select(
        F.col("grp").alias("event_type"),
        "day",
        "hod",
        "n",
        F.coalesce("base_total", F.lit(0)).cast("long").alias("base_total"),
        F.coalesce("base_days", F.lit(0)).cast("long").alias("base_days"),
        verdict.alias("verdict"),
    )


def heartbeat_gaps(
    df: DataFrame,
    threshold_hours: int = 6,
) -> DataFrame:
    """Dead-man-switch report: per `source`, the silent `ts` intervals — runs
    of consecutive heartbeat HOURS with no events — longer than
    ``threshold_hours``. The classic "host X stopped logging" alert,
    which the reference cannot express at all (it only sees records
    that DO arrive; absence is a query over time, not a record).

    Works on hourly presence, not raw rows: the corpus collapses to
    the distinct (source, hour) spine first, then a per-source lag
    finds interior gaps. Output: (source, gap_start, gap_end,
    gap_hours) where gap_start/gap_end are the last hour seen before
    and first hour seen after the silence.

    Scale shape: one distinct aggregate to #sources x #hours rows
    (map-side combined); the lag window partitions by source over
    that bounded spine — never over raw records.
    """
    from pyspark.sql import Window

    hours = df.select(
        "source", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).distinct()
    w = Window.partitionBy("source").orderBy("hour")
    staged = hours.withColumn("_prev", F.lag("hour").over(w)).withColumn(
        "gap_hours",
        (
            (F.unix_timestamp("hour") - F.unix_timestamp("_prev"))
            / F.lit(3600)
        ).cast("long"),
    )
    return staged.filter(
        F.col("gap_hours") > F.lit(threshold_hours)
    ).select(
        "source",
        F.col("_prev").alias("gap_start"),
        F.col("hour").alias("gap_end"),
        "gap_hours",
    )


def cardinality_guard(
    df: DataFrame,
    label_col: str,
    growth_ppm: int = 200_000,
) -> DataFrame:
    """Label-cardinality explosion alarm: per `ts` day, the EXACT distinct
    count of ``label_col`` values, the previous day's count, the
    day-over-day growth in integer ppm, and an alarm when growth
    exceeds ``growth_ppm`` (default +20%). This is the guard that
    catches an upstream change turning a bounded label (service,
    tool, status) into an unbounded one (uuid, timestamp-in-a-tag) —
    the classic metrics-cardinality incident.

    Output: (day, n_distinct, n_prev, delta_ppm, alarm); the first
    day has no baseline → NULL delta, alarm false.

    Scale shape: one distinct aggregate over (day, label) with
    map-side combine, one count per day, then a lag over the #days
    spine. Exact integer division keeps both engines bit-identical.
    """
    from pyspark.sql import Window

    days = (
        df.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col(label_col).alias("_l"),
        )
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    w = Window.orderBy("day")
    staged = days.withColumn("n_prev", F.lag("n_distinct").over(w))
    # shrinking days give a negative numerator; Spark's `div` and
    # DuckDB's `//` both truncate toward zero on integers, so the
    # plain integral division is already cross-engine exact
    delta = F.expr("_num div n_prev")
    staged = staged.withColumn(
        "_num", (F.col("n_distinct") - F.col("n_prev")) * F.lit(1_000_000)
    )
    return staged.select(
        "day",
        "n_distinct",
        F.coalesce("n_prev", F.lit(0)).cast("long").alias("n_prev"),
        F.coalesce(delta, F.lit(0)).alias("delta_ppm"),
        F.coalesce(delta > F.lit(growth_ppm), F.lit(False)).alias("alarm"),
    )


def flap_suppress(df: DataFrame, max_edges_per_day: int = 4) -> DataFrame:
    """Flap-suppression report over `alert_edges`: per
    (event_type, day),
    how many alert/resolve transitions fired and whether the pager
    should be SILENCED for that key-day (more than
    ``max_edges_per_day`` edges = the detector is flapping, paging
    adds noise, route to a digest instead — standard alert-manager
    semantics layered on the reference's alert math).

    Output: (event_type, day, n_edges, n_alerts, suppressed).

    Scale shape: groups the already-tiny edge table by (key, day);
    nothing row-scale is touched beyond rate_anomalies' one hourly
    aggregate.
    """
    return (
        alert_edges(df)
        .groupBy("event_type", F.date_trunc("day", F.col("hour")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum((F.col("kind") == "alert").cast("long")).alias("n_alerts"),
        )
        .withColumn("suppressed", F.col("n_edges") > F.lit(max_edges_per_day))
    )
