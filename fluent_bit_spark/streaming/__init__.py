"""Structured Streaming variant of the pipeline.

The reference is a streaming engine (event loop + periodic flush); the
batch plans in plans/flagship.py are the primary deliverable per the
north rule, and this module runs the same stages as a Structured
Streaming job:

- source: transcripts.streaming_transcripts, a parquet directory read
  as TRANSCRIPT_SCHEMA (tests drive it with processAllAvailable). The
  record's event time is its `ts` column, as in the reference's
  `[ts, map]` pair, so the event-time operators here take no time
  column name.
- parse/enrich/route: the exact same stage functions — they are pure
  column transforms, so they compose with streaming frames unchanged.
- windowed aggregates: event-time windows + watermark (the reference's
  processing-time flush timers, flb_engine.c:92-107, made
  deterministic).
- fan-out: foreachBatch -> sinks.write_fanout, the same one-job
  writer behind sinks.fanout_write, with exactly-once via idempotent
  per-epoch output paths.
- stateful throttle: applyInPandasWithState token-bucket per key — the
  true streaming analog of filter_throttle's sliding window
  (plugins/filter_throttle/throttle.c:98-105).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_pipeline(spark: SparkSession, source: DataFrame) -> DataFrame:
    """parse -> enrich -> route on a streaming frame (same stage
    functions as batch)."""
    from fluent_bit_spark.plans.flagship import enrich_stage, parse_stage, route_stage

    return route_stage(enrich_stage(parse_stage(source), spark))


def windowed_flowcounter(routed: DataFrame, window: str = "1 hour") -> DataFrame:
    """Streaming flowcounter: the batch `flowcounter` per (sink, tag)
    over a 2-hour-watermarked input, so finished windows are emitted
    and their state evicted."""
    from fluent_bit_spark.operators.aggregate import flowcounter
    from fluent_bit_spark.operators.route import explode_routes

    return flowcounter(
        explode_routes(routed.withWatermark("ts", "2 hours")), ["sink", "tag"], window
    )


def session_stats(
    routed: DataFrame,
    key_col: str = "conv_id",
    gap: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionization: native session_window (gap-merged
    event-time sessions) per conversation with a 2-hour watermark
    bounding state. Works on batch frames too (same expression), which is how
    the oracle/tests cross-check it against a closed-form gap
    computation.

    This is the streaming analog of the batch session op: Spark's
    session_window keeps one open session per key in the state store
    and merges/extends it as events arrive, evicting sessions older
    than the watermark — bounded state at any scale, no custom
    stateful UDF needed."""
    src = routed.withWatermark("ts", "2 hours") if routed.isStreaming else routed
    return (
        src.groupBy(
            F.col(key_col), F.session_window("ts", gap).alias("sw")
        )
        .agg(F.count("*").alias("n_turns"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_turns",
        )
    )


def windowed_hll(
    df: DataFrame,
    value_col: str = "conv_id",
    window: str = "1 hour",
) -> DataFrame:
    """Streaming per-window distinct-count HLL registers (p = 10): the
    sketch that makes COUNT(DISTINCT) feasible over an unbounded stream.

    MAX over (window, bucket) is an ordinary mergeable streaming
    aggregate — state is <= 2^p rows per open window regardless of how
    many distinct values arrive, and the 2-hour watermark evicts closed
    windows. Works on batch frames too (same expressions), which is how
    the stream==batch test and the batch query (`hll_hourly` via
    hll_registers) cross-check it: identical registers, byte for byte.

    Output: (window_start, window_end, bucket, max_rho) — any set of
    windows merges to a coarser estimate with sketch.hll_merge.
    """
    from fluent_bit_spark.operators.sketch import hll_bucket_rho

    bucket, rho = hll_bucket_rho(value_col, 10)
    src = df.withWatermark("ts", "2 hours") if df.isStreaming else df
    return (
        src.filter(F.col(value_col).isNotNull())
        .groupBy(F.window("ts", window).alias("w"), bucket.alias("bucket"))
        .agg(F.max(rho).alias("max_rho"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bucket",
            "max_rho",
        )
    )


def dedup_stateful(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, catching
    duplicates ACROSS micro-batches — the streaming analog of the
    batch digest-groupBy dedup (dedup.exact_dedup can only collapse
    within one frame).

    Built on dropDuplicatesWithinWatermark: the state store holds one
    entry per key only until the watermark passes its event time, so
    state is bounded by the duplicate-arrival horizon rather than
    growing with the stream. Duplicates separated by more than the
    watermark are NOT caught — that is the documented contract (late
    exact dedup at unbounded horizons is a batch backfill job).
    """
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def windowed_cms(
    df: DataFrame,
    key_col: str = "tool",
    window: str = "1 hour",
) -> DataFrame:
    """Streaming count-min counter grid per event-time window (2-hour
    watermark): per-window state is depth*width = 4*512 counter rows
    regardless of key cardinality — the sum-mergeable sibling of windowed_hll's
    max-mergeable registers (together they cover the two mergeable-
    sketch shapes a streaming pipeline needs: frequency and distinct).

    Point estimates over any set of emitted windows: sum the grids
    cell-wise (plain SUM group-by), then sketch.cms_estimate. Works on
    batch frames too — the stream==batch test and the cross-check
    against sketch.cms_counters both ride on that.

    Output: (window_start, window_end, seed, pos, cnt).
    """
    from fluent_bit_spark.operators.sketch import cms_probes

    src = df.withWatermark("ts", "2 hours") if df.isStreaming else df
    return (
        src.filter(F.col(key_col).isNotNull())
        .select("ts", cms_probes(key_col, 4, 512))
        .select("ts", F.col("pr.seed").alias("seed"), F.col("pr.pos").alias("pos"))
        .groupBy(F.window("ts", window).alias("w"), "seed", "pos")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "seed",
            "pos",
            "cnt",
        )
    )


def foreach_batch_fanout(base_path: str, sinks: list[tuple[str, str]]):
    """Exactly-once fan-out for writeStream.foreachBatch: each epoch
    writes every sink in one job (the batch fan-out writer) under
    <base>/<sink>/epoch=<id>, replaced whole on replay."""
    from fluent_bit_spark.sinks import write_fanout

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        write_fanout(batch_df, sinks, base_path, leaf=f"/epoch={epoch_id}")

    return fn


def multiline_stateful(
    df: DataFrame,
    key_col: str = "path",
    start_pattern: str = r"^\[",
):
    """Streaming multiline join: stitch continuation lines into records
    ACROSS micro-batches — the true streaming analog of the reference's
    multiline state machine (in_tail holds a partially-read multiline
    record between reads; plugins/in_tail/tail_file.c + flb_ml flush
    timers). The batch operator (sources.multiline_join) can only join
    within one frame; here the open record lives in the state store
    keyed by file/tag.

    A `line` matching `start_pattern` begins a new record and completes
    (emits) the previous one; other lines append to the open record.
    The final open record is held in state and emitted only when a
    later batch starts the next record (no Flush_MS timeout).

    Emits (key, start_line, n_lines, record). Lines are processed in
    `line_no` order within each batch; cross-batch order is arrival
    order, same as tailing a growing file.
    """
    import re

    rx = re.compile(start_pattern)
    out_schema = (
        f"{key_col} string, start_line long, n_lines int, record string"
    )
    state_schema = "lines array<string>, start_no long"

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        done: list[tuple] = []
        if state.exists:
            lines, start_no = state.get
            lines = list(lines)
        else:
            lines, start_no = [], -1
        # one concat+sort across ALL Arrow chunks of this batch: a
        # key exceeding maxRecordsPerBatch arrives as multiple pdfs
        # in shuffle order, and per-chunk sorting would stitch
        # lines from a later chunk before earlier ones
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = pd.concat(chunks).sort_values("line_no")
            for no, ln in zip(batch["line_no"], batch["line"]):
                ln = "" if ln is None else str(ln)
                if rx.search(ln) and lines:
                    done.append(
                        (key[0], int(start_no), len(lines), "\n".join(lines))
                    )
                    lines, start_no = [ln], int(no)
                else:
                    if not lines:
                        start_no = int(no)
                    lines.append(ln)
        state.update((lines, start_no))
        if done:
            yield pd.DataFrame(
                done, columns=[key_col, "start_line", "n_lines", "record"]
            )

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def throttle_stateful(
    df: DataFrame,
    key_col: str,
    rate_per_sec: float,
    burst: int,
):
    """Streaming rate limit: per-key token bucket kept in the state
    store (applyInPandasWithState). Emits only rows that acquire a
    token; refill is computed from event-time deltas, so replays are
    deterministic. State: (tokens, last_ts_epoch)."""
    out_schema = df.schema
    state_schema = "tokens double, last double"

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            tokens, last = state.get
        else:
            tokens, last = float(burst), 0.0
        # a key's micro-batch slice can arrive as several Arrow chunks
        # (spark.sql.execution.arrow.maxRecordsPerBatch); the bucket is
        # order-sensitive, so sort the WHOLE slice, not each chunk.
        # Memory is bounded by the per-key slice, which the engine
        # already materializes per group.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((tokens, last))
            return
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        ).sort_values("ts")
        keep_idx = []
        for i, t in zip(pdf.index, pdf["ts"]):
            now = t.timestamp()
            if last:
                tokens = min(float(burst), tokens + (now - last) * rate_per_sec)
            last = now
            if tokens >= 1.0:
                tokens -= 1.0
                keep_idx.append(i)
        if keep_idx:
            yield pdf.loc[keep_idx]
        state.update((tokens, last))

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def late_data_report(
    df,
    delay_s,
    watermark_s: int = 600,
):
    """Watermark lateness accounting: given the event time and a
    transport-delay column (arrival = event + delay), report per
    processing-hour how many rows a `watermark_s` watermark would have
    treated as late (dropped from in-flight windowed state). This is
    the measurement that SIZES the watermark before a streaming
    deploy: pick the smallest watermark whose late_ppm is acceptable,
    instead of guessing.

    Exact integer ppm (no float division). One hourly groupBy.
    """
    from pyspark.sql import functions as F

    arrival = F.timestamp_add("SECOND", delay_s.cast("long"), F.col("ts"))
    staged = df.select(
        F.date_trunc("hour", arrival).alias("proc_hour"),
        (delay_s.cast("long") > F.lit(watermark_s)).cast("long").alias("_late"),
    )
    return (
        staged.groupBy("proc_hour")
        .agg(F.count(F.lit(1)).alias("n_total"), F.sum("_late").alias("n_late"))
        .withColumn(
            "late_ppm",
            F.expr("n_late * CAST(1000000 AS BIGINT) div n_total"),
        )
    )


def backpressure_stateful(
    df: DataFrame,
    drain_per_hour: int,
    mem_buf_limit: int,
):
    """Streaming buffer replay WITH pause feedback — the part of the
    reference's backpressure loop (src/flb_input_chunk.c pause /
    resume) that `aggregate.backpressure_sim`'s Lindley closed form
    deliberately leaves out: while a sink is paused, its arrivals are
    NOT buffered (the input plugin is stopped), and the sink resumes
    once the queue drains back under the limit.  That feedback makes
    the trajectory path-dependent, so it lives in the state store
    (applyInPandasWithState), not in a window expression.

    Per (sink) state: (queue_depth, paused).  Per hour, in event-time
    order:

        accepted = 0 if paused else arrivals
        depth    = max(0, depth + accepted - drain)
        paused   = depth > mem_buf_limit

    Output: (sink, hour, n_in, accepted, queue_depth, paused).

    Ordering caveat: hours must arrive in event-time order per sink
    (one availableNow batch over an ordered spine, or ordered
    appends); the state transition is order-sensitive by nature.

    Scale shape: state is two scalars per sink; each micro-batch
    shuffles only the (sink, hour) spine rows, never raw records.
    """
    out_schema = (
        "sink string, hour timestamp, n_in long, "
        "accepted long, queue_depth long, paused boolean"
    )
    state_schema = "q long, paused boolean"

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        q, paused = state.get if state.exists else (0, False)
        for pdf in pdfs:
            pdf = pdf.sort_values("hour")
            out = {"accepted": [], "queue_depth": [], "paused": []}
            for n in pdf["n_in"]:
                accepted = 0 if paused else int(n)
                q = max(0, q + accepted - drain_per_hour)
                paused = q > mem_buf_limit
                out["accepted"].append(accepted)
                out["queue_depth"].append(q)
                out["paused"].append(paused)
            yield pdf.assign(**out)[
                ["sink", "hour", "n_in", "accepted", "queue_depth", "paused"]
            ]
        state.update((q, paused))

    return df.groupBy("sink").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def docker_mode_stateful(df: DataFrame):
    """Streaming Docker_Mode reassembly: stitch json-file partial
    records (`log` without a trailing newline) into whole lines ACROSS
    micro-batches — the true streaming analog of
    tail_dockermode.c:237: the reference buffers the open line per
    file between reads, which maps here to a per-`file` state-store
    entry over (file, line_no, line) rows. The reference's
    `docker_mode_flush` timeout has no analog: the open line waits in
    state for its terminator.

    The batch operator (sources.docker_mode_join) needs the whole file
    in one frame; this one holds only the OPEN line in state, so state
    size is bounded by one runtime line per file regardless of stream
    length — the shape that survives an unbounded stream.

    Emits (file, first_line_no, stream, time_str, log) per completed
    line; `log` keeps its terminating newline, matching the batch
    operator exactly (the stream==batch test relies on it)."""
    import json as _json

    out_schema = (
        "file string, first_line_no long, stream string, "
        "time_str string, log string"
    )
    state_schema = "pieces array<string>, start_no long, stream string, tstr string"

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        done: list[tuple] = []
        if state.exists:
            pieces, start_no, stream, tstr = state.get
            pieces = list(pieces)
        else:
            pieces, start_no, stream, tstr = [], -1, None, None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = pd.concat(chunks).sort_values("line_no")
            for no, ln in zip(batch["line_no"], batch["line"]):
                try:
                    rec = _json.loads(ln)
                    log = rec.get("log")
                except (ValueError, TypeError):
                    rec, log = {}, None
                if not pieces:
                    start_no = int(no)
                    stream = rec.get("stream")
                    tstr = rec.get("time")
                pieces.append("" if log is None else log)
                if log is None or log.endswith("\n"):
                    done.append(
                        (key[0], int(start_no), stream, tstr, "".join(pieces))
                    )
                    pieces, start_no, stream, tstr = [], -1, None, None
        state.update((pieces, start_no, stream, tstr))
        if done:
            yield pd.DataFrame(
                done,
                columns=["file", "first_line_no", "stream", "time_str", "log"],
            )

    return df.groupBy("file").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
