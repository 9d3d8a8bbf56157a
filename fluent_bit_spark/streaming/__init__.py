"""Structured Streaming variant of the pipeline.

The reference is a streaming engine (event loop + periodic flush); the
batch plans in plans/flagship.py are the primary deliverable per the
north rule, and this module runs the same stages as a Structured
Streaming job:

- source: readStream (files/kafka/socket; tests drive with a parquet
  directory + processAllAvailable).
- parse/enrich/route: the exact same stage functions — they are pure
  column transforms, so they compose with streaming frames unchanged.
- windowed aggregates: event-time windows + watermark (the reference's
  processing-time flush timers, flb_engine.c:92-107, made
  deterministic).
- fan-out: foreachBatch -> the same one-job writer as
  sinks.fanout_write, with exactly-once via idempotent per-epoch
  output paths.
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


def streaming_transcripts(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-based streaming source over a transcript directory."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_pipeline(spark: SparkSession, source: DataFrame) -> DataFrame:
    """parse -> enrich -> route on a streaming frame (same stage
    functions as batch)."""
    from fluent_bit_spark.plans.flagship import enrich_stage, parse_stage, route_stage

    return route_stage(enrich_stage(parse_stage(source), spark))


def windowed_flowcounter(
    routed: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming flowcounter: watermarked event-time windows per
    (sink, tag)."""
    from fluent_bit_spark.operators.route import explode_routes

    per_sink = explode_routes(routed.withWatermark("ts", watermark))
    return (
        per_sink.groupBy("sink", "tag", F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("counts"), F.sum(F.length("text")).alias("bytes"))
        .select(
            "sink",
            "tag",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "counts",
            "bytes",
        )
    )


def session_stats(
    routed: DataFrame,
    key_col: str = "conv_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming sessionization: native session_window (gap-merged
    event-time sessions) per conversation with a watermark bounding
    state. Works on batch frames too (same expression), which is how
    the oracle/tests cross-check it against a closed-form gap
    computation.

    This is the streaming analog of the batch session op: Spark's
    session_window keeps one open session per key in the state store
    and merges/extends it as events arrive, evicting sessions older
    than the watermark — bounded state at any scale, no custom
    stateful UDF needed."""
    src = routed.withWatermark(ts_col, watermark) if routed.isStreaming else routed
    return (
        src.groupBy(
            F.col(key_col), F.session_window(F.col(ts_col), gap).alias("sw")
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
    watermark: str = "2 hours",
    ts_col: str = "ts",
    p: int = 10,
) -> DataFrame:
    """Streaming per-window distinct-count HLL registers: the sketch
    that makes COUNT(DISTINCT) feasible over an unbounded stream.

    MAX over (window, bucket) is an ordinary mergeable streaming
    aggregate — state is <= 2^p rows per open window regardless of how
    many distinct values arrive, and the watermark evicts closed
    windows. Works on batch frames too (same expressions), which is how
    the stream==batch test and the batch query (`hll_hourly` via
    hll_registers) cross-check it: identical registers, byte for byte.

    Output: (window_start, window_end, bucket, max_rho) — any set of
    windows merges to a coarser estimate with sketch.hll_merge.
    """
    from fluent_bit_spark.operators.sketch import hll_bucket_rho

    bucket, rho = hll_bucket_rho(value_col, p)
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return (
        src.filter(F.col(value_col).isNotNull())
        .groupBy(F.window(ts_col, window).alias("w"), bucket.alias("bucket"))
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
    ts_col: str = "ts",
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
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def windowed_cms(
    df: DataFrame,
    key_col: str = "tool",
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Streaming count-min counter grid per event-time window:
    per-window state is depth*width counter rows regardless of key
    cardinality — the sum-mergeable sibling of windowed_hll's
    max-mergeable registers (together they cover the two mergeable-
    sketch shapes a streaming pipeline needs: frequency and distinct).

    Point estimates over any set of emitted windows: sum the grids
    cell-wise (plain SUM group-by), then sketch.cms_estimate. Works on
    batch frames too — the stream==batch test and the cross-check
    against sketch.cms_counters both ride on that.

    Output: (window_start, window_end, seed, pos, cnt).
    """
    from fluent_bit_spark.operators.sketch import _probe_struct

    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return (
        src.filter(F.col(key_col).isNotNull())
        .select(F.col(ts_col), _probe_struct(key_col, depth, width))
        .select(F.col(ts_col), F.col("pr.seed").alias("seed"), F.col("pr.pos").alias("pos"))
        .groupBy(F.window(ts_col, window).alias("w"), "seed", "pos")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "seed",
            "pos",
            "cnt",
        )
    )


def windowed_rate(
    df: DataFrame,
    key: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key hourly rate counts (key, hour, n). Streaming frames get
    a watermark so append-mode emits each hour exactly once when it
    closes; works on batch frames too (same expressions) for the
    stream==batch cross-check."""
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return (
        src.filter(F.col(ts_col).isNotNull())
        .groupBy(F.col(key), F.window(ts_col, window).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col(key), F.col("w.start").alias("hour"), F.col("n"))
    )


def anomaly_foreach_batch(history_dir: str, out_dir: str,
                          key: str = "event_type",
                          window_hours: int = 6,
                          z_threshold: float = 3.0):
    """Streaming rolling-z spike detection: a foreachBatch sink over
    the closed hourly windows from `windowed_rate` (append mode). A
    rolling window over PRIOR hours cannot be a pure streaming
    aggregate (it crosses window boundaries), so the sink keeps its own
    rolling state: the last `window_hours` OBSERVED hours per key —
    everything the ROWS-frame z-score can ever look back at. Each
    micro-batch reads the previous state snapshot, scores the newly
    closed hours with the exact-integer-sum expressions the batch
    operator uses (aggregate.rate_anomalies_hourly — so stream and
    batch verdicts are identical), emits those verdicts, and writes the
    next state snapshot.

    This is exact, not a time-horizon approximation: hours close in
    event-time order under the watermark, so a new hour's trailing
    `window_hours` observed buckets are always inside (previous state
    UNION this batch's earlier hours). State and per-batch I/O are
    O(keys x window_hours) — they do NOT grow with stream length.

    Idempotence: state and verdicts go to per-batch subdirectories
    keyed by batch_id with mode("overwrite") (plain 'b<id>' names —
    'batch=<id>' would trigger partition-column inference on read);
    the state READ picks the newest snapshot with id < batch_id, so a
    replayed micro-batch re-derives from its predecessor instead of
    double-counting its own failed attempt. Snapshot listing uses the
    local filesystem (this runtime's storage); an object-store
    deployment would swap in the Hadoop FileSystem listing.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        import glob as _glob

        from pyspark.sql import Window

        from fluent_bit_spark.operators.aggregate import rate_anomalies_hourly

        spark = batch_df.sparkSession
        prior = [
            int(p.rsplit("/b", 1)[1])
            for p in _glob.glob(f"{history_dir}/b*")
            if p.rsplit("/b", 1)[1].isdigit()
        ]
        prior = [i for i in prior if i < batch_id]
        new = batch_df.select(key, "hour", "n")
        if prior:
            state = spark.read.parquet(f"{history_dir}/b{max(prior)}")
            combined = state.unionByName(new)
        else:
            combined = new
        verdicts = rate_anomalies_hourly(combined, key, window_hours, z_threshold)
        emit = verdicts.join(new.select(key, "hour"), [key, "hour"], "left_semi")
        emit.write.mode("overwrite").parquet(f"{out_dir}/b{batch_id}")
        w = Window.partitionBy(key).orderBy(F.col("hour").desc())
        next_state = (
            combined.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= window_hours)
            .drop("_r")
        )
        next_state.write.mode("overwrite").parquet(f"{history_dir}/b{batch_id}")

    return _sink


def foreach_batch_fanout(base_path: str, sinks: list[tuple[str, str]]):
    """Exactly-once fan-out for writeStream.foreachBatch: each epoch
    writes every sink in one job (the batch fan-out writer) under
    <base>/<sink>/epoch=<id>, replaced whole on replay."""
    from fluent_bit_spark.operators.route import explode_routes
    from fluent_bit_spark.sinks import _write_fanout

    names = list(dict.fromkeys(name for name, _glob in sinks))

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        per_sink = explode_routes(batch_df).filter(F.col("sink").isin(names)).drop("routes")
        _write_fanout(per_sink, base_path, names, leaf=f"/epoch={epoch_id}")

    return fn


def multiline_stateful(
    df: DataFrame,
    key_col: str = "path",
    line_col: str = "line",
    idx_col: str = "line_no",
    start_pattern: str = r"^\[",
    flush_ms: int = 0,
):
    """Streaming multiline join: stitch continuation lines into records
    ACROSS micro-batches — the true streaming analog of the reference's
    multiline state machine (in_tail holds a partially-read multiline
    record between reads; plugins/in_tail/tail_file.c + flb_ml flush
    timers). The batch operator (sources.multiline_join) can only join
    within one frame; here the open record lives in the state store
    keyed by file/tag.

    A line matching `start_pattern` begins a new record and completes
    (emits) the previous one; other lines append to the open record.
    The final open record is held in state — with flush_ms > 0 a
    processing-time timeout flushes it (≙ the reference's Flush_MS);
    with 0 it is emitted only when a later batch starts the next record.

    Emits (key, start_line, n_lines, record). Lines are processed in
    idx_col order within each batch; cross-batch order is arrival
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
        if state.hasTimedOut:
            lines, start_no = state.get
            if lines:
                done.append((key[0], int(start_no), len(lines), "\n".join(lines)))
            state.remove()
        else:
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
                batch = pd.concat(chunks).sort_values(idx_col)
                for no, ln in zip(batch[idx_col], batch[line_col]):
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
            if flush_ms > 0:
                state.setTimeoutDuration(flush_ms)
        if done:
            yield pd.DataFrame(
                done, columns=[key_col, "start_line", "n_lines", "record"]
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if flush_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


def throttle_stateful(
    df: DataFrame,
    key_col: str,
    rate_per_sec: float,
    burst: int,
    ts_col: str = "ts",
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
        ).sort_values(ts_col)
        keep_idx = []
        for i, t in zip(pdf.index, pdf[ts_col]):
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
    ts_col: str = "ts",
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

    arrival = F.timestamp_add("SECOND", delay_s.cast("long"), F.col(ts_col))
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
    sink_col: str = "sink",
    hour_col: str = "hour",
    n_col: str = "n_in",
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
        f"{sink_col} string, {hour_col} timestamp, {n_col} long, "
        "accepted long, queue_depth long, paused boolean"
    )
    state_schema = "q long, paused boolean"

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        q, paused = state.get if state.exists else (0, False)
        for pdf in pdfs:
            pdf = pdf.sort_values(hour_col)
            out = {"accepted": [], "queue_depth": [], "paused": []}
            for n in pdf[n_col]:
                accepted = 0 if paused else int(n)
                q = max(0, q + accepted - drain_per_hour)
                paused = q > mem_buf_limit
                out["accepted"].append(accepted)
                out["queue_depth"].append(q)
                out["paused"].append(paused)
            yield pdf.assign(**out)[
                [sink_col, hour_col, n_col, "accepted", "queue_depth", "paused"]
            ]
        state.update((q, paused))

    return df.groupBy(sink_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def docker_mode_stateful(
    df: DataFrame,
    key_col: str = "file",
    line_col: str = "line",
    idx_col: str = "line_no",
    flush_ms: int = 0,
):
    """Streaming Docker_Mode reassembly: stitch json-file partial
    records (`log` without a trailing newline) into whole lines ACROSS
    micro-batches — the true streaming analog of
    tail_dockermode.c:237: the reference buffers the open line per
    file between reads and flushes it on `docker_mode_flush` seconds,
    which maps here to a per-file state-store entry and an optional
    processing-time timeout (`flush_ms`).

    The batch operator (sources.docker_mode_join) needs the whole file
    in one frame; this one holds only the OPEN line in state, so state
    size is bounded by one runtime line per file regardless of stream
    length — the shape that survives an unbounded stream.

    Emits (file, first_line_no, stream, time_str, log) per completed
    line; `log` keeps its terminating newline, matching the batch
    operator exactly (the stream==batch test relies on it)."""
    import json as _json

    out_schema = (
        f"{key_col} string, first_line_no long, stream string, "
        "time_str string, log string"
    )
    state_schema = "pieces array<string>, start_no long, stream string, tstr string"

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        done: list[tuple] = []
        if state.hasTimedOut:
            pieces, start_no, stream, tstr = state.get
            if pieces:
                done.append(
                    (key[0], int(start_no), stream, tstr, "".join(pieces))
                )
            state.remove()
        else:
            if state.exists:
                pieces, start_no, stream, tstr = state.get
                pieces = list(pieces)
            else:
                pieces, start_no, stream, tstr = [], -1, None, None
            chunks = [pdf for pdf in pdfs if len(pdf)]
            if chunks:
                batch = pd.concat(chunks).sort_values(idx_col)
                for no, ln in zip(batch[idx_col], batch[line_col]):
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
                            (
                                key[0],
                                int(start_no),
                                stream,
                                tstr,
                                "".join(pieces),
                            )
                        )
                        pieces, start_no, stream, tstr = [], -1, None, None
            state.update((pieces, start_no, stream, tstr))
            if flush_ms > 0:
                state.setTimeoutDuration(flush_ms)
        if done:
            yield pd.DataFrame(
                done,
                columns=[key_col, "first_line_no", "stream", "time_str", "log"],
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if flush_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )
