"""Pipeline metrics.

Mirrors the reference's input metric ids (include/fluent-bit/
flb_metrics.h:30-33, N_RECORDS/N_BYTES). Per-sink
record counts (OUT_OK_RECORDS) are not kept here: `sinks.fanout_write`
observes them on the write itself and returns them to its caller
(`cli.py` reports them as `sink_totals`).

Counting happens where the data already flows: `instrument_input`
attaches a `DataFrame.observe()` aggregate (computed inside the JVM as
the plan executes — zero extra jobs, zero Python in the row path, no
Tungsten-defeating RDD round-trip); `snapshot()` after your action
reads the totals from every observation that has completed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class PipelineMetrics:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._observations: list[Observation] = []

    def instrument_input(self, df: DataFrame) -> DataFrame:
        """Count records, and bytes of `text` when the frame has it,
        where the plan already runs: a named `observe()` aggregate
        piggybacked on the existing stage (the reference's
        N_RECORDS/N_BYTES counters, flb_metrics.h:30-33). Totals become
        visible after the first action that consumes the returned
        DataFrame."""
        obs = Observation(f"input_{len(self._observations)}")
        exprs = [F.count(F.lit(1)).alias("records")]
        if "text" in df.columns:
            exprs.append(F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("bytes"))
        out = df.observe(obs, *exprs)
        self._observations.append(obs)
        return out

    @staticmethod
    def _observed(obs: Observation) -> dict:
        # non-blocking: empty dict until the observed action completes.
        # `_jo`/`getOrEmpty` are classic-session internals; under Spark
        # Connect (no _jo) or across version drift we report
        # not-yet-observed rather than crash snapshot().
        jo = getattr(obs, "_jo", None)
        if jo is None:
            return {}
        try:
            if jo.getOrEmpty().isEmpty():
                return {}
        except Exception:
            return {}
        return obs.get

    def snapshot(self) -> dict:
        seen = [self._observed(o) for o in self._observations]
        return {
            "records_in": sum(int(s.get("records", 0)) for s in seen),
            "bytes_in": sum(int(s.get("bytes", 0)) for s in seen),
        }


def partition_watermarks(
    df: DataFrame,
    n_buckets: int = 16,
) -> DataFrame:
    """Per-partition watermark + lineage metrics: bucket rows by a
    portable hash of the conversation key `conv_id` (md5-slice — the same
    engine-agnostic convention the dedup/sketch family uses) and report
    each bucket's high/low `ts` watermark, row count, and distinct-key
    count — per-partition watermarks with lineage + metrics as a
    queryable frame. It is a report only: `ResumableBatchJob`
    (checkpoint.py) does not read it. Resume works per group through
    the manifest, so a rerun skips every group marked `done` whatever
    the source's watermark now is.

    Scale shape: one groupBy on a 16-way (configurable) bucket id with
    map-side partial min/max/count; distinct keys per bucket are exact
    but bucket-local, so no global distinct shuffle.
    """
    from fluent_bit_spark.functions.hashing import md5_32

    bucket = (md5_32(F.col("conv_id")) % F.lit(n_buckets)).cast("int")
    return (
        df.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.max(F.col("ts")).alias("watermark"),
            F.min(F.col("ts")).alias("low_ts"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col("conv_id")).alias("n_keys"),
        )
    )


def msgpack_event_size():
    """Exact wire size of one transcript event as the reference buffers
    it -- the msgpack pair [EventTime ext0, 5-key map of conv_id,
    turn_idx, role, text, tool]
    (functions/wire.pack_event; sizes per the msgpack spec, identical
    to the closed form the DuckDB oracle derives for
    `msgpack_roundtrip`).  Pure JVM column math, so chunk-byte
    accounting costs one map pass at any scale."""

    def strsz(col: str):
        b = F.octet_length(F.col(col))
        return (
            F.when(b <= 31, 1).when(b <= 255, 2).when(b <= 65535, 3).otherwise(5)
            + b
        )

    t = F.col("turn_idx")
    turn_sz = (
        F.when(t <= 127, 1)
        .when(t <= 255, 2)
        .when(t <= 65535, 3)
        .when(t <= 4294967295, 5)
        .otherwise(9)
    )
    # fixarray2 + fixext8 EventTime + fixmap5 + the five fixstr keys
    fixed = 1 + 10 + 1 + 8 + 9 + 5 + 5 + 5
    return (
        F.lit(fixed)
        + strsz("conv_id")
        + turn_sz
        + strsz("role")
        + strsz("text")
        + F.when(F.col("tool").isNull(), F.lit(1)).otherwise(strsz("tool"))
    ).cast("long")


def metrics_endpoint(df: DataFrame) -> DataFrame:
    """/api/v1/metrics rendering (src/flb_metrics_exporter.c:48-141 +
    the metric registrations at src/flb_input.c:441 records/bytes,
    src/flb_filter.c:395 drop_records/add_records,
    src/flb_output.c:826-836 proc_records/proc_bytes/errors/retries/
    retries_failed): one row per plugin instance with the exact JSON
    fragment the monitoring endpoint serves.

    The measured pipeline is input tail.0 -> filter grep.0 (drops
    '!!corrupt' lines, the corpus's injected corruption marker) ->
    three outputs fanned by Match glob over tag 'fbs.<role>'
    (es.0 'fbs.*', stdout.1 'fbs.a*', counter.2 exact
    'fbs.assistant').  bytes/proc_bytes count the exact msgpack chunk
    bytes (msgpack_event_size), records/proc_records the event counts;
    errors/retries/retries_failed are 0 by construction in a
    successful batch (they are runtime delivery counters, not data
    functions).

    ONE aggregate pass: every counter is a conditional sum over the
    same scan -- no joins, no second scan, shuffle is a single global
    row."""
    esz = msgpack_event_size()
    tag = F.concat(F.lit("fbs."), F.col("role"))
    corrupt = F.col("text").startswith("!!corrupt")
    kept = ~corrupt

    def out_sums(pred):
        return (
            F.sum(F.when(kept & pred, 1).otherwise(0)).cast("long"),
            F.sum(F.when(kept & pred, esz).otherwise(0)).cast("long"),
        )

    es_n, es_b = out_sums(tag.isNotNull())
    so_n, so_b = out_sums(tag.startswith("fbs.a"))
    ct_n, ct_b = out_sums(tag == "fbs.assistant")
    # coalesce every SUM: over an empty table ANSI SUM is NULL, which
    # would NULL the concatenated fragment (same guard convention as
    # the constraint-suite ppm metrics)
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("in_n"),
        F.coalesce(F.sum(esz), F.lit(0)).cast("long").alias("in_b"),
        F.coalesce(F.sum(F.when(corrupt, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("drop_n"),
        F.coalesce(es_n, F.lit(0)).alias("es_n"),
        F.coalesce(es_b, F.lit(0)).alias("es_b"),
        F.coalesce(so_n, F.lit(0)).alias("so_n"),
        F.coalesce(so_b, F.lit(0)).alias("so_b"),
        F.coalesce(ct_n, F.lit(0)).alias("ct_n"),
        F.coalesce(ct_b, F.lit(0)).alias("ct_b"),
    )

    def in_frag(name, n, b):
        return F.concat(
            F.lit('"%s":{"records":' % name), F.col(n).cast("string"),
            F.lit(',"bytes":'), F.col(b).cast("string"), F.lit("}"),
        )

    def filt_frag(name, d):
        return F.concat(
            F.lit('"%s":{"drop_records":' % name), F.col(d).cast("string"),
            F.lit(',"add_records":0}'),
        )

    def out_frag(name, n, b):
        return F.concat(
            F.lit('"%s":{"proc_records":' % name), F.col(n).cast("string"),
            F.lit(',"proc_bytes":'), F.col(b).cast("string"),
            F.lit(',"errors":0,"retries":0,"retries_failed":0}'),
        )

    frags = agg.select(
        in_frag("tail.0", "in_n", "in_b").alias("f_in"),
        filt_frag("grep.0", "drop_n").alias("f_fl"),
        out_frag("es.0", "es_n", "es_b").alias("f_es"),
        out_frag("stdout.1", "so_n", "so_b").alias("f_so"),
        out_frag("counter.2", "ct_n", "ct_b").alias("f_ct"),
    )
    return frags.select(
        F.expr(
            "stack(5,"
            " 'input', 'tail.0', f_in,"
            " 'filter', 'grep.0', f_fl,"
            " 'output', 'es.0', f_es,"
            " 'output', 'stdout.1', f_so,"
            " 'output', 'counter.2', f_ct)"
        ).alias("section", "name", "fragment")
    )


def storage_limit_drops(chunks: DataFrame, limit: int) -> DataFrame:
    """storage.total_limit_size FIFO eviction accounting over
    (sink, hour, chunk_bytes) chunk rows
    (src/flb_input_chunk.c:152 flb_intput_chunk_count_dropped_chunks +
    :201 find_space_new_data): each arriving chunk evicts the OLDEST
    buffered chunks for its output until it fits; a chunk larger than
    the whole limit cannot be placed at all (count==0 -> the incoming
    data is dropped, buffer untouched).

    Because eviction is always oldest-first and only triggered by an
    accepted arrival, the buffer after processing a chunk sequence is
    exactly the maximal NEWEST suffix of accepted chunks whose
    cumulative size fits the limit -- so the whole sequential
    simulation collapses to one reverse running sum per output:

      status = 'rejected_oversize'  if chunk_bytes > limit
             | 'retained'           if reverse-cumsum over accepted <= limit
             | 'evicted'            otherwise

    Scale shape: the window runs over the CHUNK table (per-output
    chunk counts, not corpus rows), partitioned by sink -- state per
    partition is one running sum."""
    from pyspark.sql import Window

    accepted = F.col("chunk_bytes") <= F.lit(limit)
    w = (
        Window.partitionBy("sink")
        .orderBy(F.col("hour").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    newest_cum = F.sum(F.when(accepted, F.col("chunk_bytes")).otherwise(0)).over(w)
    return chunks.withColumn(
        "status",
        F.when(~accepted, F.lit("rejected_oversize"))
        .when(newest_cum <= F.lit(limit), F.lit("retained"))
        .otherwise(F.lit("evicted")),
    )
