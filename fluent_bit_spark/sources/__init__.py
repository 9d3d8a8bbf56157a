"""Source adapters — the reference's input plugins as DataFrame
readers (SURVEY.md §2.1).

In batch mode every protocol listener collapses to "rows in a table";
what remains worth modeling:

- tail (plugins/in_tail): text files -> (file, line_no, line) rows with
  exact per-file line numbers, plus the multiline state-machine join
  (tail_multiline.c) re-expressed as a windowed segment-and-concat.
  Offset checkpointing (tail_sql.h) maps to checkpoint.py's manifest.
- dummy (plugins/in_dummy): deterministic synthetic record generator.
- storage_backlog (plugins/in_storage_backlog): resume-without-
  reprocess — see checkpoint.py.
- kafka / forward / tcp / http / syslog listeners: streaming sources
  (`spark.readStream.format('kafka')` with the spark-sql-kafka
  connector, etc.); no wrapper here — the batch tables stand in. The
  Kafka record-batch decode side is `functions.wire.unpack_kafka_batch`.
- lib (src/flb_lib.c flb_lib_push): `spark.createDataFrame` in tests.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """in_tail batch analog: (file, line_no, line) rows.

    Each file is read atomically (wholetext) and its lines posexploded:
    exact line numbers, which multiline joining requires (a split file
    would interleave)."""
    df = spark.read.text(path, wholetext=True).withColumn(
        "file", F.input_file_name()
    )
    # strip a single trailing newline so "a\nb\n" is 2 lines, not 3
    # (\z, not $: Java's $ also matches BEFORE a final terminator,
    # so it would eat two trailing newlines and lose a blank line)
    lines = F.split(F.regexp_replace(F.col("value"), "\\r?\\n\\z", ""), r"\r?\n")
    return df.select("file", F.posexplode(lines).alias("line_no", "line"))


def tail_tag(tag: str, file_col: Column, tag_regex: str | None = None) -> Column:
    """in_tail dynamic tag (plugins/in_tail/tail_file.c:426-545):

    - '*' in the tag expands to the file path with '/', '\\', ':'
      sanitized to '.' (leading separators dropped);
    - with tag_regex, '<name>' placeholders substitute the named
      captures the regex extracts from the path; a missing capture
      renders '_' (the reference's hash-miss fallback)."""
    if tag_regex:
        from fluent_bit_spark.operators.parse import named_groups, regex_extract_native

        names = named_groups(tag_regex)
        parts: list[Column] = []
        pos = 0
        for m in re.finditer(r"<([A-Za-z_][A-Za-z0-9_]*)>", tag):
            if m.start() > pos:
                parts.append(F.lit(tag[pos : m.start()]))
            g = m.group(1)
            if g in names:
                cap = regex_extract_native(file_col, tag_regex, [g])[g]
                parts.append(F.coalesce(cap, F.lit("_")))
            else:
                parts.append(F.lit("_"))
            pos = m.end()
        if pos < len(tag):
            parts.append(F.lit(tag[pos:]))
        return F.concat(*parts) if parts else F.lit(tag)
    if "*" not in tag:
        return F.lit(tag)
    pre, _, suf = tag.partition("*")
    sanitized = F.regexp_replace(
        F.regexp_replace(file_col, r"^[/\\:]+", ""), r"[/\\:]", "."
    )
    return F.concat(F.lit(pre), sanitized, F.lit(suf))


def multiline_join(
    df: DataFrame,
    firstline_pattern: str,
    file_col: str = "file",
    line_no_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    """The in_tail multiline state machine (tail_multiline.c, states
    tail_multiline.h:30-33) as a window computation: a line matching
    Parser_Firstline starts a group; continuation lines append until
    the next firstline. Leading continuation lines (no firstline yet)
    form group -1, mirroring the reference's flush of orphan content.

    Returns (file, group_no, first_line_no, text) with text =
    newline-joined group."""
    is_first = F.col(line_col).rlike(firstline_pattern).cast("int")
    w = (
        Window.partitionBy(file_col)
        .orderBy(line_no_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = df.withColumn("_grp", F.sum(is_first).over(w) - F.lit(1))
    return (
        grouped.groupBy(file_col, "_grp")
        .agg(
            F.min(line_no_col).alias("first_line_no"),
            F.concat_ws(
                "\n", F.sort_array(F.collect_list(F.struct(line_no_col, line_col))).getField(line_col)
            ).alias("text"),
        )
        .withColumnRenamed("_grp", "group_no")
    )


def _segment_reassemble(
    df: DataFrame,
    complete: Column,
    chunk_col: str,
    sep: str,
    extra_firsts: list[str],
) -> DataFrame:
    """Shared partial-line reassembly core for Docker json-file and CRI
    logs: a record is `complete` when it terminates a logical line;
    every record joins the segment opened by the previous terminator.

    segment id = count of complete records strictly BEFORE the row in
    (file, line_no) order — partial records and their terminator share
    the id, so one groupBy rebuilds the logical line. Pure window +
    sort_array concat, no Python in the row path; the window is
    per-file (one container log file), never corpus-wide.

    A trailing run with no terminator is still emitted — the batch
    analog of the reference's `docker_mode_flush` timeout flush
    (plugins/in_tail/tail_dockermode.c:296-333, tail.c:367-372)."""
    w = (
        Window.partitionBy("file")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = df.withColumn(
        "_seg", F.coalesce(F.sum(complete.cast("int")).over(w), F.lit(0))
    )
    aggs = [
        F.min("line_no").alias("first_line_no"),
        F.concat_ws(
            sep,
            F.sort_array(
                F.collect_list(F.struct("line_no", chunk_col))
            ).getField(chunk_col),
        ).alias(chunk_col),
    ]
    for c in extra_firsts:
        aggs.append(F.min_by(F.col(c), F.col("line_no")).alias(c))
    out = seg.groupBy("file", "_seg").agg(*aggs).drop("_seg")
    return out.select("file", "first_line_no", *extra_firsts, chunk_col)


def docker_mode_join(df: DataFrame) -> DataFrame:
    """in_tail Docker_Mode (plugins/in_tail/tail_dockermode.c:237
    flb_tail_dmode_process_content): each json-file record is
    `{"log": ..., "stream": ..., "time": ...}`; the container runtime
    splits log lines over 16 KB into consecutive records whose `log`
    lacks the trailing `\\n` — only the final piece carries it
    (tail_dockermode.c:194 `nl = unesc[unesc_len - 1] == '\\n'`).
    Reassembles those runs per file (`read_text_lines` rows) and
    parses the envelope.

    Returns (file, first_line_no, stream, ts, log); `log` keeps the
    terminating newline exactly as the reference's buffered value does
    (the `\\n` lives inside the json `log` string, not the file line
    terminator). Records the json parse rejects surface with NULL
    fields rather than vanishing — the DLQ split can route them."""
    parsed = df.select(
        "file",
        "line_no",
        F.get_json_object("line", "$.log").alias("log"),
        F.get_json_object("line", "$.stream").alias("stream"),
        F.try_to_timestamp(
            F.get_json_object("line", "$.time"),
            F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        ).alias("ts"),
    )
    return _segment_reassemble(
        parsed,
        F.col("log").isNull() | F.col("log").endswith("\n"),
        "log",
        sep="",
        extra_firsts=["stream", "ts"],
    )


def cri_mode_join(df: DataFrame) -> DataFrame:
    """CRI/containerd log reassembly: lines are
    `<time> <stdout|stderr> <P|F> <message>` (the `cri` parser,
    conf/parsers.conf:105-112); the runtime tags split pieces `P`
    (partial) and the final piece `F` (full). Joins P-runs with their
    terminating F record per file, concatenating messages with no
    separator (the runtime split the bytes mid-line). Input rows are
    `read_text_lines`' (file, line_no, line).

    Returns (file, first_line_no, stream, ts, message). `(?s)` keeps
    the message group intact if upstream chunking ever lands an
    embedded newline inside one row."""
    pat = r"(?s)^(\S+) (stdout|stderr) ([PF]) (.*)$"
    parsed = df.select(
        "file",
        "line_no",
        F.try_to_timestamp(
            F.regexp_extract(F.col("line"), pat, 1),
            F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"),
        ).alias("ts"),
        F.regexp_extract(F.col("line"), pat, 2).alias("stream"),
        F.regexp_extract(F.col("line"), pat, 3).alias("logtag"),
        F.regexp_extract(F.col("line"), pat, 4).alias("message"),
    )
    return _segment_reassemble(
        parsed,
        F.col("logtag") == "F",
        "message",
        sep="",
        extra_firsts=["stream", "ts"],
    ).withColumnRenamed("message", "log")


def parse_kmsg(
    df: DataFrame,
    boot_time: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """in_kmsg (plugins/in_kmsg/in_kmsg.c:108 process_line): parse
    /dev/kmsg lines `<prival>,<sequence>,<usec_since_boot>,<flags>;
    <message>` into the reference's record shape — priority =
    prival & 0x07 (in_kmsg.h:43 FLB_KLOG_PRI), sec/usec = the
    monotonic split (in_kmsg.c:159-160), ts = boot_time + monotonic
    (in_kmsg.c:162), msg = text after ';' with the line terminator
    dropped (in_kmsg.c:201 packs line_len - 1 bytes).

    All integer column math; rows the header regex rejects get NULL
    fields (the reference's `goto fail` drop, kept visible for DLQ
    routing). Other input columns pass through."""
    header = r"^(\d+),(\d+),(\d+),"
    line = F.col("line")
    pri = F.regexp_extract(line, header, 1).try_cast("long")
    seq = F.regexp_extract(line, header, 2).try_cast("long")
    mono = F.regexp_extract(line, header, 3).try_cast("long")
    msg = F.regexp_replace(F.regexp_replace(line, r"^[^;]*;", ""), r"\n$", "")
    boot_us = F.unix_micros(F.to_timestamp(F.lit(boot_time)))
    return (
        df.withColumn("_mono", mono)
        .withColumn("priority", pri % 8)
        .withColumn("sequence", seq)
        .withColumn("sec", F.expr("_mono div 1000000"))
        .withColumn("usec", F.col("_mono") % 1000000)
        .withColumn(
            "ts",
            F.timestamp_micros(boot_us + F.col("_mono")),
        )
        .withColumn(
            "msg", F.when(F.col("_mono").isNotNull(), msg)
        )
        .drop("_mono", "line")
    )


def parse_journal_export(
    df: DataFrame,
    keys: tuple = ("PRIORITY", "MESSAGE", "_SYSTEMD_UNIT", "_PID"),
) -> DataFrame:
    """in_systemd analog over the journal EXPORT serialization (the
    wire form of what plugins/in_systemd/systemd.c reads via
    libsystemd): `KEY=VALUE` lines form one journal entry per block,
    blocks separated by an empty line. Entry id = running count of
    separator lines before the row; one pivot turns each block's
    KEY=VALUE rows into the requested columns (max over at most one
    non-null per key — journald keys are unique within an entry).

    Returns (file, entry_no, <keys lowercased>, ts) where ts comes
    from __REALTIME_TIMESTAMP (epoch microseconds, the journal's
    native clock)."""
    is_sep = F.col("line") == ""
    w = (
        Window.partitionBy("file")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kv = (
        df.withColumn("_entry", F.sum(is_sep.cast("int")).over(w))
        .filter(~is_sep)
        .withColumn("_k", F.regexp_extract(F.col("line"), r"^([^=]+)=", 1))
        .withColumn("_v", F.regexp_replace(F.col("line"), r"^[^=]+=", ""))
    )
    aggs = [
        F.max(
            F.when(F.col("_k") == k, F.col("_v"))
        ).alias(k.lower().lstrip("_"))
        for k in keys
    ]
    aggs.append(
        F.timestamp_micros(
            F.max(
                F.when(F.col("_k") == "__REALTIME_TIMESTAMP", F.col("_v"))
            ).try_cast("long")
        ).alias("ts")
    )
    return (
        kv.groupBy("file", "_entry")
        .agg(*aggs)
        .withColumnRenamed("_entry", "entry_no")
    )


def in_dummy(
    spark: SparkSession,
    record: dict,
    samples: int = 10,
    start: str = "2024-01-01 00:00:00",
    interval_sec: float = 1.0,
    tag: str = "dummy.0",
) -> DataFrame:
    """in_dummy (plugins/in_dummy/in_dummy.c): emit `samples` copies of
    a fixed JSON record on a synthetic timeline, tagged."""
    df = spark.range(samples).select(
        F.lit(tag).alias("tag"),
        (
            F.to_timestamp(F.lit(start))
            + F.make_interval(secs=F.col("id") * F.lit(float(interval_sec)))
        ).alias("ts"),
        F.from_json(F.lit(json.dumps(record)), _infer_ddl(record)).alias("record"),
    )
    return df.select("tag", "ts", "record.*")


def _infer_ddl(record: dict) -> str:
    parts = []
    for k, v in record.items():
        if isinstance(v, bool):
            t = "boolean"
        elif isinstance(v, int):
            t = "bigint"
        elif isinstance(v, float):
            t = "double"
        else:
            t = "string"
        parts.append(f"{k} {t}")
    return "struct<" + ",".join(parts) + ">"


def synthetic_metrics(
    spark: SparkSession,
    metric: str = "cpu",
    samples: int = 60,
    start: str = "2024-01-01 00:00:00",
    interval_sec: int = 1,
    seed: int = 42,
    tag: str | None = None,
) -> DataFrame:
    """The periodic-collector inputs (in_cpu/in_mem/in_disk/in_netif/
    in_thermal..., registered on a timer via src/flb_input.c:639):
    deterministic synthetic metric records on a fixed cadence. Values
    are a seeded hash-derived series in [0, 100)."""
    tag = tag or f"{metric}.0"
    df = spark.range(samples).select(
        F.lit(tag).alias("tag"),
        (
            F.to_timestamp(F.lit(start))
            + F.make_interval(secs=F.col("id") * F.lit(float(interval_sec)))
        ).alias("ts"),
        F.lit(metric).alias("metric"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(metric)), F.lit(10000)) / 100.0).alias(
            "value"
        ),
    )
    return df


# statsd line grammar (plugins/in_statsd/statsd.c:142-190
# statsd_process_line): `bucket:value|type[|@sample_rate]`.  The
# reference splits on the FIRST ':' and the FIRST '|' (strchr), which
# is exactly what the anchored `[^:]` / `[^|]` classes encode; a line
# missing either separator is dropped with an error (the regex then
# fails to match and every group extracts '').
STATSD_SPLIT_RE = r"^([^:]+):([^|]*)\|(.*)$"


def statsd_lines_from_transcripts(df: DataFrame) -> DataFrame:
    """Deterministic statsd wire fixture: render each transcript turn
    as one UDP line `bucket:value|type[|@rate]`, cycling through the
    four metric types (counter/gauge/timer/set) by turn_idx, with
    signed gauge deltas, fractional timer values, sampled rates
    (including the `|@0` -> default-1.0 edge the reference's atof
    handles at statsd.c:181), and two malformed shapes (no colon / no
    bar) that exercise the drop paths at statsd.c:151,163.

    Pure JVM expressions so the DuckDB oracle can render the identical
    strings (_statsd_lines_sql in flagship_oracle.py)."""
    ln = F.length("text").cast("string")
    t = F.col("turn_idx")
    bucket = F.concat(
        F.lit("turns."),
        F.coalesce(F.col("role"), F.lit("none")),
        F.lit("."),
        F.coalesce(F.col("tool"), F.lit("none")),
    )
    m = t % 4
    gauge_val = (
        F.when(t % 3 == 0, F.concat(F.lit("+"), ln))
        .when(t % 3 == 1, F.concat(F.lit("-"), ln))
        .otherwise(ln)
    )
    value = (
        F.when(m == 0, ln)
        .when(m == 1, gauge_val)
        .when(m == 2, F.concat(ln, F.lit(".5")))
        .otherwise(F.col("conv_id"))
    )
    mtype = (
        F.when(m == 0, "c").when(m == 1, "g").when(m == 2, "ms").otherwise("s")
    )
    rate = (
        F.when(t % 5 == 0, F.lit("|@0.5"))
        .when(t % 7 == 0, F.lit("|@0"))
        .otherwise(F.lit(""))
    )
    line = (
        F.when(t % 11 == 0, F.lit("malformed statsd datagram no separators"))
        .when(t % 13 == 0, F.concat(bucket, F.lit(":42")))
        .otherwise(F.concat(bucket, F.lit(":"), value, F.lit("|"), mtype, rate))
    )
    return df.select("conv_id", "turn_idx", "ts", line.alias("line"))


def parse_statsd(df: DataFrame, keep: tuple = ()) -> DataFrame:
    """in_statsd datagram parsing (plugins/in_statsd/statsd.c:142
    statsd_process_line + :87 statsd_process_message), per `line`:

    - bucket = text before the first ':', value = between ':' and the
      first '|', type token = after the '|';
    - type by the token's FIRST character (statsd.c:68 get_statsd_type):
      'g' gauge, 's' set, 'c' counter, 'm' followed by 's' timer,
      anything else counter;
    - sample_rate parsed from a `|@` suffix with atof semantics
      (missing, unparseable, or 0 -> 1.0; statsd.c:181);
    - per-type field presence mirrors the packed maps (statsd.c:95-137):
      value is numeric (atof -> 0.0 fallback) for counter/gauge/timer
      and the raw string for set; sample_rate only counter/timer;
      incremental (leading '+'/'-', statsd.c:84) only gauge;
    - lines missing a separator are dropped (reference logs and skips).

    Whole-stage-codegen regexp splits, no Python."""
    l = F.col("line")
    bucket = F.nullif(F.regexp_extract(l, STATSD_SPLIT_RE, 1), F.lit(""))
    value_raw = F.regexp_extract(l, STATSD_SPLIT_RE, 2)
    typepart = F.nullif(F.regexp_extract(l, STATSD_SPLIT_RE, 3), F.lit(""))
    t0 = F.substring(typepart, 1, 1)
    mtype = (
        F.when(t0 == "g", "gauge")
        .when(t0 == "s", "set")
        .when(t0 == "c", "counter")
        .when((t0 == "m") & (F.substring(typepart, 2, 1) == "s"), "timer")
        .otherwise("counter")
    )
    rate_tok = F.nullif(F.regexp_extract(typepart, r"\|@(.*)$", 1), F.lit(""))
    rate_num = F.coalesce(rate_tok.try_cast("double"), F.lit(0.0))
    sample_rate = F.when(rate_num == 0.0, F.lit(1.0)).otherwise(rate_num)
    value_num = F.coalesce(value_raw.try_cast("double"), F.lit(0.0))
    incremental = (
        F.substring(value_raw, 1, 1).isin("+", "-").cast("int")
    )
    out = df.select(
        *[F.col(k) for k in keep],
        bucket.alias("bucket"),
        mtype.alias("mtype"),
        F.when(mtype != "set", value_num).alias("value_num"),
        F.when(mtype == "set", value_raw).alias("value_str"),
        F.when(mtype.isin("counter", "timer"), sample_rate).alias("sample_rate"),
        F.when(mtype == "gauge", incremental).alias("incremental"),
    )
    return out.where(F.col("bucket").isNotNull())


# Stock RFC5424 parser regex (conf/parsers.conf:65 `syslog-rfc5424`),
# named groups dropped for Java numbered extraction; the nested group
# inside extradata is flattened (same language).  `[^ ]+` is kept as in
# the reference (NOT \S+: \S also excludes tabs).
SYSLOG_RFC5424_RE = (
    r"^<([0-9]{1,5})>1 ([^ ]+) ([^ ]+) ([^ ]+) ([-0-9]+) ([^ ]+) "
    r"(\[.*?\]|-) (.+)$"
)

# conf/parsers.conf:73 `syslog-rfc3164-local` (no host field; optional
# [pid] and ident-colon prefix), flattened the same way.
SYSLOG_RFC3164_RE = (
    r"^<([0-9]+)>([^ ]* {1,2}[^ ]* [^ ]*) ([a-zA-Z0-9_/.\-]*)"
    r"(?:\[([0-9]+)\])?(?:[^:]*:)? *(.*)$"
)


def parse_syslog_rfc5424(df: DataFrame, line_col: str = "line") -> DataFrame:
    """in_syslog datagram processing (plugins/in_syslog/syslog_prot.c:130
    syslog_prot_process_udp -> flb_parser_do with the stock
    syslog-rfc5424 parser): one regex pass over the raw wire line, pri
    split into facility/severity (RFC5424 section 6.2.1: facility =
    pri / 8, severity = pri % 8), Time_Keep On (the raw stamp column is
    retained alongside the parsed event_time).

    Unparseable lines surface as all-NULL field rows rather than being
    dropped (the reference warns and skips; keeping the row preserves
    row-count lineage for the gate -- filter on `pri IS NOT NULL` for
    the reference's drop behavior).  Pure regexp_extract expressions:
    whole-stage codegen, no Python."""
    l = F.col(line_col)

    def g(i: int) -> Column:
        return F.nullif(F.regexp_extract(l, SYSLOG_RFC5424_RE, i), F.lit(""))

    pri = g(1).cast("int")
    return df.select(
        pri.alias("pri"),
        F.floor(pri / F.lit(8)).cast("int").alias("facility"),
        (pri % F.lit(8)).alias("severity"),
        g(2).alias("stime"),
        # try_to_timestamp, not to_timestamp: ANSI sessions would
        # otherwise abort the whole job on a regex-matching line whose
        # stamp deviates from the format (RFC5424 nil '-' or offset
        # stamps) -- same convention as operators/parse.py
        F.try_to_timestamp(
            g(2), F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
        ).alias("event_time"),
        g(3).alias("host"),
        g(4).alias("ident"),
        g(5).alias("pid"),
        g(6).alias("msgid"),
        g(7).alias("extradata"),
        g(8).alias("message"),
    )


def zone_maps(df: DataFrame, part_col: Column) -> DataFrame:
    """Partition zone maps — per-partition min/max statistics over the
    clustering columns `ts` and `conv_id`, the scan-planning table an Iceberg/parquet
    layout keeps in its manifests. `prune_flags` then answers "which
    partitions can a predicate skip entirely" WITHOUT touching data —
    the planning step that makes a ts-range query over a 10^12-turn
    table read days, not the whole table.

    Scale shape: one groupBy on the partition expression (map-side
    min/max combine); output is #partitions rows.
    """
    return df.groupBy(part_col.alias("part")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.min("conv_id").alias("min_key"),
        F.max("conv_id").alias("max_key"),
    )


def prune_flags(zmaps: DataFrame, lo, hi) -> DataFrame:
    """Mark each zone-map partition prunable for the half-open
    timestamp predicate [lo, hi): disjoint iff the partition's range
    ends before `lo` or starts at/after `hi`."""
    return zmaps.withColumn(
        "pruned", (F.col("max_ts") < F.lit(lo)) | (F.col("min_ts") >= F.lit(hi))
    )


def compaction_plan(
    stats: DataFrame,
    part_cols: tuple = ("part",),
    target_bytes: int = 50_000,
    small_bytes: int | None = None,
) -> DataFrame:
    """Small-file compaction planner over a partition-stats frame (e.g.
    `zone_maps` output with an `n_bytes` column): partitions below `small_bytes` are grouped, in
    partition order, into compaction tasks of ~`target_bytes` each
    (task id = running-bytes-before div target — the shard_manifest
    cumsum convention). This is the Iceberg `rewrite_data_files`
    planning step: at 10^12 turns the table tail is thousands of
    trickle-partitions whose per-file overhead dominates scans until
    they are coalesced.

    Scale shape: runs entirely over the stats frame (one row per
    partition — thousands of rows for years of days), so the ordered
    window is bounded by partition count, never row count.
    """
    small = small_bytes if small_bytes is not None else target_bytes // 2
    cand = stats.filter(F.col("n_bytes") < F.lit(small))
    return cand.select(
        *part_cols,
        F.col("n_bytes"),
        F.expr(
            f"CAST(coalesce(sum(n_bytes) OVER (ORDER BY "
            f"{', '.join(part_cols)} ROWS BETWEEN UNBOUNDED PRECEDING AND"
            f" 1 PRECEDING), 0) AS BIGINT) div {target_bytes}"
        ).alias("task_id"),
    )
