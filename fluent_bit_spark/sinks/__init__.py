"""Sink adapters — the reference's output plugins as format
transforms + writes (SURVEY.md §2.6).

The reference's outputs all decompose into (format transform, deliver,
optional aggregate). Delivery is engine-managed here (DataFrame
writers); this module provides:

- format transforms: json lines (out_stdout/out_file json), csv with
  optional header (out_file csv, plugins/out_file/file.c:145), ltsv
  (:182), template '{time} {key}' substitution (:261), GELF key remap
  (src/flb_pack_gelf.c:408), Elasticsearch logstash-style derived
  index (plugins/out_es/es.c:314-428), Loki label-set derivation
  (plugins/out_loki/loki.c:251-421).
- write_fanout: the one fan-out writer — explode the route mask and
  write every sink as parquet in ONE job partitioned by sink, then
  move each sink's directory into place (the reference hands one
  chunk to every matching output from a shared buffer,
  src/flb_engine_dispatch.c:180-194). Per-sink counts are observed on
  that write. `fanout_write` adds the aggregate sinks (out_counter /
  out_flowcounter): one flowcounter pass plus the roll-up of those
  counts; `streaming.foreach_batch_fanout` calls `write_fanout` once
  per micro-batch.
- write_sink: one overwrite of a frame as parquet/json/csv/text, so a
  redone write replaces its output.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from fluent_bit_spark.operators.aggregate import flowcounter
from fluent_bit_spark.operators.route import explode_routes
from fluent_bit_spark.session import local_frame


# ---------------------------------------------------------------------------
# format transforms


def _epoch_seconds(c: Column) -> Column:
    """Timestamp -> epoch seconds as double; routes TIMESTAMP_NTZ
    through LTZ (session TZ is UTC) since ANSI forbids the direct
    cast."""
    return c.cast("timestamp_ltz").cast("double")


def to_json_lines(df: DataFrame) -> DataFrame:
    """One JSON object per record (out_stdout json_lines,
    include/fluent-bit/flb_pack.h:39-50)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def to_csv_lines(df: DataFrame, cols: list[str]) -> DataFrame:
    """CSV-formatted lines (out_file csv; quoting: embedded comma/quote
    => double-quoted field, matching the common CSV rule)."""
    def fmt(c: str) -> Column:
        s = F.col(c).cast("string")
        needs = s.contains(",") | s.contains('"') | s.contains("\n")
        quoted = F.concat(F.lit('"'), F.regexp_replace(s, '"', '""'), F.lit('"'))
        return F.coalesce(F.when(needs, quoted).otherwise(s), F.lit(""))

    return df.select(F.concat_ws(",", *[fmt(c) for c in cols]).alias("value"))


def to_ltsv_lines(df: DataFrame, cols: list[str]) -> DataFrame:
    """LTSV lines `k:v<TAB>...` (out_file ltsv)."""
    parts = [
        F.concat(F.lit(c + ":"), F.coalesce(F.col(c).cast("string"), F.lit("")))
        for c in cols
    ]
    return df.select(F.concat_ws("\t", *parts).alias("value"))


_TEMPLATE_VAR = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")


def to_template_lines(df: DataFrame, template: str) -> DataFrame:
    """out_file `template` format: '{time} {key}' substitution
    (plugins/out_file/file.c:261), `{time}` rendering `ts`. Unknown
    keys render empty."""
    parts: list[Column] = []
    pos = 0
    for m in _TEMPLATE_VAR.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        var = m.group(1)
        if var == "time":
            # coalesced like every key: a NULL timestamp renders empty
            # instead of nulling the whole concatenated line
            parts.append(
                F.coalesce(
                    F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss"),
                    F.lit(""),
                )
            )
        elif var in df.columns:
            parts.append(F.coalesce(F.col(var).cast("string"), F.lit("")))
        else:
            parts.append(F.lit(""))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:  # empty template: concat() with zero args is an error
        parts = [F.lit("")]
    return df.select(F.concat(*parts).alias("value"))


def gelf_transform(
    df: DataFrame,
    host_col: str = "host",
    short_message_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """GELF field mapping (src/flb_pack_gelf.c:408): version, host,
    short_message, timestamp (epoch float), level 1."""
    return df.select(
        F.lit("1.1").alias("version"),
        F.coalesce(F.col(host_col).cast("string"), F.lit("unknown")).alias("host"),
        F.col(short_message_col).alias("short_message"),
        _epoch_seconds(F.col(ts_col)).alias("timestamp"),
        F.lit(1).alias("level"),
    )


# GELF string-level keyword table (src/flb_pack_gelf.c:574
# allowed_levels): index IS the syslog severity number.
GELF_LEVEL_KEYWORDS: tuple[str, ...] = (
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug",
)


def _gelf_sanitize_key(key: str) -> str:
    """GELF additional-field key sanitization (src/flb_pack_gelf.c:31
    valid_char table = [A-Za-z0-9_.-]; anything else becomes '_')."""
    return re.sub(r"[^A-Za-z0-9_.\-]", "_", key)


def gelf_level_column(raw: Column) -> Column:
    """GELF level coercion (src/flb_pack_gelf.c:564-592): a single
    digit '0'..'7' parses as the integer; a case-insensitive syslog
    keyword maps to its table index; anything else is kept verbatim
    (the reference warns but still emits the original value).  Output
    is string-typed -- exactly the token the JSON value would carry."""
    pairs: list[Column] = []
    for idx, kw in enumerate(GELF_LEVEL_KEYWORDS):
        pairs += [F.lit(kw), F.lit(str(idx))]
    keyword = F.element_at(F.create_map(*pairs), F.lower(raw.cast("string")))
    return F.when(raw.cast("string").rlike("^[0-7]$"), raw.cast("string")).otherwise(
        F.coalesce(keyword, raw.cast("string"))
    )


def gelf_extended_transform(
    df: DataFrame,
    host_col: str = "host",
    short_message_col: str = "text",
    ts_col: str = "ts",
    level_col: str | None = None,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """GELF mapping with the additional-field path
    (src/flb_pack_gelf.c:608 custom_key): every non-reserved key is
    emitted with a '_' prefix after key sanitization (:64), the key
    'id' is dropped entirely (:609 '_id key not allowed'), and string
    levels go through the keyword table (gelf_level_column).  Column
    renames happen at plan time (keys are schema, not data), so this
    stays a pure projection."""
    out = [
        F.lit("1.1").alias("version"),
        F.coalesce(F.col(host_col).cast("string"), F.lit("unknown")).alias("host"),
        F.col(short_message_col).alias("short_message"),
        _epoch_seconds(F.col(ts_col)).alias("timestamp"),
        (gelf_level_column(F.col(level_col)) if level_col else F.lit("1")).alias(
            "level"
        ),
    ]
    reserved = {host_col, short_message_col, ts_col, level_col}
    for c in extra_cols or []:
        if c in reserved or c == "id":
            continue
        out.append(F.col(c).alias("_" + _gelf_sanitize_key(c)))
    return df.select(*out)


def _contains_timestamp(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampType):
        return True
    if isinstance(dt, T.StructType):
        return any(_contains_timestamp(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _contains_timestamp(dt.elementType)
    if isinstance(dt, T.MapType):
        return _contains_timestamp(dt.keyType) or _contains_timestamp(dt.valueType)
    return False


def _tz_normalize(col: Column, dt) -> Column:
    """Rewrite every TimestampType at any nesting depth to unix micros
    so downstream serialization is session-TZ-independent. Subtrees
    without timestamps pass through untouched."""
    from pyspark.sql import types as T

    if not _contains_timestamp(dt):
        return col
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(col)
    if isinstance(dt, T.StructType):
        rebuilt = F.struct(
            *[
                _tz_normalize(col[f.name], f.dataType).alias(f.name)
                for f in dt.fields
            ]
        )
        return F.when(col.isNotNull(), rebuilt)  # null struct stays null
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _tz_normalize(x, dt.elementType))
    if isinstance(dt, T.MapType):
        out = col
        if _contains_timestamp(dt.keyType):
            out = F.transform_keys(out, lambda k, _: _tz_normalize(k, dt.keyType))
        if _contains_timestamp(dt.valueType):
            out = F.transform_values(
                out, lambda _, v: _tz_normalize(v, dt.valueType)
            )
        return out
    return col


def es_logstash_index(
    df: DataFrame,
    prefix: str = "logstash",
    ts_col: str = "ts",
    id_mode: str = "xxhash64",
) -> DataFrame:
    """Elasticsearch Logstash_Format index derivation:
    '<prefix>-YYYY.MM.dd' (plugins/out_es/es.c:314-428) plus a
    deterministic document _id (≙ Generate_ID, es.c:488-494).

    id_mode:
      - "xxhash64" (default): pure-JVM deterministic id; oracle-checkable
        (DuckDB has no murmur3) — documented deviation from the
        reference's digest choice.
      - "murmur3": reference-exact MurmurHash3_x64_128(seed=42) UUID over
        the record's JSON serialization, Arrow-vectorized
        (functions/hashing.py). Byte-exact hash + formatting; the hashed
        serialization is JSON rather than the reference's msgpack.
    """
    if id_mode == "murmur3":
        from fluent_bit_spark.functions.hashing import es_generate_id

        # timestamps (at any nesting depth) serialized as unix micros,
        # not to_json's rendered form: the rendering depends on
        # spark.sql.session.timeZone, and a TZ-dependent _id breaks
        # idempotent re-ingestion across differently-configured sessions
        fields = [
            _tz_normalize(F.col(f.name), f.dataType).alias(f.name)
            for f in df.schema.fields
        ]
        doc_id = es_generate_id(F.to_json(F.struct(*fields)))
    elif id_mode == "xxhash64":
        doc_id = F.abs(F.xxhash64(*[F.col(c) for c in df.columns])).cast("string")
    else:
        raise ValueError(f"unknown id_mode: {id_mode!r}")
    return df.withColumns(
        {
            "_index": F.concat(
                F.lit(prefix + "-"), F.date_format(F.col(ts_col), "yyyy.MM.dd")
            ),
            "_id": doc_id,
        }
    )


def loki_labels(
    df: DataFrame, label_cols: list[str], remove_keys: list[str] | None = None
) -> DataFrame:
    """Loki label-set derivation (plugins/out_loki/loki.c:251-421):
    labels map from the configured keys, line = remaining record as
    JSON with remove_keys dropped."""
    labels = F.map_from_arrays(
        F.array(*[F.lit(c) for c in label_cols]),
        F.array(*[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in label_cols]),
    )
    drop = set(label_cols) | set(remove_keys or [])
    line_cols = [c for c in df.columns if c not in drop]
    return df.select(
        labels.alias("labels"),
        F.to_json(F.struct(*[F.col(c) for c in line_cols])).alias("line"),
    )


def loki_label_key(key: Column) -> Column:
    """Loki label-key normalization (plugins/out_loki/loki.c:251
    pack_label_key): a leading digit gets a '_' prefix, then every
    non-alphanumeric, non-underscore character becomes '_'.  Runtime
    expression because auto-kubernetes label keys are data, not
    schema."""
    sanitized = F.regexp_replace(key, "[^A-Za-z0-9_]", "_")
    return F.when(
        key.rlike("^[0-9]"), F.concat(F.lit("_"), sanitized)
    ).otherwise(sanitized)


def loki_labels_k8s(
    df: DataFrame,
    label_cols: list[str],
    k8s_map: Column | None = None,
    remove_keys: list[str] | None = None,
) -> DataFrame:
    """Loki label map with auto_kubernetes_labels
    (plugins/out_loki/loki.c:368-397): after the configured
    record-accessor labels (NULL/empty translations are skipped,
    loki.c:313 "just skip it"), every string->string entry of the
    record's kubernetes map is appended with pack_label_key
    normalization; nil values are skipped by the reference's
    string-type check (loki.c:377).  An empty label set falls back to
    the default job=fluent-bit pair (loki.c:399).  All map algebra is
    JVM higher-order functions; keys stay distinct by construction
    (map_concat raises on duplicates under ANSI, same as Loki rejects
    duplicate label names)."""
    base = F.map_filter(
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in label_cols]),
            F.array(*[F.col(c).cast("string") for c in label_cols]),
        ),
        lambda k, v: v.isNotNull() & (v != F.lit("")),
    )
    labels = base
    if k8s_map is not None:
        k8s = F.transform_keys(
            F.map_filter(k8s_map, lambda k, v: v.isNotNull()),
            lambda k, v: loki_label_key(k),
        )
        labels = F.map_concat(base, k8s)
    labels = F.when(
        F.size(labels) == 0,
        F.create_map(F.lit("job"), F.lit("fluent-bit")),
    ).otherwise(labels)
    drop = set(label_cols) | set(remove_keys or [])
    line_cols = [c for c in df.columns if c not in drop]
    return df.select(
        F.to_json(labels).alias("labels_json"),
        F.to_json(F.struct(*[F.col(c) for c in line_cols])).alias("line"),
    )


def splunk_hec_transform(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Splunk HEC envelope (plugins/out_splunk): {time, host "unknown",
    sourcetype "_json", event} with event = the record as JSON."""
    event_cols = [c for c in df.columns if c != ts_col]
    return df.select(
        _epoch_seconds(F.col(ts_col)).alias("time"),
        F.lit("unknown").alias("host"),
        F.lit("_json").alias("sourcetype"),
        F.to_json(F.struct(*[F.col(c) for c in event_cols])).alias("event"),
    )


def datadog_transform(
    df: DataFrame,
    message_col: str = "text",
    ts_col: str = "ts",
    tag_cols: list[str] | None = None,
) -> DataFrame:
    """Datadog logs-intake shape (plugins/out_datadog): {message,
    timestamp(ms), service "fluent-bit-spark", ddsource, ddtags}."""
    tags = F.concat_ws(
        ",",
        *[
            F.concat(F.lit(c + ":"), F.coalesce(F.col(c).cast("string"), F.lit("")))
            for c in (tag_cols or [])
        ],
    )
    return df.select(
        F.col(message_col).alias("message"),
        (_epoch_seconds(F.col(ts_col)) * 1000).cast("long").alias("timestamp"),
        F.lit("fluent-bit-spark").alias("service"),
        F.lit("spark").alias("ddsource"),
        tags.alias("ddtags"),
    )


# Cloud-Logging LogSeverity token table — the reference's
# case-insensitive token mapping (plugins/out_stackdriver/
# stackdriver.c:1027-1094 validate_severity_level; enum values
# plugins/out_stackdriver/stackdriver.h:156-164). Unmatched or absent
# tokens fall back to DEFAULT (0), get_severity_level's contract.
STACKDRIVER_SEVERITY: dict[str, int] = {
    "EMERGENCY": 800, "EMERG": 800,
    "A": 700, "ALERT": 700,
    "C": 600, "F": 600, "CRIT": 600, "FATAL": 600, "CRITICAL": 600,
    "E": 500, "ERR": 500, "ERROR": 500, "SEVERE": 500,
    "W": 400, "WARN": 400, "WARNING": 400,
    "N": 300, "NOTICE": 300,
    "I": 200, "INFO": 200,
    "D": 100, "DEBUG": 100, "TRACE": 100, "TRACE_INT": 100, "FINE": 100,
    "FINER": 100, "FINEST": 100, "CONFIG": 100,
    "DEFAULT": 0,
}

STACKDRIVER_SEVERITY_NAMES: dict[int, str] = {
    800: "EMERGENCY", 700: "ALERT", 600: "CRITICAL", 500: "ERROR",
    400: "WARNING", 300: "NOTICE", 200: "INFO", 100: "DEBUG", 0: "DEFAULT",
}


def stackdriver_transform(
    df: DataFrame, severity_col: str | None = "level"
) -> DataFrame:
    """Cloud Logging (out_stackdriver) entry shape: logName, insertId
    (`conv_id:turn_idx`), severity (name) + severity_num, message
    (`text`), timestamp(ms) (`ts`). Severity
    resolves via the reference's case-insensitive token table — a
    literal map expression, so the whole transform stays inside
    whole-stage codegen (no join, no UDF)."""
    pairs: list[Column] = []
    for tok, num in STACKDRIVER_SEVERITY.items():
        pairs += [F.lit(tok), F.lit(num)]
    sev_map = F.create_map(*pairs)
    names = []
    for num, name in STACKDRIVER_SEVERITY_NAMES.items():
        names += [F.lit(num), F.lit(name)]
    name_map = F.create_map(*names)
    sev_num = (
        F.coalesce(
            F.element_at(sev_map, F.upper(F.col(severity_col).cast("string"))),
            F.lit(0),
        )
        if severity_col
        else F.lit(0)
    )
    insert_id = F.concat_ws(
        ":", F.col("conv_id").cast("string"), F.col("turn_idx").cast("string")
    )
    return df.select(
        F.lit("projects/fluent-bit/logs/fluent-bit").alias("logName"),
        insert_id.alias("insertId"),
        F.element_at(name_map, sev_num).alias("severity"),
        sev_num.alias("severity_num"),
        F.col("text").alias("message"),
        (_epoch_seconds(F.col("ts")) * 1000).cast("long").alias("timestamp"),
    )


# RFC3164/RFC5424 syslog severities for the level strings the parse
# stage emits (out_syslog reads severity from a record key; absent or
# unrecognized values keep the informational default 6)
SYSLOG_SEVERITY: dict[str, int] = {
    "emerg": 0, "alert": 1, "crit": 2, "error": 3, "err": 3,
    "warn": 4, "warning": 4, "notice": 5, "info": 6, "debug": 7,
}


def syslog_rfc5424_transform(
    df: DataFrame,
    host_col: str | None = "host",
    app_col: str | None = "tool",
    severity_col: str | None = "level",
) -> DataFrame:
    """RFC5424 syslog line rendering (plugins/out_syslog/syslog.c:143
    syslog_rfc5424): `<prival>1 TIMESTAMP HOST APP PROCID MSGID SD
    MSG` with prival = facility*8 + severity (facility 1, user-level),
    microsecond UTC `ts` timestamp, MSG = `text`, '-' for absent fields, and the reference's truncation
    caps (host 255, appname 48). Pure string expressions — stays in
    whole-stage codegen."""
    pairs: list[Column] = []
    for tok, num in SYSLOG_SEVERITY.items():
        pairs += [F.lit(tok), F.lit(num)]
    sev = (
        F.coalesce(
            F.element_at(
                F.create_map(*pairs), F.lower(F.col(severity_col).cast("string"))
            ),
            F.lit(6),
        )
        if severity_col
        else F.lit(6)
    )
    prival = F.lit(8) + sev
    stamp = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    host = (
        F.coalesce(F.substring(F.col(host_col).cast("string"), 1, 255), F.lit("-"))
        if host_col
        else F.lit("-")
    )
    app = (
        F.coalesce(F.substring(F.col(app_col).cast("string"), 1, 48), F.lit("-"))
        if app_col
        else F.lit("-")
    )
    line = F.concat(
        F.lit("<"), prival.cast("string"), F.lit(">1 "), stamp, F.lit(" "),
        host, F.lit(" "), app, F.lit(" - - - "), F.col("text"),
    )
    return df.select(
        F.col("conv_id"), F.col("turn_idx"), sev.alias("severity"), line.alias("line")
    )


def _influx_escape(c: Column) -> Column:
    """Line-protocol tag escaping: backslash-escape comma, space, and
    equals (in that order — the order is part of the contract and the
    oracle mirrors it)."""
    out = F.regexp_replace(c, r",", "\\\\,")
    out = F.regexp_replace(out, r" ", "\\\\ ")
    return F.regexp_replace(out, r"=", "\\\\=")


def influx_line_transform(
    df: DataFrame,
    measurement: str = "transcripts",
    tag_cols: tuple[str, ...] = ("role", "tool"),
) -> DataFrame:
    """InfluxDB line protocol (out_influxdb):
    `measurement,tag=v,... field=value,... timestamp_ns` — tag values
    backslash-escaped, integer fields suffixed `i`, string fields
    double-quoted, nanosecond epoch timestamp. Absent tags are omitted
    (line protocol has no null tags)."""
    tags = F.concat_ws(
        "",
        *[
            F.when(
                F.col(c).isNotNull(),
                F.concat(F.lit("," + c + "="), _influx_escape(F.col(c).cast("string"))),
            ).otherwise(F.lit(""))
            for c in tag_cols
        ],
    )
    fields = F.concat(
        F.lit("turn_idx="), F.col("turn_idx").cast("string"), F.lit("i"),
        F.lit(",len="), F.length("text").cast("string"), F.lit("i"),
    )
    ns = (_epoch_seconds(F.col("ts")) * 1_000_000).cast("long") * F.lit(1000)
    line = F.concat(
        F.lit(measurement), tags, F.lit(" "), fields, F.lit(" "), ns.cast("string")
    )
    return df.select(F.col("conv_id"), F.col("turn_idx"), line.alias("line"))


# ---------------------------------------------------------------------------
# fan-out writer

FORMATS = {"parquet", "json", "csv", "text"}


def write_sink(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    w = df.write.mode("overwrite")
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "json":
        w.json(path)
    elif fmt == "csv":
        w.option("header", True).csv(path)
    elif fmt == "text":
        w.text(path)
    else:
        raise ValueError(f"unknown format {fmt!r} (one of {sorted(FORMATS)})")


def _sink_rows(routed: DataFrame, names: list[str]) -> DataFrame:
    """One row per (record, sink in `names` it is routed to), the sink
    name in column `sink`, without `routes`."""
    return explode_routes(routed).filter(F.col("sink").isin(names)).drop("routes")


def write_fanout(
    routed: DataFrame, sinks: list[tuple[str, str]], base_path: str, leaf: str = ""
) -> dict[str, int]:
    """The one fan-out writer. Each record of `routed` is written once
    per sink of `sinks` its `routes` names (without `routes`); route
    names outside `sinks` are neither written nor counted. Every sink is
    written as parquet by ONE job, partitioned by sink, into a staging
    directory under `base_path`; each `sink=<name>` directory is then
    renamed to `<base_path>/<name><leaf>` through the Hadoop FileSystem
    API, replacing any older copy, so a redone group or replayed epoch
    overwrites its output idempotently. A sink with no rows gets one
    schema-bearing empty file, so it stays readable. Returns the rows
    per sink, observed on the write itself."""
    spark = routed.sparkSession
    names = list(dict.fromkeys(name for name, _glob in sinks))
    per_sink = _sink_rows(routed, names)
    obs = Observation()
    observed = per_sink.observe(
        obs,
        *[F.count_if(F.col("sink") == n).alias(f"n{i}") for i, n in enumerate(names)],
    )
    staging = f"{base_path}/_fanout_staging"
    observed.write.mode("overwrite").partitionBy("sink").parquet(staging)
    seen = obs.get
    got = {n: int(seen[f"n{i}"]) for i, n in enumerate(names)}

    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(staging).getFileSystem(spark._jsc.hadoopConfiguration())
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    for name in names:
        dst = Path(f"{base_path}/{name}{leaf}")
        fs.delete(dst, True)
        if got[name]:
            fs.mkdirs(dst.getParent())
            if not fs.rename(Path(staging, f"sink={escape(name)}"), dst):
                raise OSError(f"cannot move sink {name!r} into {dst.toString()}")
            fs.create(Path(dst, "_SUCCESS"), True).close()
        else:
            write_sink(per_sink.limit(0).drop("sink"), dst.toString())
    fs.delete(Path(staging), True)
    return got


def fanout_write(
    routed: DataFrame,
    sinks: list[tuple[str, str]],
    base_path: str,
    with_aggregates: bool = True,
) -> dict[str, dict]:
    """`write_fanout` under base_path/<sink>, plus the counter and
    flowcounter tables the reference's aggregate sinks would emit, under
    base_path/agg_counter and base_path/agg_flowcounter. Returns
    per-sink row counts (the out_counter surface), every configured
    sink included.

    `routed` is read twice, once by the sink write and once by the
    flowcounter, so pass a cached frame (the delivery loop passes a
    slice of `ResumableBatchJob`'s run cache). Counter is flowcounter
    rolled up over tag and window, so it is written from the counts
    observed on the sink write without another pass."""
    got = write_fanout(routed, sinks, base_path)
    if with_aggregates:
        write_sink(
            flowcounter(_sink_rows(routed, list(got)), ["sink", "tag"]),
            f"{base_path}/agg_flowcounter",
        )
        write_sink(
            local_frame(
                routed.sparkSession,
                [(name, n) for name, n in got.items() if n],
                "sink string, records bigint",
            ),
            f"{base_path}/agg_counter",
        )
    return {name: {"records": n} for name, n in got.items()}


def retention_by_budget(per_sink: DataFrame, budget_bytes: int) -> DataFrame:
    """Per-sink byte-budget retention — the reference's
    `storage.total_limit_size` (plugins enforce it per output: oldest
    chunks are destroyed until the output's stored bytes fit the limit,
    src/flb_storage.c / flb_output.h `total_limit_size`), re-expressed
    declaratively: keep the NEWEST rows of each `sink` whose running
    byte total (`length(text)` per row) stays within `budget_bytes`;
    everything older is dropped.

    Two-phase cutoff so no sink ever needs a global row-ordered window
    (a per-sink full-table cumsum would serialize a 100 TB sink onto
    one reducer):

      1. bucket totals: sum bytes per (sink, `ts` day) — a tiny
         frame (sinks x days) — and a newest-first cumulative sum
         over it picks, per sink, the buckets kept in full and the ONE
         boundary bucket that straddles the budget.
      2. only boundary-bucket rows (bounded by bucket width) get the
         row-level newest-first cumsum; full buckets pass through with
         no window at all.

    Row order within the budget is total and deterministic:
    (ts DESC, conv_id, turn_idx) — never arrival order.
    """
    order_cols = ("conv_id", "turn_idx")
    b = per_sink.withColumn("_rb_bytes", F.length("text").cast("bigint")).withColumn(
        "_rb_bkt", F.date_trunc("day", F.col("ts"))
    )
    btot = b.groupBy("sink", "_rb_bkt").agg(
        F.sum("_rb_bytes").alias("_rb_btotal")
    )
    wb = (
        Window.partitionBy("sink")
        .orderBy(F.desc("_rb_bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bcum = btot.withColumn(
        "_rb_prior", F.coalesce(F.sum("_rb_btotal").over(wb), F.lit(0))
    )
    joined = b.join(F.broadcast(bcum), ["sink", "_rb_bkt"])
    keep_cols = ["sink", *order_cols, "ts", F.col("_rb_bytes").alias("nbytes")]
    full = joined.filter(
        F.col("_rb_prior") + F.col("_rb_btotal") <= F.lit(budget_bytes)
    ).select(*keep_cols)
    wr = (
        Window.partitionBy("sink", "_rb_bkt")
        .orderBy(F.desc("ts"), *[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    boundary = (
        joined.filter(
            (F.col("_rb_prior") < F.lit(budget_bytes))
            & (F.col("_rb_prior") + F.col("_rb_btotal") > F.lit(budget_bytes))
        )
        .withColumn("_rb_cum", F.sum("_rb_bytes").over(wr))
        .filter(F.col("_rb_prior") + F.col("_rb_cum") <= F.lit(budget_bytes))
        .select(*keep_cols)
    )
    return full.unionByName(boundary)


def gelf_chunk_plan(
    df: DataFrame,
    payload_col: str = "text",
    pckt_size: int = 8192,
) -> DataFrame:
    """Chunked-GELF delivery accounting (plugins/out_gelf/gelf.c:
    gelf_send_udp_chunked): per record, the exact number of UDP
    datagrams and wire bytes the reference would emit —

    - payload <= pckt_size: ONE bare datagram, wire = payload bytes;
    - else ceil(len/pckt_size) chunks, each + the 12-byte
      MAGIC|MSGID|SEQ|NUM header;
    - over 128 chunks: protocol error, message dropped (wire 0).

    Pure JVM column math (closed form), so it prices a sink's UDP
    budget over 100 TB in one map pass; the byte-level chunker lives
    in functions/wire.py (`gelf_chunk`).
    """
    plen = F.octet_length(F.col(payload_col))
    chunks = F.expr(
        f"(octet_length({payload_col}) + {pckt_size} - 1) div {pckt_size}"
    )
    chunked = plen > F.lit(pckt_size)
    dropped = chunked & (chunks > F.lit(128))
    return df.withColumns(
        {
            "payload_bytes": plen.cast("long"),
            "chunked": chunked,
            "n_chunks": F.when(chunked, chunks).otherwise(F.lit(1)).cast("long"),
            "dropped": dropped,
            "wire_bytes": F.when(dropped, F.lit(0))
            .when(chunked, plen + F.lit(12) * chunks)
            .otherwise(plen)
            .cast("long"),
        }
    )


def prometheus_exposition(
    counts: DataFrame,
    metric: str = "fbs_turns_total",
    label_cols: tuple[str, ...] = ("role", "tool"),
) -> DataFrame:
    """Prometheus text exposition format over an aggregated counter
    frame: `metric{label="v",...} n` — the rendering the
    reference's metrics exporter surface (src/flb_metrics_exporter.c
    counters; out_prometheus in later lines) exposes to scrapes.
    Label values escape backslash, double-quote, and newline per the
    exposition spec; NULL labels render as empty strings (Prometheus
    has no null labels). Sorted-label order is fixed by `label_cols`
    so lines are deterministic."""

    def esc(c):
        return F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.coalesce(c.cast("string"), F.lit("")),
                    r"\\", r"\\\\",
                ),
                '"', '\\\\"',
            ),
            r"\n", r"\\n",
        )

    labels = F.concat_ws(
        ",",
        *[
            F.concat(F.lit(c + '="'), esc(F.col(c)), F.lit('"'))
            for c in label_cols
        ],
    )
    line = F.concat(
        F.lit(metric + "{"),
        labels,
        F.lit("} "),
        F.col("n").cast("string"),
    )
    return counts.select(*label_cols, F.col("n"), line.alias("line"))


def cloudwatch_events_transform(df: DataFrame) -> DataFrame:
    """out_cloudwatch_logs PutLogEvents event rendering
    (plugins/out_cloudwatch_logs/cloudwatch_api.c:258 write_event):
    `{"timestamp":<epoch_ms>,"message":"<record json, escaped>"}` —
    built as one nested to_json so the inner record lands as a
    properly escaped JSON string, byte-identical to the reference's
    concatenation."""
    record = F.to_json(F.struct("conv_id", "turn_idx", "role", "text"))
    ms = (_epoch_seconds(F.col("ts")) * 1000).cast("long")
    return df.select(
        "conv_id",
        "turn_idx",
        F.to_json(
            F.struct(ms.alias("timestamp"), record.alias("message"))
        ).alias("event"),
    )


def bigquery_rows_transform(df: DataFrame) -> DataFrame:
    """out_bigquery insertAll envelope (plugins/out_bigquery/
    bigquery.c:352-391: kind + rows of {"json": record}, no insertId
    — the reference skips duplicate detection). One request row per
    record here; batching rows-per-request is the writer's knob."""
    record = F.to_json(F.struct("conv_id", "turn_idx", "role", "text"))
    return df.select(
        "conv_id",
        "turn_idx",
        F.concat(
            F.lit('{"kind":"bigquery#tableDataInsertAllRequest","rows":[{"json":'),
            record,
            F.lit("}]}"),
        ).alias("payload"),
    )


def azure_log_transform(
    df: DataFrame, log_type: str = "fluentbit"
) -> DataFrame:
    """out_azure Log Analytics body (plugins/out_azure/azure.c:60-113):
    each record map gets the `@timestamp` time key prepended (epoch
    DOUBLE, azure.h:29 FLB_AZURE_TIME_KEY) and ships under the custom
    Log-Type header (azure.h:28). The epoch double rides as its own
    column rather than inside the JSON text: JSON float FORMATTING is
    engine-specific, so embedding it would turn a formatting quirk
    into a false gate failure — the value itself is still compared
    exactly."""
    record = F.to_json(F.struct("conv_id", "turn_idx", "role", "text"))
    return df.select(
        "conv_id",
        "turn_idx",
        F.lit(log_type).alias("log_type"),
        _epoch_seconds(F.col("ts")).alias("timestamp"),
        record.alias("line"),
    )


def slack_text_transform(df: DataFrame) -> DataFrame:
    """out_slack payload fragments (plugins/out_slack/slack.c:179-198):
    every record renders as
    `["timestamp": <sec>.<9-digit nsec>, <msgpack print of the map>]`
    and the plugin newline-joins them into one `{"text": ...}` body.
    msgpack_object_print renders maps as `{"k"=>v, ...}` with string
    values quoted RAW (no escaping) — so the fragment is plain
    deterministic concatenation here too. One fragment row per record;
    the writer's newline join is an agg over fragments."""
    us = (_epoch_seconds(F.col("ts")) * 1_000_000).cast("long")
    sec = F.expr("_us div 1000000")
    nsec = (F.col("_us") % 1_000_000) * 1000
    return (
        df.withColumn("_us", us)
        .select(
            "conv_id",
            "turn_idx",
            F.concat(
                F.lit('["timestamp": '),
                sec.cast("string"),
                F.lit("."),
                F.lpad(nsec.cast("string"), 9, "0"),
                F.lit(', {"conv_id"=>"'),
                F.col("conv_id"),
                F.lit('", "turn_idx"=>'),
                F.col("turn_idx").cast("string"),
                F.lit(', "role"=>"'),
                F.col("role"),
                F.lit('", "text"=>"'),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit('"}]'),
            ).alias("fragment"),
        )
    )


def logdna_lines_transform(df: DataFrame) -> DataFrame:
    """out_logdna `lines` entries (plugins/out_logdna/logdna.c:150-199):
    each record becomes {app, timestamp: int seconds, line: record
    json}; `app` is the config default "Fluent Bit" (logdna.c:561),
    which applies when the record carries none — transcripts don't."""
    record = F.to_json(F.struct("conv_id", "turn_idx", "role", "text"))
    return df.select(
        "conv_id",
        "turn_idx",
        F.lit("Fluent Bit").alias("app"),
        _epoch_seconds(F.col("ts")).cast("long").alias("timestamp"),
        record.alias("line"),
    )


def nats_pairs_transform(df: DataFrame) -> DataFrame:
    """out_nats payload entries (plugins/out_nats/nats.c: each event
    re-packs as [double ts, map + "tag"]): the record json carries the
    injected tag key; the event-time double rides as its own column
    (JSON float formatting is engine-specific, same split as the azure
    envelope)."""
    tag = F.concat(F.lit("fbs."), F.col("role"))
    record = F.to_json(
        F.struct(
            "conv_id", "turn_idx", "role", "text", tag.alias("tag")
        )
    )
    return df.select(
        "conv_id",
        "turn_idx",
        _epoch_seconds(F.col("ts")).alias("timestamp"),
        record.alias("payload"),
    )


def kinesis_records_transform(
    df: DataFrame, cols: list[str] | None = None, key_col: str = "conv_id"
) -> DataFrame:
    """out_kinesis_streams PutRecords entries
    (plugins/out_kinesis_streams/kinesis_api.c:148-166):
    `{"Data":"<base64 record>","PartitionKey":"<key>"}`. The reference
    randomizes the key per flush (kinesis_api.c:104
    random_partition_key mixes wall-clock into a djb2 hash) — here the
    key is the conv_id, a deliberate deviation: deterministic for the
    gate AND the keying a transcript stream actually wants (random
    keys scatter a conversation across shards and lose its ordering;
    conv_id keying preserves it, the same co-location contract as the
    pipeline's conv_id repartitioning).

    Spark's ``base64`` emits RFC 2045 MIME chunking (CRLF every 76
    chars); Kinesis Data is RFC 4648 standard base64, so the line
    breaks are stripped JVM-side.

    `cols`/`key_col` generalize the record shape for the config-driven
    path (arbitrary routed records); the defaults are the transcript
    contract the driver gate checks.  The entry itself goes through
    to_json so a partition key containing JSON specials is escaped."""
    record = _record_json(cols)
    entry = F.to_json(
        F.struct(
            _b64_std(record).alias("Data"),
            F.col(key_col).alias("PartitionKey"),
        )
    ).alias("entry")
    ids = [c for c in ("conv_id", "turn_idx") if c in df.columns] or [key_col]
    return df.select(*ids, entry)


def _iso8601_us(c: Column) -> Column:
    """FLB_PACK_JSON_DATE_ISO8601 rendering (src/flb_pack.c:878-889):
    strftime '%Y-%m-%dT%H:%M:%S' + '.%06uZ' microseconds -- the
    reference truncates nanoseconds to micros, which is our native
    precision."""
    ltz = c.cast("timestamp_ltz")
    return F.concat(
        F.date_format(ltz, "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit("."),
        F.lpad((F.unix_micros(ltz) % 1_000_000).cast("string"), 6, "0"),
        F.lit("Z"),
    )


def _record_json(cols: list[str] | None) -> Column:
    """Record map as JSON with NULL fields RENDERED (to_json's default
    drops them, which both deviates from the reference -- msgpack packs
    nil values -- and breaks the date-key splice below: an all-NULL
    record would render '{}' and the spliced line '{"date":...,}' is
    invalid JSON)."""
    return F.to_json(
        F.struct(*(cols or ["conv_id", "turn_idx", "role", "text"])),
        {"ignoreNullFields": "false"},
    )


def _b64_std(c: Column) -> Column:
    """RFC 4648 standard base64: Spark's ``base64`` emits RFC 2045
    MIME chunking (CRLF every 76 chars); strip it JVM-side."""
    return F.regexp_replace(F.base64(F.encode(c, "utf-8")), "[\\r\\n]", "")


def _dated_record(
    date_value: Column, cols: list[str] | None = None, date_key: str = "date"
) -> Column:
    """Record JSON with the injected leading date key
    (src/flb_pack.c:866-896: date_key is packed FIRST, then the
    original map's keys in order).  `date_value` must already be
    rendered as a JSON value (quoted string or bare number);
    `date_key` is the configurable json_date_key / timestamp_key name
    and is JSON-escaped here so it always matches the key any
    downstream extractor (e.g. pgsql's value->>'<key>') looks up."""
    import json as _json

    tail = _record_json(cols)
    return F.concat(
        F.lit("{" + _json.dumps(date_key) + ":"),
        date_value,
        F.lit(","),
        F.substring(tail, 2, 1 << 30),
    )


def _date_double_num(ts_col: str) -> Column:
    """FLB_PACK_JSON_DATE_DOUBLE rendered fixed-point with 6 decimals
    (src/flb_pack.c:866-874 packs seconds.nanos as a double) -- exact
    at our native microsecond precision and deterministic across
    engines, where C's %.17g double formatting would not be.

    Pre-epoch timestamps render sign-magnitude: us = -1_500_000 is
    '-1.500000' (decimal text has no floor/positive-fraction split --
    '-2.500000' would parse as -2.5 -- and a raw %-remainder would
    have emitted the malformed '-2.-50000' after lpad truncation)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    a = F.abs(us)
    return F.concat(
        F.when(us < 0, F.lit("-")).otherwise(F.lit("")),
        F.floor(a / 1_000_000).cast("long").cast("string"),
        F.lit("."),
        F.lpad((a % 1_000_000).cast("string"), 6, "0"),
    )


def _chunked(df: DataFrame, rec: Column, group_cols: list[str] | None,
             order_col: str):
    """Shared flush-chunk aggregation for the grouped envelopes: tag
    derivation default, one hash exchange on the chunk key, map-side
    partial collect_list, deterministic in-chunk order by (order_col,
    rendered record)."""
    staged = df.withColumn("_rec", rec)
    if group_cols is None:
        staged = staged.withColumn("tag", F.concat(F.lit("fbs."), F.col("role")))
        group_cols = ["tag", "conv_id"]
    grouped = staged.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list(F.struct(order_col, "_rec"))).alias("_r"),
        F.count("*").cast("long").alias("n_records"),
    )
    return grouped, group_cols, F.transform(F.col("_r"), lambda x: x["_rec"])


def http_body_transform(
    df: DataFrame,
    fmt: str = "lines",
    cols: list[str] | None = None,
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    group_cols: list[str] | None = None,
    json_date_key: str = "date",
    json_date_format: str = "iso8601",
) -> DataFrame:
    """out_http JSON body formats (plugins/out_http/http.c:317-321 ->
    src/flb_pack.c:780 flb_pack_msgpack_to_json_format): per flush
    chunk, records with the injected `date` key rendered as

    - lines:  one record per line, '\\n' after EVERY record
      (flb_pack.c:955-961 appends the breakline per iteration);
    - stream: records concatenated with no separator;
    - json:   one JSON array of records.

    Date key/format are the plugin's json_date_key / json_date_format
    properties (plugins/out_http/http_conf.c:150-180): iso8601
    (flb_pack.c:878-889, microsecond precision) or double
    (FLB_PACK_JSON_DATE_DOUBLE, the reference's default -- rendered
    fixed-point 6-decimal here, see _date_double_num).
    A flush chunk here is one (tag, conv_id) group -- the reference
    flushes per tag chunk; scoping by conversation bounds the body
    size (a conversation's turns) no matter the corpus size, so the
    collect_list state per key stays small at 100 TB.  One shuffle on
    the group key; record rendering is pure JVM string math."""
    if fmt not in ("lines", "stream", "json"):
        raise ValueError(f"unknown http body format: {fmt}")
    if json_date_format == "iso8601":
        date_val = F.concat(F.lit('"'), _iso8601_us(F.col(ts_col)), F.lit('"'))
    elif json_date_format == "double":
        date_val = _date_double_num(ts_col)
    else:
        raise ValueError(
            f"unknown json_date_format: {json_date_format} (iso8601/double)"
        )
    rec = _dated_record(date_val, cols=cols, date_key=json_date_key)
    grouped, group_cols, recs = _chunked(df, rec, group_cols, order_col)
    if fmt == "lines":
        body = F.concat(F.array_join(recs, "\n"), F.lit("\n"))
    elif fmt == "stream":
        body = F.array_join(recs, "")
    else:
        body = F.concat(F.lit("["), F.array_join(recs, ","), F.lit("]"))
    return grouped.select(*group_cols, body.alias("body"), "n_records")


def firehose_records_transform(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """out_kinesis_firehose PutRecordBatch entries
    (plugins/out_kinesis_firehose/firehose_api.c:105,252-260):
    `{"Data":"<base64(record + '\\n')>"}` -- unlike Kinesis Streams,
    Firehose appends a newline to every record before encoding (the
    delivery-stream concatenation contract) and has no partition key.
    Spark's base64 MIME chunking is stripped (RFC 4648)."""
    record = _record_json(cols)
    b64 = _b64_std(F.concat(record, F.lit("\n")))
    entry = F.concat(F.lit('{"Data":"'), b64, F.lit('"}')).alias("entry")
    ids = [c for c in ("conv_id", "turn_idx") if c in df.columns]
    return df.select(*ids, entry)


def pgsql_insert_transform(
    df: DataFrame,
    table: str = "fluentbit",
    timestamp_key: str = "date",
    cols: list[str] | None = None,
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """out_pgsql query rendering (plugins/out_pgsql/pgsql.c:268-328,
    template pgsql.h:39 FLB_PGSQL_INSERT): per flush chunk, the JSON
    array of date-keyed records is single-quote-escaped like
    PQescapeLiteral (double every internal quote, wrap in quotes) and
    splatted into

        INSERT INTO <table> SELECT '<tag>',
          to_timestamp(CAST(value->>'<timestamp_key>' as FLOAT)),
          * FROM json_array_elements('<json>');

    The date value is the reference's FLB_PACK_JSON_DATE_DOUBLE
    (pgsql.c:270) rendered fixed-point with 6 decimals -- exact at our
    native microsecond precision and deterministic across engines,
    where C's %.17g double formatting would not be.

    A flush chunk is one (tag, conv_id) group (the reference flushes
    per tag chunk; conversation scoping bounds the statement size), so
    one group-key shuffle and pure-JVM string math at any scale."""
    rec = _dated_record(
        _date_double_num(ts_col), cols=cols, date_key=timestamp_key
    )
    grouped, group_cols, recs = _chunked(df, rec, group_cols, order_col)
    arr = F.concat(F.lit("["), F.array_join(recs, ","), F.lit("]"))
    escaped = F.concat(F.lit("'"), F.regexp_replace(arr, "'", "''"), F.lit("'"))
    # the tag goes through the same PQescapeLiteral quote doubling as
    # the json (pgsql.c:295 escapes BOTH); the table name is spliced
    # raw exactly like the reference's snprintf of ctx->db_table
    tag_escaped = F.regexp_replace(F.col(group_cols[0]), "'", "''")
    # the extractor's SQL string literal gets the same PQescapeLiteral
    # quote doubling as the tag/json (a key like a'b would otherwise
    # terminate the literal and break/inject the statement)
    key_sql = timestamp_key.replace("'", "''")
    query = F.concat(
        F.lit(f"INSERT INTO {table} SELECT '"),
        tag_escaped,
        F.lit(f"', to_timestamp(CAST(value->>'{key_sql}' as FLOAT)),"
              " * FROM json_array_elements("),
        escaped,
        F.lit(");"),
    )
    return grouped.select(*group_cols, query.alias("query"), "n_records")


def kafka_rest_records_transform(
    df: DataFrame,
    time_key: str = "@timestamp",
    cols: list[str] | None = None,
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """out_kafka_rest request body (plugins/out_kafka_rest/
    kafka.c:150-232): `{"records":[{"value":{...}},...]}` where each
    value map leads with the time key (default '@timestamp',
    kafka.h:24) rendered as '%Y-%m-%dT%H:%M:%S' + '.%09luZ'
    nanoseconds (kafka.c:221-226) -- our microsecond timestamps carry
    three trailing zeros -- followed by the original record keys.
    One body per (tag, conv_id) flush chunk, same scale shape as
    http_body_transform."""
    ltz = F.col(ts_col).cast("timestamp_ltz")
    iso_ns = F.concat(
        F.date_format(ltz, "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit("."),
        F.lpad(((F.unix_micros(ltz) % 1_000_000) * 1000).cast("string"), 9, "0"),
        F.lit("Z"),
    )
    import json as _json

    tail = _record_json(cols)
    entry = F.concat(
        F.lit('{"value":{%s:"' % _json.dumps(time_key)),
        iso_ns,
        F.lit('",'),
        F.substring(tail, 2, 1 << 30),
        F.lit("}"),
    )
    grouped, group_cols, recs = _chunked(df, entry, group_cols, order_col)
    body = F.concat(
        F.lit('{"records":['), F.array_join(recs, ","), F.lit("]}")
    )
    return grouped.select(*group_cols, body.alias("body"), "n_records")


def newrelic_payload_transform(
    df: DataFrame,
    message_col: str = "text",
    attr_cols: list[str] | None = None,
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """out_nrlogs Logs-API payload (plugins/out_nrlogs/
    newrelic.c:58-203): one `[{"common":{"attributes":{}},
    "logs":[...]}]` envelope per flush chunk; each log entry leads
    with the ms timestamp (newrelic.c:92-97), lifts the record's
    message key to top level (:99-113 -- here the turn text IS the
    message), and nests the remaining keys under attributes
    (:114-137). One payload per conv_id chunk."""
    attrs = attr_cols or ["conv_id", "turn_idx", "role"]
    entry = F.to_json(
        F.struct(
            (F.unix_micros(F.col(ts_col).cast("timestamp_ltz")) / 1000)
            .cast("long")
            .alias("timestamp"),
            F.coalesce(F.col(message_col), F.lit("")).alias("message"),
            F.struct(*attrs).alias("attributes"),
        )
    )
    grouped, group_cols, recs = _chunked(
        df, entry, group_cols if group_cols is not None else ["conv_id"], order_col
    )
    payload = F.concat(
        F.lit('[{"common":{"attributes":{}},"logs":['),
        F.array_join(recs, ","),
        F.lit("]}]"),
    )
    return grouped.select(*group_cols, payload.alias("payload"), "n_records")


def es_bulk_transform(
    df: DataFrame,
    prefix: str = "logstash",
    cols: list[str] | None = None,
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Elasticsearch _bulk NDJSON body (plugins/out_es/es_bulk.h:28-31
    ES_BULK_INDEX_FMT_ID_WITHOUT_TYPE + es_bulk.c es_bulk_append): per
    record an action line `{"index":{"_index":"...","_id":"..."}}`
    then the source document, each newline-terminated; one body per
    (_index, conv_id) flush chunk (the daily logstash index is the
    reference's write granularity; conversation scoping bounds the
    body).  The _id here is an md5-slice of the record JSON -- the
    repo's deterministic oracle-checkable stand-in for Generate_ID
    (the reference-exact murmur3 UUID lives in
    functions/hashing.es_generate_id and is reference-vector-tested;
    DuckDB cannot reproduce it)."""
    rec = _record_json(cols)
    idx = F.concat(F.lit(prefix + "-"), F.date_format(F.col(ts_col), "yyyy.MM.dd"))
    pair = F.concat(
        F.lit('{"index":{"_index":"'),
        idx,
        F.lit('","_id":"'),
        F.substring(F.md5(rec), 1, 16),
        F.lit('"}}\n'),
        rec,
        F.lit("\n"),
    )
    group_cols = ["_index"] + (
        group_cols if group_cols is not None else ["conv_id"]
    )
    grouped, group_cols, recs = _chunked(
        df.withColumn("_index", idx), pair, group_cols, order_col
    )
    body = F.array_join(recs, "")
    return grouped.select(*group_cols, body.alias("body"), "n_records")
