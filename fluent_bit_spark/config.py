"""Config-driven pipeline — the reference's primary interface.

Parses the classic Fluent Bit INI-style config ([SERVICE]/[INPUT]/
[FILTER]/[OUTPUT] sections with `Key Value` lines, repeated keys
allowed — src/fluent-bit.c:650 flb_service_conf) and compiles it into
the DataFrame pipeline, preserving the reference's composition rules:

- each INPUT produces a tagged frame (tag fixed per input instance);
- FILTERs apply IN CONFIG ORDER to records whose tag matches the
  filter's Match glob (src/flb_filter.c:56-128); non-matching records
  pass through untouched;
- each OUTPUT receives records whose tag matches its Match glob
  (src/flb_router.c); zero-match records are dropped; an output is an
  aggregate (counter/flowcounter), a debug sink (stdout/null), a file,
  or a delivery plugin whose envelope is written as files.

Supported plugin names (the Spark-expressible surface):
  inputs : dummy, tail, parquet (extension), transcripts (extension),
           syslog, kmsg, systemd, statsd, cpu, mem, disk, netif,
           thermal, random
  filters: grep, record_modifier, modify, nest, lift, parser,
           throttle, throttle_size, alter_size, geoip2/apm_geoip,
           lookup/apm_ldap, rewrite_tag, expect, lua (python callable),
           tensorflow, kubernetes, aws, apm_uaparser,
           apm_url_normalizer, apm_message_formatter,
           apm_goals_airflow, apm_kubernetes_labels, stdout, sampling
  outputs: counter, flowcounter, stdout, null, file, es, loki, splunk,
           datadog, gelf, http, kinesis_streams, kinesis_firehose,
           pgsql, kafka_rest, nrlogs, es_bulk, cloudwatch_logs,
           bigquery, azure, slack, logdna, nats, stackdriver, influxdb,
           syslog, prometheus_exporter, gelf_chunked

Example:
    [INPUT]
        Name dummy
        Dummy {"message": "hello", "code": 200}
        Samples 10
        Tag app.log
    [FILTER]
        Name grep
        Match app.*
        Regex message hel
    [OUTPUT]
        Name counter
        Match *
"""

from __future__ import annotations

import csv
import functools
import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_bit_spark import sinks as SK
from fluent_bit_spark.operators import filters as FL
from fluent_bit_spark.operators import route as R
from fluent_bit_spark.operators.aggregate import flowcounter
from fluent_bit_spark.operators.parse import apply_regex_parser
from fluent_bit_spark.session import local_frame


class ConfigError(ValueError):
    pass


@dataclass
class Section:
    kind: str  # SERVICE | INPUT | FILTER | OUTPUT
    entries: list[tuple[str, str]] = field(default_factory=list)

    def get(self, key: str, default: str | None = None) -> str | None:
        for k, v in self.entries:
            if k.lower() == key.lower():
                return v
        return default

    def get_all(self, key: str) -> list[str]:
        return [v for k, v in self.entries if k.lower() == key.lower()]


def _parse_config_line(line: str, sections: list[Section]) -> None:
    """The one section-header/entry grammar, shared by parse_config and
    load_config_file (a grammar change must apply to both)."""
    if line.startswith("[") and line.endswith("]"):
        sections.append(Section(line[1:-1].strip().upper()))
        return
    if not sections:
        raise ConfigError(f"entry outside any section: {line!r}")
    parts = line.split(None, 1)
    sections[-1].entries.append((parts[0], parts[1] if len(parts) > 1 else ""))


def parse_config(text: str) -> list[Section]:
    sections: list[Section] = []
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        _parse_config_line(line, sections)
    return sections


_META_SET = re.compile(r"^@SET\s+([^=\s]+)\s*=\s*(.*)$", re.IGNORECASE)
_VAR = re.compile(r"\$\{([^}]+)\}")


def load_config_file(path: str) -> list[Section]:
    """Load a config file with the reference's meta commands:

    - `@INCLUDE <path>` inlines another file at that point; a `*` makes
      it a glob; relative paths resolve against the including file's
      directory (mk_core/mk_rconf.c:266-283).
    - `@SET key=value` registers a config variable (src/flb_meta.c:38).
    - `${VAR}` in entry values is translated after parsing: @SET
      variables first, then the process environment, else the empty
      string (src/flb_env.c:161 single left-to-right pass, no
      recursion).
    """
    import glob as _glob

    env: dict[str, str] = {}
    sections: list[Section] = []

    def read_one(p: str, depth: int) -> None:
        if depth > 8:
            raise ConfigError(f"@INCLUDE nesting too deep at {p!r}")
        base = os.path.dirname(os.path.abspath(p))
        try:
            with open(p) as f:
                text = f.read()
        except OSError as e:
            raise ConfigError(f"cannot read config file {p!r}: {e}") from e
        for raw in text.splitlines():
            line = raw.strip()
            if not line or line.startswith("#"):
                continue
            if line[:9].upper() == "@INCLUDE ":
                target = line[9:].strip()
                if not os.path.isabs(target):
                    target = os.path.join(base, target)
                if "*" in target:
                    matches = sorted(_glob.glob(target))
                    if not matches:
                        raise ConfigError(f"@INCLUDE glob matched nothing: {target!r}")
                    for m in matches:
                        read_one(m, depth + 1)
                else:
                    read_one(target, depth + 1)
                continue
            m = _META_SET.match(line)
            if m:
                env[m.group(1)] = m.group(2)
                continue
            if line.startswith("@"):
                raise ConfigError(f"unknown meta command: {line!r}")
            _parse_config_line(line, sections)

    read_one(path, 0)

    def translate(v: str) -> str:
        return _VAR.sub(
            lambda m: env.get(m.group(1), os.environ.get(m.group(1), "")), v
        )

    for s in sections:
        s.entries = [(k, translate(v)) for k, v in s.entries]
    return sections


@dataclass
class ParserSpec:
    """One [PARSER] section of a parsers.conf (the reference's
    conf/parsers.conf shapes: Name/Format/Regex/Time_Key/Time_Format/
    Time_Keep/Types — src/flb_parser.c config loading)."""

    name: str
    format: str  # regex | grok | json | ltsv | logfmt
    regex: str | None = None
    time_key: str | None = None
    time_format: str | None = None
    time_keep: bool = True
    types: dict[str, str] = field(default_factory=dict)


def parse_parsers_conf(text: str) -> dict[str, ParserSpec]:
    """Load [PARSER] sections into ParserSpec objects."""
    out: dict[str, ParserSpec] = {}
    for s in parse_config(text):
        if s.kind != "PARSER":
            continue
        types: dict[str, str] = {}
        for decl in s.get_all("Types"):
            for item in decl.split():
                k, _, t = item.partition(":")
                types[k] = t
        spec = ParserSpec(
            name=s.get("Name"),
            format=(s.get("Format") or "regex").lower(),
            regex=s.get("Regex") or s.get("Grok_Pattern"),
            time_key=s.get("Time_Key"),
            time_format=s.get("Time_Format"),
            time_keep=(s.get("Time_Keep", "on").lower() != "off"),
            types=types,
        )
        out[spec.name] = spec
    return out


def apply_parser_spec(df: DataFrame, spec: ParserSpec, key: str = "log") -> DataFrame:
    """Run one named parser against a field, reference semantics
    (regex named groups / json / ltsv / logfmt + typecast + time
    lookup). Spark `to_timestamp` patterns are used for Time_Format;
    common strptime directives are translated."""
    from fluent_bit_spark.operators.parse import (
        json_parser,
        logfmt_parser,
        ltsv_parser,
        time_lookup,
        typecast,
    )

    if spec.format == "grok":
        # Format grok + Grok_Pattern (or Regex) with %{NAME:field:type}
        # macros; :int/:float casts merge under any explicit Types
        from fluent_bit_spark.operators.grok import GrokError, apply_grok

        if not spec.regex:
            raise ConfigError(
                f"parser {spec.name!r}: Format grok requires Grok_Pattern (or Regex)"
            )
        try:
            return apply_grok(
                df,
                spec.regex,
                source=key,
                types=spec.types or None,
                time_key=spec.time_key,
                time_format=_strptime_to_spark(spec.time_format)
                if spec.time_format
                else None,
                time_keep=spec.time_keep,
            )
        except GrokError as exc:
            raise ConfigError(f"parser {spec.name!r}: {exc}") from exc
    if spec.format == "regex":
        return apply_regex_parser(
            df,
            spec.regex,
            source=key,
            types=spec.types or None,
            time_key=spec.time_key,
            time_format=_strptime_to_spark(spec.time_format) if spec.time_format else None,
            time_keep=spec.time_keep,
        )
    if spec.format == "json":
        # schema-on-read from declared Types (string default)
        fields = ", ".join(
            f"{k} {_ddl_type(t)}" for k, t in (spec.types or {"message": "string"}).items()
        )
        df = json_parser(df, f"struct<{fields}>", source=key)
    elif spec.format == "ltsv":
        df = ltsv_parser(df, source=key)
    elif spec.format == "logfmt":
        df = logfmt_parser(df, source=key)
    else:
        raise ConfigError(f"unsupported parser format {spec.format!r}")
    if spec.time_key and spec.time_key in df.columns:
        df = time_lookup(
            df,
            spec.time_key,
            _strptime_to_spark(spec.time_format) if spec.time_format else None,
            keep=spec.time_keep,
        )
    if spec.types and spec.format != "json":
        present = {k: t for k, t in spec.types.items() if k in df.columns}
        if present:
            df = typecast(df, present)
    return df


_STRPTIME_MAP = [
    ("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"), ("%b", "MMM"),
    ("%H", "HH"), ("%M", "mm"), ("%S", "ss"), ("%L", "SSS"), ("%z", "Z"),
]


def _strptime_to_spark(fmt: str) -> str:
    for a, b in _STRPTIME_MAP:
        fmt = fmt.replace(a, b)
    return fmt


def _ddl_name(name: str) -> str:
    """A column name from a user file, quoted for a DDL schema."""
    return "`" + name.replace("`", "``") + "`"


def _read_dim_csv(path: str, shape: str, what: str) -> list[tuple[int, list[str]]]:
    """The (line number, row) pairs of a filter's csv dim file: blank
    lines skipped, every row exactly the columns `shape` names, and at
    least one row."""
    rows = []
    with open(path) as f:
        for lineno, rec in enumerate(csv.reader(f), start=1):
            if not rec or all(not c.strip() for c in rec):
                continue  # blank/whitespace line
            if len(rec) != len(shape.split(",")):
                raise ConfigError(
                    f"{path}:{lineno}: expected {shape} (got {len(rec)} columns)"
                )
            rows.append((lineno, rec))
    if not rows:
        raise ConfigError(f"csv file {path!r} has no {what}")
    return rows


def _ddl_type(t: str) -> str:
    return {
        "integer": "bigint", "int": "bigint", "float": "double",
        "bool": "boolean", "boolean": "boolean", "hex": "string",
    }.get(t, "string")


def _match_predicate(match: str) -> Column:
    """The records a Match glob selects, for filters and outputs alike:
    never NULL, and a NULL tag matches nothing."""
    return F.coalesce(R.glob_predicate(F.col("tag"), match), F.lit(False))


# an output resolves its timestamp and message columns once, as the
# first of these present; `need` names an unresolved one by its role
_TS_COLS = ("ts", "time", "event_time")
_MSG_COLS = ("text", "log", "message")
_TS = f"a timestamp column ({'/'.join(_TS_COLS)})"
_MSG = f"a message column ({'/'.join(_MSG_COLS)})"
_REC = "a record column (any column but tag and the timestamp)"
# outputs that return their value instead of writing under output_base
_VALUE_OUTPUTS = ("counter", "flowcounter", "stdout", "null")


class ConfigPipeline:
    """Compile + run a parsed config against a SparkSession."""

    def __init__(
        self,
        config: str | list[Section],
        lua_functions: dict | None = None,
    ):
        self.sections = parse_config(config) if isinstance(config, str) else config
        self.lua_functions = lua_functions or {}
        self.parsers: dict = {}

    # -- inputs -------------------------------------------------------------
    def _input_frame(self, spark: SparkSession, s: Section) -> DataFrame:
        name = (s.get("Name") or "").lower()
        tag = s.get("Tag", f"{name}.0")
        if name == "dummy":
            from fluent_bit_spark.sources import in_dummy

            record = json.loads(s.get("Dummy", '{"message": "dummy"}'))
            return in_dummy(
                spark,
                record,
                samples=int(s.get("Samples", "10")),
                start=s.get("Start_Time", "2024-01-01 00:00:00"),
                interval_sec=float(s.get("Interval_Sec", "1")),
                tag=tag,
            )
        if name == "tail":
            from fluent_bit_spark.sources import multiline_join, read_text_lines, tail_tag

            lines = read_text_lines(spark, s.get("Path"))
            first = s.get("Multiline_Firstline")
            if first:
                lines = multiline_join(lines, first).withColumnRenamed("text", "log")
            else:
                lines = lines.withColumnRenamed("line", "log")
            # '*' / <capture> tags expand per file (tail_file.c:426-545)
            tag_col = tail_tag(tag, F.col("file"), s.get("Tag_Regex"))
            return lines.withColumn("tag", tag_col).withColumn(
                "ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
            )
        if name == "parquet":
            df = spark.read.parquet(s.get("Path"))
            return df.withColumn("tag", F.lit(tag))
        if name == "transcripts":
            from fluent_bit_spark.transcripts import load_transcripts

            df = load_transcripts(spark, s.get("Path"))
            return df.withColumn("tag", F.lit(tag))
        if name == "syslog":
            # plugins/in_syslog: RFC5424 datagrams -> parsed records.
            # Mode udp/tcp/unix_* name a socket transport; the batch
            # analog reads the same wire lines from Path (SURVEY
            # contract: transport <-> batch table).
            from fluent_bit_spark.sources import (
                parse_syslog_rfc5424,
                read_text_lines,
            )

            if not s.get("Path"):
                raise ConfigError("syslog input needs a Path (file of "
                                  "RFC5424 lines; socket transports have "
                                  "no batch analog)")
            lines = read_text_lines(spark, s.get("Path"))
            return parse_syslog_rfc5424(lines).withColumn("tag", F.lit(tag))
        if name == "kmsg":
            # plugins/in_kmsg: /dev/kmsg line grammar; Path is the
            # captured ring buffer (the device itself needs a kernel).
            from fluent_bit_spark.sources import parse_kmsg, read_text_lines

            if not s.get("Path"):
                raise ConfigError("kmsg input needs a Path (captured "
                                  "/dev/kmsg lines)")
            lines = read_text_lines(spark, s.get("Path"))
            return parse_kmsg(
                lines, boot_time=s.get("Boot_Time", "2024-01-01 00:00:00")
            ).withColumn("tag", F.lit(tag))
        if name == "systemd":
            # plugins/in_systemd: journal entries; Path is the journal
            # EXPORT serialization (journalctl -o export), the wire
            # form of what libsystemd yields.
            from fluent_bit_spark.sources import (
                parse_journal_export,
                read_text_lines,
            )

            if not s.get("Path"):
                raise ConfigError("systemd input needs a Path (journal "
                                  "export file)")
            lines = read_text_lines(spark, s.get("Path"))
            keys = tuple(s.get_all("Key")) or (
                "PRIORITY", "MESSAGE", "_SYSTEMD_UNIT", "_PID",
            )
            return parse_journal_export(lines, keys=keys).withColumn(
                "tag", F.lit(tag)
            )
        if name == "statsd":
            # plugins/in_statsd: one datagram per line from Path.
            from fluent_bit_spark.sources import parse_statsd, read_text_lines

            if not s.get("Path"):
                raise ConfigError("statsd input needs a Path (datagram "
                                  "lines)")
            lines = read_text_lines(spark, s.get("Path"))
            return parse_statsd(lines).withColumn("tag", F.lit(tag))
        if name in ("cpu", "mem", "disk", "netif", "thermal", "random"):
            # the periodic collectors (registered on a timer,
            # src/flb_input.c:639): deterministic synthetic series.
            from fluent_bit_spark.sources import synthetic_metrics

            return synthetic_metrics(
                spark,
                metric=name,
                samples=int(s.get("Samples", "60")),
                start=s.get("Start_Time", "2024-01-01 00:00:00"),
                interval_sec=int(s.get("Interval_Sec", "1")),
                seed=int(s.get("Seed", "42")),
                tag=tag,
            )
        raise ConfigError(f"unsupported input plugin {name!r}")

    # -- filters ------------------------------------------------------------
    def _apply_filter(self, df: DataFrame, s: Section) -> DataFrame:
        name = (s.get("Name") or "").lower()
        match = s.get("Match", "*")
        if match == "*":
            return self._filter_all(df, s, name)
        # NULL-tag records are non-matches that must PASS THROUGH
        # untouched (filter(~NULL) would silently drop them)
        pred = _match_predicate(match)
        matched = df.filter(pred)
        rest = df.filter(~pred)
        out = self._filter_all(matched, s, name)
        return out.unionByName(rest, allowMissingColumns=True)

    def _filter_all(self, df: DataFrame, s: Section, name: str) -> DataFrame:
        if name == "grep":
            # rules in config order across both Regex and Exclude keys
            # (grep.c evaluates its list in declaration order)
            ordered = []
            for k, v in s.entries:
                if k.lower() in ("regex", "exclude"):
                    f, p = v.split(None, 1)
                    ordered.append((k.lower(), f, p))
            return FL.grep(df, ordered)
        if name == "record_modifier":
            return FL.record_modifier(
                df,
                remove_keys=s.get_all("Remove_key") or None,
                whitelist_keys=s.get_all("Whitelist_key") or None,
                records=dict(v.split(None, 1) for v in s.get_all("Record")) or None,
            )
        if name == "modify":
            conds, rules = [], []
            for k, v in s.entries:
                kl = k.lower()
                if kl == "condition":
                    parts = v.split(None, 2)
                    conds.append(FL.Condition(parts[0].lower(), *parts[1:]))
                elif kl in ("rename", "hard_rename", "add", "set", "copy", "hard_copy"):
                    a, b = v.split(None, 1)
                    rules.append(FL.ModifyRule(kl, a, b))
                elif kl in ("remove", "remove_wildcard", "remove_regex"):
                    rules.append(FL.ModifyRule(kl, v))
            return FL.modify(df, rules, conds)
        if name == "nest":
            op = (s.get("Operation") or "nest").lower()
            if op == "nest":
                return FL.nest(
                    df,
                    s.get("Wildcard", "*"),
                    s.get("Nest_under", "nested"),
                    remove_prefix=s.get("Remove_prefix"),
                    add_prefix=s.get("Add_prefix"),
                )
            return FL.lift(
                df,
                s.get("Nested_under"),
                add_prefix=s.get("Add_prefix"),
                remove_prefix=s.get("Remove_prefix"),
            )
        if name == "lift":
            return FL.lift(df, s.get("Nested_under"))
        if name == "parser":
            key = s.get("Key_Name", "log")
            named = s.get("Parser")
            if named:
                if named not in self.parsers:
                    raise ConfigError(f"unknown parser {named!r} (no parsers.conf entry)")
                df = apply_parser_spec(df, self.parsers[named], key=key)
            else:
                df = apply_regex_parser(df, s.get("Regex"), source=key)
            if s.get("Preserve_Key", "off").lower() != "on":
                df = df.drop(key)
            return df
        if name == "throttle":
            return FL.throttle(
                df,
                rate=float(s.get("Rate", "1")),
                window_seconds=int(s.get("Window", "5")),
            )
        if name == "throttle_size":
            return FL.throttle_size(
                df,
                key=s.get("Name_field", "tag"),
                byte_limit=int(s.get("Rate", "1024")),
                window_seconds=int(s.get("Window", "5")),
                size_col=s.get("Log_field", "log"),
            )
        if name == "alter_size":
            return FL.alter_size(df, remove=int(s.get("Remove", "0")))
        if name in ("geoip2", "apm_geoip"):
            # range lookup over a csv table: Ranges_file with lo,hi,field=value
            from fluent_bit_spark.operators.enrich import range_lookup_enrich

            path = s.get("Ranges_file")
            if not path:
                raise ConfigError("geoip2 filter needs a Ranges_file")
            rows = []
            for lineno, (lo, hi, out_field, value) in _read_dim_csv(
                path, "lo,hi,field,value", "range rows"
            ):
                try:
                    rows.append((float(lo), float(hi), value))
                except ValueError as e:
                    raise ConfigError(
                        f"{path}:{lineno}: non-numeric range bound: {e}"
                    ) from None
            ranges = local_frame(
                df.sparkSession,
                rows,
                f"lo double, hi double, {_ddl_name(out_field)} string",
            )
            return range_lookup_enrich(
                df, ranges, s.get("Lookup_key", "value"),
                defaults={out_field: s.get("Default", "unknown")},
            )
        if name in ("apm_ldap", "lookup"):
            # broadcast lookup: Lookup_file csv of key,value pairs
            from fluent_bit_spark.operators.enrich import lookup_enrich

            path = s.get("Lookup_file")
            if not path:
                raise ConfigError("lookup filter needs a Lookup_file")
            out_field = s.get("Record_key", "looked_up")
            dim = local_frame(
                df.sparkSession,
                [rec for _lineno, rec in _read_dim_csv(path, "key,value", "rows")],
                f"_k string, {_ddl_name(out_field)} string",
            )
            return lookup_enrich(
                df, dim, key=s.get("Match_key", "tag"), dim_key="_k",
                defaults={out_field: s.get("Default")} if s.get("Default") else None,
            )
        if name == "rewrite_tag":
            from fluent_bit_spark.functions.record_accessor import (
                ra_translate,
                regex_captures,
            )

            rules = []
            for v in s.get_all("Rule"):
                fld, pattern, new_tag, keep = v.split(None, 3)
                fld = fld.lstrip("$")
                # $TAG resolves to the routing tag; a missing record key
                # is a non-match, never an analysis error
                if fld == "TAG":
                    src = F.col("tag")
                elif fld in df.columns:
                    src = F.col(fld)
                else:
                    src = F.lit(None)
                src = src.cast("string")
                # new tag is a record-accessor template: $key refs plus
                # $0..$9 captures from THIS rule's regex
                # (rewrite_tag.c:287-334)
                try:
                    n_groups = re.compile(pattern).groups
                except re.error:  # Java-only syntax: no capture refs
                    n_groups = 0
                caps = regex_captures(src, pattern, n_groups)
                tag_col = ra_translate(df, new_tag, captures=caps)
                rules.append(
                    R.RewriteRule(
                        condition=F.coalesce(src.rlike(pattern), F.lit(False)),
                        new_tag=tag_col,
                        keep=keep.lower() == "true",
                    )
                )
            return R.rewrite_tag(df, rules)
        if name == "expect":
            rules = []
            for k, v in s.entries:
                if k.lower() in (
                    "key_exists",
                    "key_not_exists",
                    "key_val_is_null",
                    "key_val_is_not_null",
                ):
                    rules.append((k.lower(), v, None))
                elif k.lower() == "key_val_eq":
                    a, b = v.split(None, 1)
                    rules.append(("key_val_eq", a, b))
            return FL.expect(df, rules, action=s.get("Action", "warn"))
        if name == "lua":
            call = s.get("Call")
            if call not in self.lua_functions:
                raise ConfigError(
                    f"lua filter: Call {call!r} names no registered function"
                    " (pass it in ConfigPipeline(lua_functions=...))"
                )
            return FL.record_function(df, self.lua_functions[call])
        if name == "tensorflow":
            # plugins/filter_tensorflow analog: quantized-MLP inference
            # over integer feature columns. `Model_file` loads a REAL
            # .tflite flatbuffer (pure-Python walker; int8 2-layer FC
            # subset, anything else raises explicitly); inline W1/B1/
            # Shift1/W2/B2/Shift2 weights are the no-file path ("; "
            # rows, "," entries — the shape an int8 model exports).
            from fluent_bit_spark.operators.tensorflow_filter import (
                QuantizedMLP,
                load_tflite_model,
                tensorflow_filter,
            )

            if s.get("Model_file"):
                model = load_tflite_model(s.get("Model_file"))
            else:
                def mat(v):
                    return [
                        [int(x) for x in row.split(",")]
                        for row in v.split(";")
                    ]

                def vec(v):
                    return [int(x) for x in v.split(",")]

                model = QuantizedMLP(
                    w1=mat(s.get("W1")),
                    b1=vec(s.get("B1")),
                    shift1=int(s.get("Shift1", "0")),
                    w2=mat(s.get("W2")),
                    b2=vec(s.get("B2")),
                    shift2=int(s.get("Shift2", "0")),
                )
            feats = s.get_all("Feature")
            if not feats:
                raise ConfigError("tensorflow filter needs Feature keys")
            thr = s.get("Threshold")
            scored = tensorflow_filter(
                df.select(*[F.col(c).cast("long").alias(c) for c in feats]),
                model,
                feats,
                out_col=s.get("Output", "score"),
                threshold=int(thr) if thr is not None else None,
            )
            return scored
        if name == "kubernetes":
            # plugins/filter_kubernetes: pod identity from the tag
            # (kube_regex.h), metadata from Kube_meta_preload_cache_dir
            # (kube_meta.c:150 get_meta_file_info) — the file-cache path
            # is the reference's own no-API-server mode, and the only
            # one a sandbox without a kubelet can run. Merge_Log parses
            # the log field; Keep_Log Off drops the original.
            from fluent_bit_spark.operators.enrich import (
                kube_meta_enrich,
                load_kube_meta_cache,
            )

            cache_dir = s.get("Kube_meta_preload_cache_dir")
            if not cache_dir:
                raise ConfigError(
                    "kubernetes filter needs Kube_meta_preload_cache_dir "
                    "(no API server / kubelet is reachable in this "
                    "runtime; the preload cache is the reference's own "
                    "offline metadata mode)"
                )
            df = kube_meta_enrich(
                df,
                load_kube_meta_cache(cache_dir),
                tag_prefix=s.get("Kube_Tag_Prefix", "kube.var.log.containers."),
                labels=(s.get("Labels", "On").lower() != "off"),
                annotations=(s.get("Annotations", "On").lower() != "off"),
            )
            if s.get("Merge_Log", "Off").lower() == "on":
                log_key = s.get("Merge_Log_Key")
                merge_parser = s.get("Merge_Parser")
                src = s.get("Log_Key", "log")
                if merge_parser:
                    if merge_parser not in self.parsers:
                        raise ConfigError(
                            f"unknown Merge_Parser {merge_parser!r} "
                            "(no parsers.conf entry)"
                        )
                    df = apply_parser_spec(
                        df, self.parsers[merge_parser], key=src
                    )
                elif log_key:
                    # arbitrary-key JSON lands as one map column under
                    # Merge_Log_Key (kubernetes.c merge_log_key): the
                    # static-schema analog of merging unknown keys
                    df = df.withColumn(
                        log_key,
                        F.from_json(F.col(src), "map<string,string>"),
                    )
                else:
                    raise ConfigError(
                        "Merge_Log On needs Merge_Log_Key or Merge_Parser: "
                        "a static-schema engine cannot splat unknown JSON "
                        "keys to top level"
                    )
                if s.get("Keep_Log", "On").lower() == "off":
                    df = df.drop(src)
            return df
        if name == "aws":
            # plugins/filter_aws: append EC2 instance metadata under
            # the reference's record keys (aws.h FLB_FILTER_AWS_*_KEY),
            # include set driven by the same boolean properties and
            # defaults (aws.c:622-667 config map). The values normally
            # come from IMDS; with no instance metadata service in this
            # runtime they load from Imds_Snapshot, a JSON object of
            # the IMDS answers (documented sandbox analog — the include
            # logic, key names, and defaults are the reference's).
            from fluent_bit_spark.operators.enrich import record_append

            snap_path = s.get("Imds_Snapshot")
            if not snap_path:
                raise ConfigError(
                    "aws filter needs Imds_Snapshot (no EC2 instance "
                    "metadata service is reachable in this runtime; "
                    "provide the IMDS answers as a JSON object)"
                )
            with open(snap_path) as f:
                snap = json.load(f)
            includes = [
                ("az", "az", "true"),
                ("ec2_instance_id", "ec2_instance_id", "true"),
                ("ec2_instance_type", "ec2_instance_type", "false"),
                ("private_ip", "private_ip", "false"),
                ("vpc_id", "vpc_id", "false"),
                ("ami_id", "ami_id", "false"),
                ("account_id", "account_id", "false"),
                ("hostname", "hostname", "false"),
            ]
            fields = {}
            for prop, key, dflt in includes:
                if s.get(prop, dflt).lower() == "true":
                    if key not in snap:
                        raise ConfigError(
                            f"aws filter: Imds_Snapshot {snap_path!r} "
                            f"missing enabled key {key!r}"
                        )
                    fields[key] = str(snap[key])
            return record_append(df, fields)
        if name == "apm_uaparser":
            # plugins/filter_apm_uaparser: agent_key names the UA field
            # (filter_uaparser.h LOOKUPKEY); port points at the uap
            # sidecar, which this engine replaces with an in-engine
            # regex chain (enrich.ua_parse) deriving the same nine
            # fields with the same "Unknown" defaults. The port value
            # is accepted and unused — there is no sidecar process.
            from fluent_bit_spark.operators.enrich import ua_parse

            agent_key = s.get("agent_key")
            if not agent_key:
                raise ConfigError("apm_uaparser filter needs agent_key")
            if agent_key not in df.columns:
                raise ConfigError(
                    f"apm_uaparser agent_key {agent_key!r} is not a "
                    "record field"
                )
            return ua_parse(df, agent_key)
        if name == "apm_url_normalizer":
            # plugins/filter_apm_url_normalizer: url_path_key names the
            # URL field; the sidecar's normalization is the in-engine
            # scalars.url_normalize; output key and miss default are
            # the reference's (filter_url_normalize.h NORMALIZED_PATH /
            # DEFAULT "Unknown").
            from fluent_bit_spark.functions.scalars import url_normalize

            url_key = s.get("url_path_key")
            if not url_key:
                raise ConfigError(
                    "apm_url_normalizer filter needs url_path_key"
                )
            src = (
                F.col(url_key).cast("string")
                if url_key in df.columns
                else F.lit(None).cast("string")
            )
            return df.withColumn(
                "normalized_path",
                F.coalesce(url_normalize(src), F.lit("Unknown")),
            )
        if name == "apm_message_formatter":
            # plugins/filter_apm_message_formatter: message_key names
            # the field to format (filter_message_formatter.h
            # LOOKUPKEY); the sidecar's formatting is replaced by a
            # record-accessor Template rendered in-engine into the
            # `message` key (the key the reference splices back).
            from fluent_bit_spark.functions.record_accessor import ra_translate

            msg_key = s.get("message_key")
            if not msg_key:
                raise ConfigError(
                    "apm_message_formatter filter needs message_key"
                )
            template = s.get("Template", f"${msg_key}")
            return df.withColumn("message", ra_translate(df, template))
        if name == "apm_goals_airflow":
            # plugins/filter_apm_goals_airflow: multiline collection of
            # airflow task logs (message_key field; sidecar returns
            # joined records). The in-engine analog is the in_tail
            # multiline state machine over the same field: a line
            # matching Firstline_Regex starts a record, continuations
            # append. Emits (tag, group_no, first_line_no, text).
            from fluent_bit_spark.sources import multiline_join

            msg_key = s.get("message_key")
            if not msg_key:
                raise ConfigError(
                    "apm_goals_airflow filter needs message_key"
                )
            first = s.get("Firstline_Regex", r"^\[\d{4}-\d{2}-\d{2}")
            order = s.get("Order_Key") or (
                "line_no" if "line_no" in df.columns else "ts"
            )
            return multiline_join(
                df.withColumn("_line", F.col(msg_key).cast("string")),
                first,
                file_col="tag",
                line_no_col=order,
                line_col="_line",
            )
        if name == "apm_kubernetes_labels":
            # plugins/filter_apm_kubernetes_labels: ensure each record
            # carries the project/app label keys. mapping_path is the
            # pod_name -> labels JSON (LOOKUP_KEY_PATH); label key
            # names and fallback values use the reference's env vars
            # and defaults (filter_kubernetes_labels.h).
            from fluent_bit_spark.operators.enrich import lookup_enrich

            path = s.get("mapping_path")
            if not path:
                raise ConfigError(
                    "apm_kubernetes_labels filter needs mapping_path"
                )
            with open(path) as f:
                mapping = json.load(f)
            proj_label = os.environ.get(
                "SFAPM_PROJECTNAME_LABEL", "snappyflow/projectname"
            )
            app_label = os.environ.get(
                "SFAPM_APPNAME_LABEL", "snappyflow/appname"
            )
            proj_default = os.environ.get("SFAPM_PROJECT_NAME", "project")
            app_default = os.environ.get("SFAPM_APP_NAME", "app")
            rows = [
                (
                    pod,
                    labels.get(proj_label, proj_default),
                    labels.get(app_label, app_default),
                )
                for pod, labels in mapping.items()
            ]
            if not rows:
                raise ConfigError(f"mapping_path {path!r} has no pods")
            dim = local_frame(
                df.sparkSession, rows, "_pod string, projectName string, appName string"
            )
            pod_key = s.get("Pod_Key", "pod_name")
            if pod_key not in df.columns:
                raise ConfigError(
                    f"apm_kubernetes_labels pod key {pod_key!r} is not "
                    "a record field"
                )
            return lookup_enrich(
                df,
                dim,
                key=pod_key,
                dim_key="_pod",
                defaults={
                    "projectName": proj_default,
                    "appName": app_default,
                },
            )
        if name == "stdout":
            # plugins/filter_stdout: print-and-pass-through debug aid —
            # a no-op on the frame (printing happens at materialization
            # in a lazy engine; the record stream is unchanged).
            return df
        if name == "sampling":
            # severity-tiered content-keyed sampling (sampling.py):
            #   Rate <level> <ppm>   (repeatable)   Default_rate <ppm>
            from fluent_bit_spark.operators.sampling import priority_sample

            rates = {}
            for v in s.get_all("Rate"):
                lvl, ppm = v.split(None, 1)
                rates[lvl] = int(ppm)
            if not rates:
                raise ConfigError("sampling filter needs Rate keys")
            return priority_sample(
                df,
                rates,
                level_col=s.get("Level_key", "level"),
                id_col=s.get("Id_key", "event_id"),
                default_ppm=int(s.get("Default_rate", "1000000")),
            )
        raise ConfigError(f"unsupported filter plugin {name!r}")

    # -- run ----------------------------------------------------------------
    def frame(self, spark: SparkSession) -> DataFrame:
        """The post-filter record stream — inputs unioned, every FILTER
        section applied in config order, no sink materialization. For
        embedding a config-defined pipeline inside a larger DataFrame
        job (the gate query aggregates it like any other frame)."""
        inputs = [s for s in self.sections if s.kind == "INPUT"]
        if not inputs:
            raise ConfigError("config needs at least one INPUT")
        frames = [self._input_frame(spark, s) for s in inputs]
        df = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )
        for s in [s for s in self.sections if s.kind == "FILTER"]:
            df = self._apply_filter(df, s)
        return df

    # -- stream processor tasks ----------------------------------------------
    def _stream_task_sections(self) -> list[Section]:
        """[STREAM_TASK] sections, inline plus those in the [SERVICE]
        Streams_File (flb_sp.c:98 reads the file named by the service's
        streams_file key; both carry Name + Exec and error when either
        is missing, flb_sp.c:108-120)."""
        tasks = [s for s in self.sections if s.kind == "STREAM_TASK"]
        svc = next((s for s in self.sections if s.kind == "SERVICE"), None)
        sf = svc.get("Streams_File") if svc else None
        if sf:
            tasks += [
                s for s in load_config_file(sf) if s.kind == "STREAM_TASK"
            ]
        for t in tasks:
            if not t.get("Name"):
                raise ConfigError("stream task needs a Name (flb_sp.c:110)")
            if not t.get("Exec"):
                raise ConfigError(
                    f"stream task {t.get('Name')!r} needs an Exec command "
                    "(flb_sp.c:118)"
                )
        return tasks

    def run_stream_tasks(self, spark: SparkSession) -> dict[str, "DataFrame"]:
        """Execute every [STREAM_TASK] against the post-filter record
        stream and return {task name: result frame} for tasks that
        produce output (CREATE STREAM also registers its result for
        downstream tasks, exactly as the reference's stream processor
        taps the main pipeline and re-registers streams).

        Stream naming follows the reference: an input is addressable
        as STREAM:<alias> when it sets Alias, else STREAM:<name>_<i>
    (plugin instance name; '.' is not an identifier character in
        the SP grammar so the instance separator is '_'), and
        TAG:'glob' selects across all inputs by routing tag."""
        from fluent_bit_spark.sp import SpEngine

        tasks = self._stream_task_sections()
        base = self.frame(spark)
        inputs = [s for s in self.sections if s.kind == "INPUT"]
        streams: dict[str, DataFrame] = {}
        for i, s in enumerate(inputs):
            name = s.get("Alias") or f"{(s.get('Name') or '').lower()}_{i}"
            tag = s.get("Tag", f"{(s.get('Name') or '').lower()}.0")
            streams[name] = base.filter(F.col("tag") == tag)
        eng = SpEngine(spark, streams)
        results: dict[str, DataFrame] = {}
        for t in tasks:
            out = eng.execute(t.get("Exec"))
            if out is not None:
                results[t.get("Name")] = out
        return results

    def run(
        self, spark: SparkSession, output_base: str | None = None
    ) -> dict[str, object]:
        """Deliver every OUTPUT: each gets the post-filter records its
        Match selects (records no output matches are dropped); returns
        {`<name>_<i>`: count, rows, or written path}. An output that
        writes files without an `output_base` is a ConfigError, raised
        before anything runs."""
        sections = [s for s in self.sections if s.kind == "OUTPUT"]
        if not sections:
            raise ConfigError("config needs at least one OUTPUT")
        outputs = {
            (s.get("Name") or "x") + f"_{i}": s for i, s in enumerate(sections)
        }
        if output_base is None:
            for sink_id, s in outputs.items():
                if (s.get("Name") or "").lower() not in _VALUE_OUTPUTS:
                    raise ConfigError(
                        f"output {sink_id!r} writes files and needs an "
                        "output_base"
                    )
        df = self.frame(spark).persist()
        results: dict[str, object] = {}
        try:
            for sink_id, s in outputs.items():
                results[sink_id] = self._output(
                    df.filter(_match_predicate(s.get("Match", "*"))),
                    s,
                    sink_id,
                    output_base,
                )
        finally:
            df.unpersist()
        return results

    def _output(
        self, df: DataFrame, s: Section, sink_id: str, output_base: str | None
    ) -> object:
        """One OUTPUT over its Match slice `df`. The aggregate and debug
        outputs return their value. Every other output renders its
        envelope and writes it to `<output_base>/<sink_id>`, which it
        returns: delivery plugins run in batch mode, so the exact
        envelope lands at the sink path and only the network hop is
        elided."""
        name = (s.get("Name") or "").lower()
        cols = df.columns
        ts_col = next((c for c in _TS_COLS if c in cols), None)
        msg_col = next((c for c in _MSG_COLS if c in cols), None)
        # the record map is every column but the routing tag and the
        # event time, which envelopes render on their own ([time, map]
        # event pairs)
        rec_cols = [c for c in cols if c not in ("tag", ts_col)]
        resolved = {
            _TS: ts_col,
            _MSG: msg_col,
            _REC: rec_cols[0] if rec_cols else None,
        }

        def need(*needed: str) -> None:
            missing = [c for c in needed if resolved.get(c, c) not in cols]
            if missing:
                raise ConfigError(
                    f"output {name!r} needs {', '.join(missing)} in the "
                    "routed records"
                )

        if name == "counter":
            return df.count()
        if name == "flowcounter":
            need(_TS)
            return flowcounter(
                df.withColumn("sink", F.lit(sink_id)),
                ["sink", "tag"],
                window=f"1 {s.get('Unit', 'hour')}",
                ts=ts_col,
                bytes_col=msg_col or df.columns[0],
            ).collect()
        if name == "stdout":
            return df.collect()
        if name == "null":
            df.write.format("noop").mode("overwrite").save()
            return None
        fmt = "text"
        if name == "file":
            fmt = s.get("Format", "json_lines").lower()
            if fmt in ("json", "json_lines"):
                env, fmt = SK.to_json_lines(df), "text"
            elif fmt == "csv":
                env, fmt = SK.to_csv_lines(df, df.columns), "text"
            elif fmt == "ltsv":
                env, fmt = SK.to_ltsv_lines(df, df.columns), "text"
            elif fmt == "template":
                env, fmt = SK.to_template_lines(df, s.get("Template", "{time}")), "text"
            else:
                env = df
        elif name == "es":
            need(_TS)
            env = SK.to_json_lines(
                SK.es_logstash_index(
                    df, prefix=s.get("Logstash_Prefix", "logstash"), ts_col=ts_col
                )
            )
        elif name == "loki":
            remove = [
                k.strip() for k in (s.get("Remove_keys") or "").split(",") if k.strip()
            ]
            env = SK.to_json_lines(
                SK.loki_labels(
                    df,
                    label_cols=[
                        c.strip() for c in (s.get("Labels", "tag")).split(",")
                        if c.strip() in df.columns
                    ],
                    remove_keys=remove or None,
                )
            )
        elif name == "splunk":
            need(_TS)
            env = SK.to_json_lines(SK.splunk_hec_transform(df, ts_col=ts_col))
        elif name == "datadog":
            need(_TS, _MSG)
            env = SK.to_json_lines(
                SK.datadog_transform(df, message_col=msg_col, ts_col=ts_col)
            )
        elif name == "gelf":
            need(_TS, _MSG)
            env = SK.to_json_lines(
                SK.gelf_transform(
                    df,
                    host_col=s.get("Gelf_Host_Key", "tag"),
                    short_message_col=msg_col,
                    ts_col=ts_col,
                )
            )
        elif name == "http":
            need(_REC, _TS)
            # the reference's default Format is msgpack
            # (http_conf.c:145 FLB_PACK_JSON_FORMAT_NONE); only the JSON
            # body family is supported here, so an absent Format is an
            # explicit error rather than a silent json_lines default
            fmt_opt = s.get("Format")
            if fmt_opt is None:
                raise ConfigError(
                    "output 'http': Format is required (the reference "
                    "default is msgpack, which has no HTTP text-body "
                    "rendering here; use json/json_lines/json_stream)"
                )
            fmt_opt = fmt_opt.lower()
            fmt_map = {"json": "json", "json_lines": "lines", "json_stream": "stream"}
            if fmt_opt not in fmt_map:
                raise ConfigError(
                    f"output 'http' Format {fmt_opt!r} not supported "
                    "(json/json_lines/json_stream)"
                )
            # json_date_format default is DOUBLE in the reference
            # (http_conf.c:174)
            date_fmt = s.get("Json_Date_Format", "double").lower()
            if date_fmt not in ("double", "iso8601"):
                raise ConfigError(
                    f"output 'http' Json_Date_Format {date_fmt!r} "
                    "not supported (double/iso8601)"
                )
            env = SK.http_body_transform(
                df,
                fmt=fmt_map[fmt_opt],
                cols=rec_cols,
                ts_col=ts_col,
                order_col=ts_col,
                group_cols=["tag"],
                json_date_key=s.get("Json_Date_Key", "date"),
                json_date_format=date_fmt,
            ).select("body")
        elif name == "kinesis_streams":
            need(_REC)
            env = SK.kinesis_records_transform(
                df, cols=rec_cols, key_col="tag"
            ).select("entry")
        elif name == "kinesis_firehose":
            need(_REC)
            env = SK.firehose_records_transform(df, cols=rec_cols).select("entry")
        elif name == "pgsql":
            need(_REC, _TS)
            env = SK.pgsql_insert_transform(
                df,
                table=s.get("Table", "fluentbit"),
                timestamp_key=s.get("Timestamp_Key", "date"),
                cols=rec_cols, ts_col=ts_col,
                order_col=ts_col, group_cols=["tag"],
            ).select("query")
        elif name == "kafka_rest":
            need(_REC, _TS)
            env = SK.kafka_rest_records_transform(
                df,
                time_key=s.get("Time_Key", "@timestamp"),
                cols=rec_cols, ts_col=ts_col,
                order_col=ts_col, group_cols=["tag"],
            ).select("body")
        elif name == "nrlogs":
            need(_REC, _TS, _MSG)
            env = SK.newrelic_payload_transform(
                df, message_col=msg_col,
                attr_cols=[c for c in rec_cols if c != msg_col],
                ts_col=ts_col, order_col=ts_col,
                group_cols=["tag"],
            ).select("payload")
        elif name == "es_bulk":
            need(_REC, _TS)
            env = SK.es_bulk_transform(
                df,
                prefix=s.get("Logstash_Prefix", "logstash"),
                cols=rec_cols, ts_col=ts_col,
                order_col=ts_col, group_cols=["tag"],
            ).select("body")
        # the transcript-shaped envelopes (reference plugin dirs
        # plugins/out_cloudwatch_logs, out_bigquery, out_azure,
        # out_slack, out_logdna, out_nats, out_stackdriver,
        # out_influxdb, out_syslog, the metrics-exporter exposition,
        # and out_gelf's chunked-UDP mode)
        elif name == "prometheus_exporter":
            labels = tuple(
                x.strip() for x in s.get("Labels", "tag").split(",") if x.strip()
            )
            need(*labels)
            counts = df.groupBy(*[F.col(c) for c in labels]).agg(
                F.count("*").alias("n")
            )
            env = SK.prometheus_exposition(
                counts,
                metric=s.get("Metric", "fbs_records_total"),
                label_cols=labels,
            ).select("line")
        elif name == "cloudwatch_logs":
            need("conv_id", "turn_idx", "role", "text", "ts")
            env = SK.cloudwatch_events_transform(df).select("event")
        elif name == "bigquery":
            need("conv_id", "turn_idx", "role", "text")
            env = SK.bigquery_rows_transform(df).select("payload")
        elif name == "slack":
            need("conv_id", "turn_idx", "role", "text", "ts")
            env = SK.slack_text_transform(df).select("fragment")
        elif name == "syslog":
            need("conv_id", "turn_idx", "text", "ts")
            env = SK.syslog_rfc5424_transform(
                df,
                host_col="host" if "host" in df.columns else None,
                app_col="tool" if "tool" in df.columns else None,
                severity_col="level" if "level" in df.columns else None,
            ).select("line")
        elif name == "influxdb":
            need("conv_id", "turn_idx", "text", "ts")
            env = SK.influx_line_transform(
                df,
                measurement=s.get("Measurement", "transcripts"),
                tag_cols=tuple(c for c in ("role", "tool") if c in df.columns),
            ).select("line")
        elif name == "gelf_chunked":
            need("text")
            env = SK.gelf_chunk_plan(
                df, pckt_size=int(s.get("Packet_Size", "8192"))
            ).select("payload_bytes", "chunked", "n_chunks", "dropped", "wire_bytes")
            fmt = "json"
        elif name == "azure":
            need("conv_id", "turn_idx", "role", "text", "ts")
            env = SK.azure_log_transform(df, log_type=s.get("Log_Type", "fluentbit"))
            fmt = "json"
        elif name == "logdna":
            need("conv_id", "turn_idx", "role", "text", "ts")
            env = SK.logdna_lines_transform(df)
            fmt = "json"
        elif name == "nats":
            need("conv_id", "turn_idx", "role", "text", "ts")
            env = SK.nats_pairs_transform(df)
            fmt = "json"
        elif name == "stackdriver":
            need("conv_id", "turn_idx", "text", "ts")
            env = SK.stackdriver_transform(
                df, severity_col="level" if "level" in df.columns else None
            )
            fmt = "json"
        else:
            raise ConfigError(f"unsupported output plugin {name!r}")
        path = f"{output_base}/{sink_id}"
        SK.write_sink(env, path, fmt=fmt)
        return path


def pipeline_from_file(path: str) -> ConfigPipeline:
    """Load a main config file into a runnable pipeline, honoring
    `[SERVICE] Parsers_File <path>` references the way the reference
    does (relative paths resolve against the main config's directory;
    multiple Parsers_File entries merge, later files winning on a
    parser-name clash). A `lua` filter needs its functions registered
    through `ConfigPipeline(lua_functions=...)`, which a file cannot
    carry."""
    sections = load_config_file(path)
    pipe = ConfigPipeline(sections)
    base = os.path.dirname(os.path.abspath(path))
    for s in sections:
        if s.kind != "SERVICE":
            continue
        for pf in s.get_all("Parsers_File"):
            p = pf if os.path.isabs(pf) else os.path.join(base, pf)
            try:
                with open(p) as f:
                    pipe.parsers.update(parse_parsers_conf(f.read()))
            except OSError as e:
                raise ConfigError(f"cannot read Parsers_File {p!r}: {e}") from e
    return pipe
