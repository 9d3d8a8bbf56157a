"""The flagship pipeline: parse -> enrich -> route -> aggregate over
the transcript table — the Spark-native equivalent of a Fluent Bit
config with five parsers, lookup/modify filters, glob-routed outputs
and counter/flowcounter aggregate sinks.

Every stage is pure `pyspark.sql.functions` (whole-stage codegen, no
Python in the hot path). Stage-by-stage reference parity is documented
in the operator modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluent_bit_spark.operators import enrich as E
from fluent_bit_spark.operators import route as R
from fluent_bit_spark.operators.parse import apply_regex_parser, java_pattern
from fluent_bit_spark.session import local_frame
from fluent_bit_spark.transcripts import load_transcripts

# ---------------------------------------------------------------------------
# dims (≙ the lookup tables behind apm_ldap / record_modifier filters)

TOOL_CATEGORIES = [
    ("bash", "shell", "high"),
    ("python", "code", "medium"),
    ("browser", "web", "medium"),
    ("search", "retrieval", "low"),
    ("editor", "code", "low"),
    ("sql", "data", "medium"),
]

ROLE_MAP = [
    ("user", "user"),
    ("USER", "user"),
    ("human", "user"),
    ("assistant", "assistant"),
    ("Assistant", "assistant"),
    ("ai", "assistant"),
    ("system", "system"),
    ("tool", "tool"),
    ("function", "tool"),
]

SINKS = [
    ("sink_errors", "errors.*"),
    ("sink_alerts", "alerts.*"),
    ("sink_tools", "tools.*"),
    ("sink_all", "*"),
]

APACHE_RE = (
    r'^(?P<host>\S+) - (?P<http_user>\S+) \[(?P<atime>[^\]]+) \+0000\] '
    r'"(?P<method>\S+) (?P<path>\S+) HTTP/1\.1" (?P<code>\d+) (?P<size>\d+)$'
)
# APACHE_RE with a span group over the two fields the ROUTE path
# consumes: `pc` = '{path} HTTP/1.1" {code}'. Groups are capture-only
# (matching behavior is identical to APACHE_RE); one pc extract feeds
# both fields where the per-group form paid the full matcher twice
# per apache row. path = token 1 and code = last token of the span,
# exactly, because \S+ / \d+ admit no spaces.
APACHE_PC_RE = (
    r'^(?P<host>\S+) - (?P<http_user>\S+) \[(?P<atime>[^\]]+) \+0000\] '
    r'"(?P<method>\S+) (?P<pc>(?P<path>\S+) HTTP/1\.1" (?P<code>\d+)) (?P<size>\d+)$'
)
SYSLOG_RE = r"^<(?P<pri>\d+)>1 (?P<stime>\S+) (?P<shost>\S+) (?P<sapp>\S+) (?P<sproc>\d+) (?P<smsgid>\S+) - (?P<smsg>.*)$"

# SYSLOG_RE with a span group over everything after '<' — the syslog
# analog of APACHE_PC_RE: one `ps` extract feeds both pri and smsg
# where the per-group form paid the full matcher twice per syslog
# row. Derivations are exact: pri is the span's prefix up to the
# first '>' (pri = \d+ admits no '>'), and smsg is the span's tokens
# from position 8 on — the six header fields are \S+ separated by
# single literal spaces, so they occupy tokens 1-6, the literal '-'
# is token 7, and a single-space array_join of the tail reproduces
# smsg byte-for-byte (split/join round-trips interior runs of spaces
# through empty tokens).
SYSLOG_PS_RE = (
    r"^<(?P<ps>(?P<pri>\d+)>1 (?P<stime>\S+) (?P<shost>\S+) (?P<sapp>\S+) "
    r"(?P<sproc>\d+) (?P<smsgid>\S+) - (?P<smsg>.*))$"
)
_SYSLOG_PS_JAVA = java_pattern(SYSLOG_PS_RE)

JSON_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("word1", T.StringType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("usage", T.LongType()),
    ]
)


def tool_categories_dim(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, TOOL_CATEGORIES, "tool_key string, category string, risk_level string"
    )


def role_map_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, ROLE_MAP, "raw_role string, norm_role string")


# ---------------------------------------------------------------------------
# stage 1: parse

def parse_stage(df: DataFrame) -> DataFrame:
    """Multi-grammar parse. Grammar detection is an ordered anchored-
    regex chain (the reference's filter_parser tries its parser list in
    order, first success wins); each grammar then contributes its field
    columns, and unified columns (`evt_name`, `amount_cents`, `level`)
    feed routing. Adds columns only — `text` is untouched."""
    t = F.col("text")
    # detection chain: prefix-literal grammars use startswith instead
    # of a matcher, and the syslog regex is guarded by a one-char
    # prefix check (codegen && short-circuits); predicates are
    # logically unchanged. The apache/ltsv regexes stay bare — their
    # only cheap pre-check would be a full-string contains() scan,
    # which costs more than the anchored matcher's early failure.
    df = df.withColumn(
        "fmt",
        F.when(t.rlike(r"^\S+ - \S+ \["), F.lit("apache"))
        .when(t.startswith("level="), F.lit("logfmt"))
        .when(t.startswith("{"), F.lit("json"))
        .when(t.startswith("<") & t.rlike(r"^<\d+>1 "), F.lit("syslog"))
        .when(t.rlike(r"^[A-Za-z0-9_]+:[^\t]*\t"), F.lit("ltsv"))
        .otherwise(F.lit("unknown")),
    )
    # apache (grok; named-group regex parser with typecast + time
    # lookup), gated on the detected format: only ~1/5 of rows run the
    # matcher (any full-regex match implies the detection prefix, so
    # gating is semantics-preserving). path and code — the two fields
    # the always-live route/parse_ok path consumes — come from ONE
    # `pc` span extract (APACHE_PC_RE) instead of two full matcher
    # runs; the remaining groups stay per-group extracts that only
    # materialize when a consumer actually projects them.
    df = apply_regex_parser(
        df,
        APACHE_PC_RE,
        types={"size": "integer"},
        time_key="atime",
        time_format="dd/MMM/yyyy:HH:mm:ss",
        time_keep=True,
        time_col="event_time",
        gate=F.col("fmt") == "apache",
        groups=["host", "http_user", "atime", "method", "size", "pc"],
    )
    df = df.withColumns(
        {
            # \S+ / \d+ admit no spaces, so the span's first and last
            # tokens ARE the group values; a non-matching row has NULL
            # pc and NULL fields, exactly like the per-group extracts
            "path": F.when(
                F.col("pc").isNotNull(),
                F.substring_index(F.col("pc"), " ", 1),
            ),
            "code": F.substring_index(F.col("pc"), " ", -1).try_cast("long"),
        }
    )
    # logfmt (unified fields via anchored extracts — JVM path)
    lf = lambda pat: F.nullif(F.regexp_extract(t, pat, 1), F.lit(""))
    df = df.withColumns(
        {
            "level": F.when(F.col("fmt") == "logfmt", lf(r"(?:^|\s)level=(\S+)")),
            "msg": F.when(F.col("fmt") == "logfmt", lf(r'msg="([^"]*)"')),
            "latency_cents": F.when(
                F.col("fmt") == "logfmt", lf(r"latency_cents=(\d+)").try_cast("long")
            ),
        }
    )
    # json — parsed ONCE into a gated struct column, fields projected
    # from the struct: four `when(fmt=json, from_json(...)[field])`
    # branches each ran the full JSON parser per row (whole-stage
    # codegen's subexpression elimination does not merge subtrees
    # across separate CASE branches; measured 2.0 s -> 1.3 s for the
    # json block alone at 10M rows). A NULL struct (non-json rows)
    # yields NULL fields — identical values to the gated form.
    df = df.withColumn(
        "_j", F.when(F.col("fmt") == "json", F.from_json(t, JSON_SCHEMA))
    )
    df = df.withColumns(
        {
            "json_id": F.col("_j")["id"],
            "word1": F.col("_j")["word1"],
            "bytes_cents": F.col("_j")["bytes"],
            "usage": F.col("_j")["usage"],
        }
    )
    # syslog — one ps span extract feeds pri and smsg (see
    # SYSLOG_PS_RE); NULL span (non-syslog or non-matching row) makes
    # both fields NULL, and the nullif keeps the per-group form's
    # matched-but-empty-smsg -> NULL behavior
    df = df.withColumn(
        "_ps",
        F.when(
            F.col("fmt") == "syslog",
            F.nullif(F.regexp_extract(t, _SYSLOG_PS_JAVA, 1), F.lit("")),
        ),
    )
    _ps_toks = F.split(F.col("_ps"), " ")
    df = df.withColumns(
        {
            "pri": F.substring_index(F.col("_ps"), ">", 1).try_cast("long"),
            "smsg": F.nullif(
                F.array_join(
                    F.slice(
                        _ps_toks, 8, F.greatest(F.size(_ps_toks) - 7, F.lit(0))
                    ),
                    " ",
                ),
                F.lit(""),
            ),
        }
    )
    # ltsv — one anchored extract per field reads the key's FIRST
    # occurrence, an empty value as NULL (the oracle's rule). A map
    # (str_to_map) would fail the whole job on a line that repeats a
    # key (DUPLICATED_MAP_KEY under ANSI).
    lt = lambda key: F.when(
        F.col("fmt") == "ltsv",
        F.nullif(F.regexp_extract(t, rf"(?:^|\t){key}:([^\t]*)", 1), F.lit("")),
    )
    df = df.withColumns(
        {
            "k1": lt("k1"),
            "k2": lt("k2").try_cast("long"),
            "ltsv_cents": lt("cents").try_cast("long"),
        }
    )
    # unified fields
    df = df.withColumns(
        {
            "evt_name": F.when(
                F.col("fmt") == "apache", F.regexp_extract(F.col("path"), r"^/api/(.*)$", 1)
            )
            .when(F.col("fmt") == "logfmt", F.regexp_extract(F.col("msg"), r"^evt (.*)$", 1))
            .when(F.col("fmt") == "json", F.col("word1"))
            .when(
                F.col("fmt") == "syslog",
                F.regexp_extract(F.col("smsg"), r"^(\S+) happened$", 1),
            )
            .when(F.col("fmt") == "ltsv", F.col("k1")),
            "amount_cents": F.when(F.col("fmt") == "logfmt", F.col("latency_cents"))
            .when(F.col("fmt") == "json", F.col("bytes_cents"))
            .when(F.col("fmt") == "ltsv", F.col("ltsv_cents")),
        }
    )
    df = df.withColumn(
        "parse_ok",
        (F.col("fmt") != "unknown")
        & F.when(F.col("fmt") == "apache", F.col("code").isNotNull())
        .when(F.col("fmt") == "logfmt", F.col("level").isNotNull())
        .when(F.col("fmt") == "json", F.col("json_id").isNotNull())
        .when(F.col("fmt") == "syslog", F.col("pri").isNotNull())
        .when(F.col("fmt") == "ltsv", F.col("k1").isNotNull())
        .otherwise(F.lit(False)),
    )
    # the parse-once helper columns are internal; CollapseProject will
    # not inline them back (non-cheap exprs referenced multiple times)
    return df.drop("_j", "pc", "_ps")


# ---------------------------------------------------------------------------
# stage 2: enrich

def enrich_stage(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Broadcast lookup enrich: tool -> (category, risk_level) with
    'Unknown' default on miss/null, and raw role -> norm_role (misses
    normalize to 'other')."""
    df = E.lookup_enrich(
        df,
        tool_categories_dim(spark),
        key="tool",
        dim_key="tool_key",
        defaults={"category": "Unknown", "risk_level": "none"},
    )
    df = E.lookup_enrich(
        df,
        role_map_dim(spark),
        key="role",
        dim_key="raw_role",
        defaults={"norm_role": "other"},
    )
    return df


# ---------------------------------------------------------------------------
# stage 3: route

def route_stage(df: DataFrame) -> DataFrame:
    """Ordered tag rules (first match wins), one rewrite_tag pass, then the sink route mask (zero matches would drop, though
    sink_all matches everything here)."""
    df = R.first_match_tag(
        df,
        [
            (~F.col("parse_ok"), F.concat(F.lit("unparsed."), F.col("norm_role"))),
            (F.col("evt_name") == "error", F.concat(F.lit("errors."), F.col("norm_role"))),
            (F.col("category") != "Unknown", F.concat(F.lit("tools."), F.col("category"))),
            (F.col("norm_role") == "tool", F.lit("tools.misc")),
        ],
        default=F.concat(F.lit("chat."), F.col("norm_role")),
    )
    df = R.rewrite_tag(
        df,
        [
            R.RewriteRule(
                condition=F.col("tag").rlike(r"^errors\.") & (F.col("fmt") == "apache"),
                new_tag=F.concat(F.lit("alerts."), F.col("norm_role")),
                keep=False,
            )
        ],
    )
    return R.route_mask(df, SINKS)


# ---------------------------------------------------------------------------
# composition

def run_pipeline(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Full routed frame (pre-sink): transcripts + parsed fields +
    enrich + tag + routes."""
    df = source if source is not None else load_transcripts(spark, sf_dir)
    df = parse_stage(df)
    df = enrich_stage(df, spark)
    return route_stage(df)
