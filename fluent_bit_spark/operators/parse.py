"""Parse operators — the reference's parser plugins re-expressed as
columnar DataFrame transforms.

Reference behaviors mirrored (see SURVEY.md §2.2):

- regex parser with named capture groups (src/flb_parser_regex.c:115,
  engine src/flb_regex.c:228-240): named groups -> new columns;
  no-match -> nulls. One engine, like the reference: one JVM
  `regexp_extract` per group, inside whole-stage codegen, no Python.
  Contract: patterns are Java regex (`java.util.regex`), written with
  `(?<name>...)` or `(?P<name>...)` groups. Onigmo/Ruby-only syntax
  (its hex-digit class, `(?(x)...)` conditionals, ...) is out of
  contract and fails loudly with Spark's
  `INVALID_PARAMETER_VALUE.PATTERN` error, which names the pattern,
  instead of yielding NULL fields.
- json parser (src/flb_parser_json.c): `from_json` with schema.
- ltsv parser (src/flb_parser_ltsv.c): `str_to_map`.
- logfmt parser (src/flb_parser_logfmt.c): regexp_extract_all pairs ->
  map (quoted values unwrapped).
- time lookup (flb_parser_time_lookup, include/fluent-bit/
  flb_parser.h:106-108): `to_timestamp(field, fmt)`; Time_Keep=Off
  drops the raw field.
- typecast (`Types k:integer ...`, include/fluent-bit/flb_parser.h:69-75):
  `cast`, hex via `conv(x,16,10)`.
- field decoder Decode_Field_As json (src/flb_parser_decoder.c):
  `decode_field_as_json`, `from_json` on a sub-field.

Per-turn text-equality invariant: parsers only ADD columns; the source
`text` column is never rewritten.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NAMED_GROUP = re.compile(r"\(\?P?<([A-Za-z_][A-Za-z0-9_]*)>")


def named_groups(pattern: str) -> list[str]:
    """Capture-group names in order of appearance."""
    return _NAMED_GROUP.findall(pattern)


def java_pattern(pattern: str) -> str:
    """Strip named groups to plain groups (Java group names can't
    contain underscores); extraction is by index."""
    return _NAMED_GROUP.sub("(", pattern)


def _group_indices(pattern: str) -> dict[str, int]:
    """True 1-based capture index per named group, robust to plain
    unnamed '(' groups interleaved with named ones (the stripped JVM
    pattern keeps every group at the same position)."""
    # Python's re only accepts (?P<name>; normalize the (?<name> form.
    normalized = re.sub(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>", r"(?P<\1>", pattern)
    return dict(re.compile(normalized).groupindex)


def regex_extract_native(
    text: Column, pattern: str, groups: Iterable[str] | None = None
) -> dict[str, Column]:
    """Named-group regex parse with JVM `regexp_extract` — one call per
    group against the same pattern; Catalyst dedups the compiled regex
    per task. No-match and empty-capture both yield NULL (the reference
    skips unmatched/unnamed groups, src/flb_parser_regex.c:142-156)."""
    groups = list(groups) if groups is not None else named_groups(pattern)
    jpat = java_pattern(pattern)
    idx = _group_indices(pattern)
    out = {}
    for g in groups:
        if g not in idx:
            raise ValueError(f"group {g!r} not named in pattern")
        out[g] = F.nullif(F.regexp_extract(text, jpat, idx[g]), F.lit("")).alias(g)
    return out


def apply_regex_parser(
    df: DataFrame,
    pattern: str,
    source: str = "text",
    types: dict[str, str] | None = None,
    time_key: str | None = None,
    time_format: str | None = None,
    time_keep: bool = True,
    time_col: str = "event_time",
    gate: Column | None = None,
    groups: list[str] | None = None,
) -> DataFrame:
    """Full regex-parser semantics: extract named groups as columns,
    apply per-key typecasts, then time-lookup on `time_key`.

    `gate`: optional boolean Column; rows failing it skip the regex
    entirely (lazy `when`) and get NULL fields. In a multi-parser
    pipeline, gating on the detected format means each row pays only
    its own grammar's matcher — a large win when this parser applies
    to a minority of rows.

    `groups`: optional subset of the pattern's named groups to emit
    (default: all). Groups are capture-only in Java regex — selecting
    a subset never changes matching — so callers that derive some
    fields more cheaply (e.g. flagship's span-group path/code) can
    skip the per-group matcher runs they replace."""
    extracted = regex_extract_native(F.col(source), pattern, groups)
    if gate is not None:
        extracted = {g: F.when(gate, c) for g, c in extracted.items()}
    df = df.withColumns(extracted)
    if types:
        df = typecast(df, types)
    if time_key:
        df = time_lookup(df, time_key, time_format, keep=time_keep, out=time_col)
    return df


def typecast(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """Per-key declared casts: integer/float/bool/string/hex
    (include/fluent-bit/flb_parser.h:69-75). A value that does not
    parse as its type becomes NULL (`try_cast`): under ANSI mode a plain
    cast would abort the whole job on one malformed log line."""
    cols = {}
    for key, ty in types.items():
        c = F.col(key)
        if ty in ("integer", "int"):
            cols[key] = c.try_cast("long")
        elif ty == "float":
            cols[key] = c.try_cast("double")
        elif ty in ("bool", "boolean"):
            cols[key] = c.try_cast("boolean")
        elif ty == "hex":
            cols[key] = F.conv(c, 16, 10).try_cast("long")
        else:
            cols[key] = c.cast("string")
    return df.withColumns(cols)


def time_lookup(
    df: DataFrame,
    time_key: str,
    time_format: str | None,
    keep: bool = True,
    out: str = "event_time",
) -> DataFrame:
    """Extract the parsed time field to a timestamp column; Time_Keep=Off
    drops the raw field (src/flb_parser.c flb_parser_time_lookup)."""
    ts = (
        F.try_to_timestamp(F.col(time_key), F.lit(time_format))
        if time_format
        else F.try_to_timestamp(F.col(time_key))
    )
    df = df.withColumn(out, ts)
    if not keep:
        df = df.drop(time_key)
    return df


def json_parser(
    df: DataFrame,
    schema: T.StructType | str,
    source: str = "text",
) -> DataFrame:
    """JSON parse (src/flb_parser_json.c): `from_json` with an explicit
    schema, its fields splatted to top-level columns."""
    df = df.withColumn("_j", F.from_json(F.col(source), schema))
    names = (
        schema.fieldNames()
        if isinstance(schema, T.StructType)
        else df.select("_j.*").columns
    )
    df = df.withColumns({n: F.col(f"_j.{n}") for n in names})
    return df.drop("_j")


def _map_last_wins(keys: Column, vals: Column) -> Column:
    """map_from_arrays that tolerates duplicate keys by keeping the
    LAST occurrence (Spark's default dedup policy is EXCEPTION, which
    would kill the job on one bad log line).

    `keys`/`vals` MUST be bound column references: both are referenced
    inside the keep-filter/transform lambdas below, and Catalyst does
    not CSE expression trees into higher-order-function lambdas — an
    inline extraction tree here would re-run the full parse once per
    pair per lambda (O(pairs^2) per log line). Callers project the
    extracted arrays into temp columns first (see ltsv_parser /
    logfmt_parser)."""
    n = F.size(keys)
    idx = F.sequence(F.lit(0), n - F.lit(1))
    keep = F.filter(
        idx,
        lambda i: ~F.array_contains(
            F.slice(keys, i + F.lit(2), n), F.element_at(keys, i + F.lit(1))
        ),
    )
    built = F.map_from_arrays(
        F.transform(keep, lambda i: F.element_at(keys, i + F.lit(1))),
        F.transform(keep, lambda i: F.element_at(vals, i + F.lit(1))),
    )
    # sequence(0, -1) would be descending; guard the empty case
    return F.when(n > 0, built).otherwise(
        F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
    )


def ltsv_parser(df: DataFrame, source: str = "text") -> DataFrame:
    """LTSV `k:v<TAB>...` -> MapType column `ltsv` (src/flb_parser_ltsv.c).
    Duplicate keys keep the last value (str_to_map would throw
    DUPLICATE_MAP_KEY); values may contain ':'."""
    pairs = F.filter(F.split(F.col(source), "\t"), lambda p: p.contains(":"))
    df = df.withColumn("_lt_pairs", pairs).withColumns(
        {
            "_lt_keys": F.transform(
                F.col("_lt_pairs"), lambda p: F.substring_index(p, ":", 1)
            ),
            "_lt_vals": F.transform(
                F.col("_lt_pairs"), lambda p: F.regexp_replace(p, r"^[^:]*:", "")
            ),
        }
    )
    return df.withColumn(
        "ltsv", _map_last_wins(F.col("_lt_keys"), F.col("_lt_vals"))
    ).drop("_lt_pairs", "_lt_keys", "_lt_vals")


# logfmt: key=value pairs, value either bare token or double-quoted.
_LOGFMT_PAIR = r'([A-Za-z0-9_.-]+)=("[^"]*"|\S+)'


def logfmt_parser(df: DataFrame, source: str = "text") -> DataFrame:
    """logfmt -> MapType column `logfmt` entirely with builtins: extract key and
    value arrays with `regexp_extract_all`, unquote quoted values, zip
    into a map (src/flb_parser_logfmt.c semantics)."""
    df = df.withColumns(
        {
            "_lf_keys": F.regexp_extract_all(
                F.col(source), F.lit(_LOGFMT_PAIR), F.lit(1)
            ),
            "_lf_vals": F.transform(
                F.regexp_extract_all(F.col(source), F.lit(_LOGFMT_PAIR), F.lit(2)),
                lambda v: F.when(
                    v.startswith('"') & v.endswith('"'),
                    v.substr(F.lit(2), F.length(v) - F.lit(2)),
                ).otherwise(v),
            ),
        }
    )
    # last occurrence wins on duplicate keys (no DUPLICATE_MAP_KEY crash)
    return df.withColumn(
        "logfmt", _map_last_wins(F.col("_lf_keys"), F.col("_lf_vals"))
    ).drop("_lf_keys", "_lf_vals")


def decode_field_as_json(
    df: DataFrame, field: str, schema: T.StructType | str, out: str | None = None
) -> DataFrame:
    """Decode_Field_As json (src/flb_parser_decoder.c:419-443): re-parse
    an embedded JSON string field, replacing (or aliasing) the value."""
    return df.withColumn(out or field, F.from_json(F.col(field), schema))


def template_expr(col: Column) -> Column:
    """Mask a log line's variable tokens (IPv4 quads, then digit runs)
    to typed placeholders — the shared masking pass behind
    `template_mine` and `governance.template_novelty`."""
    t = F.regexp_replace(col, r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>")
    return F.regexp_replace(t, r"\d+", "<N>")


def template_mine(df: DataFrame, min_groups: int = 3) -> DataFrame:
    """Log-template mining: collapse the variable tokens of each `text`
    line — IPv4 dotted quads, then any digit run — to typed placeholders
    and group the resulting templates, keeping those that recur across
    at least `min_groups` distinct conversations (`conv_id`). The masking pass is the
    core of Drain/Spell-style template extraction; the recurring
    templates are the "log schema" a fleet emits (the discovery step
    the reference leaves to the operator who hand-writes
    parsers.conf regexes — conf/parsers.conf — automated).

    Output: (template, n_turns, n_groups, sample) where sample is the
    lexicographically-least raw line (deterministic exemplar).

    Scale shape: masking is a shuffle-free map; the groupBy moves only
    (template, group) pairs with map-side partial aggregation, and
    templated log text collapses to a tiny distinct set by design.
    """
    return (
        df.withColumn("template", template_expr(F.col("text")))
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count_distinct(F.col("conv_id")).alias("n_groups"),
            F.min(F.col("text")).alias("sample"),
        )
        .filter(F.col("n_groups") >= min_groups)
    )
