"""Grok pattern compiler — `%{SYNTAX:field:type}` macros expanded to
the named-group regexes the parse stage already runs.

The reference ships named-group regex parsers (parsers.conf `[PARSER]
Format regex`, src/flb_parser_regex.c); grok is the macro layer users
write those patterns in (the Logstash/Elastic pattern syntax, public
knowledge). This module expands a grok expression into one flat regex
and hands it to `apply_regex_parser`, which runs it as JVM
`regexp_extract` calls inside whole-stage codegen.

Design constraints:
- Contract: the expanded pattern is Java regex, like every pattern
  `apply_regex_parser` runs. A custom base pattern in syntax Java
  cannot compile (Onigmo-only classes, conditionals) fails the job
  with Spark's `INVALID_PARAMETER_VALUE.PATTERN` error naming the
  pattern; it never yields NULL fields.
- Base patterns contain NO capturing groups (all `(?:...)`) — only
  `%{NAME:field}` introduces a capture. Capture order therefore equals
  field-appearance order, which keeps the stripped positional form
  (for the JVM and for SQL oracles) aligned with field order.
- RE2-safe subset (no backrefs, no possessive quantifiers, no
  lookbehind) so the same expanded pattern runs identically on Java
  regex, Python `re` and DuckDB/RE2 — one pattern, every
  engine.
- `%{NAME:field:int}` / `:float` map onto the existing typecast stage
  (integer / float), mirroring grok's two standard conversions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Common grok base patterns (RE2-safe, capture-free). Public-knowledge
# definitions, simplified where the canonical ones use constructs RE2
# lacks (QS backrefs) — documented per pattern.
GROK_PATTERNS: dict[str, str] = {
    "INT": r"(?:[+-]?[0-9]+)",
    "POSINT": r"\b(?:[1-9][0-9]*)\b",
    "NONNEGINT": r"\b(?:[0-9]+)\b",
    "BASE10NUM": r"(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+))",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"(?:0[xX][0-9A-Fa-f]+|[0-9A-Fa-f]+)",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILLOCALPART": r"[a-zA-Z0-9!#$%&'*+\-/=?^_`{|}~.]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "IPV4": (
        r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
    ),
    "HOSTNAME": (
        r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})"
        r"(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b"
    ),
    "IPORHOST": r"(?:%{IPV4}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "MONTH": (
        r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|"
        r"Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|"
        r"Nov(?:ember)?|Dec(?:ember)?)\b"
    ),
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"(?:%{HOUR}:%{MINUTE}(?::%{SECOND})?)",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "TIMESTAMP_ISO8601": (
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:%{MINUTE}"
        r"(?::%{SECOND})?%{ISO8601_TIMEZONE}?"
    ),
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "LOGLEVEL": (
        r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|"
        r"NOTICE|[Ii]nfo(?:rmation)?|INFO(?:RMATION)?|[Ww]arn(?:ing)?|"
        r"WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|"
        r"CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|"
        r"[Ee]merg(?:ency)?)"
    ),
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    # canonical QUOTEDSTRING uses a backreference; this RE2-safe form
    # handles escaped quotes per quote kind
    "QUOTEDSTRING": (
        r"(?:\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*'|`(?:[^`\\]|\\.)*`)"
    ),
    "QS": r"%{QUOTEDSTRING}",
    "URIPROTO": r"[A-Za-z]+(?:\+[A-Za-z+]+)?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG}(?:\[%{POSINT}\])?",
}

_MACRO = re.compile(
    r"%\{(?P<name>[A-Z0-9_]+)(?::(?P<field>[A-Za-z_][A-Za-z0-9_]*))?"
    r"(?::(?P<type>[A-Za-z0-9_]+))?\}"
)
_MACRO_ANY = re.compile(r"%\{[^}]*\}")

_TYPE_MAP = {"int": "integer", "float": "float"}


class GrokError(ValueError):
    pass


def grok_compile(pattern: str) -> tuple[str, list[str], dict[str, str]]:
    """Expand a grok expression to `(regex, fields, casts)`:

    - `regex`: flat named-group pattern (`(?<field>...)` per
      `%{NAME:field}`; bare `%{NAME}` expands capture-free), ready for
      `apply_regex_parser` / `named_groups`.
    - `fields`: capture names in appearance order.
    - `casts`: field -> typecast name for the `:int`/`:float`
      conversions (`typecast` stage vocabulary).
    """
    fields: list[str] = []
    casts: dict[str, str] = {}

    def expand(pat: str, depth: int, capture: bool) -> str:
        if depth > 16:
            raise GrokError("grok pattern recursion too deep (cycle?)")

        def sub(m: re.Match) -> str:
            name, field, ty = m.group("name"), m.group("field"), m.group("type")
            if name not in GROK_PATTERNS:
                raise GrokError(f"unknown grok pattern %{{{name}}}")
            if ty and ty not in _TYPE_MAP:
                raise GrokError(
                    f"unsupported grok conversion {ty!r} in %{{{name}:{field}:{ty}}}"
                    " (only :int / :float)"
                )
            body = expand(GROK_PATTERNS[name], depth + 1, capture=False)
            if field and capture:
                if field in fields:
                    raise GrokError(f"duplicate grok field {field!r}")
                fields.append(field)
                if ty:
                    casts[field] = _TYPE_MAP[ty]
                return f"(?<{field}>{body})"
            return f"(?:{body})"

        return _MACRO.sub(sub, pat)

    if not isinstance(pattern, str):
        raise GrokError("grok pattern must be a string (got None?)")
    # nested references never capture: only top-level %{X:field} does
    expanded = expand(pattern, 0, capture=True)
    leftover = _MACRO_ANY.search(expanded)
    if leftover:
        # e.g. %{lowercase} or other malformed macro syntax _MACRO skipped
        raise GrokError(f"malformed grok macro {leftover.group(0)!r}")
    return expanded, fields, casts


def apply_grok(
    df: DataFrame,
    pattern: str,
    source: str = "text",
    **kwargs,
) -> DataFrame:
    """Grok front-end to `apply_regex_parser`: expand the macros, merge
    the `:int`/`:float` casts into any caller-passed `types`, and run
    the existing JVM regex stage."""
    from fluent_bit_spark.operators.parse import apply_regex_parser

    regex, _fields, casts = grok_compile(pattern)
    types = {**casts, **(kwargs.pop("types", None) or {})}
    return apply_regex_parser(df, regex, source=source, types=types, **kwargs)
