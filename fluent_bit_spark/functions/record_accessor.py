"""Record accessor — Fluent Bit's path/template mini-language
(src/record_accessor/ra.l, ra.y; driver src/flb_record_accessor.c:260)
compiled to Column expressions.

Template syntax:
    $key                 -> record field
    $key['sub']['s2']    -> nested subkey (struct field / map key)
    $TAG                 -> the routing tag
    $TAG[n]              -> tag split on '.' then part n (0-based)
    $0..$9               -> regex capture references (supplied by the
                            caller, e.g. rewrite_tag's rule regex —
                            plugins/filter_rewrite_tag/rewrite_tag.c:313)
    anything else        -> literal text

`flb_ra_translate` renders a template against (tag, record);
`flb_ra_regex_match` applies a regex to a resolved value
(plugins/filter_grep/grep.c:158). Missing keys render empty (the
reference skips them).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PART = re.compile(
    r"""
    \$TAG\[(?P<tagidx>\d+)\]
  | \$TAG
  | \$(?P<capture>\d)
  | \$(?P<key>[A-Za-z_][A-Za-z0-9_]*)(?P<path>(\['[^']+'\])*)
    """,
    re.VERBOSE,
)
_SUB = re.compile(r"\['([^']+)'\]")


def _key_column(df: DataFrame, key: str, path: list[str]) -> Column:
    if key not in df.columns:
        return F.lit(None)
    c = F.col(key)
    for p in path:
        c = F.try_element_at(c, F.lit(p))
    return c


def ra_translate(
    df: DataFrame,
    template: str,
    captures: dict[int, Column] | None = None,
) -> Column:
    """Render the template to a string Column. Missing keys / captures
    render as empty string (reference behavior)."""
    parts: list[Column] = []
    pos = 0
    for m in _PART.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        if m.group("tagidx") is not None:
            idx = int(m.group("tagidx"))
            parts.append(
                F.coalesce(
                    F.try_element_at(F.split(F.col("tag"), r"\."), F.lit(idx + 1)),
                    F.lit(""),
                )
            )
        elif m.group(0) == "$TAG":
            parts.append(F.coalesce(F.col("tag"), F.lit("")))
        elif m.group("capture") is not None:
            i = int(m.group("capture"))
            c = (captures or {}).get(i, F.lit(""))
            parts.append(F.coalesce(c.cast("string"), F.lit("")))
        else:
            key = m.group("key")
            path = _SUB.findall(m.group("path") or "")
            parts.append(
                F.coalesce(_key_column(df, key, path).cast("string"), F.lit(""))
            )
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


def regex_captures(source: Column, pattern: str, n_groups: int) -> dict[int, Column]:
    """$0..$9 capture set for a rule regex: $0 = whole match, $i =
    group i (rewrite_tag's capture refs)."""
    out = {0: F.regexp_extract(source, pattern, 0)}
    for i in range(1, n_groups + 1):
        out[i] = F.regexp_extract(source, pattern, i)
    return out


def ra_regex_match(df: DataFrame, accessor: str, pattern: str) -> Column:
    """Boolean: does the resolved accessor value match the regex
    (missing value => false)."""
    val = ra_translate(df, accessor)
    return F.coalesce(val.rlike(pattern), F.lit(False))
