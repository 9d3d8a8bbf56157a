"""Router — Fluent Bit's tag/Match fan-out re-expressed as columnar
predicates.

Reference semantics (SURVEY.md §2.4):

- tag glob match: '*' wildcard anywhere, case-sensitive, recursive
  backtrack (src/flb_router.c:39-104). Here: glob -> anchored regex,
  evaluated as a `rlike` predicate per sink.
- route mask: the set of sinks a record matches, computed once; a
  record can match many sinks (copy fan-out), zero matches => dropped
  (src/flb_routes_mask.c:18-60). Here: a `routes` array<string>
  column built by `concat` of one `when(pred, [name])` term per sink
  (compiled, no lambda), a drop rule that is the OR of the sinks'
  predicates, and `explode_routes`, one row per (record, sink), which
  feeds both the one-job partitioned sink write and the per-sink
  aggregates. The explode is `explode_outer` plus a non-NULL filter on
  the sink: for a plain `explode` Spark infers `size(routes) > 0` and
  pushes it below the tag projections, which re-evaluates the tag
  chain per sink; a filter on the generator's output stays above it.
- rewrite_tag (plugins/filter_rewrite_tag/rewrite_tag.c:287-334):
  per rule (condition, new-tag template, keep); matching records are
  re-emitted under the new tag — `keep=True` keeps the original too
  (copy), `keep=False` replaces it. The reference re-enters the whole
  pipeline through an emitter input; unbounded in C, we apply one
  pass (configs are acyclic in practice).

Tag assignment itself mirrors filter_grep's ordered first-decisive-rule
evaluation (plugins/filter_grep/grep.c:148-175) as a lazy `when` chain.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def glob_to_regex(glob: str) -> str:
    """Fluent Bit Match glob ('*' only) -> anchored Java/RE2 regex."""
    parts = [re.escape(p) for p in glob.split("*")]
    return "^" + ".*".join(parts) + "$"


def glob_predicate(tag: Column, glob: str) -> Column:
    """Match-glob predicate over a tag column. The common shapes
    ('*', exact, 'prefix.*', '*.suffix') compile to constant/equality/
    startswith/endswith — far cheaper per row than a regex — with the
    general multi-star glob falling back to the anchored rlike."""
    if glob == "*":
        # NOT lit(True): a NULL tag must match nothing, exactly like the
        # rlike/startswith forms (which return NULL on NULL input)
        return tag.isNotNull()
    if "*" not in glob:
        return tag == glob
    if glob.endswith("*") and "*" not in glob[:-1]:
        return tag.startswith(glob[:-1])
    if glob.startswith("*") and "*" not in glob[1:]:
        return tag.endswith(glob[1:])
    return tag.rlike(glob_to_regex(glob))


def first_match_tag(
    df: DataFrame,
    rules: list[tuple[Column, Column]],
    default: Column,
) -> DataFrame:
    """Ordered first-match-wins assignment of column `tag`: nested
    when-chain, so later predicates short-circuit exactly like grep's
    decisive-rule loop."""
    expr = None
    for cond, tag in rules:
        expr = F.when(cond, tag) if expr is None else expr.when(cond, tag)
    expr = expr.otherwise(default) if expr is not None else default
    return df.withColumn("tag", expr)


@dataclass(frozen=True)
class RewriteRule:
    condition: Column
    new_tag: Column
    keep: bool = False


def rewrite_tag(df: DataFrame, rules: list[RewriteRule]) -> DataFrame:
    """One rewrite_tag pass: the FIRST matching rule per record applies.
    Keep and non-keep rules share one ordered scan (rewrite_tag.c:287-334
    stops at the first hit), so a record matching an earlier keep rule
    is never also rewritten by a later rule.
    Non-keep rules rewrite in place (cheap, no union); keep rules emit a
    re-tagged copy via a union (the reference's emitter copy fan-out)."""
    # effective condition per rule = its own condition AND no earlier
    # rule (of either kind) matched; the set is mutually exclusive
    prior = F.lit(False)
    replace_expr = F.col("tag")
    copies = []
    for rule in rules:
        # NULL-valued conditions are non-matches (a NULL folded into
        # `prior` would otherwise poison ~prior for all later rules)
        cond = F.coalesce(rule.condition, F.lit(False))
        eff = cond & ~prior
        if rule.keep:
            copies.append(df.filter(eff).withColumn("tag", rule.new_tag))
        else:
            replace_expr = F.when(eff, rule.new_tag).otherwise(replace_expr)
        prior = prior | cond
    df = df.withColumn("tag", replace_expr)
    for c in copies:
        df = df.unionByName(c)
    return df


def _matched_sinks(tag: Column, sinks: list[tuple[str, str]]) -> Column:
    """`array<string>` of the names of the sinks whose Match glob matches
    `tag`, in sink order: a `concat` of one `when(pred, [name])` /
    empty-array term per sink. It compiles (no lambda) and is never
    NULL; a NULL predicate (NULL tag) counts as no match."""
    empty = F.array().cast("array<string>")
    if not sinks:
        return empty
    return F.concat(
        *[
            F.when(glob_predicate(tag, glob), F.array(F.lit(name))).otherwise(empty)
            for name, glob in sinks
        ]
    )


def route_mask(df: DataFrame, sinks: list[tuple[str, str]]) -> DataFrame:
    """Compute `routes: array<string>` = sinks whose Match glob matches
    the record's tag. Zero matches => record dropped (reference drops
    chunks with an empty route mask). The drop rule is the OR of the
    sinks' predicates rather than `size(routes) > 0`: a name is in
    `routes` exactly when its predicate is true, and a `*` sink over a
    non-NULL tag lets Catalyst fold the filter away."""
    tag = F.col("tag")
    keep = F.lit(False)
    for _name, glob in sinks:
        keep = keep | glob_predicate(tag, glob)
    return df.withColumn("routes", _matched_sinks(tag, sinks)).filter(keep)


def explode_routes(df: DataFrame) -> DataFrame:
    """One row per (record, matched sink), the sink in column `sink` —
    the copy fan-out as rows, shared by the sink write and the per-sink
    aggregates. Records whose `routes` is empty or NULL give no row, as
    with `explode` (`routes` never holds a NULL name).

    Written as `explode_outer` plus a filter on the generated `sink`:
    for a plain `explode`, Spark's `InferFiltersFromGenerate` adds
    `size(routes) > 0 AND isnotnull(routes)` under the Generate, and
    predicate pushdown then inlines that condition through the tag
    projections (the tag CASE chain and rewrite_tag's regex once per
    sink). A filter on the generator's output cannot be pushed below
    it."""
    return df.withColumn("sink", F.explode_outer("routes")).filter(
        F.col("sink").isNotNull()
    )


# ---------------------------------------------------------------------------
# dead-letter routing

@dataclass(frozen=True)
class DlqCheck:
    """One ordered quarantine rule: records where `failed` is true are
    dead-lettered with `reason` (first failing check wins, like the
    grep/rewrite_tag first-decisive-rule convention)."""

    reason: str
    failed: Column


def dlq_mark(df: DataFrame, checks: list[DlqCheck]) -> DataFrame:
    """Add `dlq_reason` = reason of the FIRST failing check, NULL when every
    check passes. One map stage; NULL check results count as passing
    (`when` is false-on-NULL)."""
    if not checks:
        raise ValueError("dlq_mark needs at least one check")
    return df.withColumn(
        "dlq_reason", F.coalesce(*[F.when(c.failed, F.lit(c.reason)) for c in checks])
    )


def dlq_split(
    df: DataFrame, checks: list[DlqCheck]
) -> tuple[DataFrame, DataFrame]:
    """(clean, dead_letter) views of one `dlq_reason`-marked frame — the quarantine
    analog of the reference's parse-failure handling: filter_parser
    either drops unparseable records or passes them through untouched
    (plugins/filter_parser/filter_parser.c Reserve_Data), and the
    engine silently discards chunks with an empty route mask
    (src/flb_router.c). At 100 TB silent drops are unacceptable; the
    scale idiom is a reasoned dead-letter sink: mark once (one
    whole-stage-codegen pass), persist, filter twice."""
    marked = dlq_mark(df, checks)
    return (
        marked.filter(F.col("dlq_reason").isNull()).drop("dlq_reason"),
        marked.filter(F.col("dlq_reason").isNotNull()),
    )


def route_diff(
    df: DataFrame,
    sinks_old: list[tuple[str, str]],
    sinks_new: list[tuple[str, str]],
) -> DataFrame:
    """Config-reload impact preview: before swapping router configs
    (the reference re-builds the router on SIGHUP/hot-reload,
    src/flb_router.c — with no way to ask "what will change?"),
    evaluate BOTH Match-glob rule sets against the observed tag
    vocabulary and report, per `tag`:

    - ``n_rows``: how many records currently carry the tag;
    - ``routes_old`` / ``routes_new``: comma-joined sorted sink sets;
    - ``added`` / ``removed``: the sink-set delta;
    - ``verdict``: ``unchanged`` | ``rerouted`` | ``newly_dropped``
      (was routed, now matches nothing → the reference would DROP
      these records) | ``newly_routed``.

    Scale shape: ONE map-side-combined groupBy collapses the corpus
    to its tag vocabulary; every glob evaluation and set diff runs
    over #tags rows (closed-form per tag, rows never re-read). The
    preview of a config change against 100 TB costs one count pass.
    """
    tags = df.groupBy("tag").agg(F.count(F.lit(1)).alias("n_rows"))

    staged = tags.withColumn(
        "_ra", F.array_sort(_matched_sinks(F.col("tag"), sinks_old))
    ).withColumn("_rb", F.array_sort(_matched_sinks(F.col("tag"), sinks_new)))
    verdict = (
        F.when(F.col("_ra") == F.col("_rb"), F.lit("unchanged"))
        .when(F.size("_rb") == 0, F.lit("newly_dropped"))
        .when(F.size("_ra") == 0, F.lit("newly_routed"))
        .otherwise(F.lit("rerouted"))
    )
    return staged.select(
        "tag",
        "n_rows",
        F.array_join("_ra", ",").alias("routes_old"),
        F.array_join("_rb", ",").alias("routes_new"),
        F.array_join(F.array_sort(F.array_except("_rb", "_ra")), ",").alias(
            "added"
        ),
        F.array_join(F.array_sort(F.array_except("_ra", "_rb")), ",").alias(
            "removed"
        ),
        verdict.alias("verdict"),
    )
