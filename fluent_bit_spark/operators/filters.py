"""Filter operators — Fluent Bit's filter plugins as DataFrame
transforms over a fixed-schema record (absent map key ≙ NULL column).

Parity notes per operator (SURVEY.md §2.3):

- grep (plugins/filter_grep/grep.c:148-175): ordered Regex/Exclude
  rules, first decisive rule wins. A Regex rule is always decisive
  (match => keep, non-match => drop); an Exclude rule is decisive on
  match (drop); fall-through keeps. Missing field = non-match.
- record_modifier (plugins/filter_record_modifier/filter_modifier.c):
  Remove_key XOR Whitelist_key (exclusive, :119-121) + Record k v
  literal appends.
- modify (plugins/filter_modify/modify.{h,c}): per-record conditional
  column algebra — all conditions must hold, then rules apply in
  order. "Key exists" means the column exists AND the row's value is
  non-null (schemaless maps carry no null-valued keys).
- nest / lift (plugins/filter_nest/nest.c): wildcard-selected columns
  into a struct; struct splat up with optional prefix add/remove.
- parser (plugins/filter_parser/filter_parser.c:181-307): re-parse one
  field with a parser chain, Reserve_Data.
- throttle (plugins/filter_throttle/throttle.c:98-105): sliding-window
  rate limit. Batch analog: deterministic event-time windows —
  keep the first `rate * window` records per window in (ts, stable id)
  order. Documented deviation: the reference drops by wall-clock
  arrival; we drop by event-time order, which is reproducible.
- throttle_size (plugins/filter_throttle_size/): same, budgeting
  bytes per key per window via a running windowed sum.
- expect (plugins/filter_expect/expect.c): data-quality assertions;
  action 'warn' logs, 'exit' raises.
- alter_size (plugins/filter_alter_size/alter_size.c:62-133): drop
  the first N records.
- lua (plugins/filter_lua/lua.c:411): arbitrary per-record function
  that can drop/modify/split records => `mapInPandas` batch transform
  (Arrow-vectorized; a returned frame may have any row count).
"""

from __future__ import annotations

import fnmatch
import functools
import logging
import re
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# grep

def grep(df: DataFrame, rules: list[tuple[str, str, str]]) -> DataFrame:
    """Ordered grep rules: [(action, field, pattern)], action in
    {'regex','exclude'}. First decisive rule wins (see module doc)."""
    keep: Column = F.lit(True)  # fall-through
    for action, field, pattern in reversed(rules):
        # missing field = non-match (module doc), never an analysis error
        src = F.col(field) if field in df.columns else F.lit(None)
        m = F.coalesce(src.cast("string").rlike(pattern), F.lit(False))
        if action == "regex":
            keep = m  # decisive either way; earlier rules may still override
        elif action == "exclude":
            keep = F.when(m, F.lit(False)).otherwise(keep)
        else:
            raise ValueError(f"grep action must be regex|exclude, got {action!r}")
    return df.filter(keep)


# ---------------------------------------------------------------------------
# record_modifier

def record_modifier(
    df: DataFrame,
    remove_keys: Iterable[str] | None = None,
    whitelist_keys: Iterable[str] | None = None,
    records: dict[str, object] | None = None,
) -> DataFrame:
    """Remove_key / Whitelist_key projection (mutually exclusive) plus
    Record literal appends."""
    if remove_keys and whitelist_keys:
        raise ValueError("remove_keys and whitelist_keys are exclusive")
    if remove_keys:
        df = df.drop(*[k for k in remove_keys if k in df.columns])
    elif whitelist_keys:
        df = df.select(*[k for k in whitelist_keys if k in df.columns])
    if records:
        df = df.withColumns({k: F.lit(v) for k, v in records.items()})
    return df


# ---------------------------------------------------------------------------
# modify

class Condition:
    """filter_modify conditions (modify.h:39-50) over a static schema."""

    def __init__(self, kind: str, a: str | None = None, b: str | None = None):
        self.kind, self.a, self.b = kind, a, b

    def to_column(self, df: DataFrame) -> Column:
        cols = df.columns
        k = self.kind

        def exists(name: str) -> Column:
            return F.col(name).isNotNull() if name in cols else F.lit(False)

        if k == "key_exists":
            return exists(self.a)
        if k == "key_does_not_exist":
            return ~exists(self.a)
        if k == "a_key_matches":
            matching = [c for c in cols if re.search(self.a, c)]
            # reduce, not F.greatest: greatest() requires >=2 operands and
            # would crash when exactly one column matches the regex
            return functools.reduce(
                lambda x, y: x | y,
                [F.col(c).isNotNull() for c in matching],
                F.lit(False),
            )
        if k == "no_key_matches":
            return ~Condition("a_key_matches", self.a).to_column(df)
        if k == "key_value_equals":
            return exists(self.a) & (F.col(self.a).cast("string") == F.lit(self.b))
        if k == "key_value_does_not_equal":
            return exists(self.a) & (F.col(self.a).cast("string") != F.lit(self.b))
        if k == "key_value_matches":
            return exists(self.a) & F.col(self.a).cast("string").rlike(self.b)
        if k == "key_value_does_not_match":
            return exists(self.a) & ~F.col(self.a).cast("string").rlike(self.b)
        if k == "matching_keys_have_matching_values":
            matching = [c for c in cols if re.search(self.a, c)]
            return functools.reduce(
                lambda x, y: x & y,
                [
                    F.coalesce(F.col(c).cast("string").rlike(self.b), F.lit(True))
                    for c in matching
                ],
                F.lit(True),
            )
        if k == "matching_keys_do_not_have_matching_values":
            return ~Condition(
                "matching_keys_have_matching_values", self.a, self.b
            ).to_column(df)
        raise ValueError(f"unknown modify condition {k!r}")


class ModifyRule:
    """filter_modify rules (modify.h:27-37)."""

    def __init__(self, op: str, a: str | None = None, b: str | None = None):
        self.op, self.a, self.b = op, a, b


def modify(
    df: DataFrame, rules: list[ModifyRule], conditions: list[Condition] | None = None
) -> DataFrame:
    """Apply rules (in order) to rows satisfying ALL conditions; other
    rows pass through untouched (per-record semantics, modify.c:1263).

    Conditions are evaluated ONCE against the incoming record — before
    any rule mutates it (the reference checks all conditions first,
    then applies the rule list) — so they are frozen into a helper
    column that later rules reference instead of re-deriving."""
    cond_expr = F.lit(True)
    for c in conditions or []:
        cond_expr = cond_expr & c.to_column(df)
    df = df.withColumn("__modify_cond", cond_expr)
    cond = F.col("__modify_cond")

    for r in rules:
        cols = df.columns
        if r.op in ("rename", "hard_rename"):
            src, dst = r.a, r.b
            if src not in cols:
                continue
            src_c = F.col(src)
            dst_exists = F.col(dst).isNotNull() if dst in cols else F.lit(False)
            # hard_rename overwrites dst; rename only applies when dst absent
            applies = cond & src_c.isNotNull() & (
                F.lit(True) if r.op == "hard_rename" else ~dst_exists
            )
            dst_val = F.when(applies, src_c).otherwise(
                F.col(dst) if dst in cols else F.lit(None)
            )
            # single withColumns: both expressions see the pre-update row
            df = df.withColumns(
                {
                    dst: dst_val,
                    src: F.when(
                        applies, F.lit(None).cast(df.schema[src].dataType)
                    ).otherwise(src_c),
                }
            )
        elif r.op in ("add", "set"):
            key, val = r.a, r.b
            exists = F.col(key).isNotNull() if key in cols else F.lit(False)
            applies = cond if r.op == "set" else (cond & ~exists)
            prev = F.col(key).cast("string") if key in cols else F.lit(None).cast("string")
            df = df.withColumn(key, F.when(applies, F.lit(val)).otherwise(prev))
        elif r.op == "remove":
            if r.a in cols:
                df = df.withColumn(
                    r.a,
                    F.when(cond, F.lit(None).cast(df.schema[r.a].dataType)).otherwise(
                        F.col(r.a)
                    ),
                )
        elif r.op in ("remove_wildcard", "remove_regex"):
            # wildcard = whole-name glob (fnmatchcase); translate()+search
            # would also hit suffix-aligned substrings ('user*' matching
            # 'session_user'). regex keeps substring-search semantics.
            if r.op == "remove_wildcard":
                matches = lambda c: fnmatch.fnmatchcase(c, r.a)  # noqa: E731
            else:
                rx = re.compile(r.a)
                matches = lambda c: rx.search(c)  # noqa: E731
            for c in cols:
                if c == "__modify_cond":
                    continue
                if matches(c):
                    df = df.withColumn(
                        c,
                        F.when(cond, F.lit(None).cast(df.schema[c].dataType)).otherwise(
                            F.col(c)
                        ),
                    )
        elif r.op in ("copy", "hard_copy"):
            src, dst = r.a, r.b
            if src not in cols:
                continue
            dst_exists = F.col(dst).isNotNull() if dst in cols else F.lit(False)
            applies = cond & F.col(src).isNotNull() & (
                F.lit(True) if r.op == "hard_copy" else ~dst_exists
            )
            prev = F.col(dst) if dst in cols else F.lit(None)
            df = df.withColumn(dst, F.when(applies, F.col(src)).otherwise(prev))
        else:
            raise ValueError(f"unknown modify op {r.op!r}")
    return df.drop("__modify_cond")


# ---------------------------------------------------------------------------
# nest / lift

def nest(
    df: DataFrame,
    wildcard: str,
    nest_under: str,
    remove_prefix: str | None = None,
    add_prefix: str | None = None,
) -> DataFrame:
    """Move columns matching the glob under a new struct column."""
    sel = [c for c in df.columns if fnmatch.fnmatchcase(c, wildcard)]
    if not sel:
        return df.withColumn(nest_under, F.lit(None))

    def rename(c: str) -> str:
        n = c
        if remove_prefix and n.startswith(remove_prefix):
            n = n[len(remove_prefix):]
        if add_prefix:
            n = add_prefix + n
        return n

    struct = F.struct(*[F.col(c).alias(rename(c)) for c in sel])
    return df.withColumn(nest_under, struct).drop(*sel)


def lift(
    df: DataFrame,
    nested_under: str,
    add_prefix: str | None = None,
    remove_prefix: str | None = None,
) -> DataFrame:
    """Splat a struct column's fields to the top level."""
    fields = [f.name for f in df.schema[nested_under].dataType.fields]

    def rename(n: str) -> str:
        if remove_prefix and n.startswith(remove_prefix):
            n = n[len(remove_prefix):]
        return (add_prefix or "") + n

    lifted = {rename(n): F.col(f"{nested_under}.{n}") for n in fields}
    return df.withColumns(lifted).drop(nested_under)


# ---------------------------------------------------------------------------
# filter_parser

def filter_parser(
    df: DataFrame,
    key_name: str,
    parsers: list[Callable[[Column], Column]],
    reserve_data: bool = True,
) -> DataFrame:
    """Re-parse `key_name` with a parser chain; each parser maps a
    string Column -> struct Column (null on failure); first success
    wins. Parsed fields splat to top level and the raw field goes;
    Reserve_Data keeps the other fields (else projects only parsed)."""
    parsed = F.coalesce(*[p(F.col(key_name)) for p in parsers])
    df = df.withColumn("_parsed", parsed)
    names = [f.name for f in df.schema["_parsed"].dataType.fields]
    out = {n: F.col(f"_parsed.{n}") for n in names}
    if reserve_data:
        return df.withColumns(out).drop("_parsed", key_name)
    return df.select(*[c.alias(n) for n, c in out.items()])


# ---------------------------------------------------------------------------
# throttle

def throttle(
    df: DataFrame,
    rate: float,
    window_seconds: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Global rate limit: keep the first `rate * window_seconds`
    records per `ts` window, ordered by (ts, tiebreak).

    Scale shape: a naive global rank puts an entire window's traffic in
    ONE task. Stage 1 pre-limits per input partition (any row in the
    true global top-budget is also in its own partition's top-budget),
    so the global rank only ever sees <= budget * num_partitions rows
    per window — bounded task size at any input scale."""
    from fluent_bit_spark.operators.skew import topk_per_group

    budget = int(rate * window_seconds)
    bucket = F.window(F.col("ts"), f"{window_seconds} seconds")
    order = [F.col("ts")] + [F.col(c) for c in (order_cols or [])]
    return topk_per_group(df, [bucket], order, budget)


def throttle_size(
    df: DataFrame,
    key: str,
    byte_limit: int,
    window_seconds: int,
    size_col: str = "text",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key byte budget per `ts` window: keep records while the running
    byte total stays within the limit.

    Hot-key safe: a per-input-partition running-sum pre-filter bounds
    what reaches the (key, window) task. It keeps every row whose
    PRECEDING per-partition sum fits the limit — i.e. all locally
    fitting rows plus the partition's first over-limit row (the
    sentinel). True keepers always survive (their local prefix sum is
    a subset of the global one), and the sentinel's bytes still poison
    the global running sum, so the final filter reproduces the global
    cutoff exactly (without it, dropping a single huge record locally
    would un-poison the window for later small records)."""
    bucket = F.window(F.col("ts"), f"{window_seconds} seconds")
    order = [F.col("ts")] + [F.col(c) for c in (order_cols or [])]
    pre = (
        Window.partitionBy(F.spark_partition_id(), F.col(key), bucket)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # coalesce both sides: a NULL size_col contributes nothing to the
    # running sums, and the row itself must NOT be pre-dropped (the
    # global stage keeps it whenever the preceding bytes fit)
    df = (
        df.withColumn("_pbytes", F.sum(F.length(size_col)).over(pre))
        .filter(
            F.coalesce(F.col("_pbytes"), F.lit(0))
            - F.coalesce(F.length(size_col), F.lit(0))
            <= byte_limit
        )
        .drop("_pbytes")
    )
    w = (
        Window.partitionBy(F.col(key), bucket)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # coalesce: a (key, window) whose prefix is all NULL-sized rows has
    # running = NULL (SUM of zero non-null inputs); those rows consume
    # no budget and must pass
    running = F.coalesce(F.sum(F.length(size_col)).over(w), F.lit(0))
    return df.withColumn("_bytes", running).filter(F.col("_bytes") <= byte_limit).drop("_bytes")


# ---------------------------------------------------------------------------
# expect

class ExpectError(AssertionError):
    pass


def expect(
    df: DataFrame, rules: list[tuple[str, str, str | None]], action: str = "warn"
) -> DataFrame:
    """Data-quality assertions: rules are (check, key, value) with check
    in {key_exists, key_not_exists, key_val_is_null, key_val_is_not_null,
    key_val_eq}. Violations: 'warn' logs counts, 'exit' raises."""
    checks: dict[str, Column] = {}
    for check, key, value in rules:
        col_exists = key in df.columns
        c = F.col(key) if col_exists else F.lit(None)
        if check == "key_exists":
            ok = F.lit(col_exists) & c.isNotNull()
        elif check == "key_not_exists":
            ok = F.lit(not col_exists) | c.isNull()
        elif check == "key_val_is_null":
            ok = c.isNull()
        elif check == "key_val_is_not_null":
            ok = c.isNotNull()
        elif check == "key_val_eq":
            ok = c.cast("string") == F.lit(value)
        else:
            raise ValueError(f"unknown expect check {check!r}")
        # NULL verdicts (NULL value / absent column in key_val_eq) are
        # violations, not silent passes
        checks[f"{check}:{key}"] = F.coalesce(ok, F.lit(False))
    agg = df.agg(
        *[F.sum(F.when(~ok, 1).otherwise(0)).alias(name) for name, ok in checks.items()]
    )
    row = agg.collect()[0]
    violations = {name: int(row[name] or 0) for name in checks}
    bad = {k: v for k, v in violations.items() if v}
    if bad:
        if action == "exit":
            raise ExpectError(f"expect violations: {bad}")
        log.warning("expect violations: %s", bad)
    return df


# ---------------------------------------------------------------------------
# alter_size

def alter_size(
    df: DataFrame, remove: int = 0, order_cols: list[str] | None = None
) -> DataFrame:
    """Drop the first `remove` records (deterministic order).

    Dropping the globally-first N never ranks the full table: any row
    in the global first N is also in its own partition's first N, so
    only the per-partition candidates (≤ N * num_partitions rows) pass
    through the unpartitioned window; everything else is kept outright.
    """
    if remove:
        order = [F.col(c) for c in (order_cols or df.columns)]
        pre = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
        staged = df.withColumn("_pre", F.row_number().over(pre))
        safe = staged.filter(F.col("_pre") > remove).drop("_pre")
        cand = staged.filter(F.col("_pre") <= remove).drop("_pre")
        w = Window.orderBy(*order)
        kept_cand = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > remove)
            .drop("_rn")
        )
        df = safe.unionByName(kept_cand)
    return df


# ---------------------------------------------------------------------------
# lua-analog: vectorized record function

def record_function(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """The filter_lua surface: an arbitrary record function that may
    drop, modify, or split records — expressed as an Arrow-batched
    `mapInPandas` (never per-row Python). `fn` receives and returns a
    pandas DataFrame; the returned frame may have any number of rows.
    Output schema defaults to the input schema with every field made
    nullable — the function may legally introduce NULLs, and a
    non-nullable inherited field would crash codegen (NPE in
    UnsafeWriter) instead of erroring usefully."""
    out_schema = schema or T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in df.schema.fields]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield fn(b)

    return df.mapInPandas(gen, out_schema)
