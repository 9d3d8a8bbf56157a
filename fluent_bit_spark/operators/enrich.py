"""Enrich operators — the reference's lookup/append filters as
broadcast-join stages.

- `lookup_enrich` ≙ apm_ldap lookup with RETRIES/DEFAULT
  (plugins/filter_apm_ldap/filter_ldap.h:21-45): broadcast left join
  against a small dim table, missing keys filled from defaults —
  the north-star "lookup filter" shape. Also covers filter_kubernetes
  metadata enrich (plugins/filter_kubernetes/kube_meta.c:1312) and
  geoip2 (dim = geo table).
- `record_append` ≙ record_modifier `Record k v`
  (plugins/filter_record_modifier/filter_modifier.c:54-88) and the
  env-constant filters (filter_aws, apm_kubernetes_labels): literal
  columns, no shuffle.

At 100 TB the dim tables here are KBs–MBs; `F.broadcast` pins the
hash-join build side on every executor so the enrich stage is
shuffle-free and stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fluent_bit_spark.session import local_frame


def lookup_enrich(
    df: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str | None = None,
    defaults: dict[str, str] | None = None,
) -> DataFrame:
    """Broadcast left-join `dim` onto `df[key]`; every non-key dim
    column is appended, misses filled from `defaults` (≙ apm_ldap
    DEFAULT on lookup failure)."""
    dim_key = dim_key or key
    value_cols = [c for c in dim.columns if c != dim_key]
    joined = df.join(
        F.broadcast(dim), on=df[key] == dim[dim_key], how="left"
    ).drop(dim[dim_key])
    if defaults:
        joined = joined.withColumns(
            {c: F.coalesce(F.col(c), F.lit(d)) for c, d in defaults.items() if c in value_cols}
        )
    return joined


def record_append(df: DataFrame, fields: dict[str, object]) -> DataFrame:
    """Append literal key/values (record_modifier `Record`, filter_aws)."""
    return df.withColumns({k: F.lit(v) for k, v in fields.items()})


def range_lookup_enrich(
    df: DataFrame,
    ranges: DataFrame,
    key: str,
    defaults: dict[str, str] | None = None,
) -> DataFrame:
    """Interval lookup (the geoip2 shape, plugins/filter_geoip2: an IP
    maps into a CIDR/range row): broadcast range join
    `lo <= key < hi` against the `lo`/`hi` columns of `ranges`,
    non-matches filled from defaults.

    At scale the ranges table is small (broadcast, no shuffle); the
    join is a broadcast nested-loop with a range predicate — fine for
    dim tables of thousands of intervals. For million-interval tables,
    pre-bucket both sides on floor(key/width) and equi-join first."""
    value_cols = [c for c in ranges.columns if c not in ("lo", "hi")]
    joined = df.join(
        F.broadcast(ranges),
        on=(df[key] >= ranges["lo"]) & (df[key] < ranges["hi"]),
        how="left",
    ).drop("lo", "hi")
    if defaults:
        joined = joined.withColumns(
            {c: F.coalesce(F.col(c), F.lit(d)) for c, d in defaults.items() if c in value_cols}
        )
    return joined


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join: each left row gets the value columns of the
    right row with the greatest `right_ts` <= `left_ts` for the same
    `key` (inclusive bound — a right row at exactly `left_ts` applies).
    Left rows with no prior right row keep NULL values. The time-series
    enrich Spark has no builtin for (the "latest config/deployment
    before this record" lookup; DuckDB spells it ASOF LEFT JOIN).

    Scale shape: instead of a range join (which Spark would execute as
    a broadcast-nested-loop / cartesian with a post-filter — O(n·m) per
    key), both sides are unioned and a single `last(value_struct,
    ignorenulls=True)` running window carries the most recent right-row
    values forward: ONE shuffle on `key`, O(n+m) total work, no
    candidate explosion. Right-side values travel in one struct so all
    value columns always come from the SAME right row.

    Determinism: right rows must be unique per (key, right_ts) — with
    duplicate marker timestamps "the latest prior row" is ill-defined;
    pre-aggregate the right side first. Rows whose packed value struct
    would be entirely NULL still win the as-of race (the struct itself
    is non-null), matching ASOF semantics.

    Skew: one hot key lands in one task. The window is a running
    prefix, so if a key is hot, pre-bucket `left_ts` into coarse epochs
    and seed each epoch with the last right row of the previous epoch —
    not needed for config/deployment-sized right tables.

    NULL semantics match SQL ASOF: a NULL join key or NULL `right_ts`
    never matches (those right rows are dropped; NULL-key left rows
    pass through with NULL values).
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (key, right_ts)]
    if not value_cols:
        raise ValueError("asof_join: value_cols must be non-empty")
    clash = set(value_cols) & {c for c in left.columns if c != key}
    if clash:
        raise ValueError(
            f"asof_join: right value columns {sorted(clash)} collide with "
            "left columns — rename one side first"
        )
    ts, src, packed = "_asof_ts", "_asof_src", "_asof_val"
    left_cols = left.columns
    # markers sort BEFORE left rows at equal ts => inclusive bound;
    # NULL key / NULL ts markers can never be "the latest prior row"
    right = right.filter(F.col(key).isNotNull() & F.col(right_ts).isNotNull())
    r = right.select(
        F.col(key),
        F.col(right_ts).alias(ts),
        F.lit(0).alias(src),
        F.struct(*[F.col(c) for c in value_cols]).alias(packed),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c != key],
    )
    l = left.select(
        F.col(key),
        F.col(left_ts).alias(ts),
        F.lit(1).alias(src),
        F.lit(None).cast(r.schema[packed].dataType).alias(packed),
        *[F.col(c) for c in left_cols if c != key],
    )
    w = (
        Window.partitionBy(key)
        .orderBy(ts, src)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).withColumn(packed, F.last(packed, ignorenulls=True).over(w))
    out = carried.filter(F.col(src) == 1).select(
        *left_cols, *[F.col(f"{packed}.{c}").alias(c) for c in value_cols]
    )
    return out


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_span: tuple[str, str] = ("start_ts", "end_ts"),
    right_span: tuple[str, str] = ("start_ts", "end_ts"),
) -> DataFrame:
    """Interval-overlap join of two half-open interval relations:
    emit (left_id, right_id, overlap_us) for every pair whose spans
    [start, end) strictly overlap (l.start < r.end AND r.start <
    l.end); overlap_us is the exact intersection length in
    microseconds (BIGINT — integer timestamp math, no float drift).
    The "which conversations were live during which incidents" join
    that neither equi-join nor as-of covers.

    Scale shape: a naive overlap join is a cartesian product with a
    post-filter (Spark plans a BroadcastNestedLoopJoin — O(n*m)).
    Instead both sides explode to the hour buckets their span covers
    (F.sequence over truncated hours — bounded by span length, spans
    are short relative to the corpus timeline), equi-join on the
    bucket, drop the per-shared-bucket duplicates, and apply the exact
    predicate. Every true overlap shares at least one covered hour, so
    recall is exact; work is O(candidates-within-the-same-hour), never
    O(n*m). Skewed hours (everything online at peak) shuffle as
    ordinary equi-join keys, so AQE skew handling applies.

    Both ends are exploded INCLUSIVE of the end's hour: an interval
    ending inside hour h still covers part of h, and one ending exactly
    on the boundary only adds h as a false candidate the exact filter
    removes — bucketing affects candidate count, never correctness.

    Precondition: ids must be unique per input row (each id names one
    interval). The per-shared-bucket duplicates are removed with a
    distinct() over (ids, spans), which would also collapse genuine
    duplicate input rows — pre-aggregate duplicated intervals upstream
    if their multiplicity matters.
    """
    ls, le = left_span
    rs, re_ = right_span

    def _buckets(df: DataFrame, idc: str, s: str, e: str, pfx: str) -> DataFrame:
        cov = F.sequence(
            F.date_trunc("hour", F.col(s)),
            F.date_trunc("hour", F.col(e)),
            F.expr("INTERVAL 1 HOUR"),
        )
        return df.filter(F.col(s) < F.col(e)).select(
            F.col(idc).alias(f"{pfx}_id"),
            F.col(s).alias(f"{pfx}_s"),
            F.col(e).alias(f"{pfx}_e"),
            F.explode(cov).alias("_bucket"),
        )

    lb = _buckets(left, left_id, ls, le, "_l")
    rb = _buckets(right, right_id, rs, re_, "_r")
    cand = (
        lb.join(rb, "_bucket")
        .filter((F.col("_l_s") < F.col("_r_e")) & (F.col("_r_s") < F.col("_l_e")))
        .select("_l_id", "_r_id", "_l_s", "_l_e", "_r_s", "_r_e")
        .distinct()
    )

    def _us(c: Column) -> Column:
        return F.unix_micros(c.cast("timestamp_ltz"))

    return cand.select(
        F.col("_l_id").alias(left_id),
        F.col("_r_id").alias(right_id),
        (
            F.least(_us(F.col("_l_e")), _us(F.col("_r_e")))
            - F.greatest(_us(F.col("_l_s")), _us(F.col("_r_s")))
        ).alias("overlap_us"),
    )


def regex_table_enrich(
    df: DataFrame,
    table: list[tuple[str, dict[str, str]]],
    key: str,
    defaults: dict[str, str] | None = None,
) -> DataFrame:
    """Ordered regex-table lookup (the ua-parser shape,
    plugins/filter_apm_uaparser: a regex list is matched against a
    field, first match supplies the derived fields). The table is
    config-sized, so it compiles to a lazy when-chain — pure JVM, no
    join at all."""
    out_cols: dict[str, object] = {}
    names = sorted({n for _, fields in table for n in fields})
    for name in names:
        expr = None
        for pattern, fields in table:
            if name not in fields:
                continue
            cond = F.col(key).rlike(pattern)
            expr = F.when(cond, F.lit(fields[name])) if expr is None else expr.when(
                cond, F.lit(fields[name])
            )
        if defaults and name in defaults:
            expr = expr.otherwise(F.lit(defaults[name]))
        out_cols[name] = expr
    return df.withColumns(out_cols)


def scd2_history(df: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type 2 from an update stream: collapse
    consecutive identical `tool` values per `conv_id` in (ts, turn_idx)
    order, then emit one validity interval per change — (conv_id, tool,
    valid_from, valid_to, is_current), half-open [valid_from, valid_to). The lakehouse
    pattern for "what was this conversation's active tool AT time t":
    a point-in-time join lands on exactly one interval.

    Change detection is null-safe (NULL -> value and value -> NULL are
    both changes). Scale shape: two key-partitioned windows bounded by
    per-key update counts — the same conv co-location every sequence
    op in this engine uses.
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    chg = (
        df.withColumn("_prev", F.lag("tool").over(w))
        .withColumn("_first", F.lag("ts").over(w).isNull())
        .filter(F.col("_first") | ~F.col("tool").eqNullSafe(F.col("_prev")))
    )
    return chg.select(
        "conv_id",
        "tool",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def cdc_apply(base: DataFrame, changes: DataFrame) -> DataFrame:
    """MERGE/upsert semantics over a CDC change stream: per key
    (conv_id, turn_idx), the change with the highest `seq` wins; a winning D(elete) removes the
    row, a winning I/U upserts the change's payload columns; keys the
    stream never touched pass through from `base`. This is the
    batch-materialization of an Iceberg/Delta MERGE INTO — how a
    transcript table absorbs regeneration/correction/redaction feeds.

    Payload = every non-key, non-op, non-seq column of `changes`
    (must match base's non-key columns).

    Scale shape: winners come from one groupBy-max(struct) over the
    change stream (map-side combine collapses per-key change bursts);
    the apply is a single left join of base against the winner set
    plus the insert anti-join — both on the same key, so AQE can plan
    one co-partitioned exchange.
    """
    keys = ["conv_id", "turn_idx"]
    payload = [c for c in changes.columns if c not in (*keys, "op", "seq")]
    winners = (
        changes.groupBy(*keys)
        .agg(
            F.max(
                F.struct(
                    F.col("seq"),
                    F.col("op"),
                    *[F.col(c).alias(c) for c in payload],
                )
            ).alias("_w")
        )
        .select(*keys, "_w.op", *[F.col(f"_w.{c}").alias(c) for c in payload])
    )
    survivors = base.join(
        winners.select(*keys, "op", *[F.col(c).alias(f"_n_{c}") for c in payload]),
        keys,
        "left",
    ).filter(F.coalesce(F.col("op") != "D", F.lit(True)))
    merged = survivors.select(
        *keys,
        *[
            F.when(F.col("op").isNotNull(), F.col(f"_n_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in payload
        ],
    )
    inserts = winners.filter(F.col("op") != "D").join(
        base.select(*keys), keys, "left_anti"
    ).select(*keys, *payload)
    return merged.unionByName(inserts)


# ---------------------------------------------------------------------------
# filter_kubernetes (plugins/filter_kubernetes) — tag-derived pod identity
# plus a preload-cache metadata dimension, all JVM-side.

# kube_regex.h KUBE_TAG_TO_REGEX, translated to Java regex (the named
# groups become positional: 1=pod_name, 3=namespace_name,
# 4=container_name, 5=docker_id; group 2 is the inner dns-label group).
KUBE_TAG_REGEX = (
    r"([a-z0-9](?:[-a-z0-9]*[a-z0-9])?(?:\.[a-z0-9]([-a-z0-9]*[a-z0-9])?)*)"
    r"_([^_]+)_(.+)-([a-z0-9]{64})\.log$"
)


def load_kube_meta_cache(cache_dir: str) -> list[dict]:
    """Read every `<namespace>_<podname>.meta` JSON file in
    `cache_dir` — the reference's Kube_meta_preload_cache_dir path
    (kube_meta.c:150-200 get_meta_file_info: file content is the pod
    API object; filename supplies namespace/pod identity). Returns one
    flat dict per pod: namespace_name, pod_name, pod_id, host, labels,
    annotations. The cache is config-sized (one file per pod on the
    node), so a driver-side read that becomes a broadcast dimension is
    the correct scale shape."""
    import json as _json
    import os as _os

    rows = []
    for fn in sorted(_os.listdir(cache_dir)):
        if not fn.endswith(".meta") or "_" not in fn:
            continue
        ns, pod = fn[:-5].split("_", 1)
        with open(_os.path.join(cache_dir, fn)) as f:
            obj = _json.load(f)
        md = obj.get("metadata", {})
        rows.append(
            {
                "namespace_name": ns,
                "pod_name": pod,
                "pod_id": md.get("uid"),
                "host": obj.get("spec", {}).get("nodeName"),
                "labels": md.get("labels") or {},
                "annotations": md.get("annotations") or {},
            }
        )
    return rows


def kube_meta_enrich(
    df: DataFrame,
    meta_rows: list[dict],
    tag_prefix: str = "kube.var.log.containers.",
    labels: bool = True,
    annotations: bool = True,
) -> DataFrame:
    """filter_kubernetes metadata enrich: strip `tag_prefix` from the
    routing tag, extract (pod_name, namespace_name, container_name,
    docker_id) with the reference's tag regex (kube_regex.h), then
    broadcast-join the preload-cache dimension on (namespace, pod) and
    pack the `kubernetes` struct in the reference's field order
    (kube_meta.c:859-926: pod_name, namespace_name, pod_id, labels,
    annotations, host, container_name, docker_id). Records whose tag
    does not parse get a NULL struct and pass through untouched —
    the reference skips enrichment on meta-extraction failure.

    Scale shape: the cache is one row per pod (config-sized), so the
    join is a broadcast hash join; tag parsing is pure JVM regex."""
    stripped = F.when(
        F.col("tag").startswith(tag_prefix),
        F.expr(f"substring(tag, {len(tag_prefix) + 1})"),
    ).otherwise(F.col("tag"))
    parsed = df.withColumns(
        {
            "_kpod": F.regexp_extract(stripped, KUBE_TAG_REGEX, 1),
            "_kns": F.regexp_extract(stripped, KUBE_TAG_REGEX, 3),
            "_kcont": F.regexp_extract(stripped, KUBE_TAG_REGEX, 4),
            "_kdock": F.regexp_extract(stripped, KUBE_TAG_REGEX, 5),
        }
    )
    spark = df.sparkSession
    map_t = "map<string,string>"
    dim = local_frame(
        spark,
        [
            (
                r["namespace_name"],
                r["pod_name"],
                r.get("pod_id"),
                r.get("host"),
                {str(k): str(v) for k, v in (r.get("labels") or {}).items()},
                {str(k): str(v) for k, v in (r.get("annotations") or {}).items()},
            )
            for r in meta_rows
        ],
        f"_mns string, _mpod string, _mpid string, _mhost string, "
        f"_mlabels {map_t}, _mannot {map_t}",
    )
    joined = parsed.join(
        F.broadcast(dim),
        (parsed["_kns"] == dim["_mns"]) & (parsed["_kpod"] == dim["_mpod"]),
        "left",
    )
    fields = [
        F.col("_kpod").alias("pod_name"),
        F.col("_kns").alias("namespace_name"),
        F.col("_mpid").alias("pod_id"),
    ]
    if labels:
        fields.append(F.col("_mlabels").alias("labels"))
    if annotations:
        fields.append(F.col("_mannot").alias("annotations"))
    fields += [
        F.col("_mhost").alias("host"),
        F.col("_kcont").alias("container_name"),
        F.col("_kdock").alias("docker_id"),
    ]
    out = joined.withColumn(
        "kubernetes",
        F.when(F.col("_kpod") != "", F.struct(*fields)),
    )
    return out.drop("_kpod", "_kns", "_kcont", "_kdock",
                    "_mns", "_mpod", "_mpid", "_mhost", "_mlabels", "_mannot")


# ---------------------------------------------------------------------------
# filter_apm_uaparser — in-engine user-agent derivation.
#
# The reference ships the UA string to a localhost uap sidecar
# (filter_uaparser.c connect_socket/configure) and splices back nine
# fields, all defaulting to "Unknown" (filter_uaparser.h). The engine
# analog derives the same nine fields with a first-match regex chain
# (public user-agent grammar, re-expressed; no sidecar process), so
# the filter is self-contained and deterministic.

# (browser_name, detect regex, version-capture regex) in precedence
# order — Edge/Opera before Chrome (their UAs embed Chrome/), Chrome
# before Safari (Chrome UAs embed Safari/).
_UA_BROWSERS = [
    ("Edge", r"Edge?[A-Za-z]*/\d", r"Edge?[A-Za-z]*/(\d+[\.\d]*)"),
    ("Opera", r"OPR/\d", r"OPR/(\d+[\.\d]*)"),
    ("Chrome", r"Chrom(?:e|ium)/\d", r"Chrom(?:e|ium)/(\d+[\.\d]*)"),
    ("Firefox", r"Firefox/\d", r"Firefox/(\d+[\.\d]*)"),
    ("Safari", r"Version/\d+[\.\d]* .*Safari/", r"Version/(\d+[\.\d]*)"),
    ("IE", r"MSIE \d|Trident/.*rv:\d", r"(?:MSIE |Trident/.*rv:)(\d+[\.\d]*)"),
    ("curl", r"^curl/", r"^curl/(\d+[\.\d]*)"),
    ("Python Requests", r"^python-requests/", r"^python-requests/(\d+[\.\d]*)"),
]
_UA_OS = [
    ("Windows", r"Windows NT \d", r"Windows NT (\d+[\.\d]*)"),
    ("iOS", r"iPhone OS \d|CPU OS \d", r"(?:iPhone OS|CPU OS) (\d+[_\.\d]*)"),
    ("Mac OS X", r"Mac OS X \d", r"Mac OS X (\d+[_\.\d]*)"),
    ("Android", r"Android \d", r"Android (\d+[\.\d]*)"),
    ("Chrome OS", r"CrOS ", r"CrOS [^ ]+ (\d+[\.\d]*)"),
    ("Linux", r"Linux", r"()"),
]
_UA_DEVICES = [
    ("iPhone", "Apple", "iPhone", r"iPhone"),
    ("iPad", "Apple", "iPad", r"iPad"),
    ("Mac", "Apple", "Mac", r"Macintosh"),
    ("Samsung", "Samsung", "SM", r"\bSM-[A-Z0-9]+"),
    ("Generic Smartphone", "Generic", "Smartphone", r"Android|Mobile"),
]

_UA_UNKNOWN = "Unknown"


def ua_parse(df: DataFrame, agent_col: str) -> DataFrame:
    """Derive filter_apm_uaparser's nine record fields (browser_name,
    browser_version, browser, OS_name, OS_version, OS, device,
    device_brand, device_model — filter_uaparser.h) from a user-agent
    column. First matching rule wins per family; every field falls
    back to "Unknown" exactly as the reference packs DEFAULT for all
    nine on lookup failure. Pure when-chain + regexp_extract — no
    join, no Python in the row path."""
    ua = F.col(agent_col)

    def chain(rules, make):
        expr = None
        for rule in rules:
            cond = ua.rlike(rule[-1] if len(rule) == 4 else rule[1])
            val = make(rule)
            expr = F.when(cond, val) if expr is None else expr.when(cond, val)
        return expr.otherwise(F.lit(_UA_UNKNOWN))

    def version_of(rule):
        v = F.regexp_extract(ua, rule[2], 1)
        v = F.replace(v, F.lit("_"), F.lit("."))
        return F.when(v != "", v).otherwise(F.lit(_UA_UNKNOWN))

    b_rules = [(n, d, v) for n, d, v in _UA_BROWSERS]
    name = chain(b_rules, lambda r: F.lit(r[0]))
    ver = chain(b_rules, version_of)
    os_name = chain(_UA_OS, lambda r: F.lit(r[0]))
    os_ver = chain(_UA_OS, version_of)
    out = df.withColumns(
        {
            "browser_name": name,
            "browser_version": ver,
            "OS_name": os_name,
            "OS_version": os_ver,
            "device": chain(_UA_DEVICES, lambda r: F.lit(r[0])),
            "device_brand": chain(_UA_DEVICES, lambda r: F.lit(r[1])),
            "device_model": chain(_UA_DEVICES, lambda r: F.lit(r[2])),
        }
    )
    # family strings: "<name> <major>" when both known, else the name,
    # else Unknown (the sidecar's display form)
    def family(n, v):
        major = F.split(F.col(v), r"\.")[0]
        return F.when(
            (F.col(n) != _UA_UNKNOWN) & (F.col(v) != _UA_UNKNOWN),
            F.concat_ws(" ", F.col(n), major),
        ).otherwise(F.col(n))

    return out.withColumns(
        {
            "browser": family("browser_name", "browser_version"),
            "OS": family("OS_name", "OS_version"),
        }
    )
