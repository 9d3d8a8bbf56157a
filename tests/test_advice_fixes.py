"""Regression tests for the round-1 ADVICE findings: modify-condition
single-matching-column crash, single-pass unescape semantics, unnamed
regex capture groups, and rewrite_tag first-matching-rule semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.functions import scalars as SC
from fluent_bit_spark.operators import filters as FL
from fluent_bit_spark.operators import parse as P
from fluent_bit_spark.operators.route import RewriteRule, rewrite_tag


@pytest.fixture(scope="module")
def records(spark):
    rows = [
        ("a1", "GET /index.html", 200, "alice", None),
        ("a2", "POST /login", 500, "bob", "x"),
        ("a3", "GET /health", 200, None, None),
    ]
    return spark.createDataFrame(rows, ["id", "request", "code", "user", "extra"])


# --- modify conditions with exactly one matching column (ADVICE #1) --------

def test_a_key_matches_single_column(records):
    # regex '^user$' matches exactly one column: used to crash F.greatest
    out = FL.modify(
        records,
        [FL.ModifyRule("set", "mark", "1")],
        [FL.Condition("a_key_matches", "^user$")],
    )
    got = {r.id: r.mark for r in out.collect()}
    assert got == {"a1": "1", "a2": "1", "a3": None}  # a3.user is null


def test_no_key_matches_single_column(records):
    out = FL.modify(
        records,
        [FL.ModifyRule("set", "mark", "1")],
        [FL.Condition("no_key_matches", "^extra$")],
    )
    got = {r.id: r.mark for r in out.collect()}
    assert got == {"a1": "1", "a2": None, "a3": "1"}


def test_matching_keys_have_matching_values_single_column(records):
    out = FL.modify(
        records,
        [FL.ModifyRule("set", "mark", "1")],
        [FL.Condition("matching_keys_have_matching_values", "^request$", "^GET ")],
    )
    got = {r.id: r.mark for r in out.collect()}
    assert got == {"a1": "1", "a2": None, "a3": "1"}


def test_matching_keys_do_not_have_matching_values_single_column(records):
    out = FL.modify(
        records,
        [FL.ModifyRule("set", "mark", "1")],
        [
            FL.Condition(
                "matching_keys_do_not_have_matching_values", "^request$", "^GET "
            )
        ],
    )
    got = {r.id: r.mark for r in out.collect()}
    assert got == {"a1": None, "a2": "1", "a3": None}


def test_a_key_matches_no_columns(records):
    out = FL.modify(
        records,
        [FL.ModifyRule("set", "mark", "1")],
        [FL.Condition("a_key_matches", "^nosuch$")],
    )
    assert all(r.mark is None for r in out.collect())


# --- single-pass unescape (ADVICE #2) --------------------------------------

def test_decode_field_escaped_backslash_then_n(spark):
    # chars: a \ \ n b  -> single-pass left-to-right: a \ n b (literal)
    df = spark.createDataFrame([("a\\\\nb",), ("x\\ny",), ("q\\\\\\tz",)], ["f"])
    from fluent_bit_spark.operators.parse import decode_field_escaped

    got = [r.f for r in decode_field_escaped(df, "f").collect()]
    assert got[0] == "a\\nb"  # \\ -> \, then literal n
    assert got[1] == "x\ny"  # \n -> newline
    assert got[2] == "q\\\tz"  # \\ -> \, then \t -> tab


def test_decode_mysql_quoted_single_pass(spark):
    df = spark.createDataFrame([("a\\\\'b",), ("it\\'s",)], ["q"])
    got = [
        r.d
        for r in df.select(SC.decode_mysql_quoted(F.col("q")).alias("d")).collect()
    ]
    assert got[0] == "a\\'b"  # \\ -> \, then literal '
    assert got[1] == "it's"  # \' -> '


# --- unnamed capture groups (ADVICE #3) ------------------------------------

def test_regex_native_with_unnamed_group(spark):
    # pattern has a plain group BEFORE the named ones; indices must not shift
    pat = r"^(\w+) (?<verb>\w+) (?<path>\S+)$"
    df = spark.createDataFrame([("x1 GET /a",)], ["text"])
    cols = P.regex_extract_native(F.col("text"), pat)
    row = df.select(*cols.values()).collect()[0]
    assert (row.verb, row.path) == ("GET", "/a")


def test_regex_arrow_with_unnamed_group(spark):
    pat = r"^(\w+) (?<verb>\w+) (?<path>\S+)$"
    df = spark.createDataFrame([("x1 GET /a",), ("nope",)], ["text"])
    out = P.apply_regex_parser(df, pat, backend="arrow")
    rows = out.orderBy("text").collect()
    got = {r.text: (r.verb, r.path) for r in rows}
    assert got["x1 GET /a"] == ("GET", "/a")
    assert got["nope"] == (None, None)


# --- rewrite_tag first-matching-rule (ADVICE #4) ---------------------------

def test_rewrite_tag_keep_then_nonkeep_first_match_wins(spark):
    df = spark.createDataFrame(
        [("r1", "app.a"), ("r2", "app.b")], ["id", "tag"]
    )
    rules = [
        # r1 matches BOTH rules; reference stops at the first (keep):
        # original kept + one copy under kept.r1 — NOT also rewritten.
        RewriteRule(F.col("id") == "r1", F.lit("kept.r1"), keep=True),
        RewriteRule(F.col("tag").startswith("app."), F.lit("rewritten"), keep=False),
    ]
    got = sorted((r.id, r.tag) for r in rewrite_tag(df, rules).collect())
    assert got == [("r1", "app.a"), ("r1", "kept.r1"), ("r2", "rewritten")]


def test_rewrite_tag_nonkeep_then_keep_first_match_wins(spark):
    df = spark.createDataFrame([("r1", "app.a")], ["id", "tag"])
    rules = [
        RewriteRule(F.col("tag").startswith("app."), F.lit("rewritten"), keep=False),
        # would match too, but the first rule already did -> no copy
        RewriteRule(F.col("id") == "r1", F.lit("copied"), keep=True),
    ]
    got = sorted((r.id, r.tag) for r in rewrite_tag(df, rules).collect())
    assert got == [("r1", "rewritten")]


# --- Decode_Field merge mode (parser-decoder parity) ------------------------

def test_decode_field_json_merge_keeps_raw(spark):
    from fluent_bit_spark.operators.parse import decode_field_as_json, decode_field_json

    df = spark.createDataFrame([('{"a": 1, "b": "x"}',), ("nope",)], ["log"])
    merged = decode_field_json(df, "log", "a BIGINT, b STRING")
    rows = {r.log: (r.a, r.b) for r in merged.collect()}
    assert set(merged.columns) == {"log", "a", "b"}  # raw field preserved
    assert rows['{"a": 1, "b": "x"}'] == (1, "x")
    assert rows["nope"] == (None, None)
    # contrast: As-mode replaces the field value
    replaced = decode_field_as_json(df, "log", "a BIGINT, b STRING")
    assert dict(replaced.dtypes)["log"].startswith("struct")


def test_decode_field_json_merge_prefix(spark):
    from fluent_bit_spark.operators.parse import decode_field_json

    df = spark.createDataFrame([('{"a": 7}',)], ["log"])
    out = decode_field_json(df, "log", "a BIGINT", prefix="dec_")
    assert out.collect()[0].dec_a == 7 and "log" in out.columns


# --- round-2 code-review regressions ----------------------------------------

def test_rewrite_tag_null_condition_does_not_poison_later_rules(spark):
    df = spark.createDataFrame(
        [("r1", "t1", None)], "id string, tag string, user string"
    )
    rules = [
        RewriteRule(F.col("user").rlike("^z"), F.lit("zed")),  # NULL condition
        RewriteRule(F.lit(True), F.lit("fallback")),
    ]
    got = [(r.id, r.tag) for r in rewrite_tag(df, rules).collect()]
    assert got == [("r1", "fallback")]


def test_throttle_size_null_size_col_not_predropped(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base, 0, "a", "xyz"),
        (base + dt.timedelta(seconds=1), 1, "a", None),
        (base + dt.timedelta(seconds=2), 2, "a", "pq"),
    ]
    df = spark.createDataFrame(rows, ["ts", "i", "k", "text"])
    out = FL.throttle_size(
        df, key="k", byte_limit=100, window_seconds=3600, order_cols=["i"]
    )
    assert sorted(r.i for r in out.collect()) == [0, 1, 2]


def test_dedup_spread_preserves_many_file_partitioning(spark, tmp_path):
    """_spread must not collapse a many-file input below its native
    partitioning (scale safety) while still spreading few-file inputs."""
    from fluent_bit_spark.operators.dedup import _spread

    par = spark.sparkContext.defaultParallelism
    docs = spark.range(100).selectExpr("id AS doc_id", "'t x y' AS text")
    many = tmp_path / "many"
    docs.repartition(par + 4).write.parquet(str(many))
    wide = spark.read.parquet(str(many))
    assert len(_spread(wide).inputFiles()) >= par  # untouched (no repartition op)
    few = tmp_path / "few"
    docs.coalesce(1).write.parquet(str(few))
    narrow = spark.read.parquet(str(few))
    assert _spread(narrow) is not narrow  # got a repartition


def test_release_persisted_unpersists(spark):
    from fluent_bit_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"tok{i} a b c d") for i in range(10)], ["doc_id", "text"]
    )
    D.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    assert D._PERSISTED
    D.release_persisted()
    assert not D._PERSISTED


def test_config_sink_without_ts_is_config_error(spark):
    from fluent_bit_spark.config import ConfigError, ConfigPipeline

    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "m"}
    Samples 1
    Tag a
[FILTER]
    Name record_modifier
    Match *
    Remove_key ts
[OUTPUT]
    Name splunk
    Match *
"""
    with pytest.raises(ConfigError, match="timestamp column"):
        ConfigPipeline(cfg).run(spark, output_base="/tmp/fbs-nots")


def test_config_geoip_bad_ranges_file(spark, tmp_path):
    from fluent_bit_spark.config import ConfigError, ConfigPipeline

    rf = tmp_path / "bad.csv"
    rf.write_text("0,100,tier\n")  # 3 columns
    cfg = f"""
[INPUT]
    Name dummy
    Dummy {{"message": "m", "score": 42}}
    Samples 1
    Tag a
[FILTER]
    Name geoip2
    Match *
    Ranges_file {rf}
    Lookup_key score
[OUTPUT]
    Name counter
    Match *
"""
    with pytest.raises(ConfigError, match="expected lo,hi,field,value"):
        ConfigPipeline(cfg).run(spark)
    rf.write_text("")  # empty file
    with pytest.raises(ConfigError, match="no range rows"):
        ConfigPipeline(cfg).run(spark)


# --- third review round (whole-package audit) --------------------------------

def test_logfmt_ltsv_duplicate_keys_last_wins(spark):
    from fluent_bit_spark.operators.parse import logfmt_parser, ltsv_parser

    df = spark.createDataFrame([("a=1 a=2 b=3",)], ["text"])
    m = logfmt_parser(df).collect()[0].logfmt
    assert m == {"a": "2", "b": "3"}
    df2 = spark.createDataFrame([("k:1\tk:2\tz:v:with:colons",)], ["text"])
    m2 = ltsv_parser(df2).collect()[0].ltsv
    assert m2 == {"k": "2", "z": "v:with:colons"}


def test_grep_missing_field_is_nonmatch(spark):
    df = spark.createDataFrame([("x",)], ["a"])
    # regex on missing field -> non-match -> drop; exclude -> keep
    assert FL.grep(df, [("regex", "nope", ".")]).count() == 0
    assert FL.grep(df, [("exclude", "nope", ".")]).count() == 1


def test_remove_wildcard_whole_name_only(spark):
    df = spark.createDataFrame([("u", "s")], ["user_id", "session_user"])
    out = FL.modify(df, [FL.ModifyRule("remove_wildcard", "user*")])
    row = out.collect()[0]
    assert row.user_id is None and row.session_user == "s"


def test_expect_null_value_is_violation(spark):
    df = spark.createDataFrame([("a", None)], "id string, level string")
    with pytest.raises(FL.ExpectError):
        FL.expect(df, [("key_val_eq", "level", "info")], action="exit")
    with pytest.raises(FL.ExpectError):
        FL.expect(df, [("key_val_eq", "absent", "x")], action="exit")


def test_read_text_lines_preserves_final_blank_line(spark, tmp_path):
    from fluent_bit_spark.sources import read_text_lines

    p = tmp_path / "f.log"
    p.write_text("a\nb\n\n")  # ends with a blank line
    lines = [r.line for r in read_text_lines(spark, str(p)).orderBy("line_no").collect()]
    assert lines == ["a", "b", ""]


def test_template_null_time_renders_empty(spark):
    from fluent_bit_spark.sinks import to_template_lines

    df = spark.createDataFrame([("c1", None)], "conv_id string, ts timestamp")
    got = to_template_lines(df, "{time} {conv_id}").collect()[0].value
    assert got == " c1"
    # empty template is a valid (empty) line
    assert to_template_lines(df, "").collect()[0].value == ""


def test_fanout_write_reports_zero_match_sinks(spark, tmp_path):
    from fluent_bit_spark.operators.route import route_mask
    from fluent_bit_spark.sinks import fanout_write

    sinks = [("s_none", "nothing.*"), ("s_all", "*")]
    df = spark.createDataFrame([("app.a", 1)], ["tag", "x"])
    routed = route_mask(df, sinks, drop_unrouted=False)
    res = fanout_write(routed, sinks, str(tmp_path / "out"), with_aggregates=False)
    assert res["s_none"] == {"records": 0} and res["s_all"] == {"records": 1}
    # a zero-match sink stays readable: 0 rows, the routed schema minus routes
    back = spark.read.parquet(str(tmp_path / "out" / "s_none"))
    assert back.count() == 0
    assert back.schema == routed.drop("routes").schema
    for name, _glob in sinks:
        assert (tmp_path / "out" / name / "_SUCCESS").exists()


def test_wire_expr_out_of_range_sec_fails_loudly(spark):
    """An EventTime `sec` outside u32 (pre-1970 here) must fail the
    query, not emit lpad-truncated bytes; in-range values still encode."""
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    from fluent_bit_spark.functions.wire import pack_turn_event
    from fluent_bit_spark.functions.wire_expr import pack_turn_event_expr

    def wire(sec: int):
        df = spark.range(1).select(
            pack_turn_event_expr(
                F.lit(sec).cast("long"), F.lit(0).cast("long"), F.lit("c"),
                F.lit(1).cast("long"), F.lit("user"), F.lit("t"),
                F.lit(None).cast("string"),
            ).alias("w")
        )
        return bytes(df.collect()[0].w)

    assert wire(2**32 - 1) == pack_turn_event(2**32 - 1, 0, "c", 1, "user", "t", None)
    for bad in (-1, 2**32):
        with pytest.raises((PySparkException, Py4JJavaError), match="does not fit in 4"):
            wire(bad)


def test_lsh_probe_bits_widen_candidates(spark, sf_dir):
    from fluent_bit_spark.operators.similarity import lsh_topk

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    c = embs.filter(F.col("vec_id") >= 3)
    n1 = lsh_topk(c, q, k=50, nbits=6, probe_bits=1).count()
    n2 = lsh_topk(c, q, k=50, nbits=6, probe_bits=2).count()
    assert n2 >= n1  # wider probing can only add candidates


def test_config_filter_null_tag_passes_through(spark):
    from fluent_bit_spark.config import ConfigPipeline

    # rewrite_tag with $TAG + a later Match-scoped filter: records whose
    # tag the lua fn nulls must pass the scoped filter untouched
    import pandas as pd

    def nuller(b: pd.DataFrame) -> pd.DataFrame:
        # partition-independent: null exactly the first sample's tag
        b.loc[b["ts"] == pd.Timestamp("2024-01-01 00:00:00"), "tag"] = None
        return b

    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "m"}
    Samples 3
    Tag app.a
[FILTER]
    Name lua
    Match *
    Call nuller
[FILTER]
    Name record_modifier
    Match app.*
    Record env prod
[OUTPUT]
    Name stdout
    Match *
"""
    res = ConfigPipeline(cfg, lua_functions={"nuller": nuller}).run(spark)
    rows = res["stdout_0"]
    # 2 records matched app.* (env=prod); the null-tag record survived
    # the filter stage untouched but matches no OUTPUT glob at routing
    assert len(rows) == 2 and all(r.env == "prod" for r in rows)


def test_config_rewrite_tag_dollar_tag_rule(spark):
    from fluent_bit_spark.config import ConfigPipeline

    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "m"}
    Samples 2
    Tag app.a
[FILTER]
    Name rewrite_tag
    Match *
    Rule $TAG ^app\\. moved.here false
[OUTPUT]
    Name stdout
    Match moved.*
"""
    res = ConfigPipeline(cfg).run(spark)
    assert len(res["stdout_0"]) == 2
