"""Transcript derivation parity: Spark and DuckDB must produce
byte-identical (conv_id, turn_idx, role, text, tool, ts) rows —
this underwrites every downstream oracle comparison, including the
per-turn text equality invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluent_bit_spark.transcripts import (
    TRANSCRIPT_SCHEMA,
    load_transcripts,
    read_transcripts,
    streaming_transcripts,
    transcripts_sql,
)

from tests.oracle import assert_matches_oracle


def test_transcripts_parity(spark, sf_dir):
    df = load_transcripts(spark, sf_dir)
    cte = f"WITH transcripts AS ({transcripts_sql('duckdb')})\n"
    assert_matches_oracle(df, cte + "SELECT * FROM transcripts", sf_dir)


def test_transcripts_shape(spark, sf_dir):
    df = load_transcripts(spark, sf_dir)
    assert [f.name for f in df.schema.fields] == [
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
    ]
    n = df.count()
    assert n == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # turn_idx dense per conversation starting at 0
    from pyspark.sql import functions as F

    agg = df.groupBy("conv_id").agg(
        F.min("turn_idx").alias("mn"),
        F.max("turn_idx").alias("mx"),
        F.count("*").alias("n"),
    )
    bad = agg.filter((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)).count()
    assert bad == 0


def test_all_grammars_present(spark, sf_dir):
    from pyspark.sql import functions as F

    df = load_transcripts(spark, sf_dir)
    counts = {
        r["g"]: r["n"]
        for r in df.groupBy((F.length("text") % 1).alias("_"))
        .agg(F.count("*").alias("n"))
        .withColumn("g", F.lit(0))
        .collect()
    }
    assert sum(counts.values()) > 0
    # each grammar marker appears
    assert df.filter(F.col("text").startswith("10.0.")).count() > 0
    assert df.filter(F.col("text").startswith("level=")).count() > 0
    assert df.filter(F.col("text").startswith('{"id"')).count() > 0
    assert df.filter(F.col("text").startswith("<165>1 ")).count() > 0
    assert df.filter(F.col("text").startswith("k1:")).count() > 0


def test_synth_skew_and_salted_agg_invariance(spark, sf_dir):
    """Every 20th conversation holding 10x its turns concentrates the
    table in few conversations; salted two-phase aggregation must agree
    exactly with the plain groupBy."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.skew import salted_agg

    hot = F.substring("conv_id", 6, 8).cast("long") % 20 == 0
    df = (
        load_transcripts(spark, sf_dir, replicate=2)
        .withColumn("_rep", F.explode(F.sequence(F.lit(1), F.when(hot, 10).otherwise(1))))
        .drop("_rep")
        .cache()
    )
    counts = df.groupBy("conv_id").count().collect()
    by_conv = {r.conv_id: r["count"] for r in counts}
    hot = max(by_conv.values())
    cold = min(by_conv.values())
    assert hot >= 5 * cold  # skew is real

    plain = {
        r.conv_id: (r.turns, r.bytes)
        for r in df.groupBy("conv_id")
        .agg(F.count("*").alias("turns"), F.sum(F.length("text")).alias("bytes"))
        .collect()
    }
    salted = {
        r.conv_id: (r.turns, r.bytes)
        for r in salted_agg(
            df.withColumn("tl", F.length("text")),
            "conv_id",
            {"turns": ("count", "conv_id"), "bytes": ("sum", "tl")},
            salt_buckets=8,
        ).collect()
    }
    assert plain == salted
    df.unpersist()


# --- one transcript schema at every entry point ----------------------------


def _fields(schema):
    """(name, type) pairs: the contract. Nullability is Spark's to
    derive, and the derivation proves `turn_idx` and `role` non-null."""
    return [(f.name, f.dataType) for f in schema]


@pytest.fixture(scope="module")
def tables(spark, sf_dir, tmp_path_factory):
    """Transcript and events tables written with an NTZ and an LTZ
    `ts`, plus two out-of-contract transcript tables."""
    d = tmp_path_factory.mktemp("schema")
    t = load_transcripts(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = {}
    for kind, ts_type in (("ntz", "timestamp_ntz"), ("ltz", "timestamp")):
        out[kind], out[f"sf_{kind}"] = str(d / kind), str(d / f"sf_{kind}")
        t.withColumn("ts", F.col("ts").cast(ts_type)).write.parquet(out[kind])
        ev.withColumn("ts", F.col("ts").cast(ts_type)).write.parquet(
            f"{out[f'sf_{kind}']}/events.parquet"
        )
    out["missing"] = str(d / "missing")
    t.drop("tool").write.parquet(out["missing"])
    out["wrong"] = str(d / "wrong")
    t.withColumn("turn_idx", F.col("turn_idx").cast("string")).write.parquet(out["wrong"])
    return out


_STORED = {"ntz": T.TimestampNTZType(), "ltz": T.TimestampType()}


@pytest.mark.parametrize("kind", ["ntz", "ltz"])
def test_load_transcripts_yields_declared_schema(spark, sf_dir, tables, kind):
    events = spark.read.parquet(f"{tables[f'sf_{kind}']}/events.parquet")
    assert events.schema["ts"].dataType == _STORED[kind]
    df = load_transcripts(spark, tables[f"sf_{kind}"])
    assert _fields(df.schema) == _fields(TRANSCRIPT_SCHEMA)
    assert sorted(df.collect()) == sorted(load_transcripts(spark, sf_dir).collect())


@pytest.mark.parametrize("kind", ["ntz", "ltz"])
def test_read_transcripts_yields_declared_schema(spark, sf_dir, tables, kind):
    assert spark.read.parquet(tables[kind]).schema["ts"].dataType == _STORED[kind]
    df = read_transcripts(spark, tables[kind])
    assert df.schema == TRANSCRIPT_SCHEMA
    assert sorted(df.collect()) == sorted(load_transcripts(spark, sf_dir).collect())


def test_read_transcripts_orders_and_projects_declared_columns(spark, tables, tmp_path):
    path = str(tmp_path / "reordered")
    t = spark.read.parquet(tables["ltz"])
    t.select(F.lit(1).alias("extra"), *reversed(t.columns)).write.parquet(path)
    assert read_transcripts(spark, path).schema == TRANSCRIPT_SCHEMA


@pytest.mark.parametrize("kind", ["ntz", "ltz"])
def test_streaming_transcripts_yields_declared_schema(spark, tables, kind):
    assert streaming_transcripts(spark, tables[kind]).schema == TRANSCRIPT_SCHEMA


def test_streamed_flowcounter_over_ntz_table(spark, sf_dir, tables):
    """Event-time windows and watermarks reject a TIMESTAMP_NTZ column;
    a table written with one still streams, and the windowed counts
    equal the batch flowcounter's."""
    from fluent_bit_spark.operators.aggregate import flowcounter
    from fluent_bit_spark.operators.route import explode_routes
    from fluent_bit_spark.plans.flagship import run_pipeline
    from fluent_bit_spark.streaming import streaming_pipeline, windowed_flowcounter

    src = streaming_transcripts(spark, tables["ntz"])
    agg = windowed_flowcounter(streaming_pipeline(spark, src), window="1 hour")
    q = agg.writeStream.outputMode("complete").format("memory").queryName("fc_ntz").start()
    try:
        q.processAllAvailable()
        got = {
            (r.sink, r.tag, r.window_start): (r.counts, r.bytes)
            for r in spark.table("fc_ntz").collect()
        }
    finally:
        q.stop()
    batch = flowcounter(explode_routes(run_pipeline(spark, sf_dir)), ["sink", "tag"])
    want = {(r.sink, r.tag, r.window_start): (r.counts, r.bytes) for r in batch.collect()}
    assert got == want and got


@pytest.mark.parametrize("entry", [read_transcripts, streaming_transcripts])
@pytest.mark.parametrize(
    "kind, message",
    [
        ("missing", "transcript column 'tool' is missing, declared string"),
        ("wrong", "transcript column 'turn_idx' is string, declared int"),
    ],
)
def test_out_of_contract_table_raises(spark, tables, entry, kind, message):
    with pytest.raises(ValueError, match=message):
        entry(spark, tables[kind])


def test_streaming_transcripts_starts_on_empty_directory(spark, tmp_path):
    assert streaming_transcripts(spark, str(tmp_path)).schema == TRANSCRIPT_SCHEMA


def test_read_transcripts_iceberg_gate(spark, sf_dir, tmp_path):
    """Missing Iceberg runtime must be an explicit error, never a
    silent parquet fallback (resume semantics differ)."""
    import pytest as _pytest

    from fluent_bit_spark.transcripts import iceberg_available, read_transcripts

    if iceberg_available(spark):
        _pytest.skip("iceberg runtime present")
    with _pytest.raises(NotImplementedError):
        read_transcripts(spark, str(tmp_path), table_format="iceberg")
    # explicit parquet path still works
    path = str(tmp_path / "transcripts")
    load_transcripts(spark, sf_dir).write.parquet(path)
    assert read_transcripts(spark, path).count() == 1000


def test_stable_turn_order_skew_safe_equals_window(spark, sf_dir):
    """The range-sort + partition-offset ranking must reproduce the
    per-conv window row_number exactly — including under a
    pathologically hot key (half the corpus remapped to one conv) and
    across different partition counts — and clean up its helper
    columns."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.dedup import release_persisted
    from fluent_bit_spark.operators.skew import (
        stable_turn_order,
        stable_turn_order_skew_safe,
    )
    from fluent_bit_spark.transcripts import load_transcripts

    df = load_transcripts(spark, sf_dir)
    hot = df.withColumn(
        "conv_id",
        F.when(F.xxhash64("conv_id") % 2 == 0, F.lit("conv-hot")).otherwise(
            F.col("conv_id")
        ),
    )
    for frame in (df, hot):
        want = stable_turn_order(frame).select(
            "conv_id", "turn_idx", "turn_rank"
        )
        for parts in (3, 17):
            old = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            try:
                got = stable_turn_order_skew_safe(frame)
                assert set(got.columns) == set(frame.columns) | {"turn_rank"}
                diff = (
                    got.select("conv_id", "turn_idx", "turn_rank")
                    .exceptAll(want)
                    .count()
                    + want.exceptAll(
                        got.select("conv_id", "turn_idx", "turn_rank")
                    ).count()
                )
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)
            release_persisted()
            assert diff == 0, (parts, diff)
    # empty input: no driver-side offsets, still shaped correctly
    empty = stable_turn_order_skew_safe(df.filter(F.lit(False)))
    assert empty.count() == 0 and "turn_rank" in empty.columns
    release_persisted()


def test_parse_span_group_derivations_match_per_group_regex(spark):
    """The apache pc / syslog ps span-group derivations must equal the
    per-group regexp_extract definition on adversarial lines: empty
    smsg, whitespace-only smsg, smsgid='-', smsg starting with '- ',
    smsg with interior runs of spaces, and non-matching detections."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.plans.flagship import (
        APACHE_RE,
        SYSLOG_RE,
        parse_stage,
    )
    import re

    lines = [
        # apache: normal, /api path, malformed (detection ok, match fail)
        'h1 - u1 [10/Oct/2000:13:55:36 +0000] "GET /api/x HTTP/1.1" 200 5',
        'h2 - u2 [10/Oct/2000:13:55:37 +0000] "POST /y HTTP/1.1" 500 0',
        "h3 - u3 [broken",
        # syslog: normal, smsgid='-', empty smsg, whitespace smsg,
        # smsg starting '- ', interior double space, match fail
        "<5>1 t1 host app 1 mid - hello world",
        "<6>1 t2 host app 2 - - msg after dash id",
        "<7>1 t3 host app 3 mid - ",
        "<8>1 t4 host app 4 mid -   ",
        "<9>1 t5 host app 5 mid - - leading dash",
        "<10>1 t6 host app 6 mid - a  b",
        "<11>bad syslog line",
        # other formats
        "level=info msg=\"evt ok\" latency_cents=3",
        '{"id": 1, "word1": "w", "bytes": 2, "usage": 3}',
        "plain chat text",
    ]
    df = spark.createDataFrame(
        [(i, l) for i, l in enumerate(lines)], "turn_idx long, text string"
    )
    out = parse_stage(df).select("turn_idx", "text", "fmt", "path", "code", "pri", "smsg")
    apache_re = re.compile(APACHE_RE.replace("?P<", "?<").replace("?<", "?P<"))
    syslog_re = re.compile(SYSLOG_RE)
    for r in out.collect():
        am = apache_re.match(r.text) if r.fmt == "apache" else None
        sm = syslog_re.match(r.text) if r.fmt == "syslog" else None
        want_path = (am.group("path") or None) if am else None
        want_code = int(am.group("code")) if am else None
        want_pri = int(sm.group("pri")) if sm else None
        want_smsg = (sm.group("smsg") or None) if sm else None
        assert r.path == want_path, (r.text, r.path, want_path)
        assert r.code == want_code, (r.text, r.code, want_code)
        assert r.pri == want_pri, (r.text, r.pri, want_pri)
        assert r.smsg == want_smsg, (r.text, r.smsg, want_smsg)


def test_malformed_log_lines_read_null_instead_of_failing_the_job(spark):
    """Under ANSI mode one bad line must not abort the flagship job: a
    repeated LTSV key reads its first occurrence, and a number that does
    not parse, or overflows a long, reads as NULL (in `parse_stage` and
    in the declared-type casts of `parse.typecast`)."""
    import datetime as dt

    from fluent_bit_spark.operators.parse import typecast
    from fluent_bit_spark.plans.flagship import run_pipeline

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    lines = [
        "k1:a\tk2:5\tk1:b",
        "k1:a\tk2:abc\tcents:5",
        'level=info msg="evt x" latency_cents=' + "9" * 23,
    ]
    src = spark.createDataFrame(
        [("c", i, "user", line, None, dt.datetime(2024, 1, 1)) for i, line in enumerate(lines)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = {r.turn_idx: r for r in run_pipeline(spark, None, source=src).collect()}
    assert (rows[0].fmt, rows[0].k1, rows[0].k2, rows[0].ltsv_cents) == ("ltsv", "a", 5, None)
    assert (rows[1].k1, rows[1].k2, rows[1].ltsv_cents) == ("a", None, 5)
    assert (rows[2].fmt, rows[2].level, rows[2].latency_cents) == ("logfmt", "info", None)
    bad = spark.createDataFrame([("9" * 23, "x1", "maybe")], "i string, f string, b string")
    row = typecast(bad, {"i": "integer", "f": "float", "b": "bool"}).first()
    assert (row.i, row.f, row.b) == (None, None, None)
