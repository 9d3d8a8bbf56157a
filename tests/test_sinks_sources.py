"""Sinks (formats + fan-out), sources (tail/multiline/dummy), and
multimodal plumbing tests."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark import sinks as SK
from fluent_bit_spark import sources as SRC
from fluent_bit_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def recs(spark):
    import datetime as dt

    rows = [
        ("a", 1, dt.datetime(2024, 1, 1, 0, 0, 0), "x,y"),
        ("b", 2, dt.datetime(2024, 1, 1, 1, 0, 0), 'say "hi"'),
        ("c", None, dt.datetime(2024, 1, 1, 2, 0, 0), None),
    ]
    return spark.createDataFrame(rows, ["k", "n", "ts", "text"])


def test_json_lines(recs):
    vals = [r.value for r in SK.to_json_lines(recs.select("k", "n")).collect()]
    assert '{"k":"a","n":1}' in vals


def test_csv_lines_quoting(recs):
    vals = [r.value for r in SK.to_csv_lines(recs, ["k", "text"]).collect()]
    assert 'a,"x,y"' in vals
    assert 'b,"say ""hi"""' in vals
    assert "c," in vals  # null renders empty


def test_ltsv_lines(recs):
    vals = [r.value for r in SK.to_ltsv_lines(recs, ["k", "n"]).collect()]
    assert "k:a\tn:1" in vals and "k:c\tn:" in vals


def test_template_lines(recs):
    vals = [r.value for r in SK.to_template_lines(recs, "{time} k={k} v={n} m={missing}").collect()]
    assert "2024-01-01 00:00:00 k=a v=1 m=" in vals


def test_gelf_and_es_and_loki(recs):
    g = SK.gelf_transform(recs, host_col="k", short_message_col="text").collect()
    assert g[0].version == "1.1" and g[0].host == "a"
    e = SK.es_logstash_index(recs).collect()[0]
    assert e._index == "logstash-2024.01.01" and e._id.isdigit()
    l = SK.loki_labels(recs, ["k"], remove_keys=["ts"]).collect()[0]
    assert l.labels == {"k": "a"} and '"n":1' in l.line


def test_fanout_write(spark, tmp_path):
    import datetime as dt

    rows = [
        ("errors.user", ["sink_errors", "sink_all"], dt.datetime(2024, 1, 1), "e1"),
        ("chat.user", ["sink_all"], dt.datetime(2024, 1, 1), "c1"),
        ("tools.code", ["sink_tools", "sink_all"], dt.datetime(2024, 1, 1, 5), "t1"),
    ]
    df = spark.createDataFrame(rows, ["tag", "routes", "ts", "text"])
    sinks = [("sink_errors", "errors.*"), ("sink_tools", "tools.*"), ("sink_all", "*")]
    counts = SK.fanout_write(df, sinks, str(tmp_path / "out"))
    assert counts == {
        "sink_errors": {"records": 1},
        "sink_tools": {"records": 1},
        "sink_all": {"records": 3},
    }
    back = spark.read.parquet(str(tmp_path / "out" / "sink_all"))
    assert back.count() == 3 and "routes" not in back.columns
    agg = spark.read.parquet(str(tmp_path / "out" / "agg_flowcounter"))
    total = (
        agg.filter(F.col("sink") == "sink_all")
        .agg(F.sum("counts").alias("s"))
        .collect()[0]
        .s
    )
    assert total == 3  # one row per (sink, tag, window), summing to all routed rows


def test_fanout_write_rewrite_replaces_sinks(spark, tmp_path):
    import datetime as dt

    rows = [
        ("errors.user", ["sink_errors", "sink_all"], dt.datetime(2024, 1, 1), "e1"),
        ("chat.user", ["sink_all"], dt.datetime(2024, 1, 1), "c1"),
        ("chat.user", ["sink_all"], dt.datetime(2024, 1, 2), "c2"),
    ]
    df = spark.createDataFrame(rows, ["tag", "routes", "ts", "text"])
    sinks = [("sink_errors", "errors.*"), ("sink_all", "*")]
    out = tmp_path / "out"
    counts = SK.fanout_write(df, sinks, str(out), with_aggregates=False)
    assert counts == {"sink_errors": {"records": 1}, "sink_all": {"records": 3}}
    assert list((out / "sink_all").glob("part-*.parquet"))
    back = spark.read.parquet(str(out / "sink_all"))
    assert back.filter(F.col("tag") == "chat.user").count() == 2
    assert not (out / "_fanout_staging").exists()
    # a rewrite replaces each sink's directory whole
    SK.fanout_write(df.filter(F.col("text") == "c2"), sinks, str(out))
    assert sorted(r.text for r in spark.read.parquet(str(out / "sink_all")).collect()) == ["c2"]
    assert spark.read.parquet(str(out / "sink_errors")).count() == 0
    assert not (out / "_fanout_staging").exists()


# --- sources ---------------------------------------------------------------

def test_read_text_lines_and_multiline(spark, tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "one.log").write_text(
        "2024-01-01 start A\n  continuation 1\n  continuation 2\n2024-01-01 start B\n  tail\n"
    )
    (d / "two.log").write_text("orphan line\n2024-01-01 start C\n")
    lines = SRC.read_text_lines(spark, str(d / "*.log"))
    assert lines.count() == 7
    joined = SRC.multiline_join(lines, r"^\d{4}-\d{2}-\d{2} ")
    got = {
        (os.path.basename(r.file), r.group_no): r.text
        for r in joined.collect()
    }
    assert got[("one.log", 0)] == "2024-01-01 start A\n  continuation 1\n  continuation 2"
    assert got[("one.log", 1)] == "2024-01-01 start B\n  tail"
    assert got[("two.log", -1)] == "orphan line"  # leading continuation
    assert got[("two.log", 0)] == "2024-01-01 start C"


def test_in_dummy(spark):
    df = SRC.in_dummy(spark, {"message": "dummy", "count": 2}, samples=5, interval_sec=2)
    rows = df.collect()
    assert len(rows) == 5 and rows[0].message == "dummy" and rows[0]["count"] == 2
    assert (rows[1].ts - rows[0].ts).total_seconds() == 2.0


# --- multimodal ------------------------------------------------------------

def synth_media(spark, n: int = 64, seed: int = 42):
    """Deterministic fake media table: payload bytes derived from
    sha256(seed, id) so every run (and every engine) agrees."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        digest = hashlib.sha256(f"{seed}:{i}".encode()).digest()
        payload = (digest * ((256 + i) // len(digest) + 1))[: 256 + i]
        kind = kinds[i % 3]
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                (64 + i % 8, 48 + i % 5, 1000 + 7 * i, f"{kind}/fake"),
            )
        )
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


def test_multimodal_features(spark):
    media = synth_media(spark, n=12)
    feats = MM.extract_features(media).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r.features) == MM.FEATURE_DIM
        assert abs(sum(r.features) - 1.0) < 1e-5
    # deterministic across runs
    feats2 = MM.extract_features(synth_media(spark, n=12)).collect()
    assert {r.media_id: r.checksum for r in feats} == {
        r.media_id: r.checksum for r in feats2
    }


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"xx", "image", fake=False)


def test_synthetic_metrics(spark):
    m = SRC.synthetic_metrics(spark, "cpu", samples=10)
    rows = m.collect()
    assert len(rows) == 10 and all(0 <= r.value < 100 for r in rows)
    m2 = SRC.synthetic_metrics(spark, "cpu", samples=10)
    assert [r.value for r in rows] == [r.value for r in m2.collect()]  # deterministic


def test_splunk_datadog(recs):
    sp = SK.splunk_hec_transform(recs).collect()[0]
    assert sp.sourcetype == "_json" and '"n":1' in sp.event and sp.host == "unknown"
    dd = SK.datadog_transform(recs, message_col="text", tag_cols=["k"]).collect()[0]
    assert dd.service == "fluent-bit-spark" and dd.ddtags == "k:a"
    assert dd.timestamp == 1704067200000


# --- in_tail dynamic tag ------------------------------------------------------

def test_tail_tag_star_expansion(spark, tmp_path):
    from fluent_bit_spark.sources import read_text_lines, tail_tag
    from pyspark.sql import functions as F

    d = tmp_path / "logs"
    d.mkdir()
    (d / "app.log").write_text("one\n")
    lines = read_text_lines(spark, str(d / "*.log"))
    tagged = lines.withColumn("tag", tail_tag("kube.*", F.col("file")))
    tag = tagged.collect()[0].tag
    # '*' -> sanitized path ('/'->'.', leading separators dropped)
    assert tag.startswith("kube.") and tag.endswith(".app.log") and "/" not in tag


def test_tail_tag_regex_captures(spark):
    from fluent_bit_spark.sources import tail_tag
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("/var/log/pods/ns1_pod7/c.log",)], ["file"]
    )
    tag = tail_tag(
        "kube.<ns>.<pod>.<missing>",
        F.col("file"),
        tag_regex=r"pods/(?<ns>[a-z0-9]+)_(?<pod>[a-z0-9]+)/",
    )
    got = df.select(tag.alias("tag")).collect()[0].tag
    assert got == "kube.ns1.pod7._"  # missing capture renders '_'


def test_config_tail_star_tag_routing(spark, tmp_path):
    from fluent_bit_spark.config import ConfigPipeline

    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text("x\ny\n")
    (d / "b.log").write_text("z\n")
    cfg = f"""
[INPUT]
    Name tail
    Path {d}/*.log
    Tag file.*
[OUTPUT]
    Name stdout
    Match *a.log
"""
    res = ConfigPipeline(cfg).run(spark)
    rows = res["stdout_0"]
    assert len(rows) == 2 and all(r.tag.endswith(".a.log") for r in rows)


def test_stackdriver_severity_token_table(spark):
    """Every reference token maps to its LogSeverity value,
    case-insensitively; unknown/absent -> DEFAULT (0)."""
    from fluent_bit_spark.sinks import STACKDRIVER_SEVERITY, stackdriver_transform

    rows = [(str(i), i, tok, "m") for i, tok in enumerate(STACKDRIVER_SEVERITY)]
    rows += [
        ("x", 90, "warn", "lower ok"),
        ("x", 91, "Fatal", "mixed ok"),
        ("x", 92, "nonsense", "unknown"),
        ("x", 93, None, "absent"),
    ]
    import datetime

    df = spark.createDataFrame(
        [(c, t, lv, m, datetime.datetime(2024, 1, 1)) for c, t, lv, m in rows],
        "conv_id string, turn_idx int, level string, text string, ts timestamp",
    )
    out = {r.insertId: r for r in stackdriver_transform(df).collect()}
    for i, (tok, num) in enumerate(STACKDRIVER_SEVERITY.items()):
        r = out[f"{i}:{i}"]
        assert r.severity_num == num, tok
    assert out["x:90"].severity_num == 400 and out["x:90"].severity == "WARNING"
    assert out["x:91"].severity_num == 600
    assert out["x:92"].severity_num == 0 and out["x:92"].severity == "DEFAULT"
    assert out["x:93"].severity_num == 0


def test_syslog_rfc5424_line_shape(spark):
    import datetime

    from fluent_bit_spark.sinks import syslog_rfc5424_transform

    ts = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    df = spark.createDataFrame(
        [
            ("c", 0, "h1", "tool1", "error", "boom", ts),
            ("c", 1, None, None, None, "plain", ts),
            ("c", 2, "h", "t", "WARN", "w", ts),
        ],
        "conv_id string, turn_idx int, host string, tool string, level string, text string, ts timestamp",
    )
    out = {r.turn_idx: r for r in syslog_rfc5424_transform(df).collect()}
    assert out[0].line == "<11>1 2024-03-01T12:30:45.123456Z h1 tool1 - - - boom"
    assert out[0].severity == 3  # error -> 3; prival = 8+3
    assert out[1].line == "<14>1 2024-03-01T12:30:45.123456Z - - - - - plain"
    assert out[2].severity == 4  # case-insensitive warn


def test_influx_line_escaping_and_fields(spark):
    import datetime

    from fluent_bit_spark.sinks import influx_line_transform

    ts = datetime.datetime(1970, 1, 1, 0, 0, 1)
    df = spark.createDataFrame(
        [("c", 3, "a b,c=d", None, "hello", ts)],
        "conv_id string, turn_idx int, role string, tool string, text string, ts timestamp",
    )
    line = influx_line_transform(df).collect()[0].line
    assert line == "transcripts,role=a\\ b\\,c\\=d turn_idx=3i,len=5i 1000000000"


def test_gelf_extended_custom_keys_and_level(spark):
    import datetime

    from fluent_bit_spark.sinks import gelf_extended_transform

    ts = datetime.datetime(2024, 3, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [
            ("c", 0, "info", "hi", ts, "x"),
            ("c", 1, "ERROR", "hi", ts, "x"),   # not a keyword -> verbatim
            ("c", 2, "Crit", "hi", ts, "x"),    # case-insensitive keyword
            ("c", 3, "5", "hi", ts, "x"),       # digit 0..7 -> itself
            ("c", 4, None, "hi", ts, "x"),      # absent -> NULL
        ],
        "conv_id string, turn_idx int, level string, text string, "
        "ts timestamp, `user agent` string",
    )
    out = gelf_extended_transform(
        df,
        host_col="conv_id",
        short_message_col="text",
        ts_col="ts",
        level_col="level",
        extra_cols=["turn_idx", "id", "user agent"],
    )
    # 'id' is dropped (flb_pack_gelf.c:609); 'user agent' sanitized
    assert "_id" not in out.columns
    assert "_user_agent" in out.columns and "_turn_idx" in out.columns
    rows = {r._turn_idx: r for r in out.collect()}
    assert rows[0].level == "6"       # info
    assert rows[1].level == "ERROR"   # kept verbatim with a warn
    assert rows[2].level == "2"       # crit
    assert rows[3].level == "5"
    assert rows[4].level is None


def test_loki_k8s_labels_sanitize_skip_and_default(spark):
    import json

    from pyspark.sql import functions as F

    from fluent_bit_spark.sinks import loki_labels_k8s

    df = spark.createDataFrame(
        [("c1", "user", "t1", "x"), ("c2", None, None, "y"), ("c3", "", "t3", "z")],
        "conv_id string, role string, tool string, text string",
    )
    k8s = F.map_from_arrays(
        F.array(F.lit("0pod"), F.lit("app.kubernetes.io/name")),
        F.array(F.col("tool"), F.col("tool")),
    )
    out = {
        r.line: json.loads(r.labels_json)
        for r in loki_labels_k8s(
            df, label_cols=["role"], k8s_map=k8s, remove_keys=["tool"]
        ).collect()
    }
    l1 = out['{"conv_id":"c1","text":"x"}']
    # leading digit -> '_' prefix; '.'/'/' -> '_' (loki.c:251 pack_label_key)
    assert l1 == {"role": "user", "_0pod": "t1", "app_kubernetes_io_name": "t1"}
    # NULL role label skipped AND NULL k8s values skipped -> empty set
    # -> default job label (loki.c:399)
    assert out['{"conv_id":"c2","text":"y"}'] == {"job": "fluent-bit"}
    # empty-string role is skipped too ("empty record accessor key
    # translation"), k8s entries survive
    assert out['{"conv_id":"c3","text":"z"}'] == {
        "_0pod": "t3", "app_kubernetes_io_name": "t3"
    }


def test_parse_syslog_rfc5424_roundtrip_and_unparseable(spark):
    from fluent_bit_spark.sources import parse_syslog_rfc5424

    df = spark.createDataFrame(
        [
            ("<165>1 2024-03-01T12:30:45.123456Z host-9 app 1234 ID47 "
             '[exampleSDID@32473 iut="3"] BOM msg with spaces',),
            ("<14>1 2024-03-01T12:30:45.000001Z - - - - - plain",),
            ("total garbage",),
        ],
        "line string",
    )
    rows = parse_syslog_rfc5424(df).collect()
    r0, r1, r2 = rows
    assert (r0.pri, r0.facility, r0.severity) == (165, 20, 5)
    assert r0.host == "host-9" and r0.ident == "app" and r0.pid == "1234"
    assert r0.msgid == "ID47"
    assert r0.extradata == '[exampleSDID@32473 iut="3"]'
    assert r0.message == "BOM msg with spaces"
    assert r0.event_time.microsecond == 123456
    assert r1.pid == "-" and r1.extradata == "-" and r1.message == "plain"
    # unparseable datagram -> all-NULL row kept (reference warns+skips;
    # we keep lineage, caller filters pri IS NOT NULL for drop behavior)
    assert r2.pri is None and r2.message is None and r2.event_time is None


def test_parse_syslog_rfc5424_nil_and_offset_stamps(spark):
    """ANSI regression guard: RFC5424-legal nil '-' and offset stamps
    must yield NULL event_time, not abort the job."""
    from fluent_bit_spark.sources import parse_syslog_rfc5424

    df = spark.createDataFrame(
        [
            ("<14>1 - myhost app - - - msg",),
            ("<14>1 2024-03-01T12:30:45.123456+02:00 h a - - - msg",),
        ],
        "line string",
    )
    rows = parse_syslog_rfc5424(df).collect()
    assert rows[0].pri == 14 and rows[0].stime == "-"
    assert rows[0].event_time is None
    assert rows[1].event_time is None and rows[1].message == "msg"


def test_parse_statsd_grammar_and_types(spark):
    from fluent_bit_spark.sources import parse_statsd

    lines = [
        ("a", "cpu.load:12|c"),                 # plain counter
        ("b", "cpu.load:3|c|@0.5"),             # sampled counter
        ("c", "mem.free:+5|g"),                 # incremental gauge
        ("d", "mem.free:-2|g"),                 # negative delta gauge
        ("e", "req.time:42.5|ms|@0"),           # timer, @0 -> rate 1.0
        ("f", "users:alice|s"),                 # set keeps raw string
        ("g", "weird:7|x"),                     # unknown type -> counter
        ("h", "weird:7|m"),                     # 'm' without 's' -> counter
        ("i", "no-colon-line"),                 # dropped: no bucket
        ("j", "bucket:42"),                     # dropped: no type bar
        ("k", "junk:abc|c"),                    # atof fallback -> 0.0
    ]
    df = spark.createDataFrame(lines, ["id", "line"])
    rows = {r.id: r for r in parse_statsd(df, keep=("id",)).collect()}
    assert set(rows) == {"a", "b", "c", "d", "e", "f", "g", "h", "k"}
    assert rows["a"].mtype == "counter" and rows["a"].value_num == 12.0
    assert rows["a"].sample_rate == 1.0 and rows["a"].incremental is None
    assert rows["b"].sample_rate == 0.5
    assert rows["c"].mtype == "gauge" and rows["c"].incremental == 1
    assert rows["c"].value_num == 5.0 and rows["c"].sample_rate is None
    assert rows["d"].incremental == 1 and rows["d"].value_num == -2.0
    assert rows["e"].mtype == "timer" and rows["e"].sample_rate == 1.0
    assert rows["e"].value_num == 42.5
    assert rows["f"].mtype == "set" and rows["f"].value_str == "alice"
    assert rows["f"].value_num is None and rows["f"].sample_rate is None
    assert rows["g"].mtype == "counter"
    assert rows["h"].mtype == "counter"
    assert rows["k"].value_num == 0.0


def test_statsd_flush_semantics(spark):
    from fluent_bit_spark.operators.aggregate import statsd_flush
    from fluent_bit_spark.sources import parse_statsd

    # gauge story: delta before the last absolute write is discarded,
    # deltas after it accumulate: +10 (dead), =100, +5, -3 -> 102
    lines = [
        ("01", "g.a:+10|g"),
        ("02", "g.a:100|g"),
        ("03", "g.a:+5|g"),
        ("04", "g.a:-3|g"),
        ("05", "g.b:+4|g"),   # no absolute write ever: bare delta sum
        ("06", "g.b:-1|g"),
        ("07", "c.a:10|c|@0.5"),  # rate-corrected: 20
        ("08", "c.a:1|c"),        # +1 -> 21
        ("09", "t.a:10.5|ms"),
        ("10", "t.a:2|ms"),
        ("11", "s.a:x|s"),
        ("12", "s.a:y|s"),
        ("13", "s.a:x|s"),
    ]
    df = spark.createDataFrame(lines, ["okey", "line"])
    out = statsd_flush(parse_statsd(df, keep=("okey",)))
    got = {(r.mtype, r.bucket): r for r in out.collect()}
    assert got[("gauge", "g.a")].value == 102.0
    assert got[("gauge", "g.b")].value == 3.0
    assert got[("counter", "c.a")].value == 21.0
    t = got[("timer", "t.a")]
    assert (t.value, t.v_min, t.v_max, t.n) == (12.5, 2.0, 10.5, 2)
    s = got[("set", "s.a")]
    assert s.value == 2.0 and s.v_min is None and s.n == 3


def test_docker_mode_join(spark):
    # three json-file records forming one logical line (16 KB split
    # analog), one standalone line, one trailing un-terminated run,
    # one unparseable record -- fed out of order to prove the window
    # ordering, not input order, drives reassembly.
    lines = [
        ("f1", 2, '{"log":"tail\n","stream":"stdout","time":"2024-01-01T00:00:00.000001Z"}'),
        ("f1", 0, '{"log":"head ","stream":"stdout","time":"2024-01-01T00:00:00.000001Z"}'),
        ("f1", 1, '{"log":"mid ","stream":"stdout","time":"2024-01-01T00:00:00.000002Z"}'),
        ("f1", 3, '{"log":"solo\n","stream":"stderr","time":"2024-01-01T00:00:01.000000Z"}'),
        ("f1", 4, '{"log":"unterminated","stream":"stdout","time":"2024-01-01T00:00:02.000000Z"}'),
        ("f2", 0, "not json at all"),
    ]
    df = spark.createDataFrame(lines, ["file", "line_no", "line"]).repartition(3)
    out = {
        (r.file, r.first_line_no): r
        for r in SRC.docker_mode_join(df).collect()
    }
    assert out[("f1", 0)].log == "head mid tail\n"
    assert out[("f1", 0)].stream == "stdout"
    assert out[("f1", 0)].ts.microsecond == 1
    assert out[("f1", 3)].log == "solo\n"
    assert out[("f1", 3)].stream == "stderr"
    # docker_mode_flush analog: the trailing run is emitted, not lost
    assert out[("f1", 4)].log == "unterminated"
    # unparseable json surfaces as an empty-log row, not a crash
    assert out[("f2", 0)].log == "" and out[("f2", 0)].ts is None


def test_cri_mode_join(spark):
    lines = [
        ("c1", 0, "2024-01-01T00:00:00.000001Z stdout P piece-a "),
        ("c1", 1, "2024-01-01T00:00:00.000002Z stdout P piece-b "),
        ("c1", 2, "2024-01-01T00:00:00.000003Z stdout F piece-c"),
        ("c1", 3, "2024-01-01T00:00:01.000000Z stderr F whole line"),
        ("c1", 4, "2024-01-01T00:00:02.000000Z stdout P dangling"),
    ]
    df = spark.createDataFrame(lines, ["file", "line_no", "line"]).repartition(2)
    out = {
        (r.file, r.first_line_no): r for r in SRC.cri_mode_join(df).collect()
    }
    assert out[("c1", 0)].log == "piece-a piece-b piece-c"
    assert out[("c1", 0)].stream == "stdout"
    assert out[("c1", 0)].ts.microsecond == 1
    assert out[("c1", 3)].log == "whole line"
    assert out[("c1", 4)].log == "dangling"


def test_parse_kmsg(spark):
    lines = [
        ("k", "6,1234,5000001,-;usb 1-1: device connected\n"),
        ("k", "30,1235,5999999,c;printk: suppressed\n"),  # pri 30 & 7 = 6
        ("k", "garbage line"),
    ]
    df = spark.createDataFrame(lines, ["src", "line"])
    out = {r.sequence: r for r in SRC.parse_kmsg(df).collect()}
    r = out[1234]
    assert (r.priority, r.sec, r.usec) == (6, 5, 1)
    assert r.msg == "usb 1-1: device connected"
    assert r.ts.isoformat() == "2024-01-01T00:00:05.000001"
    assert out[1235].priority == 6 and out[1235].usec == 999999
    # unparseable header -> NULL fields, row kept
    assert out[None].priority is None and out[None].msg is None


def test_parse_journal_export(spark):
    raw = [
        "PRIORITY=3",
        "MESSAGE=disk failing",
        "_SYSTEMD_UNIT=smartd.service",
        "_PID=77",
        "__REALTIME_TIMESTAMP=1700000000000001",
        "",
        "PRIORITY=6",
        "MESSAGE=all good",
        "_SYSTEMD_UNIT=app.service",
        "_PID=78",
        "__REALTIME_TIMESTAMP=1700000000000002",
        "",
    ]
    df = spark.createDataFrame(
        [("j", i, s) for i, s in enumerate(raw)], ["file", "line_no", "line"]
    ).repartition(3)
    out = {r.entry_no: r for r in SRC.parse_journal_export(df).collect()}
    assert out[0].priority == "3" and out[0].message == "disk failing"
    assert out[0].systemd_unit == "smartd.service" and out[0].pid == "77"
    assert out[0].ts.microsecond == 1
    assert out[1].priority == "6" and out[1].ts.microsecond == 2


def test_prometheus_exposition_escaping(spark):
    from pyspark.sql import functions as F
    from fluent_bit_spark.sinks import prometheus_exposition

    df = spark.createDataFrame(
        [('he said "hi"', "a\\b", 3), (None, "t", 1)],
        ["role", "tool", "n"],
    )
    lines = {
        r.n: r.line for r in prometheus_exposition(df).collect()
    }
    assert lines[3] == 'fbs_turns_total{role="he said \\"hi\\"",tool="a\\\\b"} 3'
    assert lines[1] == 'fbs_turns_total{role="",tool="t"} 1'


def test_byte_histogram_features_exact(spark):
    from fluent_bit_spark.operators.multimodal import byte_histogram_features

    rows = [(1, bytearray(b"\x00\xff\xff\x80")), (2, bytearray(b""))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in byte_histogram_features(df).collect()}
    h = out[1].hist
    assert len(h) == 16 and sum(h) == 4
    assert h[0] == 1      # 0x00 -> bin 0
    assert h[15] == 2     # 0xff -> clamped to last bin
    assert h[128 * 16 // 255] == 1  # 0x80 -> bin 8
    assert out[2].hist == [0] * 16 and out[2].n_bytes == 0


def test_http_body_formats_compose(spark):
    """lines / stream / json all derive from the same dated record
    rendering: stream == lines minus newlines, json == '[' + stream
    with ',' separators + ']' (src/flb_pack.c:780 format switch)."""
    import datetime as dt

    from fluent_bit_spark.sinks import http_body_transform

    rows = [
        ("c1", 0, "user", 'he said "hi"', dt.datetime(2024, 1, 1, 0, 0, 0, 123456)),
        ("c1", 1, "user", "plain", dt.datetime(2024, 1, 1, 0, 0, 1, 7)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    lines = http_body_transform(df, fmt="lines").collect()[0]
    stream = http_body_transform(df, fmt="stream").collect()[0]
    arr = http_body_transform(df, fmt="json").collect()[0]
    assert lines.tag == "fbs.user" and lines.n_records == 2
    recs = lines.body.split("\n")
    assert recs[-1] == "" and len(recs) == 3  # '\n' after EVERY record
    assert stream.body == recs[0] + recs[1]
    assert arr.body == "[" + recs[0] + "," + recs[1] + "]"
    # injected date key leads, iso8601 with 6-digit micros
    assert recs[0].startswith('{"date":"2024-01-01T00:00:00.123456Z",')
    assert '"text":"he said \\"hi\\""' in recs[0]
    assert '"date":"2024-01-01T00:00:01.000007Z"' in recs[1]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        http_body_transform(df, fmt="msgpack")


def test_pgsql_insert_escaping(spark):
    """PQescapeLiteral semantics (pgsql.c:279): internal single quotes
    double; the rendered statement round-trips through a SQL string
    literal back to the exact JSON array."""
    import datetime as dt

    from fluent_bit_spark.sinks import pgsql_insert_transform

    rows = [("c1", 0, "user", "it's a 'quoted' text",
             dt.datetime(2024, 1, 1, 0, 0, 0, 500000))]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    q = pgsql_insert_transform(df).collect()[0].query
    assert q.startswith("INSERT INTO fluentbit SELECT 'fbs.user', to_timestamp")
    assert q.endswith(");")
    # extract the escaped literal and un-escape it like the server would
    lit = q.split("json_array_elements('", 1)[1].rsplit("');", 1)[0]
    arr = lit.replace("''", "'")
    assert arr == (
        '[{"date":1704067200.500000,"conv_id":"c1","turn_idx":0,'
        '"role":"user","text":"it\'s a \'quoted\' text"}]'
    )


def test_storage_limit_matches_sequential_simulation(spark):
    """The closed-form reverse-cumsum statuses equal a literal
    replay of the reference's arrival loop (flb_input_chunk.c:152
    count_dropped_chunks + :201 find_space_new_data): evict oldest
    until the arrival fits; oversize arrivals are rejected outright."""
    import itertools

    from fluent_bit_spark.metrics import storage_limit_drops

    limit = 100

    def simulate(sizes):
        buf = []  # (idx, size) oldest first
        dropped = set()
        for i, s in enumerate(sizes):
            if s > limit:
                dropped.add(i)  # rejected_oversize
                continue
            while sum(x[1] for x in buf) + s > limit:
                idx, _ = buf.pop(0)
                dropped.add(idx)
            buf.append((i, s))
        return {i: ("rejected_oversize" if sizes[i] > limit and i in dropped
                    else "evicted" if i in dropped else "retained")
                for i in range(len(sizes))}

    cases = [
        [10, 20, 30, 40, 50],
        [60, 60, 60],
        [150, 30, 30],          # oversize first
        [30, 150, 90],          # oversize mid-stream
        [100, 100],             # exact-fit arrivals
        [1, 99, 1, 99, 1],
    ]
    # plus exhaustive small sequences
    cases += [list(p) for p in itertools.product([40, 70, 150], repeat=3)]
    for sizes in cases:
        rows = [("s", i, s) for i, s in enumerate(sizes)]
        df = spark.createDataFrame(rows, "sink string, hour int, chunk_bytes long")
        got = {
            r.hour: r.status
            for r in storage_limit_drops(df, limit=limit).collect()
        }
        assert got == simulate(sizes), sizes


def test_metrics_endpoint_empty_input(spark):
    """Empty pipeline: every counter renders 0 (not a NULLed-out
    fragment -- ANSI SUM over zero rows is NULL without the guard)."""
    from fluent_bit_spark.metrics import metrics_endpoint

    df = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string"
    )
    rows = {r.name: r.fragment for r in metrics_endpoint(df).collect()}
    assert rows["tail.0"] == '"tail.0":{"records":0,"bytes":0}'
    assert rows["grep.0"] == '"grep.0":{"drop_records":0,"add_records":0}'
    assert rows["es.0"].startswith('"es.0":{"proc_records":0,"proc_bytes":0,')


def test_envelope_json_validity_on_hostile_text(spark):
    """Every rendered envelope stays machine-parseable when the text
    carries JSON specials: quotes, backslashes, newlines, tabs,
    unicode, control chars. One line per record for http lines (the
    embedded newline must be escaped, not emitted raw)."""
    import datetime as dt
    import json as jsonmod

    from fluent_bit_spark.sinks import (
        firehose_records_transform,
        http_body_transform,
        newrelic_payload_transform,
    )

    nasty = ['he said "hi"', "back\\slash", "new\nline", "tab\there",
             "emoji \U0001f600", "ctrl\x01char", None]
    rows = [
        ("c1", i, "user", t, dt.datetime(2024, 1, 1, 0, 0, i))
        for i, t in enumerate(nasty)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    body = http_body_transform(df, fmt="lines").collect()[0].body
    lines = body.split("\n")
    assert lines[-1] == "" and len(lines) == len(nasty) + 1
    decoded = [jsonmod.loads(l) for l in lines[:-1]]
    assert [d["text"] for d in decoded] == nasty

    import base64 as b64mod

    for r in firehose_records_transform(df).collect():
        data = jsonmod.loads(r.entry)["Data"]
        rec = b64mod.b64decode(data).decode()
        assert rec.endswith("\n")
        jsonmod.loads(rec)

    payload = newrelic_payload_transform(df).collect()[0].payload
    logs = jsonmod.loads(payload)[0]["logs"]
    assert [e["message"] for e in logs] == [t if t is not None else "" for t in nasty]


