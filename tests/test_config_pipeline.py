"""Config-driven pipeline tests — the shape of the reference's runtime
tests (in_dummy/in_lib -> filters -> out_* with expected counts,
tests/runtime/filter_*.c)."""

from __future__ import annotations

import pandas as pd
import pytest

from fluent_bit_spark.config import ConfigError, ConfigPipeline, parse_config


def test_parse_config_sections():
    secs = parse_config(
        """
# comment
[SERVICE]
    Flush 5
[INPUT]
    Name dummy
    Tag  t.1
[OUTPUT]
    Name counter
    Match *
"""
    )
    assert [s.kind for s in secs] == ["SERVICE", "INPUT", "OUTPUT"]
    assert secs[1].get("Tag") == "t.1"


def test_dummy_grep_counter(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "error happened", "code": 500}
    Samples 6
    Tag app.a
[INPUT]
    Name dummy
    Dummy {"message": "all fine", "code": 200}
    Samples 4
    Tag app.b
[FILTER]
    Name grep
    Match app.*
    Regex message error
[OUTPUT]
    Name counter
    Match *
"""
    res = ConfigPipeline(cfg).run(spark)
    assert res == {"counter_0": 6}


def test_filter_match_scoping(spark):
    # filter only touches app.a; app.b passes through untouched
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "x"}
    Samples 3
    Tag app.a
[INPUT]
    Name dummy
    Dummy {"message": "x"}
    Samples 2
    Tag app.b
[FILTER]
    Name record_modifier
    Match app.a
    Record env prod
[OUTPUT]
    Name stdout
    Match *
"""
    res = ConfigPipeline(cfg).run(spark)
    rows = res["stdout_0"]
    envs = {r.tag: r.env for r in rows}
    assert envs["app.a"] == "prod" and envs["app.b"] is None


def test_modify_and_multiple_outputs(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "m", "code": 500}
    Samples 5
    Tag svc.err
[INPUT]
    Name dummy
    Dummy {"message": "m", "code": 200}
    Samples 7
    Tag svc.ok
[FILTER]
    Name modify
    Match *
    Condition key_value_equals code 500
    Set severity high
[OUTPUT]
    Name counter
    Match svc.err
[OUTPUT]
    Name counter
    Match *
"""
    res = ConfigPipeline(cfg).run(spark)
    assert res == {"counter_0": 5, "counter_1": 12}


def test_rewrite_tag_rule(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "boom"}
    Samples 2
    Tag a.x
[FILTER]
    Name rewrite_tag
    Match a.*
    Rule $message boom alerts.boom false
[OUTPUT]
    Name counter
    Match alerts.*
"""
    res = ConfigPipeline(cfg).run(spark)
    assert res == {"counter_0": 2}


def test_file_output_json_lines(spark, tmp_path):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "hello"}
    Samples 3
    Tag f.x
[OUTPUT]
    Name file
    Match *
    Format json_lines
"""
    res = ConfigPipeline(cfg).run(spark, output_base=str(tmp_path))
    out = spark.read.text(res["file_0"])
    lines = [r.value for r in out.collect()]
    assert len(lines) == 3 and all('"message":"hello"' in l for l in lines)


def test_file_output_without_output_base_is_config_error(spark):
    """A writing output with no output_base fails naming the output,
    before anything runs, instead of writing under a relative `None/`
    directory."""
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "hello"}
    Samples 1
    Tag f.x
[OUTPUT]
    Name counter
    Match *
[OUTPUT]
    Name file
    Match *
"""
    with pytest.raises(ConfigError, match="'file_1'.*output_base"):
        ConfigPipeline(cfg).run(spark)


def test_lua_callable(spark):
    def double(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat([pdf, pdf])

    cfg = """
[INPUT]
    Name dummy
    Samples 3
    Tag l.x
[FILTER]
    Name lua
    Match *
    Call double
[OUTPUT]
    Name counter
    Match *
"""
    res = ConfigPipeline(cfg, lua_functions={"double": double}).run(spark)
    assert res == {"counter_0": 6}


def test_lua_call_with_no_registered_function_is_a_config_error(spark, tmp_path):
    """A file config cannot register lua functions, so its `Call` names
    nothing: the error says which function, not a bare KeyError."""
    from fluent_bit_spark.config import pipeline_from_file

    conf = tmp_path / "fb.conf"
    conf.write_text(
        "[INPUT]\n    Name dummy\n    Tag l.x\n"
        "[FILTER]\n    Name lua\n    Match *\n    Call double\n"
        "[OUTPUT]\n    Name counter\n    Match *\n"
    )
    with pytest.raises(ConfigError, match="lua filter: Call 'double'"):
        pipeline_from_file(str(conf)).run(spark)


def test_unroutable_dropped_and_errors(spark):
    cfg = """
[INPUT]
    Name dummy
    Samples 3
    Tag a.x
[OUTPUT]
    Name counter
    Match nomatch.*
"""
    res = ConfigPipeline(cfg).run(spark)
    assert res == {"counter_0": 0}
    with pytest.raises(ConfigError):
        ConfigPipeline("[INPUT]\n Name dummy\n").run(spark)
    with pytest.raises(ConfigError):
        ConfigPipeline(
            "[INPUT]\n Name nope\n[OUTPUT]\n Name counter\n Match *\n"
        ).run(spark)


def test_parsers_conf_named_parser(spark, tmp_path):
    from fluent_bit_spark.config import parse_parsers_conf, pipeline_from_file

    parsers = """
[PARSER]
    Name   apache_demo
    Format regex
    Regex  ^(?P<host>\\S+) "(?P<method>\\S+) (?P<path>\\S+)" (?P<code>\\d+)$
    Types  code:integer
[PARSER]
    Name   kv
    Format logfmt
"""
    specs = parse_parsers_conf(parsers)
    assert set(specs) == {"apache_demo", "kv"} and specs["apache_demo"].types == {"code": "integer"}

    (tmp_path / "parsers.conf").write_text(parsers)
    cfg = """
[SERVICE]
    Parsers_File parsers.conf
[INPUT]
    Name dummy
    Dummy {"log": "1.2.3.4 \\"GET /x\\" 500"}
    Samples 4
    Tag p.a
[FILTER]
    Name parser
    Match *
    Key_Name log
    Parser apache_demo
[FILTER]
    Name grep
    Match *
    Regex code ^5
[OUTPUT]
    Name stdout
    Match *
"""
    (tmp_path / "fb.conf").write_text(cfg)
    res = pipeline_from_file(str(tmp_path / "fb.conf")).run(spark)
    rows = res["stdout_0"]
    assert len(rows) == 4
    assert rows[0].host == "1.2.3.4" and rows[0].code == 500 and "log" not in rows[0].asDict()


def test_config_lookup_filter_and_es_output(spark, tmp_path):
    lk = tmp_path / "lk.csv"
    lk.write_text("app.a,team-a\napp.b,team-b\n")
    cfg = f"""
[INPUT]
    Name dummy
    Dummy {{"message": "hi"}}
    Samples 3
    Tag app.a
[FILTER]
    Name lookup
    Match *
    Lookup_file {lk}
    Match_key tag
    Record_key team
    Default unknown
[OUTPUT]
    Name es
    Match *
"""
    res = ConfigPipeline(cfg).run(spark, output_base=str(tmp_path / "out"))
    lines = [r.value for r in spark.read.text(res["es_0"]).collect()]
    assert len(lines) == 3
    assert all('"_index":"logstash-2024.01.01"' in ln for ln in lines)
    assert all('"team":"team-a"' in ln for ln in lines)


def test_config_throttle_size_and_datadog(spark, tmp_path):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "xxxxxxxxxx"}
    Samples 5
    Tag app.a
[FILTER]
    Name throttle_size
    Match *
    Name_field tag
    Log_field message
    Rate 25
    Window 3600
[OUTPUT]
    Name datadog
    Match *
"""
    res = ConfigPipeline(cfg).run(spark, output_base=str(tmp_path / "out"))
    lines = [r.value for r in spark.read.text(res["datadog_0"]).collect()]
    # 10 bytes/record, 25-byte budget per hour window -> first 2 kept
    assert len(lines) == 2
    assert all('"service":"fluent-bit-spark"' in ln for ln in lines)


def test_config_alter_size_and_gelf(spark, tmp_path):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "boom"}
    Samples 5
    Tag app.a
[FILTER]
    Name alter_size
    Match *
    Remove 2
[OUTPUT]
    Name gelf
    Match *
"""
    res = ConfigPipeline(cfg).run(spark, output_base=str(tmp_path / "out"))
    lines = [r.value for r in spark.read.text(res["gelf_0"]).collect()]
    assert len(lines) == 3
    assert all('"version":"1.1"' in ln and '"short_message":"boom"' in ln for ln in lines)


def test_config_geoip_range_and_loki(spark, tmp_path):
    rf = tmp_path / "ranges.csv"
    rf.write_text("0,100,tier,low\n100,1000,tier,high\n")
    cfg = f"""
[INPUT]
    Name dummy
    Dummy {{"message": "m", "score": 42}}
    Samples 2
    Tag app.a
[FILTER]
    Name geoip2
    Match *
    Ranges_file {rf}
    Lookup_key score
    Default unknown
[OUTPUT]
    Name loki
    Match *
    Labels tag,tier
"""
    res = ConfigPipeline(cfg).run(spark, output_base=str(tmp_path / "out"))
    lines = [r.value for r in spark.read.text(res["loki_0"]).collect()]
    assert len(lines) == 2
    assert all('"tier":"low"' in ln for ln in lines)


def test_config_rewrite_tag_captures(spark):
    """rewrite_tag new-tag templates substitute $0..$9 captures from the
    rule's regex (rewrite_tag.c capture refs)."""
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "m"}
    Samples 2
    Tag app.orders
[INPUT]
    Name dummy
    Dummy {"message": "m"}
    Samples 1
    Tag app.users
[FILTER]
    Name rewrite_tag
    Match *
    Rule $TAG ^app\\.(\\w+)$ moved.$1 false
[OUTPUT]
    Name stdout
    Match moved.*
"""
    from fluent_bit_spark.config import ConfigPipeline

    rows = ConfigPipeline(cfg).run(spark)["stdout_0"]
    tags = sorted(r.tag for r in rows)
    assert tags == ["moved.orders", "moved.orders", "moved.users"]


def test_load_config_file_include_set_and_vars(tmp_path, monkeypatch):
    from fluent_bit_spark.config import ConfigError, load_config_file
    import pytest

    (tmp_path / "filters.conf").write_text(
        "[FILTER]\n    Name grep\n    Match ${TAG_PREFIX}.*\n    Regex text ^x\n"
    )
    (tmp_path / "extra.d").mkdir()
    (tmp_path / "extra.d" / "a.conf").write_text("[OUTPUT]\n    Name null\n    Match a.*\n")
    (tmp_path / "extra.d" / "b.conf").write_text("[OUTPUT]\n    Name null\n    Match b.*\n")
    main = tmp_path / "main.conf"
    main.write_text(
        "@SET TAG_PREFIX=app\n"
        "[INPUT]\n    Name dummy\n    Tag ${TAG_PREFIX}.log\n    Samples 2\n"
        "@INCLUDE filters.conf\n"
        "@INCLUDE extra.d/*.conf\n"
        "[OUTPUT]\n    Name stdout\n    Match ${MISSING_VAR}${TAG_PREFIX}.*\n"
    )
    sections = load_config_file(str(main))
    kinds = [s.kind for s in sections]
    assert kinds == ["INPUT", "FILTER", "OUTPUT", "OUTPUT", "OUTPUT"]
    assert sections[0].get("Tag") == "app.log"           # @SET variable
    assert sections[1].get("Match") == "app.*"           # translated in include
    # glob includes in sorted order
    assert [s.get("Match") for s in sections[2:4]] == ["a.*", "b.*"]
    # missing vars become empty string (flb_env semantics), process env wins
    assert sections[4].get("Match") == "app.*"

    monkeypatch.setenv("TAG_PREFIX", "ignored-because-set-wins")
    assert load_config_file(str(main))[0].get("Tag") == "app.log"

    # cycle guard
    loop = tmp_path / "loop.conf"
    loop.write_text("@INCLUDE loop.conf\n")
    with pytest.raises(ConfigError):
        load_config_file(str(loop))

    # missing glob is an error
    bad = tmp_path / "bad.conf"
    bad.write_text("@INCLUDE nothing/*.conf\n")
    with pytest.raises(ConfigError):
        load_config_file(str(bad))


def test_env_fallback_to_process_environment(tmp_path, monkeypatch):
    from fluent_bit_spark.config import load_config_file

    monkeypatch.setenv("FBS_TEST_SINK", "es")
    c = tmp_path / "env.conf"
    c.write_text("[OUTPUT]\n    Name ${FBS_TEST_SINK}\n    Match *\n")
    assert load_config_file(str(c))[0].get("Name") == "es"


def test_pipeline_from_file_service_parsers_file(tmp_path, spark):
    from fluent_bit_spark.config import pipeline_from_file

    (tmp_path / "parsers.conf").write_text(
        "[PARSER]\n    Name kvlog\n    Format logfmt\n"
    )
    main = tmp_path / "fb.conf"
    main.write_text(
        "[SERVICE]\n    Flush 1\n    Parsers_File parsers.conf\n"
        "[INPUT]\n    Name dummy\n    Tag t.log\n"
        '    Dummy {"log": "a=1 b=two"}\n    Samples 3\n'
        "[FILTER]\n    Name parser\n    Match t.*\n    Key_Name log\n    Parser kvlog\n"
        "[OUTPUT]\n    Name counter\n    Match *\n"
    )
    pipe = pipeline_from_file(str(main))
    assert "kvlog" in pipe.parsers and pipe.parsers["kvlog"].format == "logfmt"
    res = pipe.run(spark)
    # counter output counted all 3 records
    assert any(v == 3 or (isinstance(v, list) and len(v)) for v in res.values())


def test_pipeline_from_file_missing_parsers_file(tmp_path):
    import pytest
    from fluent_bit_spark.config import ConfigError, pipeline_from_file

    main = tmp_path / "fb.conf"
    main.write_text("[SERVICE]\n    Parsers_File nope.conf\n")
    with pytest.raises(ConfigError):
        pipeline_from_file(str(main))


def test_frame_applies_filters_in_order_and_requires_input(spark):
    from fluent_bit_spark.config import ConfigError, ConfigPipeline

    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "error a", "code": 1}
    Samples 4
    Tag t.x
[FILTER]
    Name grep
    Match *
    Regex message error
[FILTER]
    Name record_modifier
    Match *
    Record env prod
"""
    df = ConfigPipeline(cfg).frame(spark)
    rows = df.collect()
    # grep ran before record_modifier: only matching rows carry env
    assert len(rows) == 4 and all(r.env == "prod" for r in rows)
    assert {r.tag for r in rows} == {"t.x"}

    with pytest.raises(ConfigError, match="INPUT"):
        ConfigPipeline("[OUTPUT]\n    Name counter\n    Match *\n").frame(spark)


def test_tensorflow_filter_from_config(spark):
    """[FILTER] Name tensorflow with inline int8-style weights: the
    hand-traced logits from test_wireformat must come out of the
    config path too."""
    cfg = """
[INPUT]
    Name dummy
    Dummy {"x_len": 100, "x_words": 20, "x_tool": 1}
    Samples 1
    Tag t.a
[FILTER]
    Name tensorflow
    Match *
    Feature x_len
    Feature x_words
    Feature x_tool
    W1 2,-1,5;1,3,-2;-1,2,4
    B1 10,-20,5
    Shift1 4
    W2 3,-2,6
    B2 -40
    Shift2 2
    Threshold 0
[OUTPUT]
    Name null
    Match *
"""
    frame = ConfigPipeline(parse_config(cfg)).frame(spark)
    [r] = frame.collect()
    assert (r["score"], r["keep"]) == (-5, False)


def test_tensorflow_model_file_real(spark, tmp_path):
    """Model_file loads an actual .tflite flatbuffer through the
    pure-Python loader — the reference's load-file-then-score path
    (plugins/filter_tensorflow/tensorflow.c), no longer gated."""
    from fluent_bit_spark.operators.tensorflow_filter import (
        QuantizedMLP,
        export_tflite_model,
    )

    p = tmp_path / "m.tflite"
    p.write_bytes(
        export_tflite_model(
            QuantizedMLP(
                w1=[[3]], b1=[1], shift1=0, w2=[[2]], b2=[-5], shift2=1
            )
        )
    )
    cfg = f"""
[INPUT]
    Name dummy
    Dummy {{"x": 7}}
    Samples 1
    Tag t.a
[FILTER]
    Name tensorflow
    Match *
    Model_file {p}
    Feature x
    Threshold 0
[OUTPUT]
    Name null
    Match *
"""
    frame = ConfigPipeline(parse_config(cfg)).frame(spark)
    [r] = frame.collect()
    # h = relu(3*7 + 1) = 22; y = floor((2*22 - 5)/2) = 19
    assert (r["score"], r["keep"]) == (19, True)


def test_tensorflow_model_file_out_of_subset_still_gates(tmp_path):
    """A model outside the int8 2-layer subset keeps the honest
    NotImplementedError (narrowed gate, not a silent wrong answer)."""
    import struct

    from fluent_bit_spark.operators.tensorflow_filter import (
        QuantizedMLP,
        export_tflite_model,
        load_tflite_model,
    )

    blob = export_tflite_model(
        QuantizedMLP(w1=[[1]], b1=[0], shift1=2, w2=[[1]], b2=[0], shift2=0)
    )
    bad = blob.replace(struct.pack("<f", 4.0), struct.pack("<f", 3.0))
    p = tmp_path / "bad.tflite"
    p.write_bytes(bad)
    with pytest.raises(NotImplementedError):
        load_tflite_model(str(p))


def test_sampling_filter_from_config(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"level": "debug", "event_id": 1}
    Samples 40
    Tag t.a
[INPUT]
    Name dummy
    Dummy {"level": "error", "event_id": 2}
    Samples 3
    Tag t.b
[FILTER]
    Name sampling
    Match *
    Level_key level
    Id_key event_id
    Rate error 1000000
    Rate debug 0
[OUTPUT]
    Name null
    Match *
"""
    frame = ConfigPipeline(parse_config(cfg)).frame(spark)
    rows = frame.collect()
    assert len(rows) == 3
    assert all(r["level"] == "error" and r["weight_milli"] == 1000 for r in rows)


def test_config_http_and_kinesis_outputs(spark, tmp_path):
    """[OUTPUT] Name http / kinesis_streams / kinesis_firehose over
    arbitrary routed records: http bodies carry the injected iso8601
    date key per tag chunk; kinesis entries are RFC 4648 base64 with
    the tag as the deterministic partition key; firehose appends the
    newline before encoding."""
    import base64 as b64mod

    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "hello", "n": 7}
    Samples 3
    Tag h.x
[OUTPUT]
    Name http
    Match *
    Format json_lines
    Json_Date_Format iso8601
[OUTPUT]
    Name kinesis_streams
    Match *
[OUTPUT]
    Name kinesis_firehose
    Match *
"""
    res = ConfigPipeline(cfg).run(spark, output_base=str(tmp_path / "out"))
    body = "\n".join(
        r.value for r in spark.read.text(res["http_0"]).collect()
    )
    lines = [l for l in body.split("\n") if l]
    assert len(lines) == 3
    assert all(l.startswith('{"date":"2024-01-01T00:00:0') for l in lines)
    assert all('"message":"hello","n":7' in l for l in lines)
    assert '"ts"' not in lines[0]  # event time feeds date, not the map

    entries = [r.value for r in spark.read.text(res["kinesis_streams_1"]).collect()]
    assert len(entries) == 3 and all('"PartitionKey":"h.x"' in e for e in entries)
    data = entries[0].split('{"Data":"', 1)[1].split('"', 1)[0]
    assert b64mod.b64decode(data).decode().startswith('{"message":"hello"')

    fh = [r.value for r in spark.read.text(res["kinesis_firehose_2"]).collect()]
    data = fh[0].split('{"Data":"', 1)[1].split('"', 1)[0]
    assert b64mod.b64decode(data).decode().endswith("}\n")  # newline-before-encode


def test_config_pgsql_kafka_rest_nrlogs_es_bulk_outputs(spark, tmp_path):
    """The remaining envelope outputs dispatch from classic config over
    arbitrary routed records, chunked per tag."""
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "mm", "n": 2}
    Samples 2
    Tag p.q
[OUTPUT]
    Name pgsql
    Match *
    Table logs_t
[OUTPUT]
    Name kafka_rest
    Match *
[OUTPUT]
    Name nrlogs
    Match *
[OUTPUT]
    Name es_bulk
    Match *
    Logstash_Prefix fb
"""
    res = ConfigPipeline(cfg).run(spark, output_base=str(tmp_path / "out"))
    q = [r.value for r in spark.read.text(res["pgsql_0"]).collect()]
    assert len(q) == 1  # one INSERT per tag chunk
    assert q[0].startswith("INSERT INTO logs_t SELECT 'p.q', to_timestamp")
    assert '""message"":"' not in q[0] and '"message":"mm"' in q[0].replace("''", "'")

    body = "".join(r.value for r in spark.read.text(res["kafka_rest_1"]).collect())
    assert body.startswith('{"records":[{"value":{"@timestamp":"2024-01-01T00:00:0')
    assert body.count('"message":"mm"') == 2

    nr = "".join(r.value for r in spark.read.text(res["nrlogs_2"]).collect())
    assert nr.startswith('[{"common":{"attributes":{}},"logs":[{"timestamp":')
    assert '"message":"mm"' in nr and '"attributes":{"n":2}' in nr

    eb = "\n".join(r.value for r in spark.read.text(res["es_bulk_3"]).collect())
    assert eb.count('{"index":{"_index":"fb-2024.01.01","_id":"') == 2


def test_config_envelope_chunks_order_by_event_time(spark, tmp_path):
    """In-chunk record order is EVENT TIME, not the first record
    column's value (regression: order_col=rec_cols[0] delivered later
    events first when their payload sorted lower)."""
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "zzz-then-aaa"}
    Samples 2
    Tag o.t
[FILTER]
    Name lua
    Match *
    Call reorder
[OUTPUT]
    Name http
    Match *
    Format json_lines
    Json_Date_Format iso8601
"""
    import pandas as pd

    def reorder(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        # earlier event gets the LEXICALLY LATER message
        pdf["message"] = ["zzz" if t.second == 0 else "aaa" for t in pdf["ts"]]
        return pdf

    res = ConfigPipeline(cfg, lua_functions={"reorder": reorder}).run(
        spark, output_base=str(tmp_path / "out")
    )
    body = "\n".join(r.value for r in spark.read.text(res["http_0"]).collect())
    lines = [l for l in body.split("\n") if l]
    assert '"message":"zzz"' in lines[0] and '"message":"aaa"' in lines[1]


def test_envelope_null_fields_render_as_null(spark):
    """NULL record fields render as JSON null (to_json's default drops
    them, which made an all-NULL record splice to '{\"date\":...,}' —
    invalid JSON)."""
    import datetime as dt
    import json as jsonmod

    from fluent_bit_spark.sinks import http_body_transform

    df = spark.createDataFrame(
        [("t.x", None, dt.datetime(2024, 1, 1))],
        "tag string, payload string, ts timestamp",
    )
    body = http_body_transform(
        df, fmt="lines", cols=["payload"], group_cols=["tag"], order_col="ts"
    ).collect()[0].body
    line = body.rstrip("\n")
    assert jsonmod.loads(line) == {"date": "2024-01-01T00:00:00.000000Z",
                                   "payload": None}


def test_pgsql_tag_and_kinesis_key_escaping(spark):
    """A tag with a single quote doubles inside the INSERT (pgsql.c:295
    escapes the tag too); a partition key with JSON specials is
    escaped in the PutRecords entry."""
    import datetime as dt
    import json as jsonmod

    from fluent_bit_spark.sinks import (
        kinesis_records_transform,
        pgsql_insert_transform,
    )

    df = spark.createDataFrame(
        [("o'brien", "m", dt.datetime(2024, 1, 1))],
        "tag string, message string, ts timestamp",
    )
    q = pgsql_insert_transform(
        df, cols=["message"], group_cols=["tag"], order_col="ts"
    ).collect()[0].query
    assert q.startswith("INSERT INTO fluentbit SELECT 'o''brien', to_timestamp")

    df2 = spark.createDataFrame(
        [('a"b', "m")], "tag string, message string"
    )
    entry = kinesis_records_transform(
        df2, cols=["message"], key_col="tag"
    ).collect()[0].entry
    assert jsonmod.loads(entry)["PartitionKey"] == 'a"b'


def test_pgsql_custom_timestamp_key_matches_extractor(spark):
    """With a non-default Timestamp_Key the injected date key and the
    INSERT's value->>'<key>' extractor carry the SAME name (pgsql.c:271
    passes ctx->timestamp_key as the JSON date key) -- regression for
    the hardcoded "date" key that made every row's timestamp NULL."""
    import datetime as dt

    from fluent_bit_spark.sinks import pgsql_insert_transform

    df = spark.createDataFrame(
        [("p.q", "m", dt.datetime(2024, 1, 1))],
        "tag string, message string, ts timestamp",
    )
    q = pgsql_insert_transform(
        df, timestamp_key="at", cols=["message"],
        group_cols=["tag"], order_col="ts",
    ).collect()[0].query
    assert "value->>'at'" in q
    assert '{"at":1704067200.000000,' in q  # injected key matches


def test_http_double_date_format_and_config_defaults(spark, tmp_path):
    """Json_Date_Format defaults to double in config dispatch
    (http_conf.c:174); Json_Date_Key renames the injected key; an
    absent Format raises (reference default is msgpack)."""
    import pytest as _pytest

    from fluent_bit_spark.config import ConfigError, ConfigPipeline

    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "hello"}
    Samples 1
    Tag h.d
[OUTPUT]
    Name http
    Match *
    Format json_lines
    Json_Date_Key when
"""
    res = ConfigPipeline(cfg).run(spark, output_base=str(tmp_path / "out"))
    line = spark.read.text(res["http_0"]).collect()[0].value
    assert line.startswith('{"when":1704067200.000000,')

    bad = cfg.replace("    Format json_lines\n", "")
    with _pytest.raises(ConfigError, match="Format is required"):
        ConfigPipeline(bad).run(spark, output_base=str(tmp_path / "out2"))

    bad2 = cfg + "    Json_Date_Format epoch\n"
    with _pytest.raises(ConfigError, match="Json_Date_Format"):
        ConfigPipeline(bad2).run(spark, output_base=str(tmp_path / "out3"))


def test_kafka_rest_time_key_json_escaped(spark):
    """A Time_Key containing JSON specials is escaped in the records
    body (regression: raw splice produced invalid JSON)."""
    import datetime as dt
    import json as jsonmod

    from fluent_bit_spark.sinks import kafka_rest_records_transform

    df = spark.createDataFrame(
        [("k.t", "m", dt.datetime(2024, 1, 1))],
        "tag string, message string, ts timestamp",
    )
    body = kafka_rest_records_transform(
        df, time_key='t"s\\x', cols=["message"],
        group_cols=["tag"], order_col="ts",
    ).collect()[0].body
    rec = jsonmod.loads(body)["records"][0]["value"]
    assert rec['t"s\\x'].startswith("2024-01-01T00:00:00.")
    assert rec["message"] == "m"


def test_config_remaining_envelope_outputs(spark, tmp_path, sf_dir):
    """The rest of the real-logic envelope family dispatches from
    classic config over a transcripts input: cloudwatch/bigquery/slack/
    syslog/influxdb/prometheus render their wire lines; azure/logdna/
    nats/stackdriver/gelf_chunked write their typed frames."""
    import json as jsonmod

    cfg = f"""
[INPUT]
    Name transcripts
    Path {sf_dir}
    Tag t.c
[OUTPUT]
    Name cloudwatch_logs
    Match *
[OUTPUT]
    Name bigquery
    Match *
[OUTPUT]
    Name slack
    Match *
[OUTPUT]
    Name syslog
    Match *
[OUTPUT]
    Name influxdb
    Match *
[OUTPUT]
    Name prometheus_exporter
    Match *
    Labels role
    Metric fbs_turns_total
[OUTPUT]
    Name azure
    Match *
    Log_Type convlogs
[OUTPUT]
    Name logdna
    Match *
[OUTPUT]
    Name nats
    Match *
[OUTPUT]
    Name stackdriver
    Match *
[OUTPUT]
    Name gelf_chunked
    Match *
    Packet_Size 64
"""
    res = ConfigPipeline(cfg).run(spark, output_base=str(tmp_path / "out"))

    cw = spark.read.text(res["cloudwatch_logs_0"]).collect()[0].value
    e = jsonmod.loads(cw)
    assert set(e) == {"timestamp", "message"} and '"conv_id":' in e["message"]

    bq = spark.read.text(res["bigquery_1"]).collect()[0].value
    assert bq.startswith('{"kind":"bigquery#tableDataInsertAllRequest","rows":[{"json":')

    sl = spark.read.text(res["slack_2"]).collect()[0].value
    assert sl.startswith('["timestamp": ') and '"role"=>' in sl

    sy = spark.read.text(res["syslog_3"]).collect()[0].value
    assert sy.startswith("<") and ">1 " in sy

    infl = spark.read.text(res["influxdb_4"]).collect()[0].value
    assert infl.startswith("transcripts,role=") and " turn_idx=" in infl

    prom = [r.value for r in spark.read.text(res["prometheus_exporter_5"]).collect()]
    assert all(p.startswith('fbs_turns_total{role="') for p in prom)
    total = sum(int(p.rsplit(" ", 1)[1]) for p in prom)
    from fluent_bit_spark.transcripts import load_transcripts
    assert total == load_transcripts(spark, sf_dir).count()

    az = spark.read.json(res["azure_6"]).collect()[0]
    assert az.log_type == "convlogs" and az.timestamp > 1.7e9

    ld = spark.read.json(res["logdna_7"]).collect()[0]
    assert ld.app == "Fluent Bit"

    na = spark.read.json(res["nats_8"]).collect()[0]
    assert '"tag":"fbs.' in na.payload

    sd = spark.read.json(res["stackdriver_9"]).collect()[0]
    assert sd.logName.startswith("projects/") and sd.severity_num == 0

    gc = spark.read.json(res["gelf_chunked_10"]).collect()
    assert all(
        (r.wire_bytes == r.payload_bytes) if not r.chunked
        else (r.dropped and r.wire_bytes == 0)
        or r.wire_bytes == r.payload_bytes + 12 * r.n_chunks
        for r in gc
    )


def test_date_double_pre_epoch_and_pgsql_key_sql_escape(spark):
    """Pre-epoch timestamps render a well-formed fixed-point date
    (floor seconds + pmod fraction: -1.5 s -> '-2.500000', never
    '-2.-50000'); a Timestamp_Key with a single quote is doubled in
    the SQL extractor literal."""
    import datetime as dt
    import json as jsonmod

    from fluent_bit_spark.sinks import http_body_transform, pgsql_insert_transform

    df = spark.createDataFrame(
        [("t.x", "m", dt.datetime(1969, 12, 31, 23, 59, 58, 500000))],
        "tag string, message string, ts timestamp",
    )
    body = http_body_transform(
        df, fmt="lines", cols=["message"], group_cols=["tag"],
        order_col="ts", json_date_format="double",
    ).collect()[0].body
    rec = jsonmod.loads(body.rstrip("\n"))
    assert rec["date"] == -1.5

    q = pgsql_insert_transform(
        df, timestamp_key="a'b", cols=["message"],
        group_cols=["tag"], order_col="ts",
    ).collect()[0].query
    assert "value->>'a''b'" in q


def test_sp_snapshot_ring_survives_maxts_column(spark):
    """A stream already carrying a _maxts column must not break the
    seconds-ring (regression: bare broadcast join made the internal
    max-ts reference ambiguous)."""
    import datetime as dt

    from pyspark.sql import Row

    from fluent_bit_spark.sp import SpEngine

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(id=i, _maxts="user-col", ts=base + dt.timedelta(seconds=i), tag="s.a")
        for i in range(5)
    ]
    eng = SpEngine(spark, {"s": spark.createDataFrame(rows)})
    eng.execute(
        "CREATE SNAPSHOT r WITH (seconds='2') AS SELECT * FROM STREAM:s;"
    )
    out = eng.execute("FLUSH SNAPSHOT r;")
    assert sorted(r.id for r in out.collect()) == [2, 3, 4]
    assert all(r._maxts == "user-col" for r in out.collect())


# ---------------------------------------------------------------------------
# round-4 filter dispatch: kubernetes / aws / apm_* family


def _k8s_cache(tmp_path):
    import json as _json

    meta = {
        "metadata": {
            "name": "web-1",
            "namespace": "prod",
            "uid": "uid-123",
            "labels": {"app": "web", "snappyflow/projectname": "p1"},
            "annotations": {"note": "a"},
        },
        "spec": {"nodeName": "node-7"},
    }
    (tmp_path / "prod_web-1.meta").write_text(_json.dumps(meta))
    return str(tmp_path)


_DOCKER_ID = "a" * 64


def test_kubernetes_filter_meta_and_merge_log(spark, tmp_path):
    cache = _k8s_cache(tmp_path)
    cfg = f"""
[INPUT]
    Name dummy
    Dummy {{"log": "{{\\"lvl\\": \\"info\\"}}"}}
    Samples 3
    Tag kube.var.log.containers.web-1_prod_app-{_DOCKER_ID}.log
[FILTER]
    Name kubernetes
    Match *
    Kube_meta_preload_cache_dir {cache}
    Merge_Log On
    Merge_Log_Key parsed
    Keep_Log Off
"""
    df = ConfigPipeline(cfg).frame(spark)
    rows = df.collect()
    assert len(rows) == 3
    k = rows[0]["kubernetes"]
    assert k["pod_name"] == "web-1"
    assert k["namespace_name"] == "prod"
    assert k["pod_id"] == "uid-123"
    assert k["host"] == "node-7"
    assert k["container_name"] == "app"
    assert k["docker_id"] == _DOCKER_ID
    assert dict(k["labels"])["app"] == "web"
    assert rows[0]["parsed"]["lvl"] == "info"
    assert "log" not in df.columns  # Keep_Log Off


def test_kubernetes_filter_unparseable_tag_passthrough(spark, tmp_path):
    cache = _k8s_cache(tmp_path)
    cfg = f"""
[INPUT]
    Name dummy
    Dummy {{"log": "x"}}
    Samples 2
    Tag notkube.something
[FILTER]
    Name kubernetes
    Match *
    Kube_meta_preload_cache_dir {cache}
"""
    rows = ConfigPipeline(cfg).frame(spark).collect()
    assert all(r["kubernetes"] is None for r in rows)


def test_kubernetes_filter_requires_cache_dir(spark):
    cfg = """
[INPUT]
    Name dummy
    Tag t
[FILTER]
    Name kubernetes
    Match *
"""
    with pytest.raises(ConfigError, match="Kube_meta_preload_cache_dir"):
        ConfigPipeline(cfg).frame(spark)


def test_aws_filter_snapshot_and_defaults(spark, tmp_path):
    import json as _json

    snap = tmp_path / "imds.json"
    snap.write_text(
        _json.dumps(
            {
                "az": "us-east-1a",
                "ec2_instance_id": "i-0abc",
                "ec2_instance_type": "m5.large",
            }
        )
    )
    cfg = f"""
[INPUT]
    Name dummy
    Dummy {{"message": "m"}}
    Samples 2
    Tag t
[FILTER]
    Name aws
    Match *
    Imds_Snapshot {snap}
"""
    df = ConfigPipeline(cfg).frame(spark)
    r = df.collect()[0]
    # defaults: az + ec2_instance_id on, everything else off (aws.c)
    assert r["az"] == "us-east-1a"
    assert r["ec2_instance_id"] == "i-0abc"
    assert "ec2_instance_type" not in df.columns
    cfg2 = cfg + "    ec2_instance_type true\n"
    df2 = ConfigPipeline(cfg2).frame(spark)
    assert df2.collect()[0]["ec2_instance_type"] == "m5.large"


def test_aws_filter_missing_snapshot_key(spark, tmp_path):
    snap = tmp_path / "imds.json"
    snap.write_text('{"az": "us-east-1a"}')
    cfg = f"""
[INPUT]
    Name dummy
    Tag t
[FILTER]
    Name aws
    Match *
    Imds_Snapshot {snap}
"""
    with pytest.raises(ConfigError, match="ec2_instance_id"):
        ConfigPipeline(cfg).frame(spark)


_CHROME_UA = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"
)


def test_apm_uaparser_filter(spark):
    cfg = f"""
[INPUT]
    Name dummy
    Dummy {{"agent": "{_CHROME_UA}"}}
    Samples 1
    Tag t
[FILTER]
    Name apm_uaparser
    Match *
    agent_key agent
    port 5000
"""
    r = ConfigPipeline(cfg).frame(spark).collect()[0]
    assert r["browser_name"] == "Chrome"
    assert r["browser_version"].startswith("120")
    assert r["browser"] == "Chrome 120"
    assert r["OS_name"] == "Windows"
    assert r["OS_version"] == "10.0"
    assert r["device"] == "Unknown"  # desktop UA: no device rule fires


def test_apm_uaparser_unknown_defaults(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"agent": "weird-bot"}
    Samples 1
    Tag t
[FILTER]
    Name apm_uaparser
    Match *
    agent_key agent
"""
    r = ConfigPipeline(cfg).frame(spark).collect()[0]
    for f in (
        "browser_name",
        "browser_version",
        "browser",
        "OS_name",
        "OS_version",
        "OS",
        "device",
        "device_brand",
        "device_model",
    ):
        assert r[f] == "Unknown", f


def test_apm_url_normalizer_filter(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"url": "/users/12345/orders/987"}
    Samples 1
    Tag t
[FILTER]
    Name apm_url_normalizer
    Match *
    url_path_key url
    port 5001
"""
    r = ConfigPipeline(cfg).frame(spark).collect()[0]
    assert "12345" not in r["normalized_path"]
    cfg_missing = cfg.replace("url_path_key url", "url_path_key nope")
    r2 = ConfigPipeline(cfg_missing).frame(spark).collect()[0]
    assert r2["normalized_path"] == "Unknown"


def test_apm_kubernetes_labels_filter(spark, tmp_path):
    import json as _json

    mp = tmp_path / "map.json"
    mp.write_text(
        _json.dumps(
            {
                "web-1": {
                    "snappyflow/projectname": "proj-a",
                    "snappyflow/appname": "app-a",
                },
                "web-2": {},
            }
        )
    )
    cfg = f"""
[INPUT]
    Name dummy
    Dummy {{"pod_name": "web-1"}}
    Samples 1
    Tag t
[INPUT]
    Name dummy
    Dummy {{"pod_name": "web-9"}}
    Samples 1
    Tag t2
[FILTER]
    Name apm_kubernetes_labels
    Match *
    mapping_path {mp}
"""
    rows = {
        r["pod_name"]: r
        for r in ConfigPipeline(cfg).frame(spark).collect()
    }
    assert rows["web-1"]["projectName"] == "proj-a"
    assert rows["web-1"]["appName"] == "app-a"
    # unmapped pod falls back to the env-default names
    assert rows["web-9"]["projectName"] == "project"
    assert rows["web-9"]["appName"] == "app"


def test_apm_goals_airflow_multiline(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "x"}
    Samples 1
    Tag t
[FILTER]
    Name apm_goals_airflow
    Match *
    message_key message
    port 5002
"""
    # one non-firstline record forms the orphan group (-1)
    rows = ConfigPipeline(cfg).frame(spark).collect()
    assert len(rows) == 1 and rows[0]["group_no"] == -1


def test_stdout_filter_passthrough(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"message": "x"}
    Samples 4
    Tag t
[FILTER]
    Name stdout
    Match *
[OUTPUT]
    Name counter
    Match *
"""
    assert ConfigPipeline(cfg).run(spark) == {"counter_0": 4}


# ---------------------------------------------------------------------------
# [STREAM_TASK] sections (flb_sp.c:98-130)


def test_stream_task_chain(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"code": 1}
    Samples 6
    Tag app.a
    Alias appa
[STREAM_TASK]
    Name keep
    Exec CREATE STREAM kept AS SELECT code, ts FROM STREAM:appa;
[STREAM_TASK]
    Name totals
    Exec SELECT COUNT(*) AS n FROM STREAM:kept;
"""
    res = ConfigPipeline(cfg).run_stream_tasks(spark)
    assert res["totals"].collect()[0]["n"] == 6
    # CREATE STREAM task also surfaces its frame
    assert res["keep"].count() == 6


def test_stream_task_default_instance_name(spark):
    cfg = """
[INPUT]
    Name dummy
    Dummy {"code": 1}
    Samples 3
    Tag t
[STREAM_TASK]
    Name c
    Exec SELECT COUNT(*) AS n FROM STREAM:dummy_0;
"""
    res = ConfigPipeline(cfg).run_stream_tasks(spark)
    assert res["c"].collect()[0]["n"] == 3


def test_stream_task_streams_file(spark, tmp_path):
    sf = tmp_path / "streams.conf"
    sf.write_text(
        """
[STREAM_TASK]
    Name c
    Exec SELECT COUNT(*) AS n FROM TAG:'app.*';
"""
    )
    cfg = f"""
[SERVICE]
    Streams_File {sf}
[INPUT]
    Name dummy
    Dummy {{"code": 1}}
    Samples 5
    Tag app.x
"""
    res = ConfigPipeline(cfg).run_stream_tasks(spark)
    assert res["c"].collect()[0]["n"] == 5


def test_stream_task_missing_exec_errors(spark):
    cfg = """
[INPUT]
    Name dummy
    Tag t
[STREAM_TASK]
    Name broken
"""
    with pytest.raises(ConfigError, match="Exec"):
        ConfigPipeline(cfg).run_stream_tasks(spark)


# ---------------------------------------------------------------------------
# round-4 input dispatch: syslog / kmsg / systemd / statsd / collectors


def test_syslog_input_from_path(spark, tmp_path):
    f = tmp_path / "syslog.txt"
    f.write_text(
        "<165>1 2024-01-01T00:00:01.000000Z host1 app 42 ID47 - boom happened\n"
        "garbage line\n"
    )
    cfg = f"""
[INPUT]
    Name syslog
    Path {f}
    Tag sys.a
"""
    rows = ConfigPipeline(cfg).frame(spark).collect()
    ok = [r for r in rows if r["pri"] is not None]
    assert len(rows) == 2 and len(ok) == 1
    assert ok[0]["facility"] == 20 and ok[0]["severity"] == 5
    assert ok[0]["message"] == "boom happened"
    assert ok[0]["tag"] == "sys.a"


def test_flowcounter_output_uses_resolved_time_column(spark, tmp_path):
    """A syslog record's time column is `event_time`, not `ts`: the
    flowcounter output windows on the column the output resolved."""
    import datetime as dt

    f = tmp_path / "syslog.txt"
    f.write_text(
        "<165>1 2024-01-01T00:00:01.000000Z host1 app 42 ID47 - boom\n"
        "<165>1 2024-01-01T00:59:59.000000Z host1 app 43 ID47 - again\n"
        "<165>1 2024-01-01T01:00:00.000000Z host1 app 44 ID47 - later\n"
    )
    cfg = f"""
[INPUT]
    Name syslog
    Path {f}
    Tag sys.a
[OUTPUT]
    Name flowcounter
    Match *
"""
    rows = ConfigPipeline(cfg).run(spark)["flowcounter_0"]
    got = sorted((r["window_start"], r["counts"]) for r in rows)
    assert got == [(dt.datetime(2024, 1, 1, 0), 2), (dt.datetime(2024, 1, 1, 1), 1)]


def test_kmsg_input_from_path(spark, tmp_path):
    f = tmp_path / "kmsg.txt"
    f.write_text("6,100,5000000,-;hello kernel\n")
    cfg = f"""
[INPUT]
    Name kmsg
    Path {f}
    Tag kernel
"""
    r = ConfigPipeline(cfg).frame(spark).collect()[0]
    assert r["priority"] == 6 and r["sequence"] == 100
    assert r["sec"] == 5 and r["msg"] == "hello kernel"


def test_systemd_input_from_path(spark, tmp_path):
    f = tmp_path / "journal.export"
    f.write_text(
        "PRIORITY=3\nMESSAGE=oops\n_SYSTEMD_UNIT=app.service\n_PID=7\n"
        "\n"
        "PRIORITY=6\nMESSAGE=fine\n_SYSTEMD_UNIT=db.service\n_PID=9\n"
    )
    cfg = f"""
[INPUT]
    Name systemd
    Path {f}
    Tag journal
"""
    rows = sorted(
        ConfigPipeline(cfg).frame(spark).collect(),
        key=lambda r: r["message"],
    )
    assert [r["message"] for r in rows] == ["fine", "oops"]
    assert rows[1]["systemd_unit"] == "app.service"


def test_statsd_input_from_path(spark, tmp_path):
    f = tmp_path / "statsd.txt"
    f.write_text("api.calls:3|c|@0.5\nload:0.7|g\n")
    cfg = f"""
[INPUT]
    Name statsd
    Path {f}
    Tag metrics
"""
    rows = {r["bucket"]: r for r in ConfigPipeline(cfg).frame(spark).collect()}
    assert rows["api.calls"]["mtype"] == "counter"
    assert rows["api.calls"]["sample_rate"] == 0.5
    assert rows["load"]["mtype"] == "gauge"


def test_collector_input_synthetic(spark):
    cfg = """
[INPUT]
    Name cpu
    Samples 5
    Tag host.cpu
[OUTPUT]
    Name counter
    Match host.*
"""
    assert ConfigPipeline(cfg).run(spark) == {"counter_0": 5}


def test_syslog_input_requires_path(spark):
    cfg = """
[INPUT]
    Name syslog
    Tag t
"""
    with pytest.raises(ConfigError, match="Path"):
        ConfigPipeline(cfg).frame(spark)
