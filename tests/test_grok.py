"""Grok macro-expansion layer (operators/grok.py)."""

from __future__ import annotations

import re

import pytest

from fluent_bit_spark.operators.grok import (
    GROK_PATTERNS,
    GrokError,
    apply_grok,
    grok_compile,
)


def test_compile_fields_order_and_casts():
    regex, fields, casts = grok_compile(
        "%{IPV4:ip} %{WORD:verb} %{INT:code:int} %{NUMBER:lat:float}"
    )
    assert fields == ["ip", "verb", "code", "lat"]
    assert casts == {"code": "integer", "lat": "float"}
    m = re.match(
        re.sub(r"\(\?<(\w+)>", r"(?P<\1>", regex), "10.1.2.3 GET 200 1.25"
    )
    assert m and m.group("ip") == "10.1.2.3" and m.group("code") == "200"


def test_base_patterns_are_capture_free():
    for name, pat in GROK_PATTERNS.items():
        expanded, fields, _ = grok_compile("%{" + name + ":x}")
        assert fields == ["x"]
        # exactly ONE capturing group: the %{NAME:x} wrapper itself
        assert re.compile(
            re.sub(r"\(\?<(\w+)>", r"(?P<\1>", expanded)
        ).groups == 1, name


@pytest.mark.parametrize(
    "name,good,bad",
    [
        ("IPV4", "255.255.255.255", "999.1.1.1"),
        ("UUID", "123e4567-e89b-12d3-a456-426614174000", "123e4567"),
        ("TIMESTAMP_ISO8601", "2024-01-07T10:31:17Z", "2024-13-07T10:31:17"),
        ("LOGLEVEL", "WARNING", "loud"),
        ("QUOTEDSTRING", '"say \\"hi\\""', '"unterminated'),
        ("HTTPDATE", "07/Jan/2024:00:31:17 +0000", "2024/Jan/07"),
    ],
)
def test_pattern_sanity(name, good, bad):
    regex, _, _ = grok_compile("^%{" + name + ":v}$")
    pat = re.compile(re.sub(r"\(\?<(\w+)>", r"(?P<\1>", regex))
    assert pat.match(good), (name, good)
    assert not pat.match(bad), (name, bad)


def test_unknown_pattern_duplicate_field_and_cycle_raise(monkeypatch):
    with pytest.raises(GrokError, match="unknown"):
        grok_compile("%{NOPE:x}")
    with pytest.raises(GrokError, match="duplicate"):
        grok_compile("%{INT:x} %{INT:x}")
    with pytest.raises(GrokError, match="deep"):
        monkeypatch.setitem(GROK_PATTERNS, "SELF", "%{SELF}")
        grok_compile("%{SELF:x}")


def test_nested_references_do_not_capture():
    # EMAILADDRESS expands HOSTNAME internally; only the top field captures
    regex, fields, _ = grok_compile("%{EMAILADDRESS:mail}")
    assert fields == ["mail"]
    m = re.match(
        re.sub(r"\(\?<(\w+)>", r"(?P<\1>", regex), "a.user@example.com"
    )
    assert m and m.group("mail") == "a.user@example.com"


def test_apply_grok_extracts_and_casts_fields(spark):
    df = spark.createDataFrame(
        [
            (1, '10.0.0.1 - u0 [07/Jan/2024:00:31:17 +0000] "GET /api/x HTTP/1.1" 200 32'),
            (2, "not an access log line"),
        ],
        "id int, text string",
    )
    pat = (
        r"^%{IPV4:client} - %{USER:auth} \[%{HTTPDATE:atime}\] "
        r'"%{WORD:verb} %{URIPATH:path} HTTP/%{NUMBER:httpver}" '
        r"%{INT:code:int} %{INT:size:int}$"
    )
    cols = ["client", "auth", "atime", "verb", "path", "httpver", "code", "size"]
    got = {r.id: tuple(r[c] for c in cols) for r in apply_grok(df, pat).collect()}
    assert got[1][0] == "10.0.0.1" and got[1][6] == 200
    assert got[2] == (None,) * 8


def test_parser_conf_format_grok(spark):
    from fluent_bit_spark.config import apply_parser_spec, parse_parsers_conf

    conf = """
[PARSER]
    Name   access
    Format grok
    Grok_Pattern ^%{IPV4:client} %{WORD:verb} %{INT:code:int}$
"""
    specs = parse_parsers_conf(conf)
    assert specs["access"].format == "grok"
    df = spark.createDataFrame(
        [("10.0.0.9 GET 404",), ("junk",)], ["log"]
    )
    out = apply_parser_spec(df, specs["access"]).collect()
    got = {(r.client, r.verb, r.code) for r in out}
    assert got == {(None, None, None), ("10.0.0.9", "GET", 404)}


def test_unsupported_conversion_and_malformed_macro_raise():
    with pytest.raises(GrokError, match="unsupported grok conversion"):
        grok_compile("%{INT:code:integer}")
    with pytest.raises(GrokError, match="malformed"):
        grok_compile("%{lower:bad}")
    with pytest.raises(GrokError, match="string"):
        grok_compile(None)


def test_config_grok_missing_pattern_is_config_error(spark):
    from fluent_bit_spark.config import (
        ConfigError,
        apply_parser_spec,
        parse_parsers_conf,
    )

    specs = parse_parsers_conf("[PARSER]\n    Name broken\n    Format grok\n")
    df = spark.createDataFrame([("x",)], ["log"])
    with pytest.raises(ConfigError, match="Grok_Pattern"):
        apply_parser_spec(df, specs["broken"])
    specs2 = parse_parsers_conf(
        "[PARSER]\n    Name badpat\n    Format grok\n    Grok_Pattern %{NOPE:x}\n"
    )
    with pytest.raises(ConfigError, match="unknown"):
        apply_parser_spec(df, specs2["badpat"])
