"""Property-based tests (hypothesis) — the analog of the reference's
libFuzzer harnesses (tests/internal/fuzzers/): parser round-trips and
rule-engine equivalence against pure-Python oracles. Examples are
batched into one DataFrame per case to keep Spark actions bounded."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fluent_bit_spark.operators.filters import grep
from fluent_bit_spark.operators.parse import logfmt_parser, ltsv_parser
from fluent_bit_spark.sp.parser import SpParseError, parse

SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_key = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,6}", fullmatch=True)
_bare = st.from_regex(r"[A-Za-z0-9_.:/-]{1,10}", fullmatch=True)
_quoted = st.from_regex(r'[A-Za-z0-9 _.-]{0,12}', fullmatch=True)


@SET
@given(
    st.lists(
        st.tuples(_key, st.one_of(_bare, _quoted.map(lambda s: f'"{s}"'))),
        min_size=0,
        max_size=6,
    )
)
def test_logfmt_parser_matches_python_oracle(spark, pairs):
    # duplicate keys allowed: last occurrence wins (dict() keeps last)
    line = " ".join(f"{k}={v}" for k, v in pairs)
    df = spark.createDataFrame([(line,)], ["text"])
    got = logfmt_parser(df).collect()[0]["logfmt"]
    want = {k: v[1:-1] if v.startswith('"') else v for k, v in pairs}
    assert (got or {}) == want


@SET
@given(
    st.lists(
        st.tuples(_key, st.from_regex(r"[A-Za-z0-9 _./-]{0,10}", fullmatch=True)),
        min_size=1,
        max_size=6,
        unique_by=lambda kv: kv[0],
    )
)
def test_ltsv_parser_matches_python_oracle(spark, pairs):
    line = "\t".join(f"{k}:{v}" for k, v in pairs)
    df = spark.createDataFrame([(line,)], ["text"])
    got = ltsv_parser(df).collect()[0]["ltsv"]
    assert got == dict(pairs)


_action = st.sampled_from(["regex", "exclude"])
_pattern = st.sampled_from([r"^a", r"b$", r"\d", r"x", r"^$"])


@SET
@given(
    st.lists(st.tuples(_action, _pattern), min_size=0, max_size=4),
    st.lists(st.from_regex(r"[abx0-9]{0,5}", fullmatch=True), min_size=1, max_size=8),
)
def test_grep_matches_python_oracle(spark, rules, values):
    def oracle_keep(v: str) -> bool:
        for action, pat in rules:
            m = re.search(pat, v) is not None
            if action == "regex":
                return m  # decisive either way
            if m:  # exclude match -> drop
                return False
        return True

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], ["i", "v"])
    got = sorted(r.i for r in grep(df, [(a, "v", p) for a, p in rules]).collect())
    want = sorted(i for i, v in enumerate(values) if oracle_keep(v))
    assert got == want


_sp_key = st.sampled_from(["id", "word1", "bytes", "usage", "flag"])
_sp_agg = st.sampled_from(["MIN", "MAX", "SUM", "AVG", "COUNT"])
_sp_cmp = st.sampled_from(["=", "!=", "<", "<=", ">", ">="])
_sp_lit = st.sampled_from(["1", "10.5", "'str'", "true", "false"])


@st.composite
def sp_query(draw):
    n = draw(st.integers(1, 3))
    keys = ", ".join(draw(_sp_key) for _ in range(n))
    agg = draw(st.booleans())
    if agg:
        fn = draw(_sp_agg)
        k = draw(_sp_key)
        sel = f"{fn}({k})" + (" AS a0" if draw(st.booleans()) else "")
        group = ""
    else:
        sel = keys
        group = ""
    q = f"SELECT {sel} FROM STREAM:s"
    if draw(st.booleans()):
        q += f" WHERE {draw(_sp_key)} {draw(_sp_cmp)} {draw(_sp_lit)}"
        if draw(st.booleans()):
            q += f" AND {draw(_sp_key)} IS NOT NULL"
    if agg and draw(st.booleans()):
        q += " WINDOW TUMBLING (10 SECOND)"
    if draw(st.booleans()):
        q += f" LIMIT {draw(st.integers(1, 99))}"
    return q + ";"


@SET
@given(sp_query())
def test_sp_parser_accepts_generated_queries(q):
    ast = parse(q)
    assert ast.source == "s"


@SET
@given(st.text(max_size=40))
def test_sp_parser_never_crashes_unexpectedly(garbage):
    """Any input either parses or raises SpParseError — no other
    exception type escapes (the fuzzer property)."""
    try:
        parse(garbage)
    except SpParseError:
        pass


# --- modify operator vs python oracle --------------------------------------

_mkey = st.sampled_from(["a", "b", "c"])
_mval = st.sampled_from(["x", "y", ""])
_mop = st.sampled_from(["rename", "hard_rename", "add", "set", "copy", "hard_copy", "remove"])
_mcond = st.sampled_from(
    [None, ("key_exists", "a"), ("key_does_not_exist", "b"), ("key_value_equals", "a", "x")]
)


def _py_modify(row: dict, rules, cond) -> dict:
    row = dict(row)

    def exists(k):
        return row.get(k) is not None

    ok = True
    if cond is not None:
        kind = cond[0]
        if kind == "key_exists":
            ok = exists(cond[1])
        elif kind == "key_does_not_exist":
            ok = not exists(cond[1])
        elif kind == "key_value_equals":
            ok = exists(cond[1]) and str(row[cond[1]]) == cond[2]
    if not ok:
        return row
    for op, x, y in rules:
        if op in ("rename", "hard_rename"):
            if exists(x) and (op == "hard_rename" or not exists(y)):
                row[y] = row[x]
                row[x] = None
        elif op == "add":
            if not exists(x):
                row[x] = y
        elif op == "set":
            row[x] = y
        elif op in ("copy", "hard_copy"):
            if exists(x) and (op == "hard_copy" or not exists(y)):
                row[y] = row[x]
        elif op == "remove":
            row[x] = None
    return row


@SET
@given(
    st.lists(st.tuples(_mop, _mkey, _mkey), min_size=0, max_size=3),
    _mcond,
    st.lists(
        st.fixed_dictionaries({k: st.one_of(st.none(), _mval) for k in ["a", "b", "c"]}),
        min_size=1,
        max_size=5,
    ),
)
def test_modify_matches_python_oracle(spark, rules, cond, rows):
    from fluent_bit_spark.operators.filters import Condition, ModifyRule, modify

    df = spark.createDataFrame(
        [(i, r["a"], r["b"], r["c"]) for i, r in enumerate(rows)],
        "i INT, a STRING, b STRING, c STRING",
    )
    mrules = [ModifyRule(op, x, y) for op, x, y in rules]
    mconds = [Condition(*cond)] if cond is not None else []
    got = {
        r.i: {"a": r.a, "b": r.b, "c": r.c}
        for r in modify(df, mrules, mconds).collect()
    }
    for i, row in enumerate(rows):
        want = _py_modify(row, rules, cond)
        want = {k: want.get(k) for k in ("a", "b", "c")}
        assert got[i] == want, f"row {i}: rules={rules} cond={cond} in={row}"


# --- glob predicate ≡ anchored-regex form -----------------------------------

_tagchar = st.from_regex(r"[A-Za-z0-9_.*-]{0,12}", fullmatch=True)
_glob = st.from_regex(r"[A-Za-z0-9_.*-]{0,8}", fullmatch=True)


@SET
@given(
    glob=_glob,
    tags=st.lists(st.one_of(st.none(), _tagchar), min_size=1, max_size=8),
)
def test_glob_predicate_equals_regex_form(spark, glob, tags):
    """The fast-path predicates (isNotNull/equality/startswith/endswith)
    must be row-for-row equivalent to the anchored rlike for every glob
    shape, including NULL tags (which match nothing)."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.route import glob_predicate, glob_to_regex

    df = spark.createDataFrame([(t,) for t in tags], "tag string")
    fast = {
        r.tag
        for r in df.filter(
            F.coalesce(glob_predicate(F.col("tag"), glob), F.lit(False))
        ).collect()
    }
    slow = {
        r.tag
        for r in df.filter(
            F.coalesce(F.col("tag").rlike(glob_to_regex(glob)), F.lit(False))
        ).collect()
    }
    assert fast == slow


# --- route mask ≡ the array-filter form -------------------------------------


def _route_mask_array_filter(df, sinks):
    """Reference form of `route_mask`: an array of `when(pred, name)`
    per sink with its NULLs filtered out by a lambda, and rows with an
    empty array dropped."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.route import glob_predicate

    matches = F.array(
        *[
            F.when(glob_predicate(F.col("tag"), glob), F.lit(name))
            for name, glob in sinks
        ]
    )
    df = df.withColumn("routes", F.filter(matches, lambda x: x.isNotNull()))
    return df.filter(F.size("routes") > 0)


@SET
@given(
    globs=st.lists(st.one_of(st.just("*"), _glob), min_size=0, max_size=4),
    tags=st.lists(st.one_of(st.none(), _tagchar), min_size=1, max_size=8),
)
def test_route_mask_equals_array_filter_form(spark, globs, tags):
    """The `concat` route mask with the OR-of-globs drop rule keeps the
    same rows, with element-for-element equal `routes`, as the
    array-filter form, for any tags (NULL included) and any glob list
    (with and without `*`, and empty)."""
    from fluent_bit_spark.operators.route import route_mask

    sinks = [(f"s{i}", g) for i, g in enumerate(globs)]
    df = spark.createDataFrame(list(enumerate(tags)), "i int, tag string")

    def rows(routed):
        return sorted((r.i, r.tag, list(r.routes)) for r in routed.collect())

    assert rows(route_mask(df, sinks)) == rows(_route_mask_array_filter(df, sinks))


@SET
@given(
    st.lists(
        st.one_of(st.none(), st.lists(st.sampled_from(["a", "b", "c"]), max_size=3)),
        min_size=1,
        max_size=8,
    )
)
def test_explode_routes_equals_explode(spark, routes):
    """`explode_outer` plus the non-NULL sink filter gives the rows of
    `explode`: none for an empty or NULL `routes`, one per name
    otherwise."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.route import explode_routes

    df = spark.createDataFrame(list(enumerate(routes)), "i int, routes array<string>")
    got = explode_routes(df)
    want = df.withColumn("sink", F.explode("routes"))
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())


_words = st.lists(
    st.from_regex(r"[a-z]{1,6}", fullmatch=True), min_size=0, max_size=60
)


@SET
@given(_words)
def test_cdc_chunks_partition_tokens_exactly(spark, words):
    """CDC invariant: chunks partition the token stream — contiguous,
    gap-free, full coverage, every chunk non-empty — for ANY text."""
    from fluent_bit_spark.operators.packing import cdc_chunks

    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    rows = sorted(cdc_chunks(df, window=3, divisor=8).collect(),
                  key=lambda r: r.chunk_idx)
    if not words:
        assert rows == []
        return
    pos = 0
    for r in rows:
        assert r.chunk_start == pos and r.n_chunk_tokens > 0
        pos += r.n_chunk_tokens
    assert pos == len(words)


@SET
@given(_words, _words)
def test_echo_overlap_bounds_and_extremes(spark, prompt, response):
    """overlap is always in [0,1]; identical non-empty texts give 1.0;
    disjoint vocabularies give 0.0."""
    from fluent_bit_spark.operators.transcript_qa import echo_overlap

    rows = [
        ("c1", 0, "user", " ".join(prompt)),
        ("c1", 1, "assistant", " ".join(response)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    r = echo_overlap(df).collect()[0]
    assert 0.0 <= r.overlap <= 1.0
    ps, rs = set(prompt), set(response)
    if rs and rs == ps:
        assert r.overlap == 1.0
    if not (ps & rs):
        assert r.overlap == 0.0


@SET
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 10_000)),
        min_size=1,
        max_size=40,
        unique_by=lambda kv: kv[1],
    ),
    st.floats(0.05, 1.0),
)
def test_stratified_sample_exact_total_and_subset(spark, rows, fraction):
    """The output size equals round(total * fraction) exactly, every
    selected key exists in the input, and per-stratum takes never
    exceed stratum sizes."""
    from fluent_bit_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(rows, "lang string, doc_id long")
    out = stratified_sample(df, "lang", "doc_id", fraction).collect()
    assert len(out) == int(len(rows) * fraction + 0.5)
    sizes: dict[str, int] = {}
    for s, _ in rows:
        sizes[s] = sizes.get(s, 0) + 1
    got: dict[str, int] = {}
    ids = {i for _, i in rows}
    for r in out:
        got[r.stratum] = got.get(r.stratum, 0) + 1
        assert r.key in ids
    for s, n in got.items():
        assert n <= sizes[s]


def test_epoch_shuffle_exact_permutation_and_partition_invariance(spark):
    """Each epoch's positions are exactly 0..n-1, epochs order the
    corpus differently, and the assignment is identical under a
    different input partitioning."""
    from fluent_bit_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(97)], ["doc_id"])
    out = epoch_shuffle(df, epochs=2).collect()
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r.epoch, {})[r.doc_id] = r.pos
    assert set(by_epoch) == {0, 1}
    for ep, m in by_epoch.items():
        assert sorted(m.values()) == list(range(97)), ep
    assert by_epoch[0] != by_epoch[1]  # epochs really reshuffle
    re = epoch_shuffle(df.repartition(7), epochs=2).collect()
    assert {(r.epoch, r.doc_id, r.pos) for r in re} == {
        (r.epoch, r.doc_id, r.pos) for r in out
    }


# ---- wire-codec roundtrip properties (pure Python, no Spark action:
# the fuzz analog of the reference's tests/internal/fuzzers/ over the
# round-3 codecs) ----

_FAST = settings(max_examples=200, deadline=None)


@_FAST
@given(st.integers(min_value=0, max_value=268_435_455))
def test_mqtt_varint_roundtrip(n):
    from fluent_bit_spark.functions.wire import mqtt_remaining_length

    buf = mqtt_remaining_length(n)
    # decode with the reference's loop shape (mqtt_prot.c:341-355)
    val, mult = 0, 1
    for b in buf:
        val += (b & 127) * mult
        mult *= 128
    assert val == n
    assert len(buf) == (1 if n < 128 else 2 if n < 16384
                        else 3 if n < 2097152 else 4)


@_FAST
@given(
    st.text(alphabet=st.characters(codec="utf-8"), min_size=0, max_size=60),
    st.binary(min_size=0, max_size=300),
    st.integers(min_value=0, max_value=2),
    st.integers(min_value=0, max_value=65535),
)
def test_mqtt_publish_roundtrip_prop(topic, payload, qos, pid):
    from fluent_bit_spark.functions.wire import (
        pack_mqtt_publish,
        unpack_mqtt_publish,
    )

    got = unpack_mqtt_publish(pack_mqtt_publish(topic, payload, qos, pid))
    assert got == (qos, topic, pid if qos else 0, payload)


@_FAST
@given(st.binary(min_size=0, max_size=500), st.integers(min_value=1, max_value=64))
def test_http_chunked_roundtrip_prop(payload, size):
    from fluent_bit_spark.functions.wire import (
        http_chunked_decode,
        http_chunked_encode,
    )

    assert http_chunked_decode(http_chunked_encode(payload, size)) == payload


@settings(max_examples=60, deadline=None)
@given(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                                   exclude_characters="\x00"),
            min_size=0, max_size=20),
    st.integers(min_value=0, max_value=2**40),
    st.lists(
        st.tuples(
            st.sampled_from([0, 1, 2, 3]),
            st.integers(min_value=-(2**31), max_value=2**40),
        ),
        min_size=1,
        max_size=5,
    ),
)
def test_collectd_roundtrip_prop(host, tsec, raw_values):
    from fluent_bit_spark.functions.wire import (
        DS_DERIVE,
        DS_GAUGE,
        pack_collectd,
        unpack_collectd,
    )

    # counters/absolutes are unsigned; gauges become doubles
    values = []
    for t, v in raw_values:
        if t == DS_DERIVE:
            values.append((t, v))
        elif t == DS_GAUGE:
            values.append((t, float(v)))
        else:
            values.append((t, abs(v)))
    h = unpack_collectd(
        pack_collectd(host, "p", "pi", "gauge", None, tsec, values)
    )
    assert h["host"] == host and h["time_sec"] == tsec
    assert h["values"] == values


@given(st.binary(max_size=70000))
@settings(max_examples=60, deadline=None)
def test_ws_frame_roundtrip(payload):
    """pack->unpack is identity across all three length branches and
    consumes exactly the frame (trailing bytes are not swallowed)."""
    from fluent_bit_spark.functions.wire import pack_ws_frame, unpack_ws_frame

    buf = pack_ws_frame(payload)
    op, out, consumed = unpack_ws_frame(buf + b"EXTRA")
    assert op == 0x81
    assert out == payload
    assert consumed == len(buf)
    hl = 6 if len(payload) < 126 else 8 if len(payload) < 65536 else 14
    assert len(buf) == hl + len(payload)
