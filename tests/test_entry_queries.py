"""Run every __spark_entry__ query against its DuckDB oracle at
sf0.001 — the same comparison the driver performs at sf0.01."""

from __future__ import annotations

import importlib.util
import sys

import pytest

spec = importlib.util.spec_from_file_location("__spark_entry__", "/root/repo/__spark_entry__.py")
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)

from tests.oracle import assert_matches_oracle

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


# every query is oracle-checked since the md5-based cross-engine
# signature rework (round 2); the set stays for future genuinely
# non-SQL-expressible ops.
ROWS_ONLY: set[str] = set()


def test_every_query_has_oracle():
    missing = set(QUERIES) - set(ORACLES) - ROWS_ONLY
    assert not missing, f"queries without oracle: {missing}"


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    if name not in ORACLES:
        pytest.skip("rows-only query")
    # no persisted frames may leak past a query + release: a driver
    # session runs ~85 gated queries back to back, and un-released
    # caches crowd the storage pool (r2's ann_topk regressed 39% from
    # exactly this). Compare against a pre-query snapshot — the session
    # is shared, and OTHER test modules may hold legitimate caches.
    from fluent_bit_spark.operators.dedup import release_persisted

    before = _persisted_ids(spark)
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, ORACLES[name], sf_dir)
    release_persisted()
    leaked = _persisted_ids(spark) - before
    assert not leaked, (
        f"{name} leaked persisted frame(s) {sorted(leaked)} past release_persisted()"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0


def _driver_green_union() -> set[str]:
    """Names with a green driver CORRECTNESS row in any prior round."""
    import json
    import os

    repo = os.path.dirname(os.path.abspath(entry_mod.__file__))
    green: set[str] = set()
    for r in ("01", "02", "03", "04"):
        path = os.path.join(repo, f"CORRECTNESS_r{r}.json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            for k, v in json.load(f).items():
                if v.get("rows_match") and v.get("schema_match") and not v.get("err"):
                    green.add(k)
    return green


def test_gate_rotation_partitions_all_queries():
    """No query ships ungated without a schedule: the r1-r4 driver-green
    union, the round-5 prefix (_GATE_PRIORITY), the round-6 plan
    (_GATE_PRIORITY_NEXT), and the documented local-only tail exactly
    partition _all_queries() -- no orphans, no duplicates, no name
    wasted re-gating an already-green query."""
    import json
    import os

    repo = os.path.dirname(os.path.abspath(entry_mod.__file__))
    green: set[str] = set()
    for r in ("01", "02", "03", "04"):
        path = os.path.join(repo, f"CORRECTNESS_r{r}.json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            for k, v in json.load(f).items():
                if v.get("rows_match") and v.get("schema_match") and not v.get("err"):
                    green.add(k)

    prio = entry_mod._GATE_PRIORITY
    nxt = entry_mod._GATE_PRIORITY_NEXT
    tail = entry_mod._GATE_LOCAL_TAIL
    allq = set(entry_mod._all_queries())

    assert len(prio) == 50, "driver gate window is exactly 50"
    assert len(nxt) <= 50, "round-5 prefix must fit the 50-slot gate window"
    sets = [set(prio), set(nxt), set(tail)]
    assert all(len(s) == len(l) for s, l in zip(sets, (prio, nxt, tail))), "duplicate names"
    union = set().union(*sets)
    assert len(union) == sum(len(s) for s in sets), "lists overlap"
    assert not union - allq, f"unknown names: {union - allq}"
    assert not union & green, f"slots wasted on green queries: {union & green}"
    orphans = allq - green - union
    assert not orphans, f"queries with no gate schedule: {orphans}"


# r4 verdict #7: the "every not-yet-gated name has a driver-green
# family representative" claim, as a checkable name -> representative
# map instead of prose.  Keys must cover _GATE_PRIORITY_NEXT exactly;
# every value must hold a green driver CORRECTNESS row.
GATE_TAIL_REPRESENTATIVE: dict[str, str] = {
    "ann_pq_sampled": "ann_pq_topk",
    "char_entropy": "gopher_quality",
    "clean_text": "c4_filter",
    "ngram_topk": "pmi_topk",
    "mad_outliers": "streaming_cms",
    "rate_anomalies": "forecast_hourly",
    "tool_pagerank": "loop_detect",
    "len_percentiles": "doc_stats",
    "role_qa": "conv_scorecard",
    "tool_transitions": "loop_detect",
    "cms_tokens": "streaming_cms",
    "hll_convs": "streaming_hll",
    "hll_hourly": "streaming_hll",
    "len_quantiles_hist": "doc_stats",
    "role_len_quantiles": "doc_stats",
    "funnel_steps": "sessions_per_conv",
    "echo_overlap": "jaccard_blocked",
    "interval_overlap": "range_enrich",
    "tool_args": "merge_log",
    "flow_rollup": "sink_flowcounter",
    "cdc_chunks": "resume_manifest",
    "alert_edges": "forecast_hourly",
    "mix_manifest": "shard_manifest",
    "tool_latency": "conv_stats",
    "statsd_agg": "statsd_source",
    "template_mine": "grok_parse",
    "retention_budget": "storage_limit",
    "watermark_report": "resume_manifest",
    "conv_branching": "conv_stats",
    "tool_reliability": "conv_scorecard",
    "reply_latency": "conv_stats",
    "retry_schedule": "storage_limit",
    "burn_alerts": "metrics_endpoint",
    "ttr_by_source": "metrics_endpoint",
    "mtbf_report": "metrics_endpoint",
    "scd2_history": "asof_enrich",
    "late_data": "streaming_sessions",
    "cdc_apply": "resume_manifest",
    "compaction_plan": "storage_limit",
    "template_novelty": "grok_parse",
    "backpressure": "storage_limit",
    "seasonal_anomaly": "forecast_hourly",
    "route_diff": "route_fanout",
    "heartbeat_gaps": "sessions_per_conv",
    "cardinality_guard": "streaming_hll",
    "streaming_backpressure": "streaming_dedup",
    "flap_suppress": "throttle_hourly",
    "schema_compat": "avro_roundtrip",
    "fk_orphans": "enrich_lookup",
    "stable_order_skew": "stable_order",
    "msgpack_wire_jvm": "msgpack_roundtrip",
    "avro_wire_jvm": "avro_roundtrip",
    "forward_wire_jvm": "forward_roundtrip",
    "mqtt_wire_jvm": "mqtt_frame",
    "http_chunked_wire_jvm": "http_chunked",
}


def test_gate_tail_has_driver_green_representative():
    """Every name still waiting on a driver row (round-6 schedule +
    any local tail) declares a same-family representative that actually
    holds a green driver CORRECTNESS row — the map can't silently
    orphan under renames."""
    green = _driver_green_union()
    if not green:
        pytest.skip("no CORRECTNESS artifacts present")
    waiting = set(entry_mod._GATE_PRIORITY_NEXT) | set(entry_mod._GATE_LOCAL_TAIL)
    assert set(GATE_TAIL_REPRESENTATIVE) == waiting, (
        f"map out of sync: missing={waiting - set(GATE_TAIL_REPRESENTATIVE)}, "
        f"stale={set(GATE_TAIL_REPRESENTATIVE) - waiting}"
    )
    bad = {k: v for k, v in GATE_TAIL_REPRESENTATIVE.items() if v not in green}
    assert not bad, f"representatives without a green driver row: {bad}"
