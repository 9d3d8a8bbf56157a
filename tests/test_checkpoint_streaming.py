"""Checkpoint/resume (kill-and-resume without reprocessing) and
Structured Streaming pipeline tests."""

from __future__ import annotations

import glob
import os
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.checkpoint import MAX_IN_FLIGHT, Manifest, ResumableBatchJob
from fluent_bit_spark.metrics import PipelineMetrics


def test_manifest_roundtrip(tmp_path):
    m = Manifest(str(tmp_path))
    m.mark("g1", "started")
    m.mark("g1", "done", rows=10)
    m.mark("g2", "started")
    assert m.done_keys() == {"g1"}
    assert len(m.entries()) == 3


def _killed_after(n: int, process):
    """`process` for group keys "0".."n-1"; every later key raises, as
    in a run killed after n groups. Groups run concurrently, so every
    later key must fail, not only the next: it may already be in
    flight."""

    def fn(key, slice_df):
        if int(key) >= n:
            raise RuntimeError(f"injected kill at group {key!r}")
        return process(key, slice_df)

    return fn


def test_kill_and_resume_without_reprocess(spark, tmp_path):
    df = spark.range(100).withColumn("grp", (F.col("id") % 4).cast("string"))
    out_dir = tmp_path / "out"
    processed_log: list[str] = []

    def process(key, slice_df):
        n = slice_df.count()
        slice_df.write.mode("overwrite").parquet(str(out_dir / f"grp={key}"))
        processed_log.append(key)
        return {"rows": n}

    job = ResumableBatchJob(str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError):
        job.run(df, "grp", _killed_after(2, process))
    # groups overlap, so callbacks may finish in any order
    assert sorted(processed_log) == ["0", "1"]

    # resume: groups 0,1 must NOT be reprocessed
    job2 = ResumableBatchJob(str(tmp_path / "ckpt"))
    statuses = job2.run(df, "grp", process)
    assert sorted(processed_log) == ["0", "1", "2", "3"]
    assert statuses == {"0": "skipped", "1": "skipped", "2": "done", "3": "done"}

    total = spark.read.parquet(*glob.glob(str(out_dir / "grp=*"))).count()
    assert total == 100
    done_rows = [e for e in job2.manifest.entries() if e["status"] == "done"]
    assert sorted(e["key"] for e in done_rows) == ["0", "1", "2", "3"]
    assert all(e["rows"] == 25 for e in done_rows)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_resumable_job_releases_its_cache(spark, tmp_path):
    """run() persists its input for the loop and releases it on return
    and on abort: no persisted RDD outlives the call."""
    df = spark.range(40).withColumn("grp", (F.col("id") % 4).cast("string"))
    before = _persisted(spark)
    job = ResumableBatchJob(str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError):
        job.run(df, "grp", _killed_after(1, lambda key, s: {"rows": s.count()}))
    assert _persisted(spark) == before
    statuses = job.run(df, "grp", lambda key, s: {"rows": s.count()})
    assert statuses == {"0": "skipped", "1": "done", "2": "done", "3": "done"}
    assert _persisted(spark) == before


def test_resumable_job_rejects_null_group_keys(spark, tmp_path):
    """A NULL key would match no slice filter, so its rows would never
    be delivered: run() refuses before any group starts."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id int, grp string"
    )
    before = _persisted(spark)
    job = ResumableBatchJob(str(tmp_path / "ckpt"))
    calls: list[str] = []
    with pytest.raises(ValueError, match=r"2 rows have a NULL 'grp'"):
        job.run(df, "grp", lambda key, s: calls.append(key))
    assert calls == []
    assert job.manifest.entries() == []
    assert _persisted(spark) == before


def test_resumable_job_natural_group_order(spark, tmp_path):
    df = spark.createDataFrame([(100,), (9,), (10,), (9,)], "day int")
    job = ResumableBatchJob(str(tmp_path / "ckpt"))
    statuses = job.run(df, "day", lambda key, s: {"rows": s.count()})
    assert list(statuses) == ["9", "10", "100"]
    rows = {e["key"]: e["rows"] for e in job.manifest.entries() if e["status"] == "done"}
    assert rows == {"9": 2, "10": 1, "100": 1}


def test_resumable_job_groups_overlap(spark, tmp_path):
    """Two groups must be in flight together: a serial loop would
    break the barrier (each callback waits for the other)."""
    df = spark.range(20).withColumn("grp", (F.col("id") % 2).cast("string"))
    barrier = threading.Barrier(2, timeout=30)

    def process(key, slice_df):
        barrier.wait()
        return {"rows": slice_df.count()}

    job = ResumableBatchJob(str(tmp_path / "ckpt"))
    assert job.run(df, "grp", process) == {"0": "done", "1": "done"}


def test_resumable_job_in_flight_bound(spark, tmp_path):
    """With 6 groups, exactly MAX_IN_FLIGHT (4) run at once: the first
    callbacks hold until four are in flight, and none sees a fifth."""
    df = spark.range(60).withColumn("grp", (F.col("id") % 6).cast("string"))
    cond = threading.Condition()
    state = {"now": 0, "peak": 0}

    def process(key, slice_df):
        with cond:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
            cond.notify_all()
            cond.wait_for(lambda: state["peak"] >= MAX_IN_FLIGHT, timeout=30)
        n = slice_df.count()
        with cond:
            state["now"] -= 1
        return {"rows": n}

    job = ResumableBatchJob(str(tmp_path / "ckpt"))
    statuses = job.run(df, "grp", process)
    assert statuses == {str(i): "done" for i in range(6)}
    assert MAX_IN_FLIGHT == 4
    assert state["peak"] == MAX_IN_FLIGHT


def test_resumable_job_manifest_under_thread_churn(spark, tmp_path):
    """Many short groups with frequent thread switches: every group
    gets exactly one started and one done entry, with its own metrics."""
    df = spark.range(24).withColumn("grp", (F.col("id") % 12).cast("string"))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        job = ResumableBatchJob(str(tmp_path / "ckpt"))
        statuses = job.run(df, "grp", lambda key, s: {"echo": key})
    finally:
        sys.setswitchinterval(old)
    keys = sorted(str(i) for i in range(12))
    assert sorted(statuses) == keys and set(statuses.values()) == {"done"}
    entries = job.manifest.entries()
    for status in ("started", "done"):
        assert sorted(e["key"] for e in entries if e["status"] == status) == keys
    assert all(e["echo"] == e["key"] for e in entries if e["status"] == "done")


def test_resumable_job_inherits_caller_job_group(spark, tmp_path):
    """The caller's job group applies to the jobs every callback runs,
    although the callbacks run on pool threads."""
    sc = spark.sparkContext
    df = spark.range(30).withColumn("grp", (F.col("id") % 3).cast("string"))
    seen: list[str | None] = []

    def process(key, slice_df):
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))
        return {"rows": slice_df.count()}

    group = "ckpt-caller-group"
    sc.setJobGroup(group, "resumable job test")
    try:
        job = ResumableBatchJob(str(tmp_path / "ckpt"))
        job.run(df, "grp", process)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == [group] * 3
    # discovery plus at least one job per group ran under the group
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 4


def test_resumable_job_failure_drains_in_flight(spark, tmp_path):
    """When one group fails, no new group starts, the groups in flight
    finish and are marked done, the input cache is released, and the
    error is re-raised; the next run redoes exactly the groups not
    done."""
    df = spark.range(60).withColumn("grp", (F.col("id") % 6).cast("string"))
    cond = threading.Condition()
    started: set[str] = set()
    failed = threading.Event()

    def process(key, slice_df):
        with cond:
            started.add(key)
            cond.notify_all()
        if key == "1":
            with cond:
                cond.wait_for(lambda: {"0", "2", "3"} <= started, timeout=30)
            failed.set()
            raise OSError("sink unavailable")
        failed.wait(timeout=30)
        time.sleep(0.2)  # finish after the failure has been seen
        return {"rows": slice_df.count()}

    before = _persisted(spark)
    job = ResumableBatchJob(str(tmp_path / "ckpt"))
    with pytest.raises(OSError, match="sink unavailable"):
        job.run(df, "grp", process)
    assert started == {"0", "1", "2", "3"}
    entries = job.manifest.entries()
    assert {e["key"] for e in entries if e["status"] == "started"} == {"0", "1", "2", "3"}
    assert job.manifest.done_keys() == {"0", "2", "3"}
    assert _persisted(spark) == before

    redone: list[str] = []

    def process2(key, slice_df):
        redone.append(key)
        return {"rows": slice_df.count()}

    statuses = ResumableBatchJob(str(tmp_path / "ckpt")).run(df, "grp", process2)
    assert sorted(redone) == ["1", "4", "5"]
    assert statuses == {
        "0": "skipped",
        "1": "done",
        "2": "skipped",
        "3": "skipped",
        "4": "done",
        "5": "done",
    }
    assert _persisted(spark) == before


def test_metrics_accumulators(spark):
    m = PipelineMetrics(spark)
    df = spark.createDataFrame([("abc",), ("defgh",), (None,)], ["text"])
    instrumented = m.instrument_input(df)
    assert instrumented.count() == 3
    snap = m.snapshot()
    assert snap["records_in"] == 3 and snap["bytes_in"] == 8


# --- streaming -------------------------------------------------------------

@pytest.fixture(scope="module")
def transcript_dir(spark, sf_dir, tmp_path_factory):
    from fluent_bit_spark.transcripts import load_transcripts

    d = tmp_path_factory.mktemp("stream-src")
    load_transcripts(spark, sf_dir).coalesce(2).write.mode("overwrite").parquet(str(d))
    return str(d)


def test_streaming_pipeline_matches_batch(spark, sf_dir, transcript_dir):
    from fluent_bit_spark.plans.flagship import run_pipeline
    from fluent_bit_spark.streaming import streaming_pipeline, windowed_flowcounter
    from fluent_bit_spark.transcripts import streaming_transcripts

    src = streaming_transcripts(spark, transcript_dir)
    agg = windowed_flowcounter(streaming_pipeline(spark, src), window="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("fc_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.sink, r.tag, r.window_start): (r.counts, r.bytes)
            for r in spark.sql("SELECT * FROM fc_stream").collect()
        }
    finally:
        q.stop()

    from fluent_bit_spark.operators.aggregate import flowcounter
    from fluent_bit_spark.operators.route import explode_routes

    batch = flowcounter(explode_routes(run_pipeline(spark, sf_dir)), ["sink", "tag"])
    want = {
        (r.sink, r.tag, r.window_start): (r.counts, r.bytes) for r in batch.collect()
    }
    assert got == want


def test_foreach_batch_fanout(spark, transcript_dir, tmp_path):
    from fluent_bit_spark.plans.flagship import SINKS
    from fluent_bit_spark.streaming import foreach_batch_fanout, streaming_pipeline
    from fluent_bit_spark.transcripts import streaming_transcripts

    src = streaming_transcripts(spark, transcript_dir)
    routed = streaming_pipeline(spark, src)
    out = tmp_path / "sinks"
    q = routed.writeStream.foreachBatch(foreach_batch_fanout(str(out), SINKS)).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    files = glob.glob(str(out / "sink_all" / "epoch=*"))
    assert files
    n = spark.read.parquet(*files).count()
    assert n == 1000  # sink_all matches everything at sf0.001


def test_throttle_stateful(spark):
    import datetime as dt

    from fluent_bit_spark.streaming import throttle_stateful

    rows = [
        ("k", dt.datetime(2024, 1, 1, 0, 0, i), f"m{i}") for i in range(10)
    ]  # 1 msg/sec for 10s
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        batch = spark.createDataFrame(rows, ["key", "ts", "msg"])
        batch.coalesce(1).write.mode("overwrite").parquet(d)
        src = spark.readStream.schema(batch.schema).parquet(d)
        # rate 0.5/s, burst 2: m0 (2->1), m1 (refill 1.5->0.5),
        # m2 (refill 1.0->0), then every 2s one token: m4, m6, m8
        out = throttle_stateful(src, "key", rate_per_sec=0.5, burst=2)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("throttled")
            .start()
        )
        try:
            q.processAllAvailable()
            got = sorted(r.msg for r in spark.sql("SELECT * FROM throttled").collect())
        finally:
            q.stop()
    assert got == ["m0", "m1", "m2", "m4", "m6", "m8"]


def test_session_stats_streaming_matches_batch(spark, sf_dir, transcript_dir):
    """Native session_window sessionization: the streaming result must
    equal the same expression evaluated in batch over the same input,
    and sessions must respect the gap (merge within, split beyond)."""
    from fluent_bit_spark.streaming import session_stats
    from fluent_bit_spark.transcripts import load_transcripts, streaming_transcripts

    src = streaming_transcripts(spark, transcript_dir)
    q = (
        session_stats(src, gap="30 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.conv_id, r.session_start, r.session_end): r.n_turns
            for r in spark.sql("SELECT * FROM sess_stream").collect()
        }
    finally:
        q.stop()

    batch = session_stats(load_transcripts(spark, sf_dir), gap="30 minutes")
    want = {
        (r.conv_id, r.session_start, r.session_end): r.n_turns
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_session_stats_gap_semantics(spark):
    import datetime as dt

    from fluent_bit_spark.streaming import session_stats

    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        ("c1", base),
        ("c1", base + dt.timedelta(minutes=10)),  # same session
        ("c1", base + dt.timedelta(minutes=50)),  # > 30m gap -> new session
        ("c2", base),
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    out = session_stats(df, gap="30 minutes").collect()
    per_key = {}
    for r in out:
        per_key.setdefault(r.conv_id, []).append(r.n_turns)
    assert sorted(per_key["c1"]) == [1, 2]
    assert per_key["c2"] == [1]


def test_multiline_stateful_joins_across_batches(spark, tmp_path):
    """An unterminated multiline record must survive the micro-batch
    boundary in the state store and join with continuation lines that
    arrive in a later batch."""
    import json

    from fluent_bit_spark.streaming import multiline_stateful

    src_dir = tmp_path / "lines"
    src_dir.mkdir()
    schema = "path string, line_no long, line string"

    def write_batch(name, rows):
        p = src_dir / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(["path", "line_no", "line"], r))) + "\n")

    stream = spark.readStream.schema(schema).json(str(src_dir))
    out = multiline_stateful(stream, start_pattern=r"^\[")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ml_stream")
        .start()
    )
    try:
        write_batch(
            "b1.json",
            [
                ("f1", 0, "[rec1] a"),
                ("f1", 1, " cont1"),
                ("f1", 2, "[rec2] b"),
                ("f1", 3, " cont2"),
            ],
        )
        q.processAllAvailable()
        got1 = {
            r.record
            for r in spark.sql("SELECT * FROM ml_stream").collect()
        }
        assert got1 == {"[rec1] a\n cont1"}  # rec2 still open in state

        write_batch(
            "b2.json",
            [("f1", 4, " cont2b"), ("f1", 5, "[rec3] c")],
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ml_stream").collect()
        got2 = {r.record: (r.start_line, r.n_lines) for r in rows}
    finally:
        q.stop()
    # rec2 joined across the batch boundary, rec3 remains open
    assert got2["[rec2] b\n cont2\n cont2b"] == (2, 3)
    assert "[rec3] c" not in got2


def test_multiline_stateful_multi_chunk_batch(spark, tmp_path):
    """With tiny Arrow batches a single micro-batch reaches fn as
    several chunks in arbitrary order — the operator must sort the
    whole batch, not each chunk."""
    import json

    from fluent_bit_spark.streaming import multiline_stateful

    src_dir = tmp_path / "ml2"
    src_dir.mkdir()
    rows = [("f1", i, f"[rec{i}] x" if i % 3 == 0 else f" cont{i}") for i in range(12)]
    # write lines in REVERSED order so arrival order != line order
    with open(src_dir / "b1.json", "w") as f:
        for r in reversed(rows):
            f.write(json.dumps(dict(zip(["path", "line_no", "line"], r))) + "\n")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = spark.readStream.schema("path string, line_no long, line string").json(
            str(src_dir)
        )
        q = (
            multiline_stateful(stream, start_pattern=r"^\[")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("ml_chunks")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.start_line: r.record
                for r in spark.sql("SELECT * FROM ml_chunks").collect()
            }
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # records 0,3,6 complete (9 stays open in state)
    assert got == {
        0: "[rec0] x\n cont1\n cont2",
        3: "[rec3] x\n cont4\n cont5",
        6: "[rec6] x\n cont7\n cont8",
    }


def test_windowed_hll_streaming_matches_batch(spark, sf_dir, transcript_dir):
    """Per-window HLL registers from the stream must equal the batch
    evaluation of the same expressions AND the grouped batch operator
    (hll_registers by=hour) on non-null hours — three independent paths
    to byte-identical registers."""
    from fluent_bit_spark.operators.sketch import hll_registers
    from fluent_bit_spark.streaming import windowed_hll
    from fluent_bit_spark.transcripts import load_transcripts, streaming_transcripts

    src = streaming_transcripts(spark, transcript_dir)
    q = (
        windowed_hll(src, "conv_id", window="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.bucket): r.max_rho
            for r in spark.sql("SELECT * FROM hll_stream").collect()
        }
    finally:
        q.stop()

    t = load_transcripts(spark, sf_dir)
    want = {
        (r.window_start, r.bucket): r.max_rho
        for r in windowed_hll(t, "conv_id", window="1 hour").collect()
    }
    assert got == want and len(got) > 0

    from pyspark.sql import functions as F

    grouped = hll_registers(
        t.withColumn("hour", F.date_trunc("hour", "ts")), "conv_id", by=("hour",)
    )
    by_hour = {
        (r.hour, r.bucket): r.max_rho
        for r in grouped.collect()
        if r.hour is not None
    }
    assert by_hour == {k: v for k, v in got.items() if k[0] is not None}


def test_windowed_cms_streaming_matches_batch(spark, sf_dir, transcript_dir):
    """Streaming per-window CMS grids must equal the batch evaluation,
    and cell-wise summing all windows must equal the whole-corpus grid
    from sketch.cms_counters (the sum-merge law)."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.sketch import cms_counters
    from fluent_bit_spark.streaming import windowed_cms
    from fluent_bit_spark.transcripts import load_transcripts, streaming_transcripts

    src = streaming_transcripts(spark, transcript_dir)
    q = (
        windowed_cms(src, "tool", window="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.seed, r.pos): r.cnt
            for r in spark.sql("SELECT * FROM cms_stream").collect()
        }
    finally:
        q.stop()

    t = load_transcripts(spark, sf_dir)
    want = {
        (r.window_start, r.seed, r.pos): r.cnt
        for r in windowed_cms(t, "tool", window="1 hour").collect()
    }
    assert got == want and len(got) > 0

    merged: dict = {}
    for (_, seed, pos), cnt in got.items():
        merged[(seed, pos)] = merged.get((seed, pos), 0) + cnt
    counts = (
        t.filter(F.col("tool").isNotNull())
        .groupBy(F.col("tool").alias("token"))
        .agg(F.count("*").alias("n"))
    )
    whole = {
        (r.seed, r.pos): r.cnt for r in cms_counters(counts).collect()
    }
    assert merged == whole


def test_dedup_stateful_drops_duplicates_across_batches(spark, tmp_path):
    """A duplicate key arriving in a LATER micro-batch (within the
    watermark) must be dropped; distinct keys all survive."""
    import datetime as dt

    from fluent_bit_spark.streaming import dedup_stateful
    from fluent_bit_spark.transcripts import TRANSCRIPT_SCHEMA

    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    src_dir = tmp_path / "src"
    rows1 = [
        ("c1", 0, "user", "hello", None, base),
        ("c1", 1, "assistant", "hi", None, base),
        ("c2", 0, "user", "yo", None, base),
    ]
    rows2 = [
        ("c1", 0, "user", "hello", None, base),  # dup of batch-1 row
        ("c2", 1, "assistant", "sup", None, base),
    ]
    spark.createDataFrame(rows1, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir))

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src_dir))
    q = (
        dedup_stateful(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        q.processAllAvailable()
        got = {
            (r.conv_id, r.turn_idx)
            for r in spark.sql("SELECT * FROM dedup_stream").collect()
        }
        n = spark.sql("SELECT COUNT(*) AS n FROM dedup_stream").collect()[0].n
    finally:
        q.stop()
    assert got == {("c1", 0), ("c1", 1), ("c2", 0), ("c2", 1)}
    assert n == 4  # the cross-batch duplicate was dropped, not re-emitted


def test_backpressure_stateful_matches_batch_when_never_paused(
    spark, sf_dir, tmp_path
):
    """With an unreachable limit the feedback never engages, so the
    stateful replay must equal the Lindley closed form exactly."""
    from fluent_bit_spark.operators.aggregate import backpressure_sim, hour_spine
    from fluent_bit_spark.streaming import backpressure_stateful

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type AS sink", "ts"
    )
    spine = hour_spine(ev)
    spine.coalesce(1).write.parquet(str(tmp_path / "spine"))

    src = (
        spark.readStream.schema("sink string, hour timestamp, n_in long")
        .parquet(str(tmp_path / "spine"))
    )
    out = backpressure_stateful(src, drain_per_hour=2, mem_buf_limit=10**9)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("bp_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.sink, r.hour): (r.n_in, r.accepted, r.queue_depth, r.paused)
            for r in spark.sql("SELECT * FROM bp_stream").collect()
        }
    finally:
        q.stop()

    want = {
        (r.sink, r.hour): (r.n_in, r.n_in, r.queue_depth, False)
        for r in backpressure_sim(
            spine, drain_per_hour=2, mem_buf_limit=10**9
        ).collect()
    }
    assert got == want


def test_backpressure_stateful_pause_feedback(spark, tmp_path):
    """Hand-traced trajectory: pause drops the NEXT hour's arrivals
    (the input plugin is stopped), and the sink resumes once the
    queue drains back under the limit."""
    import pandas as pd
    from fluent_bit_spark.streaming import backpressure_stateful

    hours = pd.date_range("2024-01-01", periods=6, freq="h")
    pdf = pd.DataFrame(
        {"sink": "s", "hour": hours, "n_in": [30, 20, 0, 0, 5, 5]}
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(tmp_path / "spine")
    )
    src = (
        spark.readStream.schema("sink string, hour timestamp, n_in long")
        .parquet(str(tmp_path / "spine"))
    )
    # drain 10, limit 15:
    # h0: accept 30 -> q 20 -> paused
    # h1: paused, drop 20 -> q 10 -> resumed
    # h2: accept 0 -> q 0
    # h3: accept 0 -> q 0
    # h4: accept 5 -> q 0
    # h5: accept 5 -> q 0
    out = backpressure_stateful(src, drain_per_hour=10, mem_buf_limit=15)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("bp_fb")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = sorted(
            spark.sql("SELECT * FROM bp_fb").collect(), key=lambda r: r.hour
        )
    finally:
        q.stop()
    got = [(r.accepted, r.queue_depth, r.paused) for r in rows]
    assert got == [
        (30, 20, True),
        (0, 10, False),
        (0, 0, False),
        (0, 0, False),
        (5, 0, False),
        (5, 0, False),
    ]


def test_docker_mode_stateful_joins_across_batches(spark, tmp_path):
    """A partial docker json-file run must survive the micro-batch
    boundary in the state store and complete with the terminating
    newline piece from a later batch; output must equal the batch
    operator's for the same lines."""
    import json

    from fluent_bit_spark.sources import docker_mode_join
    from fluent_bit_spark.streaming import docker_mode_stateful

    src_dir = tmp_path / "dlines"
    src_dir.mkdir()
    schema = "file string, line_no long, line string"

    def dline(log, stream="stdout", time="2024-01-01T00:00:00.000001Z"):
        return json.dumps({"log": log, "stream": stream, "time": time})

    rows_b1 = [
        ("f1", 0, dline("head ")),
        ("f1", 1, dline("mid ")),
        ("f1", 2, dline("solo\n", stream="stderr")),
    ]
    rows_b2 = [("f1", 3, dline("tail\n"))]

    def write_batch(name, rows):
        with open(src_dir / name, "w") as f:
            for r in rows:
                f.write(
                    json.dumps(dict(zip(["file", "line_no", "line"], r))) + "\n"
                )

    stream = spark.readStream.schema(schema).json(str(src_dir))
    q = (
        docker_mode_stateful(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dm_stream")
        .start()
    )
    try:
        write_batch("b1.json", rows_b1)
        q.processAllAvailable()
        got1 = {
            r.log for r in spark.sql("SELECT * FROM dm_stream").collect()
        }
        # lines 0-1 are partial pieces; line 2's newline-terminated
        # piece completes the open run (same as the batch segmenter)
        assert got1 == {"head mid solo\n"}

        write_batch("b2.json", rows_b2)
        q.processAllAvailable()
        got2 = sorted(
            (r.first_line_no, r.log)
            for r in spark.sql("SELECT * FROM dm_stream").collect()
        )
    finally:
        q.stop()

    # batch reference over the same lines
    batch_df = spark.createDataFrame(rows_b1 + rows_b2, schema)
    want = sorted(
        (r.first_line_no, r.log) for r in docker_mode_join(batch_df).collect()
    )
    assert got2 == want
