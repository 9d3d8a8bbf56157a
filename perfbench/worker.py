"""Spark side of one benchmark run: one process, one workload role.

`run.py` starts this file as a child process, passes the run's spec
(paths, sizes, seconds, trace flag) as a JSON file and reads back a
JSON result. Every call into the package goes through the public
functions a user would call; spans (spans.py) wrap those calls from
here, never from inside the package.

Roles:
  batch_flagship   parse -> enrich -> route -> explode -> flowcounter,
                   forced with the noop writer at local[N]. Traced
                   runs add the stage prefixes, the operators.skew ops
                   over the same (hot-conversation) table, an open-loop
                   streaming tail of the same stages and the local[1]
                   baseline on a quarter-size table.
  fanout_main      the timed uninterrupted delivery (ResumableBatchJob
                   over day groups, fanout_write per group) in a fresh
                   process; traced runs then start a second delivery
                   that run.py SIGKILLs once half its groups are done.
  fanout_resume    a fresh process that resumes the killed delivery.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

from spans import Tracer  # noqa: E402

# Pinned, not the package's 8g default: the inputs are tens of MB, the
# host's memory is shared, and a traced fanout_resume run has two worker
# JVMs alive at once. The initial heap is the full heap: a growing heap
# made peak RSS bimodal (1.15 or 1.37 GB) and op times vary with it.
DRIVER_MEM = "1g"
# Timed batch ops start after this many warm-up ops and then as many
# seconds of them as the timed window lasts: the first op of a fresh JVM
# takes about five times as long as the next, and op walls still fell by
# a third over the ten seconds after the third.
WARM_UP_OPS = 3
# A traced run starts a traced-only section only with this much of its
# time left: the longest (the streaming tail) took 22-27 s on 4 cores
# of a loaded host.
SECTION_RESERVE_S = 40


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its JVM (the py4j gateway child)."""
    from pyspark import SparkContext

    kb = _vm_hwm_kb(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


class Run:
    """One worker process: the session, the tracer, the op counters."""

    def __init__(self, spec: dict, spawned_at: float):
        self.spec = spec
        self.spawned_at = spawned_at
        self.work = spec["work"]
        self.cores = spec["cores"]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.result: dict = {"metrics": {}, "counts": {}}
        from fluent_bit_spark.transcripts import read_transcripts

        self.spark = self._session(f"local[{self.cores}]")
        self.src = read_transcripts(self.spark, spec["table"])
        self.src.createOrReplaceTempView("transcripts")
        self.setup_s = time.time() - spawned_at
        self.tracer = Tracer(self.spark, spec["trace"])

    def _session(self, master: str):
        from fluent_bit_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        spark = get_spark(
            "perfbench",
            master=master,
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
                "spark.driver.memory": DRIVER_MEM,
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={local}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def restart(self, master: str, table: str):
        """Stop the session and start another in the same JVM."""
        from fluent_bit_spark.transcripts import read_transcripts

        self.spark.stop()
        self.spark = self._session(master)
        self.tracer.rebind(self.spark)
        return read_transcripts(self.spark, table)

    def time_left(self) -> float:
        return self.spec["deadline"] - time.time()

    def log(self, msg: str) -> None:
        print(f"worker: {time.time() - self.spawned_at:6.1f}s {msg}", file=sys.stderr, flush=True)

    def op(self, fn) -> bool:
        """Run one operation; an exception counts as a failed op."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as e:  # a failed op is reported, the run goes on
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            return False

    def warm_up(self, fn, ops: int, seconds: float = 0) -> None:
        """Run `fn` `ops` times and then for `seconds` more before
        timing, so JIT compilation and caches are at about the same
        point in every run."""
        walls: list[float] = []

        def one() -> None:
            t = time.perf_counter()
            self.op(fn)
            walls.append(time.perf_counter() - t)

        for _ in range(ops):
            one()
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            one()
        self.log(f"warm-up: {len(walls)} ops, walls {[round(w, 3) for w in walls]}")

    def timed_loop(self, name: str, fn, seconds: float, min_reps: int = 3) -> list[float]:
        """Repeat `fn` under span `name` until `seconds` have passed and
        at least `min_reps` ops ran; returns the successful op walls."""
        walls = []
        t_end = time.perf_counter() + seconds
        reps = 0
        while reps < min_reps or time.perf_counter() < t_end:
            with self.tracer.span(name) as rec:
                ok = self.op(fn)
            if ok:
                walls.append(rec["wall"])
            reps += 1
        self.log(f"{name}: {len(walls)} ops, walls {[round(w, 3) for w in walls]}")
        return walls


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# batch_flagship


def flagship_prefixes(spark, src):
    """Forced prefixes of the flagship plan, each projected to the
    columns the next stage consumes, so a prefix computes no column the
    full plan would prune."""
    from fluent_bit_spark.operators.aggregate import flowcounter
    from fluent_bit_spark.operators.route import explode_routes
    from fluent_bit_spark.plans.flagship import enrich_stage, parse_stage, route_stage

    parsed = parse_stage(src)
    enriched = enrich_stage(parsed, spark)
    routed = route_stage(enriched)
    return {
        "transcripts": src.select("role", "tool", "text", "ts"),
        "parse": parsed.select("role", "tool", "text", "ts", "fmt", "parse_ok", "evt_name"),
        "enrich": enriched.select("text", "ts", "fmt", "parse_ok", "evt_name", "category", "norm_role"),
        "route": routed.select("routes", "tag", "ts", "text"),
        "aggregate": flowcounter(explode_routes(routed), ["sink", "tag"], window="1 hour"),
    }, enriched, routed


def full_plan(spark, src):
    return flagship_prefixes(spark, src)[0]["aggregate"]


def batch_flagship(run: Run) -> None:
    from fluent_bit_spark.metrics import PipelineMetrics

    spec = run.spec
    m, c = run.result["metrics"], run.result["counts"]
    flow = os.path.join(run.work, "out", "flow")
    # local[N]: the plan is built once, like a client re-running one
    # query; warm-up, timed jobs (traced runs: traced and untraced jobs
    # in turn), then the checked output
    plan = full_plan(run.spark, run.src)
    run.warm_up(lambda: noop(plan), WARM_UP_OPS, spec["seconds"])
    if not spec["trace"]:
        walls = run.timed_loop("e2e", lambda: noop(plan), spec["seconds"])
        run.op(lambda: plan.write.mode("overwrite").parquet(flow))
    else:
        m["trace.overhead_s"], walls = trace_overhead(run, lambda: noop(plan))
        # the checked output, from a plan whose input the package's own
        # counter observes
        pm = PipelineMetrics(run.spark)
        run.op(lambda: full_plan(run.spark, pm.instrument_input(run.src)).write.mode("overwrite").parquet(flow))
        c["metrics.records_in"] = pm.snapshot()["records_in"]
    if walls:
        m["turns_per_s"] = spec["rows"] / statistics.median(walls)
        run.result["samples"] = len(walls)
    if not spec["trace"]:
        return
    stage_spans(run, flow)
    # the sections that only traced runs add, each skipped (and its
    # check with it) when too little of the run's time is left for it
    run.result["skipped"] = []
    for section in (conv_skew, stream_tail, single_core):
        if run.time_left() < SECTION_RESERVE_S:
            run.log(f"{section.__name__}: skipped, {run.time_left():.0f}s left")
            run.result["skipped"].append(section.__name__)
        else:
            section(run)


def stage_spans(run: Run, flow: str) -> None:
    """Per-stage self times from the forced prefixes, the parse/enrich/
    route ratios and the aggregate's shuffle and output."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    m, c, tr = run.result["metrics"], run.result["counts"], run.tracer
    prefixes, enriched, routed = flagship_prefixes(run.spark, run.src)
    med = {}
    for stage, df in prefixes.items():
        reps = run.timed_loop(f"prefix.{stage}", lambda df=df: noop(df), 0, min_reps=3)
        med[stage] = statistics.median(reps) if reps else 0.0
    order = list(prefixes)
    m["transcripts.scan_s"] = med["transcripts"]
    for prev, stage in zip(order, order[1:]):
        m[f"{stage}.self_s"] = med[stage] - med[prev]
    ratios = routed.agg(
        F.avg(F.col("parse_ok").cast("double")).alias("ok"),
        F.avg((F.col("fmt") == "unknown").cast("double")).alias("unknown"),
        F.avg((F.col("category") != "Unknown").cast("double")).alias("tool_hit"),
        F.sum(F.size("routes")).alias("per_sink"),
    ).first()
    m["parse.ok_ratio"], m["parse.unknown_ratio"] = ratios["ok"], ratios["unknown"]
    m["enrich.tool_hit_ratio"] = ratios["tool_hit"]
    m["route.fanout_ratio"] = ratios["per_sink"] / run.spec["rows"]
    executed = enriched._jdf.queryExecution().executedPlan().toString()
    c["enrich.broadcast_joins"] = executed.count("BroadcastHashJoin")
    reps = max(1, len(tr.walls("prefix.aggregate")))
    m["aggregate.shuffle_write_mb"] = tr.stats("prefix.aggregate")["shuffle_write_bytes"] / reps / 2**20
    c["aggregate.groups_out"] = sum(pq.ParquetFile(p).metadata.num_rows for p in glob.glob(os.path.join(flow, "*.parquet")))
    engine_span(run, "prefix.aggregate", reps)


def single_core(run: Run) -> None:
    """local[1] on a quarter of the table: the single-core baseline of
    scaling_eff."""
    spec, m = run.spec, run.result["metrics"]
    src_q = run.restart("local[1]", spec["table_quarter"])
    plan_q = full_plan(run.spark, src_q)
    run.warm_up(lambda: noop(plan_q), 1)
    walls_1 = run.timed_loop("e2e_1core", lambda: noop(plan_q), 0, min_reps=2)
    run.op(lambda: plan_q.write.mode("overwrite").parquet(os.path.join(run.work, "out", "flow_quarter")))
    if walls_1 and "turns_per_s" in m:
        m["scaling_eff"] = m["turns_per_s"] / (run.cores * spec["rows_quarter"] / statistics.median(walls_1))


def trace_overhead(run: Run, fn, reps: int = 2) -> tuple[float, list[float]]:
    """Median traced wall of `fn`, counter collection included, minus
    its median untraced wall; and the untraced walls. Traced and
    untraced ops alternate, so both meet the same JIT and cache state."""
    traced: list[float] = []
    untraced: list[float] = []
    for _ in range(reps):
        for enabled, walls in ((True, traced), (False, untraced)):
            run.tracer.enabled = enabled
            with run.tracer.span("overhead") as rec:
                run.op(fn)
            walls.append(rec["traced_wall"])
    run.tracer.enabled = True
    return statistics.median(traced) - statistics.median(untraced), untraced


def engine_span(run: Run, name: str, reps: int = 1) -> None:
    """spark.* per-layer metrics: the engine counters of one op."""
    s = run.tracer.stats(name)
    wall = sum(run.tracer.walls(name)) or 1.0
    c, m = run.result["counts"], run.result["metrics"]
    c["spark.jobs"] = s.get("jobs", 0) // reps
    c["spark.stages"] = s.get("stages", 0) // reps
    c["spark.tasks"] = s.get("tasks", 0) // reps
    m["spark.executor_run_s"] = s.get("run_ms", 0) / 1000 / reps
    m["spark.gc_s"] = s.get("gc_ms", 0) / 1000 / reps
    m["spark.cpu_busy_ratio"] = s.get("run_ms", 0) / 1000 / (wall * run.cores)


# ---------------------------------------------------------------------------
# fanout_resume


def deliver(run: Run, src, out_dir: str, span_prefix: str = "") -> dict:
    """The cli.py delivery shape: parse/enrich/route once, then one
    fanout_write per day group under ResumableBatchJob."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.checkpoint import ResumableBatchJob
    from fluent_bit_spark.metrics import PipelineMetrics
    from fluent_bit_spark.plans.flagship import SINKS, run_pipeline
    from fluent_bit_spark.sinks import fanout_write

    tr = run.tracer
    metrics = PipelineMetrics(run.spark)
    routed = run_pipeline(run.spark, "", source=metrics.instrument_input(src))
    routed = routed.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    job = ResumableBatchJob(os.path.join(out_dir, "ckpt"))
    group_walls: list[float] = []
    sink_records: dict[str, int] = {}

    def process(key, slice_df):
        run.attempted += 1
        with tr.span(span_prefix + "sinks") as rec:
            counts = fanout_write(
                slice_df.drop("day"), SINKS, os.path.join(out_dir, "data", f"day={key}"), with_aggregates=True
            )
        group_walls.append(rec["wall"])
        for sink, c in counts.items():
            sink_records[sink] = sink_records.get(sink, 0) + c["records"]
        return {"rows": counts["sink_all"]["records"]}

    with tr.span(span_prefix + "checkpoint") as rec:
        statuses = job.run(routed, "day", process)
    return {
        "wall": rec["wall"],
        "groups": len(statuses),
        "done": sum(1 for s in statuses.values() if s == "done"),
        "group_walls": group_walls,
        "sink_records": sink_records,
        "records_in": metrics.snapshot()["records_in"],
    }


def fanout_main(run: Run) -> None:
    spec, m, c = run.spec, run.result["metrics"], run.result["counts"]
    rows = spec["rows"]
    # no warm-up: a delivery is a fresh process, as cli.py runs it
    res = {}

    def timed():
        res.update(deliver(run, run.src, os.path.join(run.work, "out", "full")))

    run.op(timed)
    run.attempted -= 1
    if res:
        m["turns_per_s"] = rows / res["wall"]
        c["checkpoint.groups"] = res["groups"]
        c["metrics.records_in"] = res["records_in"]
        m["checkpoint.group_s_p50"] = pct(res["group_walls"], 0.5)
        m["checkpoint.loop_overhead_s"] = res["wall"] - sum(res["group_walls"])
        m["route.fanout_ratio"] = sum(res["sink_records"].values()) / rows
        if spec["trace"]:
            tr = run.tracer
            sinks, ckpt = tr.stats("sinks"), tr.stats("checkpoint")
            m["sinks.write_s"] = sum(tr.walls("sinks"))
            c["sinks.jobs"] = sinks["jobs"]
            c["sinks.scan_amplification"] = (sinks["scan_rows"] + ckpt["scan_rows"]) / rows
            all_jobs = {k: sinks.get(k, 0) + ckpt.get(k, 0) for k in set(sinks) | set(ckpt)}
            run.tracer.spans.append({"name": "fanout", "wall": res["wall"], "stats": all_jobs})
            engine_span(run, "fanout")
            files, size = 0, 0
            for root, _dirs, names in os.walk(os.path.join(run.work, "out", "full", "data")):
                for n in names:
                    if n.startswith("part-"):
                        files += 1
                        size += os.path.getsize(os.path.join(root, n))
            c["sinks.files_written"] = files
            m["sinks.bytes_written_mb"] = size / 2**20
    run.result["peak_rss_mb"] = peak_rss_mb()
    run.result["setup_s"] = run.setup_s
    run.result["attempted"], run.result["failed"] = run.attempted, run.failed
    if spec["trace"]:
        write_result(run)
        # the delivery run.py kills once half of its groups are done
        deliver(run, run.src, os.path.join(run.work, "out", "killed"), "killed.")


def fanout_resume(run: Run) -> None:
    go = os.path.join(run.work, "resume.go")
    open(os.path.join(run.work, "resume.ready"), "w").close()
    while not os.path.exists(go):
        time.sleep(0.01)
    res = {}
    run.op(lambda: res.update(deliver(run, run.src, os.path.join(run.work, "out", "killed"))))
    run.attempted -= 1
    if res:
        run.result["metrics"]["resume_s"] = res["wall"]
        run.result["counts"]["checkpoint.groups_redone"] = res["done"]


# ---------------------------------------------------------------------------
# streaming (traced batch_flagship runs)


def stream_tail(run: Run) -> None:
    """Open loop: pre-written files land by atomic rename into a watched
    directory, one every stream_interval_s after a few warm-up files;
    streaming parse/enrich/route + windowed_flowcounter, update mode.
    A file's lag runs from its due landing time to the end of the
    micro-batch that emitted its windows."""
    from fluent_bit_spark.streaming import streaming_pipeline, windowed_flowcounter
    from fluent_bit_spark.transcripts import TRANSCRIPT_SCHEMA

    spec, m, c = run.spec, run.result["metrics"], run.result["counts"]
    spark = run.spark
    staged = spec["stream_files"]
    watch = os.path.join(run.work, "watch")
    os.makedirs(watch, exist_ok=True)
    final: dict = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[(r["sink"], r["tag"], r["window_start"])] = (r["counts"], r["bytes"])

    # streaming_transcripts() takes no reader options; this is its read
    # plus maxFilesPerTrigger=1, so each micro-batch takes one file and
    # the watermark each file meets does not depend on timing
    src = spark.readStream.schema(TRANSCRIPT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(watch)
    agg = windowed_flowcounter(streaming_pipeline(spark, src), window="1 hour")
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(run.work, "stream-ckpt"))
        .start()
    )
    warm = spec["stream_warm_files"]
    interval = spec["stream_interval_s"]
    try:
        for path in staged[:warm]:
            os.rename(path, os.path.join(watch, os.path.basename(path)))
        q.processAllAvailable()
        due, landed = [], []
        t0 = time.time() + 0.2
        for k, path in enumerate(staged[warm:]):
            d = t0 + k * interval
            time.sleep(max(0.0, d - time.time()))
            os.rename(path, os.path.join(watch, os.path.basename(path)))
            due.append(d)
            landed.append(time.time())
        done_at_end = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    data = [p for p in progress if p["numInputRows"] > 0]
    run.attempted += len(data)
    timed = data[warm:]

    def end_of(p):
        from datetime import datetime

        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        return start + p["durationMs"]["triggerExecution"] / 1000

    lags = [end_of(p) - d for p, d in zip(timed, due)]
    dur = [p["durationMs"]["triggerExecution"] / 1000 for p in timed]
    m["streaming.lag_s_p50"], m["streaming.lag_s_p90"] = pct(lags, 0.5), pct(lags, 0.9)
    m["streaming.batch_s_p50"], m["streaming.batch_s_p90"] = pct(dur, 0.5), pct(dur, 0.9)
    dm = lambda key: [p["durationMs"].get(key, 0) / 1000 for p in timed]  # noqa: E731
    m["streaming.add_batch_s_p50"] = pct(dm("addBatch"), 0.5)
    m["streaming.planning_s_p50"] = pct(dm("queryPlanning"), 0.5)
    m["streaming.commit_s_p50"] = pct([a + b for a, b in zip(dm("walCommit"), dm("commitOffsets"))], 0.5)
    state = progress[-1]["stateOperators"][0]
    c["streaming.state_rows"] = state["numRowsTotal"]
    m["streaming.state_mb"] = state["memoryUsedBytes"] / 2**20
    c["streaming.backlog_files_end"] = len(staged) - done_at_end
    m["streaming.gen_late_s_max"] = max(a - d for a, d in zip(landed, due))
    reached = sum(v[0] for k, v in final.items() if k[0] == "sink_all")
    c["streaming.late_dropped"] = sum(p["numInputRows"] for p in data) - reached
    # the streamed windows, for the oracle check in run.py
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = sorted(final)
    pq.write_table(
        pa.table(
            {
                "sink": [k[0] for k in keys],
                "tag": [k[1] for k in keys],
                "window_start": [k[2].timestamp() for k in keys],
                "counts": [final[k][0] for k in keys],
                "bytes": [final[k][1] for k in keys],
            }
        ),
        os.path.join(run.work, "out", "stream_windows.parquet"),
    )


# ---------------------------------------------------------------------------
# operators.skew (traced batch_flagship runs)


def conv_skew(run: Run) -> None:
    """operators.skew over the same table: the skew-safe stable order and
    the salted conv stats, forced and timed, and their outputs written
    for the oracle (conv_stats, stable_order)."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.dedup import release_persisted
    from fluent_bit_spark.operators.skew import salted_agg, skew_report, stable_turn_order_skew_safe

    m, c, tr = run.result["metrics"], run.result["counts"], run.tracer
    out = os.path.join(run.work, "out")
    src = run.src
    stats = salted_agg(
        src.withColumn("text_len", F.length("text")),
        "conv_id",
        {"turns": ("count", "turn_idx"), "bytes": ("sum", "text_len"), "tool_turns": ("count", "tool")},
    )

    def order() -> None:
        # built inside the op: the operator runs its range shuffle, sort
        # and offsets collect when called, and the released layout makes
        # the next op pay for them again
        try:
            noop(stable_turn_order_skew_safe(src))
        finally:
            release_persisted()

    run.warm_up(order, 1)
    order_walls = run.timed_loop("skew.order", order, 0, 2)
    agg_walls = run.timed_loop("skew.salted_agg", lambda: noop(stats), 0, 2)
    m["skew.order_s"] = statistics.median(order_walls)
    m["skew.salted_agg_s"] = statistics.median(agg_walls)
    ops = {name: (tr.stats(name), len(tr.walls(name))) for name in ("skew.order", "skew.salted_agg")}
    per_op = lambda key: sum(st[key] / n for st, n in ops.values())  # noqa: E731
    m["skew.task_s_max_over_p50"] = ops["skew.order"][0]["task_max_over_p50"]
    m["skew.shuffle_write_mb"] = per_op("shuffle_write_bytes") / 2**20
    m["skew.spill_mb"] = per_op("spill_bytes") / 2**20
    c["skew.hottest_conv_share_ppm"] = int(skew_report(src, topk=1).first()["share_ppm"])
    run.op(lambda: stats.write.mode("overwrite").parquet(os.path.join(out, "conv_stats")))
    ends = (
        stable_turn_order_skew_safe(src)
        .join(stats.select("conv_id", "turns"), "conv_id")
        .filter((F.col("turn_rank") == 1) | (F.col("turn_rank") == F.col("turns")))
        .select("conv_id", "turn_rank", "turns", "text")
    )
    run.op(lambda: ends.write.mode("overwrite").parquet(os.path.join(out, "conv_ends")))
    release_persisted()


# ---------------------------------------------------------------------------


def scan_span(run: Run) -> None:
    """transcripts.* metrics: one forced scan of the input table."""
    m, c = run.result["metrics"], run.result["counts"]
    with run.tracer.span("transcripts.scan") as rec:
        n = run.src.select("conv_id", "turn_idx", "role", "text", "tool", "ts").count()
    m.setdefault("transcripts.scan_s", rec["wall"])
    c.setdefault("transcripts.rows", n)
    size = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(run.spec["table"])
        for f in files
        if f.endswith(".parquet")
    )
    m["transcripts.input_mb"] = size / 2**20


ROLES = {
    "batch_flagship": batch_flagship,
    "fanout_main": fanout_main,
    "fanout_resume": fanout_resume,
}


def write_result(run: Run) -> None:
    res = dict(run.result)
    res.setdefault("setup_s", run.setup_s)
    res.setdefault("peak_rss_mb", peak_rss_mb())
    res.setdefault("attempted", run.attempted)
    res.setdefault("failed", run.failed)
    res["errors"] = run.errors[:5]
    tmp = run.spec["result"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, run.spec["result"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    ap.add_argument("--role", required=True, choices=sorted(ROLES))
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()
    with open(args.spec) as f:
        spec = json.load(f)
    spec["result"] = os.path.join(spec["work"], f"result-{args.role}.json")
    run = Run(spec, args.spawned_at)
    run.log(f"set up in {run.setup_s:.2f}s")
    try:
        if spec["trace"] and args.role != "fanout_resume":
            run.op(lambda: scan_span(run))
        ROLES[args.role](run)
    except Exception as e:  # a failed workload is reported, not raised
        run.failed += 1
        run.attempted += 1
        run.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
    write_result(run)
    run.log("result written")
    run.spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
