"""spark-submit entry point.

Usage (local sandbox):
    python -m fluent_bit_spark.cli --sf-dir /root/testdata/sf0.1 \
        --output /tmp/out --parallelism 32

On a real cluster:
    spark-submit --py-files fluent_bit_spark.zip -m fluent_bit_spark.cli ...
    (master/executors from spark-submit; --parallelism then only sets
    shuffle partitions)

Runs the flagship parse -> enrich -> route pipeline and the fan-out
sink writes with per-group checkpoint/resume and metrics, printing a
JSON run summary.
"""

from __future__ import annotations

import argparse
import json
import time
from collections import Counter


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="fluent-bit-spark")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--output", required=True)
    ap.add_argument("--parallelism", type=int, default=32)
    ap.add_argument("--master", default=None, help="default local[<parallelism>]")
    ap.add_argument(
        "--fresh",
        action="store_true",
        help="discard the existing manifest and reprocess every group "
        "(resume-from-manifest is the default, like the reference's "
        "storage backlog)",
    )
    ap.add_argument("--replicate", type=int, default=1, help="synthetic scale multiplier")
    ap.add_argument(
        "--config",
        default=None,
        help="run a Fluent-Bit-style [INPUT]/[FILTER]/[OUTPUT] config instead of the flagship pipeline",
    )
    args = ap.parse_args(argv)

    if args.config:
        from fluent_bit_spark.config import pipeline_from_file
        from fluent_bit_spark.session import get_spark

        spark = get_spark(
            "fbs-config",
            master=args.master or f"local[{args.parallelism}]",
            shuffle_partitions=args.parallelism,
        )
        res = pipeline_from_file(args.config).run(spark, output_base=args.output)
        print(json.dumps({k: (v if not isinstance(v, list) else len(v)) for k, v in res.items()}, default=str))
        spark.stop()
        return 0

    from fluent_bit_spark.checkpoint import ResumableBatchJob
    from fluent_bit_spark.metrics import PipelineMetrics
    from fluent_bit_spark.plans.flagship import SINKS, run_pipeline
    from fluent_bit_spark.session import get_spark
    from fluent_bit_spark.sinks import fanout_write
    from fluent_bit_spark.transcripts import load_transcripts

    from pyspark.sql import functions as F

    master = args.master or f"local[{args.parallelism}]"
    spark = get_spark("fbs-cli", master=master, shuffle_partitions=args.parallelism)
    t0 = time.time()
    metrics = PipelineMetrics(spark)
    source = metrics.instrument_input(
        load_transcripts(spark, args.sf_dir, replicate=args.replicate)
    )
    routed = run_pipeline(spark, args.sf_dir, source=source)

    day = F.date_format("ts", "yyyy-MM-dd")
    routed = routed.withColumn("day", day)
    if args.fresh:
        import shutil

        shutil.rmtree(f"{args.output}/ckpt", ignore_errors=True)
    job = ResumableBatchJob(f"{args.output}/ckpt")

    def process(key: str, slice_df):
        # runs on a pool thread: no shared state, the counts go to the
        # group's manifest entry
        counts = fanout_write(
            slice_df.drop("day"),
            SINKS,
            f"{args.output}/data/day={key}",
            with_aggregates=True,
        )
        return {
            "rows": counts.get("sink_all", {}).get("records", 0),
            "sink_records": {sink: c["records"] for sink, c in counts.items()},
        }

    statuses = job.run(routed, "day", process)
    elapsed = time.time() - t0
    # both totals cover every group the manifest marks done, this run's
    # and earlier ones, so a resume reports the whole delivery
    done_entries = {e["key"]: e for e in job.manifest.entries() if e["status"] == "done"}
    rows = 0
    sink_totals: Counter[str] = Counter()
    for e in done_entries.values():
        rows += e.get("rows", 0)
        sink_totals.update(e.get("sink_records", {}))
    print(
        json.dumps(
            {
                "elapsed_sec": round(elapsed, 2),
                "groups": statuses,
                "sink_totals": sink_totals,
                "rows_done": rows,
                "metrics": metrics.snapshot(),
                "parallelism": args.parallelism,
            },
            default=str,
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
