"""Sink retry schedule as a queryable frame.

The reference retries failed output flushes with "full jitter"
exponential backoff, base 5 s capped at 2000 s, per-output retry
limits (src/flb_scheduler.c:255-301, include/fluent-bit/
flb_scheduler.h:30-31, flb_task.c:115-139). Spark's task scheduler
retries *tasks*, and a failed delivery group is redone by
`checkpoint.ResumableBatchJob` on the next run; this module keeps the
schedule itself as data (`retry_schedule_frame`).
"""

from __future__ import annotations


def retry_schedule_frame(failed):
    """The retry *plan* as a DataFrame: for every failed record (keyed
    by conv_id, turn_idx, failed at `ts`), the deterministic
    capped-exponential schedule of 5 attempts, base 2 s, cap 30 s (no
    jitter — this is the queryable upper-envelope of the reference's
    full-jitter draw, whose per-attempt ceiling is exactly
    min(cap, base*2^(n-1)); src/flb_scheduler.c:255-301). Emits one row per (record, attempt)
    with the per-attempt delay and the absolute retry time from the
    cumulative delay — the table a delivery dashboard joins against
    "has it been delivered yet".

    Scale shape: explode to 5 rows per failed record (a bounded fan-out
    over the small failed set), one record-partitioned cumsum window
    bounded by 5 rows.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    staged = failed.withColumn(
        "attempt", F.explode(F.sequence(F.lit(1), F.lit(5)))
    ).withColumn(
        "delay_s",
        F.least(
            F.lit(30).cast("long"),
            F.lit(2) * F.pow(F.lit(2.0), F.col("attempt") - 1).cast("long"),
        ),
    )
    w = (
        Window.partitionBy("conv_id", "turn_idx")
        .orderBy("attempt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return staged.withColumn(
        "retry_at",
        F.timestamp_add("SECOND", F.sum("delay_s").over(w), F.col("ts")),
    )
