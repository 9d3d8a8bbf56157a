"""Checkpoint / resume for batch runs.

The reference resumes from filesystem chunks left by a previous run
(plugins/in_storage_backlog/sb.c:48-112) and tracks tail offsets in
SQLite (plugins/in_tail/tail_sql.h:11-19). Batch-Spark equivalent: a
per-partition-group manifest table; a killed run restarts, skips
groups marked done, and idempotently overwrites the rest (never blind
appends — at-least-once chunk flush becomes exactly-once output).

The manifest is tiny (one row per partition group per state change);
it is stored as JSON lines written atomically per entry (rename), so a
crash mid-write never corrupts it. At 100 TB a partition group is a
date/hour slice, each group a full distributed job.

Groups are delivered up to four at a time, each on a driver thread of
its own, the way the reference's engine hands every ready chunk to its
outputs without waiting for the previous flush
(src/flb_engine_dispatch.c:180-194) and releases a chunk when its own
routes finish. A group is a chain of small jobs that the driver plans
and commits one after another; with several in flight, one group's
planning and commit overlap another group's tasks, so the executors do
not sit idle. Each group is still its own commit (`started` when a
thread picks it up, `done` when its callback returns), so resume
semantics and the output layout do not depend on the overlap. Four is
enough to keep the executors fed. The callback runs on pool threads,
so it must be thread-safe. After the first failure no new group
starts, the groups in flight finish and are marked `done` if they
succeed, the input cache is released, and the first exception is
re-raised.

The input frame is persisted (MEMORY_AND_DISK) once per run, the one
materialization of the delivery: group discovery fills it, and each
group's slice is a filter over that cache, so the source is scanned
and parsed once, not once per group, and a callback may read its
slice more than once (`sinks.fanout_write` reads it twice). The cache
holds the whole input frame, so its size is the run's local-disk
footprint; a caller at scale passes a frame restricted to the groups
it delivers (one date slice per run), so the cache holds only what the
run delivers. `sinks.fanout_write` replaces a group's output by
renaming a staging directory: atomic on HDFS and local disk, but a
rename on an object store is a copy, so there a killed run can leave a
partly copied sink directory that the group's redo then replaces.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

# groups delivered at once (see the module docstring for why four)
MAX_IN_FLIGHT = 4


class Manifest:
    """Append-only JSONL manifest with atomic entry writes."""

    def __init__(self, ckpt_dir: str):
        self.dir = os.path.join(ckpt_dir, "manifest")
        os.makedirs(self.dir, exist_ok=True)

    def entries(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    out.append(json.load(f))
        return out

    def done_keys(self) -> set[str]:
        return {e["key"] for e in self.entries() if e["status"] == "done"}

    def mark(self, key: str, status: str, **metrics) -> None:
        entry = {"key": key, "status": status, "at": time.time(), **metrics}
        tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.rename(
            tmp,
            os.path.join(self.dir, f"{int(time.time() * 1e6)}-{uuid.uuid4().hex[:8]}.json"),
        )


class ResumableBatchJob:
    """Partition-group loop with resume-without-reprocess.

    Up to `MAX_IN_FLIGHT` pending groups are delivered at a time, each
    on a driver thread of its own and each still its own commit: a
    group's `started` entry is written when a thread picks it up and
    its `done` entry when its `process_fn` returns, so a killed run
    redoes exactly the groups without `done`.

    process_fn(group_key, slice_df) must write idempotently (overwrite
    its own output location), must be thread-safe (it runs on pool
    threads, several at once) and may return a metrics dict recorded
    in the group's `done` entry. Each call inherits the caller's job
    group, description, job tags and scheduler pool.
    """

    def __init__(self, ckpt_dir: str):
        self.manifest = Manifest(ckpt_dir)

    def run(
        self,
        df: DataFrame,
        group_col: str,
        process_fn: Callable[[str, DataFrame], dict | None],
    ) -> dict[str, str]:
        """Process each group not yet done; returns key -> final status
        in group order. Groups are found with one distinct job; a NULL
        group key raises ValueError before any group starts (its rows would match no slice). After the first
        exception from `process_fn` no new group starts, the groups in
        flight finish (and are marked done if they succeed), and then
        the exception is re-raised. `df` stays persisted until every
        group has finished."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            groups = _discover_groups(df, group_col)
            done = self.manifest.done_keys()
            pending = [k for k in groups if k not in done]

            def deliver(key: str) -> None:
                self.manifest.mark(key, "started")
                slice_df = df.filter(F.col(group_col).cast("string") == key)
                metrics = process_fn(key, slice_df) or {}
                self.manifest.mark(key, "done", **metrics)

            _run_bounded(df.sparkSession, deliver, pending)
            return {k: "skipped" if k in done else "done" for k in groups}
        finally:
            df.unpersist()


def _discover_groups(df: DataFrame, group_col: str) -> list[str]:
    """Distinct group keys in natural order (9 < 10 < 100): sorted on
    the driver on the raw values, then stringified; a driver sort
    avoids the sample and sort jobs of a range-partitioned orderBy."""
    values = [r[0] for r in df.select(group_col).distinct().collect()]
    if None in values:
        n = df.filter(F.col(group_col).isNull()).count()
        raise ValueError(f"{n} rows have a NULL {group_col!r}; no group would deliver them")
    return [str(v) for v in sorted(values)]


def _run_bounded(spark, fn: Callable[[str], None], keys: list[str]) -> None:
    """Run fn(key) for each key on up to MAX_IN_FLIGHT threads, started
    in key order. After the first exception no new call starts; the
    calls in flight finish before it is re-raised."""
    error: BaseException | None = None
    queue = iter(keys)
    with ThreadPoolExecutor(max_workers=MAX_IN_FLIGHT, thread_name_prefix="ckpt-group") as pool:
        in_flight: set = set()

        def submit_next() -> None:
            key = next(queue, None)
            if key is not None:
                # one capture per call: each thread gets its own copy
                # of the caller's local properties to change
                in_flight.add(pool.submit(inheritable_thread_target(spark)(fn), key))

        for _ in range(MAX_IN_FLIGHT):
            submit_next()
        while in_flight:
            ready, _ = wait(in_flight, return_when=FIRST_COMPLETED)
            for fut in ready:
                in_flight.remove(fut)
                if error is None:
                    error = fut.exception()
                if error is None:
                    submit_next()
    if error is not None:
        raise error
