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
date/hour slice; the loop below is driver-side over groups, each group
a full distributed job.

The input frame is persisted (MEMORY_AND_DISK) once per run: group
discovery materializes it, and each group's slice is a filter over
that cache, so the source is scanned and parsed once, not once per
group. The cache holds the whole input frame, so its size is the run's
local-disk footprint; a caller at scale passes `groups` and a frame
restricted to them (one date slice per run), so the cache holds only
what the run delivers. `sinks.fanout_write` replaces a group's output
by renaming a staging directory: atomic on HDFS and local disk, but a
rename on an object store is a copy, so there a killed run can leave a
partly copied sink directory that the group's redo then replaces.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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

    process_fn(group_key, slice_df) must write idempotently (overwrite
    its own output location) and may return a metrics dict recorded in
    the manifest/lineage.
    """

    def __init__(self, ckpt_dir: str):
        self.manifest = Manifest(ckpt_dir)

    def run(
        self,
        df: DataFrame,
        group_col: str,
        process_fn: Callable[[str, DataFrame], dict | None],
        groups: list[str] | None = None,
        fail_after: int | None = None,
    ) -> dict[str, str]:
        """Process each group not yet done. `fail_after` aborts after N
        groups (for kill/resume tests). Returns key -> final status.
        `df` stays persisted for the whole loop and is released on
        return or abort."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if groups is None:
                groups = [
                    str(r[0])
                    for r in df.select(group_col).distinct().orderBy(group_col).collect()
                ]
            done = self.manifest.done_keys()
            statuses: dict[str, str] = {k: "skipped" for k in groups if k in done}
            processed = 0
            for key in groups:
                if key in done:
                    continue
                if fail_after is not None and processed >= fail_after:
                    raise RuntimeError(f"injected failure before group {key!r}")
                self.manifest.mark(key, "started")
                slice_df = df.filter(F.col(group_col).cast("string") == key)
                metrics = process_fn(key, slice_df) or {}
                self.manifest.mark(key, "done", **metrics)
                statuses[key] = "done"
                processed += 1
            return statuses
        finally:
            df.unpersist()
