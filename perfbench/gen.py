"""Seeded transcript tables for the benchmark workloads.

The rows come from the package's own derivation. `events` draws a seeded
`events` table shaped like the repository's bench test data (TESTDATA.md
tier sf0.1, measured: event ids 0..n-1, 100k events over 1500 users
drawn uniformly, event types uniform over five, values exponential with
mean 50 in cents, event times uniform over 30 days from 2024-01-01).
`transcripts` optionally applies the hot-conversation rule of
`synth_transcripts` (every 20th user gets `hot_factor` replicas, shifted
in event id and time) and derives the transcripts with
`transcripts_sql('duckdb')`, so `text`, `role` and `tool` carry exactly
the grammar mix, corrupt lines and lookup misses the package defines.
`ts` is written as a UTC-adjusted TIMESTAMP, which Spark reads as
`TimestampType` (event-time windows reject `TIMESTAMP_NTZ`). The same
seed gives the same bytes; the program under test only ever sees the
written files.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fluent_bit_spark.transcripts import transcripts_sql

T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY = 86400
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_PER_USER = 100_000 / 1_500  # sf0.1
SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# Stream-file event-time layout: each file covers FILE_SPAN_S of event
# time in order; out-of-order rows move back OOO_SHIFT_S (inside the 2 h
# watermark, so they are kept) and late rows move back LATE_SHIFT_S
# (their 1 h window closed before the watermark, so they are dropped).
FILE_SPAN_S = 600
OOO_SHIFT_S = 1800
LATE_SHIFT_S = 4 * 3600


def events(seed: int, n: int, span_s: int) -> pa.Table:
    """`n` events of the test data's shape over `span_s` seconds."""
    rng = np.random.default_rng(seed)
    users = max(1, round(n / EVENTS_PER_USER))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(T0_US + rng.integers(0, span_s * 1_000_000, n), pa.timestamp("us")),
            "user_id": rng.integers(0, users, n),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
        }
    )


# synth_transcripts' hot rule over a registered `ev`, as DuckDB SQL
_HOT = """
SELECT event_id + rep * {n} AS event_id,
       ts + to_seconds(rep * 7 + (event_id + rep * {n}) % 13) AS ts,
       user_id, event_type, value
FROM (SELECT *, unnest(range(CASE WHEN user_id % 20 = 0 THEN {hot} ELSE 1 END)) AS rep FROM ev)
"""


def transcripts(seed: int, n_events: int, span_s: int, hot_factor: int = 0) -> pa.Table:
    """The transcripts derived from `events(seed, n_events, span_s)`,
    stored in event-time order like a tailed log. With `hot_factor` > 0,
    every 20th conversation holds `hot_factor` times its turns."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.register("ev", events(seed, n_events, span_s))
        source = _HOT.format(n=n_events, hot=hot_factor) if hot_factor > 0 else "SELECT * FROM ev"
        con.execute(f"CREATE VIEW events AS {source}")
        derived = transcripts_sql("duckdb", "events")
        table = con.execute(
            "SELECT conv_id, turn_idx, role, text, tool, CAST(ts AS TIMESTAMPTZ) AS ts "
            f"FROM ({derived}) ORDER BY ts, conv_id, turn_idx"
        ).arrow()
    finally:
        con.close()
    return table.cast(SCHEMA)


def write_table(table: pa.Table, path: str, row_groups: int = 16) -> None:
    """One parquet file cut into `row_groups` row groups, so a local[N]
    scan splits it across N tasks."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)))


def stream_files(
    seed: int, files: int, rows_per_file: int, ooo_share: float, late_share: float, out_dir: str
) -> tuple[list[str], pa.Table]:
    """Pre-write `files` parquet files in event-time order, file k
    covering about [T0 + k*FILE_SPAN_S, T0 + (k+1)*FILE_SPAN_S). In files
    k >= 1 an `ooo_share` of rows is moved back OOO_SHIFT_S (out of order
    but inside the watermark); in files k >= 2 a `late_share` of rows is
    moved back LATE_SHIFT_S, beyond the 2 h watermark that the earlier
    files already advanced. Returns the file paths and the
    (conv_id, turn_idx) keys of the late rows."""
    table = transcripts(seed, files * rows_per_file, files * FILE_SPAN_S)
    rng = np.random.default_rng(seed + 1)
    ts_all = table.column("ts").cast(pa.int64()).to_numpy()
    os.makedirs(out_dir, exist_ok=True)
    paths, late_keys = [], []
    for k in range(files):
        part = table.slice(k * rows_per_file, rows_per_file)
        ts = ts_all[k * rows_per_file : (k + 1) * rows_per_file].copy()
        u = rng.random(rows_per_file)
        if k >= 1:
            ts[u < ooo_share] -= OOO_SHIFT_S * 1_000_000
        if k >= 2:
            late = (u >= ooo_share) & (u < ooo_share + late_share)
            ts[late] -= LATE_SHIFT_S * 1_000_000
            late_keys.append(part.filter(pa.array(late)).select(["conv_id", "turn_idx"]))
        part = part.set_column(5, "ts", pa.array(ts, pa.timestamp("us", tz="UTC")))
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(part, path)
        paths.append(path)
    late = pa.concat_tables(late_keys) if late_keys else pa.table(
        {"conv_id": pa.array([], pa.string()), "turn_idx": pa.array([], pa.int32())}
    )
    return paths, late
