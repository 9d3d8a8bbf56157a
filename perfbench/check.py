"""Output checks against the DuckDB oracle, run outside the timed region.

The oracle SQL is the package's own (`plans.flagship_oracle`), with its
`transcripts` CTE, which derives rows from the `events` fixture, bound
instead to the benchmark's generated parquet. Each check returns True
when the program's written output equals the oracle's rows exactly.
"""

from __future__ import annotations

import glob
import os

import duckdb

from fluent_bit_spark.plans.flagship import SINKS
from fluent_bit_spark.plans.flagship_oracle import oracle_queries
from fluent_bit_spark.transcripts import transcripts_sql


def _lit(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(_lit(p) for p in paths) + "]"


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.queries = oracle_queries()
        self.derived = transcripts_sql("duckdb")

    def close(self) -> None:
        self.con.close()

    def bound(self, name: str, files: list[str], exclude: str | None = None) -> str:
        """Oracle query `name` over the generated parquet `files`; rows
        whose (conv_id, turn_idx) appear in parquet `exclude` are left out."""
        src = (
            "SELECT conv_id, turn_idx, role, text, tool, CAST(ts AS TIMESTAMP) AS ts "
            f"FROM read_parquet({_files(files)})"
        )
        if exclude:
            src += (
                " WHERE (conv_id, turn_idx) NOT IN "
                f"(SELECT (conv_id, turn_idx) FROM read_parquet({_lit(exclude)}))"
            )
        sql = self.queries[name]
        if self.derived not in sql:
            raise ValueError(f"oracle query {name!r} has no transcripts CTE to bind")
        return sql.replace(self.derived, src, 1)

    def same(self, got_sql: str, want_sql: str) -> bool:
        """Multiset equality of two queries' rows."""
        n = self.con.execute(
            f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql})"
            f" UNION ALL (({want_sql}) EXCEPT ALL ({got_sql})))"
        ).fetchone()[0]
        return n == 0

    # -- per-workload checks --------------------------------------------

    def flowcounter(self, out_dir: str, files: list[str], exclude: str | None = None) -> bool:
        """Written flowcounter rows == oracle `sink_flowcounter`."""
        got = (
            "SELECT sink, tag, epoch(window_start) AS ws, counts, bytes "
            f"FROM read_parquet({_lit(os.path.join(out_dir, '*.parquet'))})"
        )
        want = (
            "SELECT sink, tag, epoch(window_start) AS ws, counts, bytes "
            f"FROM ({self.bound('sink_flowcounter', files, exclude)})"
        )
        return self.same(got, want)

    def stream_windows(self, path: str, files: list[str], late: str) -> bool:
        """Final streamed windows == oracle flowcounter minus late rows."""
        got = f"SELECT sink, tag, window_start AS ws, counts, bytes FROM read_parquet({_lit(path)})"
        want = (
            "SELECT sink, tag, epoch(window_start) AS ws, counts, bytes "
            f"FROM ({self.bound('sink_flowcounter', files, late)})"
        )
        return self.same(got, want)

    def fanout(self, out_dir: str, files: list[str]) -> bool:
        """Per-sink totals in the written agg_counter tables, and the rows
        in each sink's written files, == oracle `counter_totals`."""
        want = f"SELECT sink, records FROM ({self.bound('counter_totals', files)})"
        agg = os.path.join(out_dir, "data", "day=*", "agg_counter", "*.parquet")
        got_agg = f"SELECT sink, CAST(sum(records) AS BIGINT) AS records FROM read_parquet({_lit(agg)}) GROUP BY sink"
        parts = []
        for name, _glob in SINKS:
            sink_files = glob.glob(os.path.join(out_dir, "data", "day=*", name, "*.parquet"))
            if sink_files:
                parts.append(f"SELECT {_lit(name)} AS sink, count(*) AS n FROM read_parquet({_files(sink_files)})")
        if not parts:
            return False
        got_rows = f"SELECT sink, CAST(sum(n) AS BIGINT) AS records FROM ({' UNION ALL '.join(parts)}) GROUP BY sink"
        return self.same(got_agg, want) and self.same(got_rows, want)

    def conv_skew(self, out_dir: str, files: list[str]) -> bool:
        """conv stats == oracle `conv_stats`; first/last turns per
        conversation == oracle `stable_order`."""
        stats = os.path.join(out_dir, "conv_stats", "*.parquet")
        ends = os.path.join(out_dir, "conv_ends", "*.parquet")
        got_stats = f"SELECT conv_id, turns, bytes, tool_turns FROM read_parquet({_lit(stats)})"
        want_stats = f"SELECT conv_id, turns, bytes, tool_turns FROM ({self.bound('conv_stats', files)})"
        got_ends = (
            "SELECT conv_id, any_value(turns) AS n_turns,"
            " max(CASE WHEN turn_rank = 1 THEN text END) AS first_text,"
            " max(CASE WHEN turn_rank = turns THEN text END) AS last_text"
            f" FROM read_parquet({_lit(ends)}) GROUP BY conv_id"
        )
        want_ends = f"SELECT conv_id, n_turns, first_text, last_text FROM ({self.bound('stable_order', files)})"
        return self.same(got_stats, want_stats) and self.same(got_ends, want_ends)
