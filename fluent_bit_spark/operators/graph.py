"""Graph analytics over edge DataFrames (weighted PageRank).

The training-data pipeline uses graphs in two places: duplicate
clusters (min-label propagation, operators/dedup.py) and entity /
tool-transition importance — this module adds the latter. Unlike the
unbounded-iteration cluster resolution, PageRank here runs a FIXED
number of iterations so the whole computation stays a deterministic
DataFrame expression chain that a SQL oracle can replay by unrolling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 3,
    damping: float = 0.85,
    round_dp: int = 9,
) -> DataFrame:
    """Weighted PageRank with `iters` fixed iterations:

        r_0(v)    = 1/N
        r_{k+1}(v) = round((1-d)/N + d * sum_in r_k(u) * w(u,v)/outw(u),
                      round_dp)

    Dangling nodes (no out-edges) keep the base term only — their mass
    is dropped, not redistributed (documented deviation from the
    normalized formulation; deterministic and oracle-friendly).

    Per-iteration rounding makes the result reproducible across
    engines: double addition is order-sensitive (~1e-16 relative), so
    each iteration's aggregate is rounded to `round_dp` before feeding
    the next — any accumulation-order difference is rounded away
    instead of compounding.

    Scale shape: each iteration is one shuffle join on `src` plus one
    aggregation on `dst` over the (small) node-count-sized rank frame.
    The node and normalized-edge frames are persisted (registered with
    the shared release registry) because they appear in every unrolled
    iteration and Spark does no common-subplan sharing — without the
    persist, the upstream lineage (e.g. the tool-transition window
    shuffle) would re-run once per iteration plus once for the node
    count. For large `iters`, checkpoint the rank frame every few
    rounds to cut lineage (not needed at 3).
    """
    from fluent_bit_spark.session import persist_tracked

    nodes = persist_tracked(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    outw = edges.groupBy(src).agg(F.sum(weight).alias("_outw"))
    e = persist_tracked(
        edges.join(outw, src).select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            (F.col(weight) / F.col("_outw")).alias("_share"),
        )
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0.0))  # empty graph -> empty result
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    for _ in range(iters):
        contrib = (
            e.join(ranks, e["_src"] == ranks["node"])
            .select(F.col("_dst").alias("node"), (F.col("pr") * F.col("_share")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(base) + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)),
                    round_dp,
                ).alias("pr"),
            )
        )
    return ranks
