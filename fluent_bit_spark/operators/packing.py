"""Training-example packing: map each document to its token offsets in
the concatenated corpus stream and to the fixed-length training
examples ("bins") it lands in.

GPT-style pretraining packs data by concatenating documents (within a
shard/group, in a deterministic order) and chunking the token stream at
a fixed context length. That layout is exactly expressible as a window
cumulative sum — no sequential driver loop, one shuffle on the group
key:

  start_offset = sum(tokens of earlier docs in the group)
  bin          = start_offset // capacity       (first example touched)
  n_splits     = boundary crossings inside the doc (how many times the
                 doc straddles an example boundary)

Greedy no-straddle packing (close a bin when the next doc would
overflow) is NOT used: its bin assignment is a true sequential
recursion that cannot be expressed as a distributed window without a
per-group serial pass, and pretraining pipelines concatenate-and-chunk
anyway (straddling docs are normal; attention masking handles the
boundary).

Scale shape: one window per group ordered by the id — groups (shards /
sources) bound the window size, and the ordering key makes the packing
independent of partitioning and input order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fluent_bit_spark.operators.text_analysis import token_count, tokens


def token_offsets(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """THE concatenate-and-chunk offset convention, defined once:
    (id, group, n_tokens, start_offset) where start_offset is the
    exclusive within-group token cumsum in (group, id) order. Shared
    by pack_offsets (bin/split math) and shard_manifest (global
    two-level offsets) so the packing order can never drift between
    them."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return df.select(
        F.col(id_col),
        F.col(group_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).withColumn(
        "start_offset",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
    )


def pack_offsets(
    df: DataFrame,
    capacity: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, group, n_tokens, start_offset, bin, n_splits) per document
    under concatenate-and-chunk packing at `capacity` tokens."""
    if not isinstance(capacity, int) or capacity <= 0:
        # capacity is spliced into SQL `div` expressions below — a bad
        # value must fail here, not mid-job with DIVIDE_BY_ZERO/parse
        raise ValueError(f"capacity must be a positive int, got {capacity!r}")
    staged = token_offsets(df, group_col, id_col, text_col)
    # integer `div`, not float-divide-then-cast: double rounding could
    # misplace a boundary doc once offsets pass 2^53 tokens
    return staged.withColumns(
        {
            "bin": F.expr(f"start_offset div {capacity}"),
            # empty docs occupy no tokens: no splits, bin of their offset
            "n_splits": F.when(
                F.col("n_tokens") > 0,
                F.expr(f"(start_offset + n_tokens - 1) div {capacity}")
                - F.expr(f"start_offset div {capacity}"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        }
    )


def chunk_documents(
    df: DataFrame,
    size: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into token windows of `size` tokens starting
    every `stride` tokens (stride < size = overlapping chunks, the
    RAG/embedding-context layout; stride == size = disjoint splits).

    Emits (id, chunk_idx, chunk_start, n_chunk_tokens, chunk) with the
    chunk text space-rejoined from the whitespace tokenization. The
    final window is the (possibly short) tail; every token lands in at
    least one chunk; documents shorter than `size` produce exactly one
    chunk; empty documents produce none.

    Scale shape: shuffle-free map + explode — chunk construction is
    array slicing over a BOUND token column (slice inside the per-start
    lambda reads a row attribute; an inline tokenization tree there
    would re-tokenize per chunk).
    """
    if stride is None:
        stride = size
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    if stride > size:
        # the contract below ("every token lands in at least one
        # chunk") would silently break with sampling gaps
        raise ValueError(f"stride ({stride}) must be <= size ({size})")
    bound = df.withColumn("_ck_tk", tokens(F.col(text_col)))
    tk = F.col("_ck_tk")
    n = F.size(tk)
    # chunk starts: 0, stride, 2*stride, ... while start < n; the last
    # start is the largest multiple of stride below n
    n_chunks = F.floor((n - 1) / stride).cast("int") + 1
    starts = F.when(
        n > 0, F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("chunk_start"),
            F.slice(tk, s + 1, size).alias("toks"),
        ),
    )
    out = bound.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "_c"),
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.col("_c.chunk_start").cast("long").alias("chunk_start"),
        F.size("_c.toks").alias("n_chunk_tokens"),
        F.array_join("_c.toks", " ").alias("chunk"),
    )


def cdc_chunks(
    df: DataFrame,
    window: int = 3,
    divisor: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking: cut the token stream AFTER position i
    whenever the hash of the `window`-gram ending at i lands on the
    boundary class (md5_32 % divisor == 0) — expected chunk length ~
    `divisor` tokens. Emits (id, chunk_idx, chunk_start, n_chunk_tokens,
    chunk_hash).

    Why content-defined instead of chunk_documents' fixed stride:
    boundaries depend only on a local token window, so inserting or
    deleting a sentence re-chunks ONLY the neighborhood — every other
    chunk keeps its hash, which is what makes chunk-level dedup and
    incremental re-ingestion stable across document revisions (the
    rsync/LBFS rolling-hash trick at token granularity).

    Chunk lengths are geometric around `divisor` with no hard min/max
    clamp: a greedy clamp is a sequential recursion (see the module
    docstring on why no-straddle packing is out too), and dedup-stable
    hashing only needs the boundary-locality property.

    Scale shape: shuffle-free map + explode over a bound token column;
    the per-position gram hash reads a `window`-token slice, so the
    row cost is O(n_tokens * window) with no Python in the path.
    """
    from fluent_bit_spark.functions.hashing import md5_32
    from fluent_bit_spark.operators.text_analysis import tokens

    if window < 1 or divisor < 1:
        raise ValueError("window and divisor must be >= 1")
    bound = df.withColumn("_cd_tk", tokens(F.col(text_col)))
    tk = F.col("_cd_tk")
    n = F.size(tk)

    def gram_hash(i):
        start = F.greatest(i - (window - 1), F.lit(1))
        return md5_32(F.array_join(F.slice(tk, start, i - start + 1), " "))

    cuts = F.when(
        n > 1,
        F.filter(
            F.sequence(F.lit(1), n - 1),
            lambda i: gram_hash(i) % divisor == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    bounds_expr = F.concat(
        F.array(F.lit(0)), cuts, F.when(n > 0, F.array(n)).otherwise(F.array())
    )

    # the bounds array embeds the O(n_tokens) md5 cut scan; it is
    # referenced many times inside the chunk lambda and Catalyst does
    # not CSE subtrees inside HOF lambdas — let-bind it (the
    # text_analysis.let_bound trick: a lambda variable cannot be
    # re-inlined by CollapseProject) so the scan runs once per row,
    # keeping the documented O(n_tokens * window) row cost
    def _chunks_of(bounds):
        return F.transform(
            F.sequence(F.lit(1), F.size(bounds) - 1),
            lambda j: F.struct(
                F.get(bounds, j - 1).alias("start"),
                (F.get(bounds, j) - F.get(bounds, j - 1)).alias("n_toks"),
                F.md5(
                    F.array_join(
                        F.slice(
                            tk,
                            F.get(bounds, j - 1) + 1,
                            F.get(bounds, j) - F.get(bounds, j - 1),
                        ),
                        " ",
                    )
                ).alias("h"),
            ),
        )

    from fluent_bit_spark.operators.text_analysis import let_bound

    chunks = let_bound(bounds_expr, _chunks_of)
    out = bound.filter(n > 0).select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c")
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.col("_c.start").cast("long").alias("chunk_start"),
        F.col("_c.n_toks").cast("long").alias("n_chunk_tokens"),
        F.col("_c.h").alias("chunk_hash"),
    )


def shard_manifest(
    df: DataFrame,
    shard_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-balanced training-shard manifest WITHOUT a global window:
    one row per shard with (shard, n_docs, n_tokens, n_groups).

    The bin-packing order is (group, id); each doc's global exclusive
    token offset = its group's base offset + the within-group running
    sum, and shard = offset div shard_tokens -- docs stay whole,
    shards fill to ~shard_tokens. The two-level cumsum is the piece
    that scales: within-group running sums parallelize across groups
    (one conv-style window each), and the cross-group cumsum runs over
    the per-group TOTALS only (|groups| rows, broadcast back) -- the
    naive single ORDER BY over the corpus would serialize 100 TB
    through one task.

    NULL groups are rejected (Spark and SQL engines order NULLs
    differently, which would silently permute the packing order)."""
    if not isinstance(shard_tokens, int) or shard_tokens <= 0:
        raise ValueError(
            f"shard_tokens must be a positive int, got {shard_tokens!r}"
        )
    local = token_offsets(
        df.filter(F.col(group_col).isNotNull()), group_col, id_col, text_col
    ).withColumnRenamed("start_offset", "_local")
    totals = local.groupBy(group_col).agg(F.sum("n_tokens").alias("_gtot"))
    # |groups| rows: the unpartitioned window is bounded by group
    # cardinality, never by corpus size
    wt = Window.orderBy(group_col).rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.withColumn(
        "_base", F.coalesce(F.sum("_gtot").over(wt), F.lit(0)).cast("long")
    ).select(group_col, "_base")
    assigned = (
        local.join(F.broadcast(bases), group_col)
        .withColumn("_off", F.col("_base") + F.col("_local"))
        .withColumn("shard", F.expr(f"_off div {shard_tokens}"))
    )
    return assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.countDistinct(group_col).alias("n_groups"),
    )


def pack_greedy(
    df: DataFrame,
    capacity: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy no-straddle (next-fit) packing: walk each group's docs
    in `id_col` order, closing the current bin whenever the next doc
    would overflow `capacity`; docs never straddle bins, and a doc
    larger than `capacity` gets a bin alone. This is the packing the
    module docstring rules out as a *window* — the bin assignment is
    a true serial recursion — so it runs as a per-group serial pass
    under `applyInPandas` instead: groups (shards) bound the serial
    work and parallelize across executors, which is exactly how a
    no-straddle packer shards at 100 TB.

    Returns (id, group, n_tokens, bin, fill_after); `fill_after` is
    the bin's running token fill after placing the doc (the final row
    of each bin carries its total)."""
    if not isinstance(capacity, int) or capacity <= 0:
        raise ValueError(f"capacity must be a positive int, got {capacity!r}")
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )

    def fit(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins, fills = [], []
        b, fill = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > capacity:
                b += 1
                fill = n
            else:
                fill += n
            bins.append(b)
            fills.append(fill)
        pdf["bin"] = bins
        pdf["fill_after"] = fills
        return pdf

    schema = (
        f"{id_col} long, {group_col} string, n_tokens long, "
        "bin long, fill_after long"
    )
    return base.groupBy(group_col).applyInPandas(fit, schema)
