"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force top-k — broadcast the (small) query set,
  JVM-side dot products via zip_with/aggregate, per-query top-k via a
  window. Baseline and oracle-checkable.
- lsh_topk: random-hyperplane LSH — deterministic seeded planes,
  signature prefix buckets, candidates = bucket join, then exact
  cosine within candidates. The 100 TB path: candidate generation is
  an equi-join on the signature, probing `probe_bits` mirrored buckets
  for recall.
- ivf_topk: inverted-file variant — coarse centroids from a seeded
  sample (k-means|| via summary statistics), assign via best centroid,
  probe `nprobe` nearest centroid lists.

All distance math stays in JVM expressions (no Python in the row
path); only centroid training (driver-side, on a bounded sample) uses
numpy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fluent_bit_spark.session import local_frame, persist_tracked


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _norm2(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays (JVM higher-order fns).
    A zero-norm side yields -1.0 — DuckDB's list_cosine_similarity
    convention, and a total function instead of an ANSI
    divide-by-zero/NaN (zero vectors become reachable once callers
    slice dense embeddings, e.g. dim_trunc_eval). The positive branch
    keeps the exact dot/(sqrt*sqrt) expression shape the oracles
    replay."""
    return F.when(
        (_norm2(a) > 0) & (_norm2(b) > 0),
        _dot(a, b) / (_norm(a) * _norm(b)),
    ).otherwise(F.lit(-1.0))


def as_double_array(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    rank_round: int | None = None,
) -> DataFrame:
    """Brute-force top-k: for each query row, the k nearest candidate
    vectors by cosine. Queries are broadcast (small side); candidates
    stream through one scan — no shuffle until the final per-query
    top-k (tiny).

    `rank_round`: when set, the ranking order uses the cosine rounded
    to that many decimals (id tie-break) — required when downstream
    consumes the RANK itself (e.g. rrf_fuse) and must agree with a
    cross-engine oracle: unrounded last-ulp differences between
    engines could otherwise swap near-tied ranks."""
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("_qv")
    )
    v = vectors.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("_vv"))
    scored = v.crossJoin(F.broadcast(q)).withColumn(
        "cosine", cosine_col(F.col("_vv"), F.col("_qv"))
    )
    order = (
        F.round(F.col("cosine"), rank_round) if rank_round is not None
        else F.col("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(order.desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max(|x|),
    q_i = floor(x_i / scale * 127 + 0.5) in [-127, 127] (all-zero codes
    for a zero vector). Returns (id_col, q array<bigint>, n2 bigint =
    sum q_i^2) — the compressed form an ANN serving tier ships instead
    of float32 (4x smaller, integer SIMD dot products).

    Determinism: scale and the quantized values are pure double
    arithmetic in a fixed evaluation order, and floor() of the same
    IEEE double is engine-independent — so codes are bit-identical to
    the DuckDB oracle's. The scale is let-bound through a single-element
    transform (the text_analysis.let_bound trick) so Catalyst evaluates
    the array_max once per row, not once per element inside the
    quantizing lambda.
    """
    from fluent_bit_spark.operators.text_analysis import let_bound

    v = as_double_array(F.col(vec_col))
    staged = df.select(F.col(id_col), v.alias("_v"))
    scale = F.array_max(F.transform(F.col("_v"), F.abs))
    q = let_bound(
        scale,
        lambda s: F.transform(
            F.col("_v"),
            lambda x: F.when(s > 0, F.floor(x / s * 127.0 + 0.5))
            .otherwise(F.lit(0))
            .cast("long"),
        ),
    )
    out = staged.select(F.col(id_col), q.alias("q"))
    n2 = F.aggregate(
        F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    return out.withColumn("n2", n2)


def quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: integer dot
    products on the codes, cosine reconstructed as dot / sqrt(n2_a *
    n2_b). Output (query_id, vec_id, qcosine round-6, rank). The
    memory-bound scale path: at 100 TB the quantized corpus is 4x
    smaller than float32 and the hot loop is integer multiply-add;
    ranking quality degrades only by the quantization error.

    Exactness: every partial sum is an integer far below 2^53, so the
    double-typed oracle accumulates the SAME exact values in any order
    — qcosine is cross-engine deterministic without fixed-point tricks.
    Zero vectors (n2 = 0) are excluded: cosine is undefined for them.
    Dimension-mismatched pairs (zip_with would NULL-pad the dot) are
    excluded too rather than surfacing NULL-scored ranks — mixed-dim
    corpora should be split upstream. Queries broadcast; one scan over
    candidates; only the tiny per-query top-k shuffles (same shape as
    cosine_topk).
    """
    qv = quantize_int8(vectors, vec_col, id_col).filter(F.col("n2") > 0)
    qq = (
        quantize_int8(queries, vec_col, query_id_col)
        .filter(F.col("n2") > 0)
        .withColumnRenamed("q", "_qq")
        .withColumnRenamed("n2", "_qn2")
    )
    dot = F.aggregate(
        F.zip_with(F.col("q"), F.col("_qq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        qv.crossJoin(F.broadcast(qq))
        .withColumn(
            "qcosine",
            F.round(
                dot.cast("double")
                / F.sqrt((F.col("n2") * F.col("_qn2")).cast("double")),
                6,
            ),
        )
        .filter(F.col("qcosine").isNotNull())
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("qcosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "qcosine", "rank")
    )


def _ssq(a: Column, b: Column) -> Column:
    """Squared L2 distance of two double arrays (index-order fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _lit_vec(v) -> Column:
    """A collected centroid re-embedded as an array literal — the
    doubles round-trip driver<->JVM bit-exactly, so expressions over
    the literal produce the SAME values as over the source column."""
    return F.array(*[F.lit(float(x)) for x in v])


def _fmt_double(x) -> str:
    """One double as Spark SQL literal text. repr() is the shortest
    round-trip form and both CPython's float repr and Java's
    Double.parseDouble are correctly rounded, so the parsed literal is
    bit-identical to the driver value (the same guarantee F.lit gives
    through py4j) — pinned by test_sql_double_literal_roundtrip."""
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite centroid component: {x}")
    return repr(x) + "D"


def _vec_sql(v) -> str:
    return "array(" + ",".join(_fmt_double(x) for x in v) + ")"


def _assign_l2_expr(sv_sql: str, cent_rows: list) -> Column:
    """Nearest-centroid assignment: the (d asc, label asc) argmin —
    array_min over (round-6 ssq, label) structs, i.e. the lexicographic
    MIN — evaluated as a MAP-ONLY expression over driver-collected
    centroids, so an iteration's assignment costs zero shuffle (a
    cross-join-and-aggregate assignment shuffles one pre-reduced row
    per id per round, which at 100 TB is a corpus-sized exchange per
    iteration).

    `sv_sql` is a SQL fragment for the subvector (a column name or
    e.g. a slice(...) call). The whole argmin is BUILT as one SQL
    text over a single array-of-structs codebook literal: the earlier
    Column-API construction paid ~k x dim py4j round-trips plus k
    unrolled lambda-fold subtrees PER BUILD, a driver-side constant
    that dominated small-scale wall-clock (5.4 s for a k=8 fit at 500
    rows) and re-compiled per job; one expression parse and a
    loop-not-unrolled codegen shrink it ~10x. Values are unchanged:
    the same zip_with/aggregate fold order over bit-identical
    literals."""
    return F.expr(_assign_l2_sql(sv_sql, cent_rows))


def _assign_l2_sql(sv_sql: str, cent_rows: list) -> str:
    """The SQL text behind _assign_l2_expr — exposed so pq_fit can
    splice per-subspace argmins into one CASE over an exploded
    (sub, subvector) frame (one round = one job for all subspaces)."""
    cents = "array(" + ",".join(
        f"named_struct('cluster', CAST({int(label)} AS BIGINT), "
        f"'cv', {_vec_sql(c)})"
        for label, c in cent_rows
    ) + ")"
    return (
        f"array_min(transform({cents}, s -> named_struct("
        f"'d', round(aggregate(zip_with(({sv_sql}), s.cv, "
        "(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), "
        "(acc, w) -> acc + w), 6), "
        "'cluster', s.cluster))).cluster"
    )


def _collect_centroids(cents: DataFrame) -> list:
    """(label, centroid) rows -> sorted driver-side list. Tiny by
    construction (k codebook entries)."""
    return sorted(
        ((r["label"], list(r["centroid"])) for r in cents.collect()),
        key=lambda t: t[0],
    )


def _py_norm(c) -> float:
    """Driver-side replica of _norm over a collected vector: the SAME
    sequential acc + v*v fold from 0.0 then sqrt, so the result is
    IEEE-double-identical to evaluating _norm on the literal — a
    centroid's norm can therefore be folded to a constant without
    perturbing any downstream round-6 value."""
    import math

    s = 0.0
    for x in c:
        s += float(x) * float(x)
    return math.sqrt(s)


def _assign_cos_expr(v_sql: str, nv_sql: str, cent_rows: list) -> Column:
    """Literal-centroid variant of assign_to_centroids' argmax: the
    same (round-6 cosine desc, label asc) rule — array_min over
    (_nk, cluster, cosine) structs where _nk = -(round-6 cosine x 1e6
    as BIGINT), exact and order-preserving because the cosine is
    already rounded — but evaluated as a MAP-ONLY expression over
    driver-collected centroids. An iteration's assignment then costs
    zero shuffle, where the DataFrame variant shuffles one pre-reduced
    row per id per round (a corpus-sized exchange per iteration at
    100 TB).

    `nv_sql` is a SQL fragment for the caller's precomputed _norm(v)
    column (persisted alongside the prepared vectors) and each
    centroid's norm folds to a driver-side constant (_py_norm), so a
    k-centroid argmax costs k dot-product folds per row instead of k
    full cosines — bit-exact vs cosine_col because the when-condition
    and the divide see the identical doubles in the identical order
    (a zero/NULL-norm side still yields -1.0). Each cosine is built
    exactly once (the two-level transform): higher-order-function
    subtrees get no common-subexpression elimination, so repeating
    the expression in two struct fields would double the per-row
    work. Returns the winning struct; callers extract ["cluster"] /
    ["cosine"].

    Built as ONE SQL text over a single array-of-structs codebook
    literal (label, constant norm, vector) — see _assign_l2_expr for
    why: the Column-API construction was a multi-second driver-side
    constant per build at k=8 x dim=64. A zero-norm centroid keeps
    the constant -1.0 cosine via the `s.nc > 0D` arm of the CASE
    (same value the old per-centroid F.lit(-1.0) produced)."""
    cents = "array(" + ",".join(
        f"named_struct('cluster', CAST({int(label)} AS BIGINT), "
        f"'nc', {_fmt_double(_py_norm(c))}, 'cv', {_vec_sql(c)})"
        for label, c in cent_rows
    ) + ")"
    scored = (
        f"transform({cents}, s -> named_struct("
        f"'cosine', round(CASE WHEN s.nc > 0D AND ({nv_sql}) > 0D THEN "
        f"aggregate(zip_with(({v_sql}), s.cv, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, w) -> acc + w) / (({nv_sql}) * s.nc) "
        "ELSE -1.0D END, 6), "
        "'cluster', s.cluster))"
    )
    return F.expr(
        f"array_min(transform({scored}, s -> named_struct("
        "'_nk', -CAST(round(s.cosine * 1000000, 0) AS BIGINT), "
        "'cluster', s.cluster, 'cosine', s.cosine)))"
    )


def pq_fit(
    vectors: DataFrame,
    m: int = 4,
    k_codes: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    fit_fraction: float | None = None,
    fit_salt: str = "",
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Product-quantization fit: split each vector into `m` equal
    subspaces, learn a `k_codes`-entry codebook per subspace with
    fixed-iteration L2 k-means (seeds = the id < k_codes subvectors,
    exact fixed-point centroid means, round-6 argmin with code-asc
    ties), and encode every vector as m one-byte-ish codes. Returns
    (codes, books, prepped, sub_dim): codes = (id, sub, code), books =
    (sub, label, centroid).

    PQ is the classic memory-bound ANN compression (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search"): a 64-dim
    float32 vector becomes m=4 codes — 64x smaller — and queries scan
    codes with per-subspace lookup tables instead of touching floats.
    Every step here is the deterministic k-means recipe, so the whole
    fit replays as unrolled CTEs in the oracle.

    Scale shape per subspace round: the codebook is k_codes tiny rows,
    so it is COLLECTED and re-embedded as literals each round
    (bit-exact — see _lit_vec) and the assignment is a map-only
    expression (_assign_l2_expr): zero shuffle per round; the only
    exchange left is label_centroids' #labels x sub_dim key shuffle.
    The final encode emits all m code columns from ONE map pass over
    the persisted prepared frame. (The earlier DataFrame loop paid a
    corpus-row exchange per subspace per round plus m encode scans —
    measured 7.0 s vs 4.6 s at sf0.1 locally, and a corpus-sized
    shuffle per iteration at 100 TB.)
    Pass `dim` when known to skip the one-row probe job. Rows whose
    vector is not exactly `dim` long or carries a NULL component are
    EXCLUDED up front (they would NULL-poison the L2 folds and diverge
    from the oracle — the quantized_topk convention).

    `fit_fraction`: the 100 TB fitting recipe — train the codebooks on
    a deterministic content-hash sample of the ids (sampling.hash_bucket
    semantics: md5_32(id || salt) below fraction * 2^32) and encode the
    FULL corpus against the fitted books. The per-round shuffles then
    carry only the sample; the full data pays exactly one argmin pass
    per subspace. The seed centroids stay the id < k_codes subvectors
    whether or not they fall in the sample (fixed, oracle-replayable).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1 (got {iters})")
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sd = dim // m
    prepped = persist_tracked(
        vectors.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("_v"))
        .filter(
            (F.size("_v") == dim) & ~F.exists("_v", lambda x: x.isNull())
        )
    )
    sampled = fit_fraction is not None
    if sampled:
        if not 0.0 < fit_fraction <= 1.0:
            raise ValueError(f"fit_fraction must be in (0, 1] (got {fit_fraction})")
        from fluent_bit_spark.operators.sampling import hash_sample

        # one cheap emptiness probe up front: an empty sample would
        # otherwise fit empty codebooks and encode zero rows silently
        if hash_sample(prepped, id_col, fit_fraction, fit_salt).isEmpty():
            raise ValueError(
                f"fit_fraction={fit_fraction} selects no training rows — "
                "raise it (or pass fit_fraction=None to fit on everything)"
            )
    spark = vectors.sparkSession
    # driver-side literal fitting loop, ALL m subspaces per job: the
    # codebooks are m x k_codes tiny rows, so each round collects them
    # and re-embeds them as literals — assignments stay map-only
    # expressions (zero shuffle per round; the only exchange left per
    # round is label_centroids' m x k_codes x sub_dim key shuffle).
    # Seeds come from ONE collect of the id < k_codes vectors, sliced
    # driver-side (pure subsetting — bit-identical to F.slice), and
    # each round fits every subspace from ONE exploded (sub, sv) pass
    # with a per-sub CASE argmin and a composite sub * k_codes + label
    # centroid key: the earlier per-subspace loop paid m seed collects
    # up front and m sample scans + collect jobs PER ROUND (8 driver
    # jobs for m=4, iters=2, where this shape pays 2).
    seed_rows = prepped.filter(F.col(id_col) < k_codes).select(
        F.col(id_col), F.col("_v")
    ).collect()
    if not seed_rows:
        # the DataFrame loop silently emitted an empty codes frame
        # here (crossJoin against empty cents); an empty codebook
        # is always a caller error, so fail loudly instead
        raise ValueError(
            f"PQ seed codebook is empty: no rows with {id_col} < "
            f"{k_codes} in the (dim-valid) corpus"
        )
    # per-subspace sorted (label, centroid) rows
    fitted: list[list] = [
        sorted(
            (int(r[id_col]), list(r["_v"])[s * sd : (s + 1) * sd])
            for r in seed_rows
        )
        for s in range(m)
    ]
    if iters > 1:
        if sampled:
            from fluent_bit_spark.operators.sampling import hash_sample

            train = hash_sample(prepped, id_col, fit_fraction, fit_salt)
        else:
            train = prepped
        subrows = train.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("sub"),
                            F.slice("_v", s * sd + 1, sd).alias("sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("_e")
        ).select(F.col("_e.sub").alias("sub"), F.col("_e.sv").alias("sv"))
        for _ in range(iters - 1):
            case_sql = (
                "CASE sub "
                + " ".join(
                    f"WHEN {s} THEN ({_assign_l2_sql('sv', fitted[s])})"
                    for s in range(m)
                )
                + " END"
            )
            members = subrows.select(
                (F.col("sub") * F.lit(k_codes) + F.expr(case_sql)).alias(
                    "_lab2"
                ),
                "sv",
            )
            packed = _collect_centroids(
                label_centroids(members, "sv", "_lab2").select(
                    "label", "centroid"
                )
            )
            fitted = [[] for _ in range(m)]
            for lab2, c in packed:
                fitted[lab2 // k_codes].append((lab2 % k_codes, c))
            # packed is label-sorted, so each per-sub list stays sorted
    # every subspace's final encode is a literal expression, so ALL m
    # code columns come out of ONE map pass over the prepared frame
    # (the per-subspace frame union paid m corpus scans)
    code_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                _assign_l2_expr(
                    f"slice(_v, {s * sd + 1}, {sd})", fitted[s]
                ).alias("code"),
            )
            for s in range(m)
        ]
    )
    codes = prepped.select(
        F.col(id_col), F.explode(code_structs).alias("_sc")
    ).select(id_col, F.col("_sc.sub").alias("sub"), F.col("_sc.code").alias("code"))
    books = local_frame(
        spark,
        [
            (s, int(label), [float(x) for x in c])
            for s in range(m)
            for label, c in fitted[s]
        ],
        "sub int, label bigint, centroid array<double>",
    )
    return codes, books, prepped, sd


def pq_adc_topk(
    vectors: DataFrame,
    is_query: Column,
    m: int = 4,
    k_codes: int = 4,
    iters: int = 2,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_fraction: float | None = None,
    fit_salt: str = "",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    an m x k_codes lookup table of exact squared-L2 distances to every
    codebook entry, and a candidate's distance is the SUM of its m
    table cells — the candidate floats are never touched. Output
    (query_id, vec_id, adc_dist, rank), nearest first.

    Per-cell distances are fixed-pointed to BIGINT (round(ssq * 1e6))
    before the per-candidate sum, so accumulation is integer and
    order-independent — the oracle replays the table and the sum
    exactly. A NULL is_query counts as candidate (the IVF convention).

    Scale shape: the fit is pq_fit; the distance table is (queries x m
    x k_codes) rows — broadcast; the scan joins each candidate's m code
    rows to the table (equi-join on sub+code) and one partial-agg
    shuffle on (query, candidate) sums the m cells.
    """
    is_query = F.coalesce(is_query, F.lit(False))
    codes, books, prepped, sd = pq_fit(
        vectors, m, k_codes, iters, vec_col, id_col,
        fit_fraction=fit_fraction, fit_salt=fit_salt,
    )
    dtab = _adc_query_tables(prepped, books, is_query, m, sd, id_col)
    cand_ids = prepped.filter(~is_query).select(id_col)
    cand_codes = codes.join(cand_ids, id_col, "left_semi")
    adc = (
        cand_codes.join(F.broadcast(dtab), ["sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("fx").alias("_fx"))
    )
    return _adc_rank(adc, k, id_col)


def _adc_query_tables(
    pq_prepped: DataFrame,
    books: DataFrame,
    is_query: Column,
    m: int,
    sd: int,
    id_col: str,
) -> DataFrame:
    """Per-query ADC distance tables (query_id, sub, code, fx) —
    fixed-point round(ssq * 1e6) cells, queries x m x k_codes rows,
    always the broadcast side. THE one Spark-side definition of the
    ADC convention (scale constant, _ssq tree, sub slicing), shared by
    pq_adc_topk and ivfpq_topk and mirrored by _pq_ctes' pqt."""
    from functools import reduce

    qs = pq_prepped.filter(is_query).select(
        F.col(id_col).alias("query_id"), F.col("_v")
    )
    qsubs = reduce(
        lambda a, b: a.unionByName(b),
        [
            qs.select(
                "query_id",
                F.lit(s).alias("sub"),
                F.slice("_v", s * sd + 1, sd).alias("qv"),
            )
            for s in range(m)
        ],
    )
    return qsubs.join(F.broadcast(books), "sub").select(
        "query_id",
        "sub",
        F.col("label").alias("code"),
        F.round(_ssq(F.col("qv"), F.col("centroid")) * 1_000_000)
        .cast("long")
        .alias("fx"),
    )


def _adc_rank(adc: DataFrame, k: int, id_col: str) -> DataFrame:
    """Final ADC ranking (fx asc, id tie-break) and fixed-point
    unscaling, shared by pq_adc_topk and ivfpq_topk."""
    w = Window.partitionBy("query_id").orderBy(F.col("_fx").asc(), F.col(id_col))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            F.round(F.col("_fx") / 1_000_000.0, 6).alias("adc_dist"),
            "rank",
        )
    )


def dim_trunc_eval(
    vectors: DataFrame,
    is_query: Column,
    keep_dims: int = 16,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: overlap@k
    between the exact cosine top-k on the FULL vectors and on just the
    first `keep_dims` components. Output one row per query:
    (query_id, n_common, overlap). The scorecard that tells you whether
    serving truncated embeddings (keep_dims/dim of the memory and
    FLOPs) keeps enough ranking quality — measured, not guessed (the
    minhash_eval convention for the embedding axis).

    Both rankings use the round-6 cosine with id tie-break, so the
    oracle replays them exactly. NULL is_query counts as candidate;
    NULL ids are excluded (they could claim top-k slots yet never
    match the intersection join); ids must be unique per row (the
    per-query ranking windows assume one query per id).

    Scale shape: ONE broadcast crossJoin scores both the full and the
    truncated cosine per candidate pass; two per-query rank windows
    over the scored rows, then a count of the doubly-top-k survivors —
    nothing bigger than the scored top-k lists ever shuffles.
    """
    is_query = F.coalesce(is_query, F.lit(False))
    prepped = vectors.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("_v")
    )
    qs = prepped.filter(is_query).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.slice("_v", 1, keep_dims).alias("_qt"),
    )
    cands = prepped.filter(~is_query).withColumn(
        "_vt", F.slice("_v", 1, keep_dims)
    )
    scored = cands.crossJoin(F.broadcast(qs)).select(
        "query_id",
        id_col,
        F.round(cosine_col(F.col("_v"), F.col("_qv")), 6).alias("_cf"),
        F.round(cosine_col(F.col("_vt"), F.col("_qt")), 6).alias("_ct"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("_cf").desc(), F.col(id_col))
    wt = Window.partitionBy("query_id").orderBy(F.col("_ct").desc(), F.col(id_col))
    common = (
        scored.withColumn("_rf", F.row_number().over(wf))
        .withColumn("_rt", F.row_number().over(wt))
        .filter((F.col("_rf") <= k) & (F.col("_rt") <= k))
        .groupBy("query_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        qs.select("query_id")
        .distinct()
        # both sides are #queries rows; broadcast beats the SortMergeJoin
        # Spark picks for two unknown-size aggregates
        .join(F.broadcast(common), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("overlap"),
        )
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH

def hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(nbits, dim).tolist()


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit signature: sign of the dot product against each seeded
    hyperplane, packed into a long."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(x)) for x in p]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for p in planes
    ]
    sig = F.lit(0).cast("long")
    for i, b in enumerate(bits):
        sig = sig + (b * F.lit(1 << i))
    return sig


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 12,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signature; candidates
    share the query's bucket or any bucket within `probe_bits` bit
    flips (multi-probe widens recall at C(nbits, <=probe_bits) probes
    per query); exact cosine within candidates."""
    import itertools

    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    planes = hyperplanes(dim, nbits)
    v = vectors.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("_vv"),
    ).withColumn("sig", hyperplane_signature(F.col("_vv"), planes))
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("_qv")
    ).withColumn("sig0", hyperplane_signature(F.col("_qv"), planes))
    # multi-probe: original signature + every bucket within probe_bits
    # bit flips (all masks of popcount 1..probe_bits)
    masks = [
        sum(1 << i for i in combo)
        for r in range(1, max(0, probe_bits) + 1)
        for combo in itertools.combinations(range(nbits), r)
    ]
    probes = [F.col("sig0")] + [
        F.col("sig0").bitwiseXOR(F.lit(m)) for m in masks
    ]
    q = q.withColumn("sig", F.explode(F.array(*probes)))
    scored = v.join(F.broadcast(q), "sig").withColumn(
        "cosine", cosine_col(F.col("_vv"), F.col("_qv"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.select(query_id_col, id_col, "cosine")
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted file with sampled centroids)

def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    ncentroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    sample: int = 2048,
    seed: int = 42,
    iters: int = 5,
) -> DataFrame:
    """IVF: train coarse centroids on a bounded driver-side sample
    (deterministic), assign every vector to its nearest centroid
    (JVM expression over a broadcast centroid array), then search only
    the `nprobe` centroid lists nearest to each query.

    The training sample is the `sample` ids with the LOWEST content
    hash (hash-ordered takeOrdered: per-partition top-K then merge) --
    partition-invariant and corpus-representative, unlike a bare
    ``limit(sample)`` which takes an arbitrary single-partition prefix
    and would train on one shard's distribution at scale."""
    from fluent_bit_spark.operators.sampling import hash_bucket

    samp_rows = (
        vectors.select(
            F.col(id_col), as_double_array(F.col(vec_col)).alias("_v")
        )
        .orderBy(
            hash_bucket(F.col(id_col), salt=f"ivf{seed}"), F.col(id_col)
        )
        .limit(sample)
        .collect()
    )
    samp = np.array([r["_v"] for r in samp_rows], dtype=float)
    rng = np.random.RandomState(seed)
    cents = samp[rng.choice(len(samp), size=min(ncentroids, len(samp)), replace=False)]
    for _ in range(iters):
        d = ((samp[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cents)):
            m = samp[assign == c]
            if len(m):
                cents[c] = m.mean(0)

    def nearest_centroids(vec: Column, n: int) -> Column:
        dists = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            vec,
                            F.array(*[F.lit(float(x)) for x in c]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ).alias("d"),
                    F.lit(i).alias("c"),
                )
                for i, c in enumerate(cents)
            ]
        )
        return F.slice(F.array_sort(dists), 1, n)

    v = vectors.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("_vv"))
    v = v.withColumn("cell", nearest_centroids(F.col("_vv"), 1)[0]["c"])
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("_qv")
    )
    q = q.withColumn("probe", F.explode(F.transform(
        nearest_centroids(F.col("_qv"), nprobe), lambda s: s["c"]
    )))
    scored = v.join(F.broadcast(q), v.cell == q.probe).withColumn(
        "cosine", cosine_col(F.col("_vv"), F.col("_qv"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate embedding pairs: hyperplane-signature blocking +
    exact cosine verification (cosine >= threshold, id_a < id_b)."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])

    planes = hyperplanes(dim, nbits)
    # persisted (shared registry with dedup; release via
    # session.release_persisted): the bucket self-join consumes
    # signatures on both sides
    v = persist_tracked(
        vectors.select(
            F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("vv")
        ).withColumn("sig", hyperplane_signature(F.col("vv"), planes))
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, on=[F.col("a.sig") == F.col("b.sig"), F.col("a.id") < F.col("b.id")])
        .withColumn("cosine", cosine_col(F.col("a.vv"), F.col("b.vv")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# centroid classification (label centroids + nearest-centroid assignment)


def label_centroids(
    vectors: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label mean vector — (label, n_vecs, centroid array<double>).

    Components are fixed-pointed to round(x * scale) BIGINT before
    summation, so the aggregation is pure integer arithmetic:
    order-independent, hence bit-identical across engines and
    partitionings (float summation order would differ run to run).
    The mean divides the exact integer sum once at the end.

    Scale shape: posexplode to (label, pos) keys — one shuffle of
    #labels x dim keys with map-side partial sums; the centroid array
    reassembles from an array_sort'ed collect_list over dim entries
    per label (bounded), never over vectors.
    """
    comps = vectors.select(
        F.col(label_col).alias("label"),
        F.posexplode(as_double_array(F.col(vec_col))).alias("pos", "x"),
    ).select(
        "label", "pos", F.round(F.col("x") * scale).cast("long").alias("fx")
    )
    sums = comps.groupBy("label", "pos").agg(
        F.sum("fx").alias("s"), F.count("*").alias("n")
    )
    return (
        sums.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("_ps"),
        )
        .select(
            "label",
            "n_vecs",
            F.transform(
                "_ps", lambda ps: ps["s"] / (F.lit(float(scale)) * F.col("n_vecs"))
            ).alias("centroid"),
        )
    )


def centroid_assign(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    scale: int = 1_000_000,
) -> DataFrame:
    """Nearest-centroid classification: every vector scored against
    every label centroid (broadcast — #labels rows), winner by
    (cosine desc, label asc). Output (id, label, pred_label, cosine,
    correct) with cosine rounded to 6 decimals for cross-engine rank
    lockstep (same convention as cosine_topk).

    The label-purity / cluster-assignment primitive: at corpus scale
    the vectors stream map-side against the broadcast centroid table;
    the only shuffles are the centroid build (#labels x dim keys) and
    the per-vector argmax window on the id."""
    cents = label_centroids(vectors, vec_col, label_col, scale)
    assigned = assign_to_centroids(
        vectors, cents, vec_col, id_col, carry_cols=(label_col,)
    )
    return assigned.select(
        id_col,
        F.col(label_col).alias("label"),
        F.col("cluster").alias("pred_label"),
        "cosine",
        (F.col(label_col) == F.col("cluster")).alias("correct"),
    )


def assign_to_centroids(
    vectors: DataFrame,
    cents: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Each vector's nearest centroid from `cents` (label, centroid):
    (id, *carry_cols, cluster, cosine) by (round-6 cosine desc, label
    asc) argmax. Centroid table broadcast; vectors stream map-side;
    `carry_cols` ride through so callers need no re-join on the id.

    The argmax is MIN over a (_negkey, cluster, cosine, *carries)
    struct, where _negkey = -(round-6 cosine x 1e6 as BIGINT) — exact
    and order-preserving because the cosine is already rounded to 6
    decimals, and null cosines coalesce to a sentinel ABOVE every real
    key (the window's desc-nulls-last). Struct ordering then IS the
    (cosine desc, cluster asc) rule for ANY orderable cluster type
    (labels may be strings), and an aggregate gets map-side partial
    combining, so the shuffle carries one pre-reduced row per id
    instead of the row_number window's full n x #centroids sort
    (bit-identical to the window it replaced; fields after the
    decisive (_negkey, cluster) pair never influence the comparison
    since cluster is unique per id)."""
    scored = (
        vectors.select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            as_double_array(F.col(vec_col)).alias("_v"),
        )
        .crossJoin(
            F.broadcast(cents.select(F.col("label").alias("cluster"), "centroid"))
        )
        .withColumn(
            "cosine", F.round(cosine_col(F.col("_v"), F.col("centroid")), 6)
        )
    )
    negkey = F.coalesce(
        -F.round(F.col("cosine") * 1_000_000).cast("long"),
        F.lit(3_000_000).cast("long"),  # > any real -(-1.0 * 1e6)
    )
    best = scored.groupBy(id_col).agg(
        F.min(
            F.struct(
                negkey.alias("_nk"),
                F.col("cluster"),
                F.col("cosine"),
                *[F.col(c) for c in carry_cols],
            )
        ).alias("_b")
    )
    return best.select(
        id_col,
        *[F.col(f"_b.{c}").alias(c) for c in carry_cols],
        F.col("_b.cluster").alias("cluster"),
        F.col("_b.cosine").alias("cosine"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k0: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09):
    combine N per-query rankings — each input frame carrying
    (query_col, id_col, rank) — by summing 1/(k0 + rank) per candidate
    and re-ranking. The standard hybrid-retrieval merge (sparse BM25 +
    dense cosine) that needs no score calibration across rankers.

    Per-list contributions are fixed-pointed to BIGINT (round(1e6 /
    (k0+rank))) before the sum, so fusion is independent of list and
    partition order; ties break on the candidate id. Output:
    (query_col, id_col, rrf, n_lists, rank<=k).

    Scale shape: a unionAll of the (already small, <= depth-per-query)
    ranking frames, one partial-agg shuffle on (query, candidate), and
    a per-query top-k window — the fused stage never touches the
    corpus, only the rankers' outputs.
    """
    import functools

    parts = [
        r.select(F.col(query_col), F.col(id_col), F.col("rank")) for r in rankings
    ]
    u = functools.reduce(lambda a, b: a.unionByName(b), parts)
    fx = F.round(F.lit(1_000_000.0) / (F.lit(k0) + F.col("rank"))).cast("long")
    g = (
        u.withColumn("_fx", fx)
        .groupBy(query_col, id_col)
        .agg(F.sum("_fx").alias("_rrf_fx"), F.count("*").alias("n_lists"))
    )
    w = Window.partitionBy(query_col).orderBy(F.col("_rrf_fx").desc(), F.col(id_col))
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_col,
            id_col,
            F.round(F.col("_rrf_fx") / 1_000_000.0, 6).alias("rrf"),
            "n_lists",
            "rank",
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embeddings with fixed-iteration spherical k-means,
    then within each cluster mark a vector as a duplicate when some
    SMALLER-id cluster-mate has round-6 cosine >= threshold — the
    deterministic keep-first greedy. Output: (id, cluster, keep), one
    row per input vector.

    Why cluster first: the near-dup relation needs pairwise cosines,
    and clustering caps the quadratic term at (cluster size)^2 instead
    of corpus^2 — at 100 TB you scale `k` with the corpus so cluster
    sizes stay bounded, and each cluster's pair block is an equi-join
    on the cluster id (one shuffle, AQE-splittable when a cluster
    skews). The prepared vector frame is persisted once and feeds the
    k-means rounds, both pair sides, and the final projection.

    Deterministic end-to-end: k-means is reproducible (see
    kmeans_assign), pair cosines are round-6, and the keep rule is a
    pure order on ids — the oracle replays it as an unrolled CTE chain
    plus a within-cluster self-join.
    """
    # reuse the fit's prepared double-array frame — re-preparing from
    # `vectors` would scan/cast/persist the embeddings a second time;
    # the cluster label is the fit's map-only literal expression, so
    # labeling costs no corpus self-join
    _, _, prepped, cent_rows = _kmeans_fit(vectors, k, iters, vec_col, id_col)
    labeled = persist_tracked(
        prepped.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            F.col("_nv"),
            _assign_cos_expr(f"`{vec_col}`", "`_nv`", cent_rows)["cluster"].alias(
                "cluster"
            ),
        )
    )
    a = labeled.select(
        "cluster", F.col(id_col).alias("_a"),
        F.col("_v").alias("_va"), F.col("_nv").alias("_na"),
    )
    b = labeled.select(
        "cluster", F.col(id_col).alias("_b"),
        F.col("_v").alias("_vb"), F.col("_nv").alias("_nb"),
    )
    # pair cosine reuses the persisted norms: dot/(na*nb) sees the
    # identical doubles cosine_col's dot/(sqrt*sqrt) would (the norm
    # column IS that sqrt, computed once per vector instead of once
    # per pair), and the `na > 0` guard is exactly cosine_col's
    # `norm2 > 0` (sqrt is exact at zero and monotone) — so round-6
    # values are unchanged while the per-pair fold work drops from
    # three O(dim) folds to one
    pair_cos = F.when(
        (F.col("_na") > 0) & (F.col("_nb") > 0),
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
    ).otherwise(F.lit(-1.0))
    dup = (
        a.join(b, "cluster")
        .filter(F.col("_a") < F.col("_b"))
        .filter(F.round(pair_cos, 6) >= threshold)
        .select(F.col("_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        labeled.select(id_col, "cluster")
        .join(dup, id_col, "left")
        .select(id_col, "cluster", F.col("_dup").isNull().alias("keep"))
    )


def kmeans_assign(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Fixed-iteration spherical k-means (Lloyd with cosine):
    deterministic seeding (the vectors with id < k are the initial
    centroids, cluster id = seed id), `iters` rounds of
    assign -> exact fixed-point centroid recompute, returning the
    final assignment (id, cluster, cosine).

    Everything is deterministic — round-6 cosine argmax with
    cluster-asc ties, and label_centroids' integer-sum means — so the
    whole iteration is reproducible across engines and partitionings
    (oracle = unrolled per-iteration CTEs, the bpe_merges pattern).
    A cluster that loses all members simply drops out of later rounds.

    Scale shape per round: one map-only literal-centroid assign pass
    over the vectors (the codebook is k tiny rows, collected and
    re-embedded bit-exactly each round — the pq_fit recipe) + the
    #clusters x dim centroid shuffle. Zero corpus-sized exchange per
    iteration.
    """
    assigned, _, _, _ = _kmeans_fit(vectors, k, iters, vec_col, id_col)
    return assigned.orderBy(id_col)


def _kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame, DataFrame, list]:
    """kmeans_assign's fitting loop, returning (assigned, cents,
    prepped, cent_rows): the final assignment (id, cluster, cosine),
    the centroids that PRODUCED it as a DataFrame (what an IVF probe
    must rank against) and as the driver-side (label, vector) list —
    so IVF / SemDeDup callers can label ANY frame with a map-only
    `_assign_cos_expr` instead of re-joining the assignment on the id.

    The codebook is k tiny rows, so each round collects it and
    re-embeds it as literals (bit-exact — `_lit_vec`): assignments
    become map-only expressions, and the only exchange per round is
    label_centroids' #labels x dim key shuffle. (The earlier
    DataFrame loop paid a per-id pre-reduced exchange PLUS a corpus
    self-join per round — both corpus-sized at 100 TB.)"""
    if iters < 1:
        raise ValueError(f"iters must be >= 1 (got {iters})")
    # the prepared (id, double-array, norm) frame feeds every round's
    # assign pass and the callers — persist once instead of re-casting
    # per use; the persisted _nv norm is what lets every literal-cosine
    # round pay one dot fold per centroid instead of a full cosine
    arr = as_double_array(F.col(vec_col))
    prepped = persist_tracked(
        vectors.select(
            F.col(id_col),
            arr.alias(vec_col),
            _norm(arr).alias("_nv"),
        )
    )
    cent_rows = _collect_centroids(
        prepped.filter(F.col(id_col) < k).select(
            F.col(id_col).alias("label"), F.col(vec_col).alias("centroid")
        )
    )
    if not cent_rows:
        # the join-based loop silently produced an empty assignment
        # here; an empty seed set is always a caller error (same
        # convention as pq_fit)
        raise ValueError(
            f"k-means seed set is empty: no rows with {id_col} < {k}"
        )
    for _ in range(iters - 1):
        members = prepped.select(
            _assign_cos_expr(f"`{vec_col}`", "`_nv`", cent_rows)["cluster"].alias(
                "label"
            ),
            F.col(vec_col),
        )
        cent_rows = _collect_centroids(
            label_centroids(members, vec_col, "label").select(
                "label", "centroid"
            )
        )
    best = _assign_cos_expr(f"`{vec_col}`", "`_nv`", cent_rows)
    assigned = prepped.select(
        F.col(id_col),
        best["cluster"].alias("cluster"),
        best["cosine"].alias("cosine"),
    )
    cents = local_frame(
        vectors.sparkSession,
        [(int(label), [float(x) for x in c]) for label, c in cent_rows],
        "label bigint, centroid array<double>",
    )
    return assigned, cents, prepped, cent_rows


def _ivf_probes(
    prepped: DataFrame,
    cents: DataFrame,
    is_query: Column,
    nprobe: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The IVF probe table shared by ivf_topk_fixed and ivfpq_topk:
    each query's `nprobe` nearest centroids by round-6 cosine with
    label-asc ties. Output (query_id, cluster, _qv) — tiny (queries x
    nprobe rows), always the broadcast side of the cell join."""
    qs = prepped.filter(is_query).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    probe_scored = qs.crossJoin(
        F.broadcast(cents.select(F.col("label").alias("cluster"), "centroid"))
    ).withColumn("_pc", F.round(cosine_col(F.col("_qv"), F.col("centroid")), 6))
    wq = Window.partitionBy("query_id").orderBy(F.col("_pc").desc(), "cluster")
    return (
        probe_scored.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "cluster", "_qv")
    )


def ivfpq_topk(
    vectors: DataFrame,
    is_query: Column,
    k_clusters: int = 8,
    km_iters: int = 3,
    nprobe: int = 2,
    m: int = 4,
    k_codes: int = 4,
    pq_iters: int = 2,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ: the composition that actually serves ANN at 100 TB —
    IVF cells bound WHICH candidates each query touches
    (~nprobe/k_clusters of the corpus), PQ codes bound WHAT is read
    per candidate (m table-lookup cells instead of the float vector).
    Output (query_id, vec_id, adc_dist, rank), nearest first.

    This is the shared-codebook (non-residual) IVF-PQ variant: one PQ
    codebook set over the raw vectors serves every cell, rather than
    Jegou et al.'s per-cell residual encoding. Chosen deliberately:
    (a) codebooks stay a broadcast-sized global table instead of
    k_clusters x m codebooks rebuilt per cell, and (b) every step is
    the deterministic fixed-iteration recipe, so the full path replays
    as unrolled CTEs in the oracle. The residual refinement buys
    recall, not a different distributed shape — measure with the
    dim_trunc_eval/minhash_eval scorecard convention before paying
    for it.

    Scale shape: coarse fit = kmeans_assign's broadcast rounds; PQ fit
    = pq_fit (optionally sampled); the probe table (queries x nprobe)
    and the ADC table (queries x m x k_codes) broadcast; the only
    corpus-sized work is the cell-restricted candidate join and one
    partial-agg shuffle summing m cells per (query, candidate).
    NULL is_query counts as candidate (the IVF convention)."""
    is_query = F.coalesce(is_query, F.lit(False))
    _, cents, prepped, cent_rows = _kmeans_fit(
        vectors, k_clusters, km_iters, vec_col, id_col
    )
    codes, books, pq_prepped, sd = pq_fit(
        vectors, m, k_codes, pq_iters, vec_col, id_col, dim=dim
    )
    probes = _ivf_probes(prepped, cents, is_query, nprobe, vec_col, id_col)
    # candidate cell labels are the fit's map-only literal expression —
    # no corpus self-join against the assignment frame
    cand_cells = prepped.filter(~is_query).withColumn(
        "cluster", _assign_cos_expr(f"`{vec_col}`", "`_nv`", cent_rows)["cluster"]
    )
    pairs = cand_cells.join(
        F.broadcast(probes.select("query_id", "cluster")), "cluster"
    ).select("query_id", id_col)
    dtab = _adc_query_tables(pq_prepped, books, is_query, m, sd, id_col)
    adc = (
        pairs.join(codes, id_col)
        .join(F.broadcast(dtab), ["query_id", "sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("fx").alias("_fx"))
    )
    return _adc_rank(adc, k, id_col)


def ivf_topk_fixed(
    vectors: DataFrame,
    is_query: Column,
    k_clusters: int = 8,
    iters: int = 3,
    nprobe: int = 2,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN with a deterministic coarse quantizer: the inverted-file
    cells come from fixed-iteration spherical k-means (kmeans_assign's
    chain — seeded, round-6 argmax, exact fixed-point centroids), each
    query probes its `nprobe` nearest centroids, and exact round-6
    cosine ranks the candidates inside the probed cells only. Output
    (query_id, vec_id, cosine, rank).

    Unlike ivf_topk (whose driver-trained centroids are data-dependent
    floats no SQL oracle can replay), everything here derives from the
    reproducible k-means rounds — so the full IVF path is
    oracle-checkable end to end.

    Scale shape: fitting is kmeans_assign's per-round broadcast passes;
    probing broadcasts the tiny (queries x nprobe) probe table and the
    candidate scan touches only vectors in probed cells (the IVF
    selectivity win: ~nprobe/k_clusters of the corpus per query).
    `is_query` partitions one input frame so the quantizer is fitted
    over the SAME population the oracle's CTE chain sees. A NULL
    predicate value counts as "not a query" (the row stays a
    candidate) — without the coalesce, NULL rows would shape the
    quantizer yet silently vanish from both sides of the partition.
    """
    is_query = F.coalesce(is_query, F.lit(False))
    _, cents, prepped, cent_rows = _kmeans_fit(
        vectors, k_clusters, iters, vec_col, id_col
    )
    probes = _ivf_probes(prepped, cents, is_query, nprobe, vec_col, id_col)
    # cell labels come from the fit's map-only literal expression —
    # no corpus self-join against the assignment frame
    cells = prepped.filter(~is_query).withColumn(
        "cluster", _assign_cos_expr(f"`{vec_col}`", "`_nv`", cent_rows)["cluster"]
    )
    scored = cells.join(F.broadcast(probes), "cluster").withColumn(
        "cosine", F.round(cosine_col(F.col(vec_col), F.col("_qv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def ann_recall_eval(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 4,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Measure, don't guess — for the ANN axis: recall@k of the
    hyperplane-LSH path (`lsh_topk`, the 100 TB serving plan) against
    the exact brute-force cosine top-k (`cosine_topk`, the truth) for
    the same queries and operating point. One row per query:
    (query_id, n_common, recall_at_k). The minhash_eval /
    dim_trunc_eval convention completed for the bucketed-ANN family:
    this is the number that says whether (nbits, probe_bits) clears
    the recall bar BEFORE a full-corpus rollout.

    Scale shape: both rankings are the existing operators' plans
    (broadcast queries, bucket equi-join); the overlap join runs over
    two #queries×k top-k lists, never the corpus.
    """
    exact = cosine_topk(
        candidates, queries, k=k,
        vec_col=vec_col, id_col=id_col, query_id_col=query_id_col,
    )
    approx = lsh_topk(
        candidates, queries, k=k, nbits=nbits, probe_bits=probe_bits,
        vec_col=vec_col, id_col=id_col, query_id_col=query_id_col,
    )
    common = (
        approx.select(query_id_col, id_col)
        .join(exact.select(query_id_col, id_col), [query_id_col, id_col])
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        queries.select(query_id_col)
        .distinct()
        .join(F.broadcast(common), query_id_col, "left")
        .select(
            query_id_col,
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall_at_k"),
        )
    )


def embedding_drift(
    vectors: DataFrame,
    cur: Column,
    by: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Embedding-distribution drift per group between a reference
    window (``cur`` = 0) and the current window (``cur`` = 1): the
    vector analog of ks_drift/tvd_drift — when the corpus' embedding
    space moves (new topics, encoder version change, upstream filter
    change), the per-group centroid rotates before any scalar metric
    notices.

    Output (group, n_ref, n_cur, centroid_cos): round-6 cosine between
    the two side centroids, 1.0 = no drift. Centroids use the exact
    fixed-point integer sums of label_centroids (order-independent,
    engine-identical); only the final cosine is float, rounded by the
    repo's cross-engine round-6 convention.

    Scale shape: one shuffle of (group, side, pos) keys with map-side
    partial integer sums; the side join runs over #groups x dim rows,
    never over vectors."""
    sided = vectors.withColumn("_cur", cur.cast("int"))
    comps = sided.select(
        F.col(by).alias("label"),
        "_cur",
        F.posexplode(as_double_array(F.col(vec_col))).alias("pos", "x"),
    ).select(
        "label",
        "_cur",
        "pos",
        F.round(F.col("x") * scale).cast("long").alias("fx"),
    )
    sums = comps.groupBy("label", "_cur", "pos").agg(
        F.sum("fx").alias("s"), F.count("*").alias("n")
    )
    nv = sums.groupBy("label", "_cur").agg(F.max("n").alias("n_vecs"))
    c = sums.join(nv, ["label", "_cur"]).withColumn(
        "c", F.col("s") / (F.lit(float(scale)) * F.col("n_vecs"))
    )
    a = c.filter(F.col("_cur") == 0).select(
        "label", "pos", "c", F.col("n_vecs").alias("n_ref")
    )
    b = c.filter(F.col("_cur") == 1).select(
        "label",
        "pos",
        F.col("c").alias("cb"),
        F.col("n_vecs").alias("n_cur"),
    )
    j = a.join(b, ["label", "pos"])
    return j.groupBy("label").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.round(
            F.sum(F.col("c") * F.col("cb"))
            / (
                F.sqrt(F.sum(F.col("c") * F.col("c")))
                * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
            ),
            6,
        ).alias("centroid_cos"),
    )


def maxsim_topk(
    vectors: DataFrame,
    is_query: Column,
    n_tokens: int = 8,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    MaxSim): each vector is treated as `n_tokens` sub-vectors (here
    sliced from the dense embedding — in production the encoder emits
    them directly; the slicing keeps the fixture self-contained), and

        score(q, d) = sum over q tokens of max over d tokens of cos

    Token-pair cosines are fixed-pointed to round(cos * 1e6) BIGINT
    BEFORE the max/sum, so the MaxSim aggregation is pure integer
    arithmetic — order-independent and engine-exact; only the final
    display score divides back. Output (query_id, vec_id, maxsim,
    rank), best first, ties by id.

    Scale shape: queries broadcast with their token arrays; each
    candidate row computes the full n_tokens x n_tokens interaction
    in-row with array HOFs (no token-level explode of the corpus), so
    the corpus-side cost stays one map pass over candidates x queries
    — the same brute-force baseline contract as cosine_topk, with the
    IVF/LSH cell restriction as the documented scale path."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    if dim % n_tokens:
        raise ValueError(f"dim {dim} not divisible by n_tokens {n_tokens}")
    sub = dim // n_tokens
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(n_tokens - 1)),
        lambda i: F.slice(F.col("_e"), i * sub + 1, sub),
    )
    base = vectors.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("_e"),
        F.coalesce(is_query, F.lit(False)).alias("_q"),
    ).withColumn("_toks", toks)
    qs = base.filter(F.col("_q")).select(
        F.col(id_col).alias("query_id"), F.col("_toks").alias("_qtoks")
    )
    cands = base.filter(~F.col("_q")).select(id_col, "_toks")
    fx = F.aggregate(
        F.transform(
            F.col("_qtoks"),
            lambda qt: F.array_max(
                F.transform(
                    F.col("_toks"),
                    lambda dt: F.round(cosine_col(qt, dt) * 1_000_000).cast(
                        "long"
                    ),
                )
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = cands.crossJoin(F.broadcast(qs)).withColumn("_fx", fx)
    w = Window.partitionBy("query_id").orderBy(
        F.col("_fx").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            F.round(F.col("_fx") / 1_000_000.0, 6).alias("maxsim"),
            "rank",
        )
    )
