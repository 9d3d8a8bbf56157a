"""Dedup / similarity / text-analysis tests with pandas-oracle checks
on the driver's documents+embeddings tables (sf0.001)."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.operators import dedup as D
from fluent_bit_spark.operators import similarity as S
from fluent_bit_spark.operators import text_analysis as TA


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def docs_pd(docs):
    return docs.toPandas()


@pytest.fixture(scope="module")
def embs_pd(embs):
    return embs.toPandas()


# --- exact dedup -----------------------------------------------------------

def test_exact_dedup(docs, docs_pd):
    out = D.exact_dedup(docs, ["text"], "doc_id")
    want = set(docs_pd.groupby("text")["doc_id"].min())
    got = {r.doc_id for r in out.select("doc_id").collect()}
    assert got == want


def test_exact_dedup_with_synthetic_dups(spark):
    rows = [(0, "a b c"), (1, "a b c"), (2, "x y"), (3, "a b c"), (4, "x y")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = D.exact_dedup(df, ["text"], "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [0, 2]


# --- minhash ---------------------------------------------------------------

def _pd_jaccard(a: str, b: str, k: int = 3) -> float:
    def sh(t):
        toks = t.split()
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_minhash_pairs_against_exact(spark):
    # corpus with engineered near-dups
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(0, base), (1, base + " ok"), (2, base.replace("quick", "slow")),
            (3, "completely different words entirely unrelated content here now"),
            (4, base), (5, "another separate doc about spark and arrow batches")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b)
        for r in D.minhash_dedup_pairs(df, threshold=0.5, num_perm=64, bands=32).collect()
    }
    want = {
        (a, b)
        for (a, ta), (b, tb) in itertools.combinations(rows, 2)
        if _pd_jaccard(ta, tb) >= 0.5
    }
    # bands=32 (r=2) makes candidate recall ~1 at j>=0.5 for this corpus
    assert got == want


def test_minhash_real_docs_recall(docs, docs_pd):
    pairs = D.minhash_dedup_pairs(docs, threshold=0.8, num_perm=64, bands=32)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    txt = dict(zip(docs_pd.doc_id, docs_pd.text))
    # verify returned pairs truly meet the threshold (precision = 1 by construction)
    for a, b in got:
        assert _pd_jaccard(txt[a], txt[b]) >= 0.8


def test_drop_near_dups_and_clusters(spark):
    pairs = spark.createDataFrame([(0, 1), (1, 2)], ["id_a", "id_b"])
    clusters = D.resolve_clusters(pairs)
    got = {r.id: r.cluster_id for r in clusters.collect()}
    assert got == {0: 0, 1: 0, 2: 0}


# --- simhash ---------------------------------------------------------------

def _py_simhash(txt: str) -> int:
    """Python reference of dedup.simhash_from_tokens (62-bit, md5-slice token
    hashes, majority vote)."""
    import hashlib

    toks = txt.split()
    if not toks:
        return 0
    hs = []
    for t in toks:
        d = hashlib.md5(t.encode()).hexdigest()
        hs.append((int(d[:8], 16) & 0x7FFFFFFF, int(d[8:16], 16) & 0x7FFFFFFF))
    acc, n = 0, len(hs)
    for j in range(62):
        half, bit = divmod(j, 31)
        if 2 * sum((h[half] >> bit) & 1 for h in hs) >= n:
            acc |= 1 << j
    return acc


def test_simhash_near_dup(spark):
    # operator output must equal the closed form: ALL pairs within the
    # Hamming budget (pigeonhole banding => 100% recall), none beyond it
    a = "spark arrow vectorized batches shuffle partitions " * 8
    rows = [
        (0, a),
        (1, a + "extra"),
        (2, "totally different content with nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    max_hamming = 8
    pairs = D.simhash_near_dup_pairs(df, max_hamming=max_hamming)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    sigs = {i: _py_simhash(t) for i, t in rows}
    want = {
        (i, j): bin(sigs[i] ^ sigs[j]).count("1")
        for i, j in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[i] ^ sigs[j]).count("1") <= max_hamming
    }
    assert got == want
    # sanity: the identical-prefix pair is closer than the unrelated one
    assert bin(sigs[0] ^ sigs[1]).count("1") < bin(sigs[0] ^ sigs[2]).count("1")


def test_simhash_matches_python_oracle(spark, docs):
    sample = docs.limit(20)
    toks = sample.select("doc_id", TA.tokens(F.col("text")).alias("tk"))
    got = {
        r.doc_id: r.sh
        for r in toks.select("doc_id", D.simhash_from_tokens(F.col("tk")).alias("sh")).collect()
    }
    for r in sample.collect():
        assert got[r.doc_id] == _py_simhash(r.text)


# --- jaccard blocked -------------------------------------------------------

def test_jaccard_blocked_oracle(docs, docs_pd):
    out = D.jaccard_pairs_blocked(docs, "source", threshold=0.9)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    for (a, b), j in got.items():
        ta = set(docs_pd[docs_pd.doc_id == a].text.iloc[0].split())
        tb = set(docs_pd[docs_pd.doc_id == b].text.iloc[0].split())
        want = len(ta & tb) / len(ta | tb)
        assert abs(j - want) < 1e-6


# --- similarity ------------------------------------------------------------

def _np_topk(embs_pd, k=10):
    M = np.array(list(embs_pd.embedding), dtype=float)
    ids = embs_pd.vec_id.to_numpy()
    qmask = ids < 5
    out = {}
    for qi in ids[qmask]:
        qv = M[ids == qi][0]
        cand_ids = ids[~qmask]
        C = M[~qmask]
        cos = C @ qv / (np.linalg.norm(C, axis=1) * np.linalg.norm(qv))
        order = np.lexsort((cand_ids, -cos))[:k]
        out[qi] = [int(cand_ids[i]) for i in order]
    return out


def test_cosine_topk_bruteforce(embs, embs_pd):
    queries = embs.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    cands = embs.filter(F.col("vec_id") >= 5)
    out = S.cosine_topk(cands, queries, k=10)
    got = {}
    for r in out.orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append(r.vec_id)
    assert got == _np_topk(embs_pd)


def test_lsh_topk_recall(embs, embs_pd):
    queries = embs.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    cands = embs.filter(F.col("vec_id") >= 5)
    # the synthetic embeddings are near-random (top cosine ~0.33), so
    # hyperplane-LSH recall is physics-bound; nbits=4 + 1-bit probing
    # measures 0.52 on this corpus (deterministic: seeded planes).
    out = S.lsh_topk(cands, queries, k=10, nbits=4)
    exact = _np_topk(embs_pd)
    got = {}
    for r in out.orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append(r.vec_id)
    recalls = [len(set(got.get(q, [])) & set(exact[q])) / 10 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.4


def test_ivf_topk_recall(embs, embs_pd):
    queries = embs.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    cands = embs.filter(F.col("vec_id") >= 5)
    out = S.ivf_topk(cands, queries, k=10, ncentroids=8, nprobe=4)
    exact = _np_topk(embs_pd)
    got = {}
    for r in out.orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append(r.vec_id)
    recalls = [len(set(got.get(q, [])) & set(exact[q])) / 10 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.5


def test_ivf_topk_partition_invariant(embs):
    """Centroid training samples by content hash, so the same corpus
    under a different partitioning yields IDENTICAL results (regression:
    limit(sample) took an arbitrary single-partition prefix)."""
    queries = embs.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    cands = embs.filter(F.col("vec_id") >= 5)

    def run(c):
        return [
            (r.query_id, r.rank, r.vec_id)
            for r in S.ivf_topk(c, queries, k=10, ncentroids=8, nprobe=4)
            .orderBy("query_id", "rank")
            .collect()
        ]

    assert run(cands) == run(cands.repartition(7))
    assert run(cands) == run(cands.coalesce(1))


def test_embedding_near_dup_exact_verification(embs, embs_pd):
    pairs = S.embedding_near_dup_pairs(embs, threshold=0.9, nbits=6)
    M = {r.vec_id: np.array(r.embedding, dtype=float) for r in embs.collect()}
    for r in pairs.collect():
        a, b = M[r.id_a], M[r.id_b]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= 0.9 and abs(cos - r.cosine) < 1e-5


# --- text analysis ---------------------------------------------------------

def test_doc_stats_pandas_oracle(docs, docs_pd):
    out = TA.doc_stats(docs).select(
        "doc_id", "n_tokens", "mean_word_len", "stopword_ratio", "quality", "lang_pred"
    )
    got = {r.doc_id: r for r in out.collect()}
    for _, row in docs_pd.head(50).iterrows():
        toks = row.text.split()
        r = got[row.doc_id]
        assert r.n_tokens == len(toks)
        assert abs(r.mean_word_len - sum(map(len, toks)) / len(toks)) < 1e-5
        sw = sum(1 for t in toks if t.lower() in TA.STOPWORDS) / len(toks)
        assert abs(r.stopword_ratio - sw) < 1e-5
        assert 0.0 <= r.quality <= 1.0


def test_fingerprint_md5_normalization(spark):
    rows = [(0, "Hello,  World!"), (1, "hello world"), (2, "different")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r.doc_id: r.fp for r in df.select("doc_id", TA.fingerprint_md5(F.col("text")).alias("fp")).collect()}
    assert fps[0] == fps[1] != fps[2]


# --- deterministic sampling / splits ----------------------------------------

def test_hash_sample_partition_invariant(spark, docs):
    from fluent_bit_spark.operators.sampling import hash_sample

    a = {r.doc_id for r in hash_sample(docs, "text", 0.3).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in hash_sample(docs.repartition(7), "text", 0.3)
        .select("doc_id")
        .collect()
    }
    assert a == b and 0 < len(a) < docs.count()
    # roughly the requested rate (binomial tolerance)
    assert abs(len(a) / docs.count() - 0.3) < 0.1


def test_hash_split_disjoint_exhaustive(spark, docs):
    from fluent_bit_spark.operators.sampling import hash_split

    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    assert counts["train"] > counts.get("val", 0)
    # stable across re-runs / repartitioning
    again = hash_split(
        docs.repartition(5), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    a = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in again.select("doc_id", "split").collect()}
    assert a == b


def test_hash_split_fractions_validated(spark, docs):
    from fluent_bit_spark.operators.sampling import hash_split

    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", {"a": 0.5, "b": 0.4})


def test_label_centroids_exact_and_assignment(spark):
    """Hand-computable centroids (integer-valued components) and a
    separable geometry where every vector classifies to its own label."""
    from fluent_bit_spark.operators.similarity import (
        centroid_assign,
        label_centroids,
    )

    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [3.0, 0.0], "a"),
        (3, [0.0, 2.0], "b"),
        (4, [0.0, 4.0], "b"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    cents = {r.label: (r.n_vecs, r.centroid) for r in label_centroids(df).collect()}
    assert cents["a"] == (2, [2.0, 0.0])
    assert cents["b"] == (2, [0.0, 3.0])
    out = {r.vec_id: r for r in centroid_assign(df).collect()}
    assert all(out[i].correct for i in (1, 2, 3, 4))
    assert out[1].pred_label == "a" and out[3].pred_label == "b"
    assert out[1].cosine == 1.0  # colinear with its centroid


def test_kmeans_assign_separable_clusters(spark):
    """Two well-separated directions: after 3 rounds every vector sits
    with its direction's seed and survivors' cosines are ~1."""
    from fluent_bit_spark.operators.similarity import kmeans_assign

    rows = (
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])]  # seeds (k=2)
        + [(i, [1.0, float(0.01 * (i % 3))]) for i in range(10, 20)]
        + [(i, [float(0.01 * (i % 3)), 1.0]) for i in range(20, 30)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in kmeans_assign(df, k=2, iters=3).collect()}
    assert len(out) == 22
    x_cluster = {out[i].cluster for i in range(10, 20)}
    y_cluster = {out[i].cluster for i in range(20, 30)}
    assert x_cluster == {0} and y_cluster == {1}
    assert all(out[i].cosine > 0.99 for i in range(10, 30))


def test_semantic_dedup_keeps_first_per_neighborhood(spark):
    """Two separable directions; within the x-direction cluster, vecs
    11/12 duplicate 10's direction (cosine ~1 >= thr) so only 10
    survives; the lone y-direction vector is kept."""
    from fluent_bit_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),   # seed / canonical x vector
        (1, [0.0, 1.0]),   # seed y
        (10, [2.0, 0.0]),  # dup of direction x (cos=1 with 0)
        (11, [3.0, 0.0]),  # dup
        (20, [0.0, 5.0]),  # dup of y seed
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in semantic_dedup(df, k=2, iters=2, threshold=0.9).collect()}
    assert len(out) == 5
    assert out[0].keep and out[1].keep          # lowest ids survive
    assert not out[10].keep and not out[11].keep
    assert not out[20].keep
    assert out[10].cluster == out[0].cluster


def test_semantic_dedup_orthogonal_cluster_mates_kept(spark):
    """Cluster-mates below the threshold are all kept."""
    from fluent_bit_spark.operators.similarity import semantic_dedup

    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, k=1, iters=1, threshold=0.5).collect()
    assert all(r.keep for r in out) and len(out) == 3


def test_rrf_fuse_combines_and_ranks(spark):
    from fluent_bit_spark.operators.similarity import rrf_fuse

    sparse = spark.createDataFrame(
        [("q", 10, 1), ("q", 11, 2), ("q", 12, 3)],
        "query_id string, doc_id long, rank long",
    )
    dense = spark.createDataFrame(
        [("q", 11, 1), ("q", 10, 2), ("q", 13, 3)],
        "query_id string, doc_id long, rank long",
    )
    out = {r.doc_id: r for r in rrf_fuse([sparse, dense], k=4, k0=60).collect()}
    # 10 and 11 appear in both lists (ranks {1,2}) -> same fused score,
    # tie broken by doc id; 12/13 single-list rank 3
    assert out[10].rank == 1 and out[11].rank == 2
    assert out[10].n_lists == 2 and out[12].n_lists == 1
    assert out[10].rrf == out[11].rrf
    assert out[12].rank == 3 and out[13].rank == 4  # doc-id tiebreak
    assert out[10].rrf > out[12].rrf


def test_quantize_int8_codes_and_zero_vector(spark):
    from fluent_bit_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (1, [1.0, -1.0, 0.5, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-2.0, 1.0, 0.0, 0.25]),
        ],
        "vec_id int, embedding array<float>",
    )
    got = {r.vec_id: (r.q, r.n2) for r in quantize_int8(df).collect()}
    # scale 1.0: 127, -127, floor(63.5+0.5)=64, 0
    assert got[1] == ([127, -127, 64, 0], 127 * 127 * 2 + 64 * 64)
    assert got[2] == ([0, 0, 0, 0], 0)
    # scale 2.0: -127, floor(63.5+0.5)=64, 0, floor(15.875+0.5)=16
    assert got[3] == ([-127, 64, 0, 16], 127 * 127 + 64 * 64 + 256)


def test_quantized_topk_matches_exact_ranking_on_separated_vectors(spark):
    from fluent_bit_spark.operators.similarity import quantized_topk

    # well-separated directions: quantization noise cannot flip ranks
    cand = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),
            (11, [0.9, 0.1, 0.0, 0.0]),
            (12, [0.0, 1.0, 0.0, 0.0]),
            (13, [0.0, 0.0, 0.0, 0.0]),  # zero vector: excluded
        ],
        "vec_id int, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id int, embedding array<float>"
    )
    rows = quantized_topk(cand, q, k=3).collect()
    assert [r.vec_id for r in rows] == [10, 11, 12]
    assert rows[0].qcosine == 1.0
    assert all(r.query_id == 0 for r in rows)


def test_stratified_sample_largest_remainder_allocation(spark):
    from fluent_bit_spark.operators.sampling import stratified_sample

    # strata sizes 7/6/5, fraction 0.25: quotas 1.75/1.5/1.25,
    # bases 1/1/1, total take = round(18*0.25) = 5 => 2 leftovers go to
    # the largest fractional quotas (a: .75, b: .5) => takes 2/2/1
    rows = (
        [("a", i) for i in range(7)]
        + [("b", 10 + i) for i in range(6)]
        + [("c", 20 + i) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "lang string, doc_id long")
    out = stratified_sample(df, "lang", "doc_id", 0.25).collect()
    rks: dict[str, set] = {}
    for r in out:
        rks.setdefault(r.stratum, set()).add(r.rk)
    # ranks are dense 1..take within each stratum
    assert rks == {"a": {1, 2}, "b": {1, 2}, "c": {1}}
    assert len(out) == 5


def test_stratified_sample_partition_invariant_and_bounds(spark):
    from fluent_bit_spark.operators.sampling import stratified_sample

    rows = [("s%d" % (i % 3), i) for i in range(60)]
    df = spark.createDataFrame(rows, "lang string, doc_id long")
    base = {
        (r.stratum, r.key) for r in stratified_sample(df, "lang", "doc_id", 0.3).collect()
    }
    for parts in (1, 2, 7):
        got = {
            (r.stratum, r.key)
            for r in stratified_sample(
                df.repartition(parts), "lang", "doc_id", 0.3
            ).collect()
        }
        assert got == base
    assert len(base) == round(60 * 0.3)
    import pytest

    with pytest.raises(ValueError):
        stratified_sample(df, "lang", "doc_id", 1.5)


def test_minhash_eval_counts_consistent_and_exact_copies_recalled(spark):
    from fluent_bit_spark.operators.dedup import minhash_eval

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (1, base, "s1"),
        (2, base, "s1"),            # exact copy: every band collides -> tp
        (3, "totally different words here nothing shared at all", "s1"),
        (4, base, "s2"),            # same text, other block: NOT a truth pair
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = minhash_eval(df, threshold=0.5, num_perm=64, bands=16).collect()[0]
    assert r.n_truth == r.tp + r.fn and r.n_pred == r.tp + r.fp
    assert r.tp >= 1 and r.recall == 1.0  # the exact copy is always found
    # cross-block identical pair is excluded from both sides
    assert r.n_truth == 1


def test_stratified_sample_null_strata_excluded(spark):
    from fluent_bit_spark.operators.sampling import stratified_sample

    rows = [(None, i) for i in range(10)] + [("en", 100 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "lang string, doc_id long")
    out = stratified_sample(df, "lang", "doc_id", 0.5).collect()
    # NULL-stratum rows neither receive seats nor inflate the total:
    # allocation is over the 10 'en' rows only => exactly 5 selected
    assert len(out) == 5 and all(r.stratum == "en" for r in out)


def test_ivf_topk_fixed_probes_subset_and_finds_separable_neighbors(spark):
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.similarity import cosine_topk, ivf_topk_fixed

    # two well-separated directions; seeds 0,1 become the two cells
    rows = (
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
        + [(10 + i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(5)]
        + [(20 + i, [0.01 * i, 1.0, 0.0, 0.0]) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = ivf_topk_fixed(
        df, F.col("vec_id") < 2, k_clusters=2, iters=2, nprobe=1, k=5
    )
    rowsg = got.collect()
    by_q = {}
    for r in rowsg:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    # nprobe=1 on separable data: each query only sees its own cell
    assert by_q[0] == {10, 11, 12, 13, 14}
    assert by_q[1] == {20, 21, 22, 23, 24}
    # and within the probed cell the ranking equals exact brute force
    exact = cosine_topk(
        df.filter(F.col("vec_id") >= 10),
        df.filter(F.col("vec_id") < 2).withColumnRenamed("vec_id", "query_id"),
        k=5,
        rank_round=6,
    )
    def ordered(rows_iter, q, keep):
        return [
            r.vec_id
            for r in sorted(rows_iter, key=lambda r: (r.query_id, r.rank))
            if r.query_id == q and keep(r.vec_id)
        ]

    exact_rows = exact.collect()
    # exact ranks cover all candidates; restrict to each query's cell and
    # the relative order must match IVF's
    assert ordered(rowsg, 0, lambda v: True) == ordered(exact_rows, 0, lambda v: v < 20)
    assert ordered(rowsg, 1, lambda v: True) == ordered(exact_rows, 1, lambda v: v >= 20)


def test_pq_adc_topk_separable_and_table_sum_semantics(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.similarity import pq_adc_topk, pq_fit

    # 8-dim, m=2 subspaces of 4; two groups separated in BOTH subspaces
    ga = [1.0, 1.0, 0.0, 0.0]
    gb = [0.0, 0.0, 1.0, 1.0]
    rows = (
        [(0, ga + ga), (1, gb + gb)]  # seeds => codebooks split the groups
        + [(10 + i, [x + 0.01 * i for x in ga] + ga) for i in range(3)]
        + [(20 + i, [x + 0.01 * i for x in gb] + gb) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = pq_adc_topk(df, F.col("vec_id") < 2, m=2, k_codes=2, iters=2, k=3)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.adc_dist))
    # nearest group wins for each query
    top0 = [v for _, v, _ in sorted(by_q[0])]
    top1 = [v for _, v, _ in sorted(by_q[1])]
    assert set(top0) == {10, 11, 12}
    assert set(top1) == {20, 21, 22}

    # ADC = exact fixed-point sum of per-subspace table cells: recompute
    # from the fitted codes/books with numpy
    codes, books, _, sd = pq_fit(df, m=2, k_codes=2, iters=2)
    code_map = {(r.vec_id, r.sub): r.code for r in codes.collect()}
    book_map = {(r.sub, r.label): np.array(r.centroid) for r in books.collect()}
    vecs = {r.vec_id: np.array(r.embedding, dtype=float) for r in df.collect()}
    for q, lst in by_q.items():
        for rank, vid, adc in lst:
            fx = 0
            for s in range(2):
                qsub = vecs[q][s * sd : (s + 1) * sd]
                cent = book_map[(s, code_map[(vid, s)])]
                # int(x+0.5): HALF_UP like Spark's F.round (python round()
                # is banker's and would diverge on exact .5 boundaries)
                fx += int(float(((qsub - cent) ** 2).sum()) * 1_000_000 + 0.5)
            assert abs(adc - fx / 1_000_000.0) < 1e-9, (q, vid)


def test_pq_fit_sampled_trains_on_subset_encodes_all(spark):
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.sampling import hash_bucket
    from fluent_bit_spark.operators.similarity import pq_fit

    rows = [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # 0.85 keeps the seed ids in the hash sample (md5_32("0")/2^32 =
    # 0.81, md5_32("1")/2^32 = 0.77), so refitting on the explicit
    # sample is a true equivalence: same seeds, same training rows
    frac = 0.85
    codes, books, _, _ = pq_fit(df, m=2, k_codes=2, iters=2, fit_fraction=frac)
    # EVERY row is encoded, not just the training sample
    assert codes.select("vec_id").distinct().count() == 40
    assert codes.count() == 80  # 2 codes per vector
    thr = int(frac * (1 << 32))
    sample = df.filter(hash_bucket(F.col("vec_id")) < thr)
    assert sample.count() < 40  # the sample is a strict subset
    _, books2, _, _ = pq_fit(sample, m=2, k_codes=2, iters=2)
    b1 = {(r.sub, r.label): tuple(r.centroid) for r in books.collect()}
    b2 = {(r.sub, r.label): tuple(r.centroid) for r in books2.collect()}
    assert b1 == b2
    with pytest.raises(ValueError, match="fit_fraction"):
        pq_fit(df, m=2, k_codes=2, iters=2, fit_fraction=0.0)
    # a legal fraction that selects nothing must fail loudly, never
    # fit empty books (threshold ~4 of 2^32: no 40-id sample survives)
    with pytest.raises(ValueError, match="no training rows"):
        pq_fit(df, m=2, k_codes=2, iters=2, fit_fraction=1e-9)


def test_edit_distance_pairs_threshold_and_blocking(spark):
    import pytest

    from fluent_bit_spark.operators.dedup import (
        edit_distance_pairs,
        release_persisted,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta!"),    # dist 1 -> kept
            (3, "alpha beta gamma deltaXY"),   # dist 2 vs #1 -> boundary kept
            (4, "alpha beta gamma deltaXYZ"),  # dist 3 vs #1 -> dropped
            (5, "zeta beta gamma delta"),      # other block: no pair
        ],
        "doc_id long, text string",
    )
    try:
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in edit_distance_pairs(df, max_dist=2).collect()
        }
    finally:
        release_persisted()
    # pairs within the 'alpha beta' block at distance <= 2 only; #4 is
    # distance 3 from #1 (dropped) yet distance 1 from #3 (kept).
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2
    assert (1, 4) not in got
    assert got[(3, 4)] == 1
    assert not any(5 in p for p in got)
    with pytest.raises(ValueError):
        edit_distance_pairs(df, max_dist=-1)


def test_embedding_drift_identity_and_rotation(spark):
    from pyspark.sql import functions as F
    from fluent_bit_spark.operators.similarity import embedding_drift

    # group g: both sides identical -> cos 1.0
    # group h: side-1 centroid orthogonal to side-0 -> cos 0.0
    rows = [
        (0, [1.0, 0.0], "g"), (1, [1.0, 0.0], "g"),
        (2, [1.0, 0.0], "g"), (3, [1.0, 0.0], "g"),
        (10, [2.0, 0.0], "h"), (12, [4.0, 0.0], "h"),
        (11, [0.0, 3.0], "h"), (13, [0.0, 5.0], "h"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r.label: r for r in embedding_drift(df, F.col("vec_id") % 2).collect()}
    assert out["g"].centroid_cos == 1.0
    assert out["h"].centroid_cos == 0.0
    assert out["h"].n_ref == 2 and out["h"].n_cur == 2


def test_maxsim_identical_vector_wins(spark):
    from pyspark.sql import functions as F
    from fluent_bit_spark.operators.similarity import maxsim_topk

    base = [float(i % 7) + 0.5 for i in range(16)]
    shuffled = base[8:] + base[:8]  # token-permuted copy
    other = [9.0 - b for b in base]
    rows = [(0, base), (1, base), (2, shuffled), (3, other)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = maxsim_topk(
        df, F.col("vec_id") == 0, n_tokens=2, k=3
    ).collect()
    ranked = sorted(out, key=lambda r: r.rank)
    # exact copy scores the max (every q token finds cos=1)
    assert ranked[0].vec_id == 1 and ranked[0].maxsim == 2.0
    # MaxSim is token-order invariant: permuted copy also scores 2.0
    assert ranked[1].vec_id == 2 and ranked[1].maxsim == 2.0
    assert ranked[2].vec_id == 3 and ranked[2].maxsim < 2.0


def test_maxsim_rejects_indivisible_dim(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from fluent_bit_spark.operators.similarity import maxsim_topk

    df = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], ["vec_id", "embedding"])
    with _pytest.raises(ValueError):
        maxsim_topk(df, F.col("vec_id") == 0, n_tokens=2)


def test_incremental_dedup_semantics(spark):
    from fluent_bit_spark.operators.dedup import incremental_dedup

    seen = spark.createDataFrame([(1, "old"), (2, "stale")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(10, "old"),      # dup of snapshot -> dropped
         (11, "fresh"),    # kept
         (12, "fresh"),    # in-batch dup, higher id -> dropped
         (13, "unique")],  # kept
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in incremental_dedup(new, seen).collect())
    assert kept == [11, 13]


def test_sql_double_literal_roundtrip(spark):
    """_fmt_double's repr()-text literals must parse to the SAME double
    bits py4j's F.lit would ship — adversarial values: subnormals,
    shortest-repr edge cases, negative zero, huge/tiny exponents."""
    import math
    import random
    import struct as st

    from pyspark.sql import functions as F
    from fluent_bit_spark.operators.similarity import _fmt_double

    vals = [0.0, -0.0, 1.0, 0.1, 2.0 / 3.0, 1e-300, 5e-324, 1.7e308,
            123456.789e-40, math.pi, -math.e, 1e22, 9007199254740993.0]
    rng = random.Random(42)
    for _ in range(60):
        b = st.pack(">Q", rng.getrandbits(64))
        (x,) = st.unpack(">d", b)
        if x == x and abs(x) != float("inf"):
            vals.append(x)
    rows = [(i, x) for i, x in enumerate(vals)]
    df = spark.createDataFrame(rows, "i long, x double")
    exprs = [
        F.when(F.col("i") == i, F.expr(_fmt_double(x))).otherwise(None)
        for i, x in enumerate(vals)
    ]
    got = df.select(
        F.col("x"), F.coalesce(*exprs).alias("y")
    ).collect()
    for r in got:
        assert st.pack(">d", r.x) == st.pack(">d", r.y), (r.x, r.y)

    for bad in (float("nan"), float("inf"), float("-inf")):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            _fmt_double(bad)


def test_assign_cos_expr_matches_column_construction(spark):
    """The SQL-text argmax must be value-identical to the Column-API
    construction it replaced (round-6 cosine desc, label asc, zero-norm
    arms included)."""
    import random

    from pyspark.sql import functions as F
    from fluent_bit_spark.operators.similarity import (
        _assign_cos_expr,
        _dot,
        _lit_vec,
        _norm,
        _py_norm,
        as_double_array,
    )

    rng = random.Random(7)
    dim = 16
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(dim)]) for i in range(200)
    ]
    rows.append((200, [0.0] * dim))  # zero-norm vector arm
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    prepped = df.select(
        "vec_id",
        as_double_array(F.col("embedding")).alias("embedding"),
    ).withColumn("_nv", _norm(F.col("embedding")))
    cent_rows = [
        (0, [rng.uniform(-2, 2) for _ in range(dim)]),
        (1, [rng.uniform(-2, 2) for _ in range(dim)]),
        (2, [0.0] * dim),  # zero-norm centroid arm
        (3, [rng.uniform(-2, 2) for _ in range(dim)]),
    ]

    # the replaced Column-API construction, verbatim
    def one_cos(c, nv):
        nc = _py_norm(c)
        if not nc > 0.0:
            return F.lit(-1.0)
        return F.when(
            nv > F.lit(0.0),
            _dot(F.col("embedding"), _lit_vec(c)) / (nv * F.lit(nc)),
        ).otherwise(F.lit(-1.0))

    scored = F.array(
        *[
            F.struct(
                F.round(one_cos(c, F.col("_nv")), 6).alias("cosine"),
                F.lit(int(label)).cast("long").alias("cluster"),
            )
            for label, c in cent_rows
        ]
    )
    old = F.array_min(
        F.transform(
            scored,
            lambda s: F.struct(
                (-F.round(s["cosine"] * 1_000_000).cast("long")).alias("_nk"),
                s["cluster"].alias("cluster"),
                s["cosine"].alias("cosine"),
            ),
        )
    )
    new = _assign_cos_expr("`embedding`", "`_nv`", cent_rows)
    got = prepped.select(
        old["cluster"].alias("oc"), old["cosine"].alias("ocos"),
        new["cluster"].alias("nc"), new["cosine"].alias("ncos"),
    ).collect()
    assert len(got) == 201
    for r in got:
        assert r.oc == r.nc and r.ocos == r.ncos, r


def test_assign_l2_expr_matches_column_construction(spark):
    import random

    from pyspark.sql import functions as F
    from fluent_bit_spark.operators.similarity import (
        _assign_l2_expr,
        _lit_vec,
        _ssq,
    )

    rng = random.Random(13)
    dim = 8
    rows = [(i, [rng.uniform(-3, 3) for _ in range(dim)]) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id long, sv array<double>")
    cent_rows = [(j, [rng.uniform(-3, 3) for _ in range(dim)]) for j in range(4)]

    old = F.array_min(
        F.array(
            *[
                F.struct(
                    F.round(_ssq(F.col("sv"), _lit_vec(c)), 6).alias("d"),
                    F.lit(int(label)).cast("long").alias("cluster"),
                )
                for label, c in cent_rows
            ]
        )
    )["cluster"]
    new = _assign_l2_expr("sv", cent_rows)
    got = df.select(old.alias("o"), new.alias("n")).collect()
    assert len(got) == 150 and all(r.o == r.n for r in got)


def test_jaccard_blocked_equals_all_pairs_on_adversarial_corpus(spark):
    """The inverted-postings Jaccard must equal the literal blocked
    all-pairs definition on every pair — including empty texts,
    whitespace-only, identical docs, cross-block twins, and
    single-token docs (the shapes where 'shares a posting' and
    'jaccard >= threshold > 0' could conceivably diverge)."""
    rows = [
        (0, "a b c", "s1"),
        (1, "a b c", "s1"),          # identical pair
        (2, "a b d", "s1"),          # 0.5 with 0/1
        (3, "", "s1"),               # empty tokens
        (4, "   ", "s1"),            # whitespace-only -> empty tokens
        (5, "", "s1"),               # empty-empty pair (0-union)
        (6, "a b c", "s2"),          # twin in ANOTHER block: no pair
        (7, "x", "s2"),              # single token
        (8, "x", "s2"),              # exact single-token pair
        (9, "x y z w", "s2"),        # 0.25 with 7/8
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for thr in (0.2, 0.5, 0.9):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in D.jaccard_pairs_blocked(docs, "source", threshold=thr).collect()
        }
        want = {}
        for i, (ia, ta, ba) in enumerate(rows):
            for ib, tb, bb in rows[i + 1:]:
                if ba != bb:
                    continue
                sa, sb = set(ta.split()), set(tb.split())
                j = len(sa & sb) / len(sa | sb) if (sa | sb) else 0.0
                if j >= thr:
                    want[(ia, ib)] = round(j, 6)
        assert got == want, (thr, got, want)


def test_minhash_eval_truth_matches_all_pairs_definition(spark):
    """minhash_eval's n_truth must equal the literal blocked all-pairs
    shingle-Jaccard count on a corpus with empty docs, exact dups, and
    shared-shingle near-dups."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "s1"),
        (1, "the quick brown fox jumps over the lazy cat", "s1"),
        (2, "the quick brown fox jumps over the lazy dog", "s1"),
        (3, "", "s1"),
        (4, "", "s1"),
        (5, "completely different text with no overlap at all", "s1"),
        (6, "the quick brown fox jumps over the lazy dog", "s2"),
        (7, "short", "s2"),
        (8, "short", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = D.minhash_eval(docs, threshold=0.5).collect()[0]

    def shingles(t, k=3):
        toks = t.split()
        if len(toks) >= k:
            return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
        return {" ".join(toks)}

    n_truth = 0
    for i, (ia, ta, ba) in enumerate(rows):
        for ib, tb, bb in rows[i + 1:]:
            if ba != bb:
                continue
            sa, sb = shingles(ta), shingles(tb)
            union = sa | sb
            j = len(sa & sb) / len(union) if union else 0.0
            if j >= 0.5:
                n_truth += 1
    assert got.n_truth == n_truth
    # invariants of the scorecard join
    assert got.tp + got.fn == got.n_truth
    assert got.tp + got.fp == got.n_pred
