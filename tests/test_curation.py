"""Unit tests for operators/curation.py (PII redaction, Gopher rules,
contamination, quota sampling, common-line strip). The oracle parity
for the driver queries is covered by test_entry_queries.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from fluent_bit_spark.operators.curation import (
    common_line_filter,
    contamination_flags,
    gopher_quality,
    pii_redact,
    quota_sample,
)
from fluent_bit_spark.operators.text_analysis import tokens, word_grams


def test_pii_redact_all_categories(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex.co ip 10.0.0.1 ssn 123-45-6789 tel 555-123-4567"),
            (2, "clean text with no pii at all"),
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in pii_redact(df).collect()}
    assert (
        rows[1]["redacted"]
        == "mail <EMAIL> ip <IP> ssn <SSN> tel <PHONE>"
    )
    assert (rows[1]["n_email"], rows[1]["n_ssn"], rows[1]["n_phone"], rows[1]["n_ipv4"]) == (
        1,
        1,
        1,
        1,
    )
    assert rows[2]["redacted"] == rows[2]["text"]
    assert rows[2]["n_email"] == 0


def test_pii_redact_ssn_not_double_counted_as_phone(spark):
    df = spark.createDataFrame([(1, "ssn 123-45-6789 only")], ["id", "text"])
    r = pii_redact(df).first()
    assert r["n_ssn"] == 1 and r["n_phone"] == 0
    assert "<SSN>" in r["redacted"] and "<PHONE>" not in r["redacted"]


def test_gopher_quality_flags(spark):
    good = "the quick brown fox jumps over the lazy dog and keeps running fast"
    bullets = "\n".join(f"- item {i}" for i in range(10))
    dups = "\n".join(["same line here"] * 8 + ["unique line now"])
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, dups)], ["id", "text"]
    )
    rows = {r["id"]: r for r in gopher_quality(df).collect()}
    assert rows[1]["gopher_pass"] is True
    assert rows[2]["frac_bullet_lines"] == 1.0  # > 0.9 -> fail
    assert rows[2]["gopher_pass"] is False
    assert abs(rows[3]["frac_dup_lines"] - 7 / 9) < 1e-6  # col is round(.,6)
    assert rows[3]["gopher_pass"] is False


def test_word_shingles_short_text_is_empty(spark):
    df = spark.createDataFrame([("a b c",), ("",)], ["text"])
    toks = df.select(tokens(F.col("text")).alias("tk"))
    out = toks.select(word_grams(F.col("tk"), 5).alias("sh")).collect()
    assert [r["sh"] for r in out] == [[], []]


def test_contamination_flags(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words alpha beta gamma delta epsilon suffix words"),
            (2, "totally unrelated words that never overlap anything here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in contamination_flags(corpus, bench, n=5).collect()}
    assert 1 in out and out[1]["contaminated"] is True
    assert out[1]["n_overlap"] == 1
    assert 2 not in out


def test_quota_sample_cap_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(60)], ["doc_id", "source"]
    )
    out1 = quota_sample(df, "source", "doc_id", 4)
    counts = {r["source"]: r["n"] for r in out1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert all(v == 4 for v in counts.values())
    # partition-independent: same rows at any parallelism
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    ids2 = sorted(
        r["doc_id"] for r in quota_sample(df.repartition(7), "source", "doc_id", 4).collect()
    )
    assert ids1 == ids2


def test_common_line_filter_strips_boilerplate(spark):
    footer = "copyright footer"
    df = spark.createDataFrame(
        [
            (1, f"unique one\n{footer}"),
            (2, f"unique two\n{footer}"),
            (3, f"unique three\n{footer}"),
            (4, footer),  # all-common doc -> empty
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["clean_text"] for r in common_line_filter(df, max_doc_freq=2).collect()}
    assert out[1] == "unique one"
    assert out[4] == ""
    assert len(out) == 4


def test_common_line_filter_preserves_order(spark):
    df = spark.createDataFrame(
        [(1, "z last\na first\nm mid"), (2, "other doc"), (3, "third doc")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["clean_text"] for r in common_line_filter(df, max_doc_freq=2).collect()}
    assert out[1] == "z last\na first\nm mid"


def test_intra_doc_dedup_keeps_first_occurrence(spark):
    from fluent_bit_spark.operators.curation import intra_doc_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha\nbeta\nalpha\ngamma\nbeta"),
            (2, "no dups here\nat all"),
            (3, "same\nsame\nsame"),
            (4, ""),  # empty doc
            (5, "  padded \npadded\nother"),  # trim before comparing
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in intra_doc_dedup(df).collect()}
    assert out[1]["clean_text"] == "alpha\nbeta\ngamma"
    assert out[1]["n_dropped"] == 2
    assert out[2]["clean_text"] == "no dups here\nat all"
    assert out[2]["n_dropped"] == 0
    assert out[3]["clean_text"] == "same"
    assert out[3]["n_dropped"] == 2
    assert out[4]["clean_text"] == ""
    assert out[4]["n_dropped"] == 0
    assert out[5]["clean_text"] == "padded\nother"
    assert out[5]["n_dropped"] == 1


def test_corpus_ngram_topk_counts_and_tiebreak(spark):
    from fluent_bit_spark.operators.text_analysis import corpus_ngram_topk

    df = spark.createDataFrame(
        [("a b a b",), ("a b c",), ("z",)], ["text"]
    )
    rows = corpus_ngram_topk(df, n=2, k=3).collect()
    # "a b" x3; "b a" and "b c" tie at 1 -> lexicographic
    assert [(r["ngram"], r["freq"]) for r in rows] == [
        ("a b", 3),
        ("b a", 1),
        ("b c", 1),
    ]


def test_length_percentiles_exact(spark):
    import numpy as np
    from fluent_bit_spark.operators.text_analysis import length_percentiles

    texts = [("r", "x" * n) for n in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]]
    df = spark.createDataFrame(texts, ["role", "text"])
    row = length_percentiles(df, "role", "text").collect()[0]
    lens = np.arange(1, 11)
    for p, col in [(0.25, "p25"), (0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
        assert row[col] == round(float(np.percentile(lens, p * 100)), 6)
    assert row["n_docs"] == 10


def test_unigram_logprob_semantics(spark):
    import math
    from fluent_bit_spark.operators.text_analysis import unigram_logprob

    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "cat zebra"), (3, "")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(df, min_count=2).collect()}
    # corpus: cat=3, dog=1, zebra=1, total=5; vocab (>=2) = {cat}
    lp_cat = math.log(3 / 5)
    lp_oov = math.log(0.5 / 5)
    assert rows[1]["logprob"] == round((2 * lp_cat + lp_oov) / 3, 6)
    assert rows[1]["n_tok"] == 3
    assert rows[2]["logprob"] == round((lp_cat + lp_oov) / 2, 6)
    # empty doc has no tokens -> no row (explode semantics)
    assert 3 not in rows


def test_unigram_logprob_vocab_join_is_broadcast(spark):
    from fluent_bit_spark.operators.text_analysis import unigram_logprob

    df = spark.createDataFrame([(1, "a b"), (2, "a c")], ["doc_id", "text"])
    explained = unigram_logprob(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in explained or "BroadcastNestedLoopJoin" in explained
    assert "SortMergeJoin" not in explained


# ---------- winnowing fingerprints (MOSS) ----------


def test_winnow_match_guarantee_and_short_doc_rule(spark):
    """Any shared substring of length >= w+k-1 (= 8 at k=5,w=4) must
    share a fingerprint; docs with < w hashes use their global min;
    docs shorter than k contribute nothing."""
    from fluent_bit_spark.operators.text_analysis import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "prefix SHAREDBLOCKXYZ middle"),
            (2, "other SHAREDBLOCKXYZ tail!!"),
            (3, "abcdef"),      # 2 hashes < w -> single global min
            (4, "xy"),          # shorter than k -> nothing
            (5, ""),            # empty -> nothing
        ],
        "doc_id int, text string",
    )
    rows = winnow_fingerprints(df, id_col="doc_id").collect()
    by_doc: dict[int, set[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 15-char block must share a fingerprint"
    assert len(by_doc[3]) == 1
    assert 4 not in by_doc and 5 not in by_doc


def test_winnow_plan_evaluates_hash_pipeline_once(spark):
    """Regression: the md5 k-gram pipeline must appear exactly once in
    the optimized plan — CollapseProject used to re-inline it 11x into
    the window-min lambdas (O(n^2) blowup, 438 s at sf0.01)."""
    from fluent_bit_spark.operators.text_analysis import winnow_fingerprints

    df = spark.createDataFrame([(1, "hello world document")], "doc_id int, text string")
    plan = winnow_fingerprints(df, id_col="doc_id")._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") == 1, plan


def test_tfidf_topk_scores_and_ties(spark):
    from fluent_bit_spark.operators.text_analysis import tfidf_topk
    import math

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry date")],
        "doc_id int, text string",
    )
    out = tfidf_topk(df, k=2).collect()
    top = {(r.doc_id, r.rank): (r.term, r.tf, r.score) for r in out}
    # 'apple' appears twice in doc 1 and only there: tf=2, df=1, N=3
    want = round(2 * (math.log(4.0 / 2.0) + 1.0), 6)
    assert top[(1, 1)] == ("apple", 2, want)
    # doc 3: cherry and date both tf=1; date has lower df -> ranks first
    assert top[(3, 1)][0] == "date" and top[(3, 2)][0] == "cherry"


def test_rate_anomalies_flags_spike_after_full_window(spark):
    import datetime as dt

    from fluent_bit_spark.operators.aggregate import rate_anomalies

    base = dt.datetime(2024, 1, 1)
    rows = []
    # 6 calm hours of 10 events, then an hour with 100
    for h in range(6):
        rows += [("click", base + dt.timedelta(hours=h, seconds=s)) for s in range(10)]
    rows += [("click", base + dt.timedelta(hours=6, seconds=s)) for s in range(100)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {r.hour.hour: r for r in rate_anomalies(df).collect()}
    assert out[5].z is None and out[5].spike is None  # window not full yet
    assert out[6].spike is None  # variance 0 in calm window -> undefined z
    # with variance in the trailing window, the spike flags
    rows.append(("click", base + dt.timedelta(hours=1, seconds=30)))  # 11 in hour 1
    df2 = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out2 = {r.hour.hour: r for r in rate_anomalies(df2).collect()}
    assert out2[6].spike is True and out2[6].z > 3


def test_pmi_topk_known_values(spark):
    """Tiny corpus with hand-computable marginals: 'alpha beta' always
    adjacent, 'gamma delta' never co-occurring within the window."""
    import math

    from fluent_bit_spark.operators.text_analysis import pmi_topk

    docs = spark.createDataFrame(
        [(i, "alpha beta") for i in range(6)]
        + [(i + 10, "gamma x y z delta") for i in range(6)],
        "doc_id long, text string",
    )
    out = pmi_topk(docs, k=50, window=2, min_count=5).collect()
    pairs = {(r.w1, r.w2): r for r in out}
    assert ("alpha", "beta") in pairs
    assert ("gamma", "delta") not in pairs  # distance 4 > window
    r = pairs[("alpha", "beta")]
    assert r.n_pair == 6
    # totals: pairs = 6*1 ('alpha beta') + 6*(4+3) ('gamma x y z delta')
    total_pairs = 6 + 6 * 7
    total_tok = 6 * 2 + 6 * 5
    want = (
        math.log(6) - math.log(total_pairs)
        - math.log(6) - math.log(6)
        + 2.0 * math.log(total_tok)
    )
    assert abs(r.pmi - round(want, 6)) < 1e-9


def test_bpe_merges_greedy_semantics(spark):
    """Toy corpus with a hand-traceable merge sequence, including the
    overlap case: 'aaa' + rule (a,a) must rewrite to ['aa','a']."""
    from fluent_bit_spark.operators.text_analysis import bpe_merges

    # 'aaa' x4, 'ab' x3: round 1 pairs = (a,a):8, (a,b):3 -> merge (a,a)
    # round 2: 'aaa'->['aa','a'] so pairs = (aa,a):4, (a,b):3 -> (aa,a)
    # round 3: 'aaa'->['aaa'], only (a,b):3 remains
    docs = spark.createDataFrame(
        [(0, "aaa aaa aaa aaa ab ab ab")], "doc_id long, text string"
    )
    out = [tuple(r) for r in bpe_merges(docs, iters=3).collect()]
    assert out == [
        (1, "a", "a", "aa", 8),
        (2, "aa", "a", "aaa", 4),
        (3, "a", "b", "ab", 3),
    ]


def test_bpe_merges_exhaustion_emits_no_rule(spark):
    """When every pair is merged away, later iterations emit nothing
    (rather than erroring or repeating the last rule)."""
    from fluent_bit_spark.operators.text_analysis import bpe_merges

    docs = spark.createDataFrame([(0, "xy xy")], "doc_id long, text string")
    out = [tuple(r) for r in bpe_merges(docs, iters=3).collect()]
    assert out == [(1, "x", "y", "xy", 2)]


def test_bm25_rare_term_outranks_common(spark):
    """A doc matching the query's rare term must outrank docs matching
    only the ubiquitous term, and scores must be positive and ranked
    deterministically."""
    from fluent_bit_spark.operators.text_analysis import bm25_topk

    docs = spark.createDataFrame(
        [
            (10, "zebra common common"),
            (11, "common common common"),
            (12, "common filler filler"),
            (13, "other words entirely"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "zebra common")], "query_id long, text string"
    )
    out = bm25_topk(docs, queries, k=4).orderBy("rank").collect()
    assert [r.doc_id for r in out][:1] == [10]  # rare 'zebra' dominates
    assert out[0].score > out[1].score > 0
    assert 13 not in {r.doc_id for r in out}  # no term overlap, no row


def test_bpe_vocab_applies_all_merges(spark):
    """Encode side: the toy trace collapses 'aaa' and 'ab' fully, and
    pair exhaustion after the first merge must be a no-op (not wipe
    the vocab via an empty rule)."""
    from fluent_bit_spark.operators.text_analysis import bpe_vocab

    docs = spark.createDataFrame(
        [(0, "aaa aaa aaa aaa ab ab ab")], "doc_id long, text string"
    )
    out = {r.word: (r.n, r.encoded) for r in bpe_vocab(docs, iters=3).collect()}
    assert out == {"aaa": (4, "aaa"), "ab": (3, "ab")}

    lone = spark.createDataFrame([(0, "xy xy")], "doc_id long, text string")
    out2 = {r.word: r.encoded for r in bpe_vocab(lone, iters=3).collect()}
    assert out2 == {"xy": "xy"}  # iters 2-3 find no pair -> no-op


def test_bigram_logprob_hand_computed(spark):
    """Tiny corpus with hand-computable smoothed bigram probabilities."""
    import math

    from fluent_bit_spark.operators.text_analysis import bigram_logprob

    # corpus: 'a b' x3, 'a c' x1, 'x' -> C(a,b)=3, C(a,c)=1, C1(a)=4, V=4
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a b"), (3, "a c"), (4, "x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    assert 4 not in out  # single token, no bigram
    v = 4  # distinct unigrams: a, b, c, x
    p_ab = (3 + 0.5) / (4 + 0.5 * v)
    p_ac = (1 + 0.5) / (4 + 0.5 * v)
    fx = lambda p: round(math.log(p) * 1_000_000)
    assert out[0].n_bigrams == 1
    assert abs(out[0].logprob - round(fx(p_ab) / 1e6 / 1, 6)) < 1e-9
    assert abs(out[3].logprob - round(fx(p_ac) / 1e6 / 1, 6)) < 1e-9
    assert out[3].logprob < out[0].logprob  # rarer continuation scores lower


def test_retrieval_eval_distinctive_docs_hit_rank_one(spark):
    """With unique-vocabulary docs the self-retrieval query must rank
    its source first: recall@1 == 1.0 and mrr == 1.0."""
    from fluent_bit_spark.operators.text_analysis import retrieval_eval

    docs = spark.createDataFrame(
        [(i * 25, f"uniq{i}a uniq{i}b uniq{i}c filler common") for i in range(4)]
        + [(7, "filler common words here")],
        "doc_id long, text string",
    )
    row = retrieval_eval(docs, every=25, qtokens=3, k=10).collect()[0]
    assert row.n_queries == 4
    assert row.hits_at_1 == 4 and row.recall_at_1 == 1.0
    assert row.mrr == 1.0


def test_mixture_weights_temperature_flattens(spark):
    """alpha < 1 must up-weight the small source relative to its raw
    share; weights sum to ~1."""
    from fluent_bit_spark.operators.sampling import mixture_weights

    docs = spark.createDataFrame(
        [(i, "w " * 99 + "w", "big") for i in range(9)]
        + [(100, "w " * 99 + "w", "small")],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in mixture_weights(docs, alpha=0.3).collect()}
    assert out["big"].share == 0.9 and out["small"].share == 0.1
    assert out["small"].weight > out["small"].share  # up-weighted
    assert abs(out["big"].weight + out["small"].weight - 1.0) < 2e-6


def test_cross_doc_span_dedup_keep_first_and_coverage(spark):
    from fluent_bit_spark.operators.curation import cross_doc_span_dedup

    # n=3 grams; doc 1 starts with the same 4 tokens as doc 0 (two
    # duplicated 3-gram occurrences covering its tokens 1..4), doc 2
    # shares nothing long enough, doc 3 repeats a span of doc 0
    # INSIDE one document boundary.
    rows = [
        (0, "a b c d x y z"),          # canonical owner of 'a b c'/'b c d'
        (1, "a b c d q r s"),          # tokens 1..4 removed, tail kept
        (2, "a b q c d r"),            # no duplicated 3-gram
        (3, "m n a b c d m n"),        # middle span removed, edges kept
    ]
    out = {
        r["doc_id"]: r
        for r in cross_doc_span_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]), n=3
        ).collect()
    }
    assert out[0]["removed_tokens"] == 0
    assert out[0]["cleaned_text"] == "a b c d x y z"
    assert out[1]["removed_tokens"] == 4
    assert out[1]["cleaned_text"] == "q r s"
    assert out[2]["removed_tokens"] == 0
    assert out[3]["removed_tokens"] == 4
    assert out[3]["cleaned_text"] == "m n m n"
    assert all(out[i]["n_tokens"] in (6, 7, 8) for i in out)


def test_cross_doc_span_dedup_intra_doc_repeat_keeps_one_copy(spark):
    from fluent_bit_spark.operators.curation import cross_doc_span_dedup

    # a doc repeating its own 3-gram: first occurrence canonical, the
    # second removed — exactly one copy survives
    df = spark.createDataFrame([(7, "p q r z z p q r")], ["doc_id", "text"])
    row = cross_doc_span_dedup(df, n=3).collect()[0]
    assert row["removed_tokens"] == 3
    assert row["cleaned_text"] == "p q r z z"


def test_cross_doc_span_dedup_short_docs_untouched(spark):
    from fluent_bit_spark.operators.curation import cross_doc_span_dedup

    df = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in cross_doc_span_dedup(df, n=3).collect()}
    assert rows[0]["cleaned_text"] == "a b" and rows[0]["removed_tokens"] == 0
    assert rows[1]["cleaned_text"] == "a b"
    assert rows[2]["n_tokens"] == 0 and rows[2]["cleaned_text"] == ""


def test_dsir_weights_prefers_target_like_docs(spark):
    from fluent_bit_spark.operators.sampling import dsir_weights

    # target docs share the 'alpha beta' bigram; doc 100 looks like the
    # target, doc 101 looks like the raw pool, doc 102 has no bigram
    rows = [
        (0, "alpha beta alpha beta", True),
        (1, "alpha beta gamma", True),
        (100, "alpha beta alpha", False),
        (101, "delta epsilon zeta", False),
        (102, "solo", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = {r.doc_id: r for r in dsir_weights(df, target=F.col("is_t")).collect()}
    assert 102 not in out          # no bigram -> no row
    assert out[100].logw > out[101].logw
    assert out[0].n_feats == 3 and out[101].n_feats == 2


def test_dsir_weights_partition_invariant(spark):
    from fluent_bit_spark.operators.sampling import dsir_weights

    rows = [(i, f"w{i % 5} w{(i + 1) % 7} w{i % 3} common tail", i % 3 == 0) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    a = sorted(map(tuple, dsir_weights(df.repartition(1), target=F.col("is_t")).collect()))
    b = sorted(map(tuple, dsir_weights(df.repartition(7), target=F.col("is_t")).collect()))
    assert a == b


def test_ccnet_buckets_terciles_per_lang(spark):
    from fluent_bit_spark.operators.text_analysis import ccnet_buckets

    # 6 en docs: common bigrams score high, rare ones low; 3 fr docs
    rows = (
        [(i, "en", "good text good text good") for i in range(4)]
        + [(4, "en", "rare weird string here"), (5, "en", "odd other thing too")]
        + [(10 + i, "fr", f"bonjour le monde v{i} bonjour le") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = ccnet_buckets(df).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    assert len(by_lang["en"]) == 6 and len(by_lang["fr"]) == 3
    en = {b: [r for r in by_lang["en"] if r.bucket == b] for b in ("head", "middle", "tail")}
    assert len(en["head"]) == 2 and len(en["middle"]) == 2 and len(en["tail"]) == 2
    # the high-frequency docs outrank the rare-bigram ones
    assert all(r.doc_id < 4 for r in en["head"])
    fr = sorted(by_lang["fr"], key=lambda r: r.doc_id)
    assert {r.bucket for r in by_lang["fr"]} == {"head", "middle", "tail"}


def test_c4_filter_line_and_page_rules(spark):
    from fluent_bit_spark.operators.curation import c4_filter

    five_sent = "one two three four.\n" * 5
    rows = [
        (0, five_sent),                                   # clean pass
        (1, "no terminal punctuation here\nstill none"),  # all lines dropped
        (2, five_sent + "uses javascript heavily.\n"),    # js line dropped, page ok
        (3, five_sent + "lorem ipsum dolor."),            # page flagged
        (4, five_sent.replace("four.", "four {.")),       # brace page
        (5, "ok.\nhi.\n" + five_sent),                    # <3-word lines dropped
    ]
    out = {r.doc_id: r for r in c4_filter(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[0].c4_pass and out[0].n_kept == 5 and out[0].n_sentences == 5
    assert out[1].n_kept == 0 and not out[1].c4_pass and out[1].clean_text == ""
    assert out[2].c4_pass and out[2].n_kept == 5  # js line removed
    assert out[3].has_lorem and not out[3].c4_pass
    assert out[4].has_brace and not out[4].c4_pass
    assert out[5].n_lines == 7 and out[5].n_kept == 5  # short lines dropped


def test_char_entropy_known_values(spark):
    import math

    from fluent_bit_spark.operators.text_analysis import char_entropy

    rows = [(0, "aaaa"), (1, "abab"), (2, "abcd"), (3, "")]
    out = {r.doc_id: r for r in char_entropy(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[0].entropy == 0.0 and out[0].n_distinct == 1
    assert out[1].entropy == round(math.log(2), 6)
    assert out[2].entropy == round(math.log(4), 6)
    assert out[3].n_chars == 0 and out[3].entropy == 0.0
    assert out[2].entropy > out[1].entropy > out[0].entropy


def test_curation_scorecard_composes_and_decides(spark):
    from fluent_bit_spark.operators.curation import curation_scorecard

    good = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, good + " " + good),          # passes every cut
        (1, "aaaa aaaa aaaa aaaa aaaa"), # entropy ~0 -> fails
        (2, "hi"),                       # no bigram in corpus? has one; but quality len fails
    ]
    out = {r.doc_id: r for r in curation_scorecard(
        spark.createDataFrame(rows, "doc_id long, text string"),
        min_quality=0.5, min_entropy=2.0, min_logprob=-10.0).collect()}
    assert len(out) == 3
    assert out[0].keep
    assert not out[1].keep and out[1].entropy < 1.0
    assert not out[2].keep  # n_tok < 5 -> quality below threshold
    # one-token doc: no bigram -> logprob null -> keep false via coalesce
    solo = curation_scorecard(
        spark.createDataFrame([(9, "solo")], "doc_id long, text string"),
        min_quality=0.0, min_entropy=0.0, min_logprob=-10.0).collect()[0]
    assert solo.logprob is None and solo.keep is False


def test_clean_text_in_place_and_counts(spark):
    from fluent_bit_spark.operators.curation import clean_text

    rows = [
        (1, "a\x07\x01  b\tc"),      # 2 ctrl chars + whitespace runs
        (2, "‘x’ “y” – —"),          # quote/dash folding only
        (3, "already clean"),
        (4, None),                     # NULL -> '' (unchanged empty)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_ctrl_removed, r.changed)
        for r in clean_text(df, out="text").collect()  # in-place
    }
    assert got[1] == ("a b c", 2, True)
    assert got[2] == ("'x' \"y\" - -", 0, True)
    assert got[3] == ("already clean", 0, False)
    assert got[4] == ("", 0, False)


def test_weighted_sample_allocation_caps_and_hash_order(spark):
    from fluent_bit_spark.operators.sampling import weighted_sample

    rows = (
        [("big", i) for i in range(50)]
        + [("small", 100 + i) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "src string, doc_id long")
    # 'small' is weighted far beyond its 3 rows: take caps at 3, NO
    # redistribution (big stays at its own allocation)
    w = spark.createDataFrame(
        [("big", 0.4), ("small", 0.6)], "src string, weight double"
    )
    out = weighted_sample(df, w, total=20, stratum_col="src", key_col="doc_id")
    got: dict[str, int] = {}
    for r in out.collect():
        got[r.stratum] = got.get(r.stratum, 0) + 1
    # quotas: big 8.0 -> base 8, small 12.0 -> base 12 capped at 3
    assert got == {"big": 8, "small": 3}
    # partition invariance of the selected set
    base = {(r.stratum, r.key) for r in out.collect()}
    again = {
        (r.stratum, r.key)
        for r in weighted_sample(
            df.repartition(7), w, total=20, stratum_col="src", key_col="doc_id"
        ).collect()
    }
    assert again == base
    import pytest

    with pytest.raises(ValueError, match="total"):
        weighted_sample(df, w, total=-1, stratum_col="src", key_col="doc_id")
    with pytest.raises(ValueError, match="duplicates"):
        weighted_sample(
            df,
            w.unionByName(w.limit(1)),
            total=10,
            stratum_col="src",
            key_col="doc_id",
        )
    with pytest.raises(ValueError, match="non-negative"):
        weighted_sample(
            df,
            spark.createDataFrame([("big", -0.1)], "src string, weight double"),
            total=10,
            stratum_col="src",
            key_col="doc_id",
        )


def test_weighted_sample_fractional_leftovers_and_absent_strata(spark):
    from fluent_bit_spark.operators.sampling import weighted_sample

    rows = [(s, i) for i, s in enumerate(["x"] * 30 + ["y"] * 30 + ["z"] * 30)]
    df = spark.createDataFrame(rows, "src string, doc_id long")
    # fractional quotas: 10*(0.35, 0.33, 0.32) = 3.5, 3.3, 3.2 ->
    # bases 3/3/3, budget round(10.0)=10 -> one leftover to the
    # largest frac ('x')
    w = spark.createDataFrame(
        [("x", 0.35), ("y", 0.33), ("z", 0.32)], "src string, weight double"
    )
    got: dict[str, int] = {}
    for r in weighted_sample(df, w, total=10, stratum_col="src", key_col="doc_id").collect():
        got[r.stratum] = got.get(r.stratum, 0) + 1
    assert got == {"x": 4, "y": 3, "z": 3}
    # an absent stratum's seats VANISH — they never leak to the others
    # as spurious +1s (budget = participating quota sum)
    w2 = spark.createDataFrame(
        [("x", 0.5), ("ghost", 0.5)], "src string, weight double"
    )
    got2: dict[str, int] = {}
    for r in weighted_sample(df, w2, total=40, stratum_col="src", key_col="doc_id").collect():
        got2[r.stratum] = got2.get(r.stratum, 0) + 1
    # ghost's 20 seats vanish; x gets exactly its own 40*0.5 = 20
    assert got2 == {"x": 20}


def test_inverted_postings_topk_and_df_floor(spark):
    from fluent_bit_spark.operators.text_analysis import inverted_postings

    rows = (
        # "hot" appears in all 6 docs; "cold" in 2 (below min_df=3);
        # doc 0 repeats hot 3x, doc 1 repeats it 2x
        [(0, "hot hot hot cold"), (1, "hot hot")]
        + [(i, "hot filler") for i in range(2, 6)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = inverted_postings(df, k=2, min_df=3).collect()
    got = {(r.term, r.rank): (r.doc_id, r.tf) for r in out}
    # only 'hot' and 'filler' qualify (df 6 and 4); top-2 by tf, id ties
    assert got == {
        ("hot", 1): (0, 3),
        ("hot", 2): (1, 2),
        ("filler", 1): (2, 1),
        ("filler", 2): (3, 1),
    }
    # partition invariance (the pre-limit must not change the answer)
    for n in (1, 7):
        again = {
            (r.term, r.rank): (r.doc_id, r.tf)
            for r in inverted_postings(df.repartition(n), k=2, min_df=3).collect()
        }
        assert again == got


def test_canonicalize_url_collapses_variants(spark):
    from fluent_bit_spark.operators.curation import url_dedup

    df = spark.createDataFrame(
        [
            (1, "https://Example.COM:443/a/b?utm_source=x&b=2&a=1#frag"),
            (2, "HTTPS://example.com/a/b/?a=1&b=2"),
            (3, "https://example.com/a/b?b=2&utm_campaign=y&a=1&fbclid=z"),
            (4, "https://example.com/a/b?a=1&b=2"),
            (5, "http://example.com:80/"),
            (6, "http://example.com"),
            (7, "not a url"),
            (8, "https://example.com/a/b?a=2&b=2"),  # different value: kept apart
        ],
        "doc_id long, url string",
    )
    out = {r.canon_url: (r.keeper_id, r.n_variants) for r in url_dedup(df).collect()}
    assert out["https://example.com/a/b?a=1&b=2"] == (1, 4)
    assert out["http://example.com/"] == (5, 2)
    assert out["https://example.com/a/b?a=2&b=2"] == (8, 1)
    assert len(out) == 3  # the non-URL row is dropped


def test_subword_count_portable_equals_lookaround(spark, sf_dir):
    """The RE2-safe two-pass subword count must equal the lookaround
    split on the whole corpus plus adversarial adjacency cases."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.text_analysis import (
        bpe_ish_token_count,
        subword_count_portable,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    extra = spark.createDataFrame(
        [("a1a1b",), ("1a2",), ("x9y8z7",), ("",), ("  ",), ("a_b-c.d 42x",)],
        "text string",
    )
    df = docs.unionByName(extra)
    bad = df.filter(
        bpe_ish_token_count(F.col("text")) != subword_count_portable(F.col("text"))
    ).count()
    assert bad == 0


def test_pii_leak_detects_echo_only_after_first_seen(spark):
    """A value echoed by a LATER assistant turn is a leak; the same
    value appearing before the user uttered it, in a non-assistant
    role, or never echoed, is not."""
    from fluent_bit_spark.operators.curation import pii_leak

    rows = [
        # c1: user utters email at 2, assistant echoes at 5 -> leak
        ("c1", 1, "assistant", "early a@b.com mention is not a leak"),
        ("c1", 2, "user", "reach me at a@b.com please"),
        ("c1", 5, "assistant", "ok, emailing a@b.com now"),
        # c1: tool role echo is not a dst role
        ("c1", 6, "tool", "sent to a@b.com"),
        # c2: user PII never echoed
        ("c2", 1, "user", "my ip is 10.0.0.7"),
        ("c2", 2, "assistant", "noted"),
        # c3: assistant PII not uttered by a user first
        ("c3", 1, "assistant", "server 10.1.1.1 is fine"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "norm_role", "text"])
    got = sorted(
        (r.conv_id, r.leak_turn_idx, r.pii_type, r.value, r.first_seen)
        for r in pii_leak(df).collect()
    )
    assert got == [("c1", 5, "email", "a@b.com", 2)]


def test_ip_anonymize_prefix_preservation(spark):
    from pyspark.sql import functions as F
    from fluent_bit_spark.operators.curation import ip_anonymize

    ips = ["10.1.2.3", "10.1.2.99", "10.1.50.3", "172.16.0.1",
           "not-an-ip", "10.1.2", "10.1.2.999"]
    df = spark.createDataFrame([(s,) for s in ips], ["ip"])
    out = dict(
        df.select("ip", ip_anonymize(F.col("ip")).alias("a")).collect()
    )
    a, b, c = out["10.1.2.3"], out["10.1.2.99"], out["10.1.50.3"]
    # same /24 -> same first three anonymized octets, distinct last
    assert a.rsplit(".", 1)[0] == b.rsplit(".", 1)[0]
    assert a != b
    # same /16, different third octet -> split after second octet
    assert a.split(".")[:2] == c.split(".")[:2]
    assert a.split(".")[2] != c.split(".")[2]
    # different first octet -> anonymized first octets differ
    assert a.split(".")[0] != out["172.16.0.1"].split(".")[0]
    # malformed inputs -> NULL, never half-anonymized
    assert out["not-an-ip"] is None
    assert out["10.1.2"] is None and out["10.1.2.999"] is None


def test_ip_anonymize_deterministic_and_keyed(spark):
    from pyspark.sql import functions as F
    from fluent_bit_spark.operators.curation import ip_anonymize

    df = spark.createDataFrame([("192.168.1.1",)], ["ip"])
    r1 = df.select(ip_anonymize(F.col("ip")).alias("a")).collect()[0].a
    r2 = df.select(ip_anonymize(F.col("ip")).alias("a")).collect()[0].a
    r3 = df.select(ip_anonymize(F.col("ip"), key="other").alias("a")).collect()[0].a
    assert r1 == r2 and r1 != r3


def test_fim_transform_exact_cuts(spark):
    from fluent_bit_spark.operators.curation import fim_transform

    # 10 chars: c1 = 4, c2 = 7 -> PRE=abcd SUF=hij MID=efg
    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "tiny"), (3, None)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in fim_transform(df).collect()}
    assert out[1].fim == "<PRE>abcd<SUF>hij<MID>efg"
    assert out[2].fim is None and out[2].n_chars == 4
    assert out[3].fim is None and out[3].n_chars == 0
    # reassembly invariant: PRE + MID + SUF == original
    fim = out[1].fim
    pre = fim[5:fim.index("<SUF>")]
    suf = fim[fim.index("<SUF>") + 5 : fim.index("<MID>")]
    mid = fim[fim.index("<MID>") + 5 :]
    assert pre + mid + suf == "abcdefghij"
