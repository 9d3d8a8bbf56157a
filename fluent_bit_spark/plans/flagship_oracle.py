"""DuckDB oracle SQL for the flagship pipeline.

Independent reimplementation of parse -> enrich -> route -> aggregate
in portable SQL, used by the driver's correctness gate and by tests.
Intentionally NOT generated from the Spark code — divergence here is
the point (it's the oracle).
"""

from __future__ import annotations

from fluent_bit_spark.operators.dedup import MINHASH_P, perm_consts
from fluent_bit_spark.operators.similarity import hyperplanes
from fluent_bit_spark.plans.flagship import ROLE_MAP, SINKS, TOOL_CATEGORIES
from fluent_bit_spark.transcripts import transcripts_sql

# ---------------------------------------------------------------------------
# cross-engine signature SQL (mirrors functions/hashing.py md5_32 hashing:
# both engines derive hashes from md5 hex slices, so MinHash / SimHash /
# hyperplane-LSH outputs are EXACTLY reproducible in DuckDB — the
# signature constants below are shared algorithm parameters, while the
# SQL recomputes every signature independently from the base tables)

# synthesized duplicates for the dedup gates: the raw documents table
# has all-distinct texts at small SFs, so the exact-dedup / cluster
# queries union id-shifted copies of deterministic subsets (one copy of
# every 10th doc, a second copy of every 20th => clusters of size 3)
DUP_DOCS_SQL = """
, all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0)
"""


def _md5_32_sql(expr: str, offset: int = 1) -> str:
    """DuckDB equivalent of functions.hashing.md5_32."""
    return f"(('0x' || substr(md5({expr}),{offset},8))::BIGINT)"


def _sample_split_sql() -> dict[str, str]:
    """Oracles for the deterministic hash sampling/split operators —
    thresholds computed with the SAME Python float arithmetic the
    operator uses, so boundary rows agree exactly."""
    domain = 1 << 32
    sample_thr = int(0.25 * domain)
    b_train = int(0.8 * domain)
    b_val = int((0.8 + 0.1) * domain)
    return {
        "doc_sample": f"""SELECT doc_id FROM documents
             WHERE ({_md5_32_sql('text')} % {domain}) < {sample_thr}""",
        "doc_split": f"""SELECT doc_id,
                    CASE WHEN h < {b_train} THEN 'train'
                         WHEN h < {b_val} THEN 'val'
                         ELSE 'test' END AS split
             FROM (SELECT doc_id,
                          {_md5_32_sql('CAST(doc_id AS VARCHAR)')} % {domain} AS h
                   FROM documents)""",
        # largest-remainder stratified allocation: base = floor(n*f),
        # leftovers = round(total*f) - sum(base) to the largest
        # fractional quotas (ties by stratum); selection in hash order
        "strat_sample": f"""
, sa_n AS (SELECT lang AS stratum, COUNT(*) AS n FROM documents GROUP BY lang)
, sa_t AS (SELECT CAST(floor(SUM(n) * {0.1!r}::DOUBLE + 0.5) AS BIGINT) AS take_total,
                  CAST(SUM(CAST(floor(n * {0.1!r}::DOUBLE) AS BIGINT)) AS BIGINT) AS base_sum
           FROM sa_n)
, sa_r AS (SELECT stratum, n,
                  CAST(floor(n * {0.1!r}::DOUBLE) AS BIGINT) AS base,
                  n * {0.1!r}::DOUBLE - floor(n * {0.1!r}::DOUBLE) AS frac,
                  row_number() OVER (ORDER BY n * {0.1!r}::DOUBLE
                                     - floor(n * {0.1!r}::DOUBLE) DESC, stratum) AS fr
           FROM sa_n)
, sa_a AS (SELECT stratum,
                  base + CASE WHEN fr <= take_total - base_sum THEN 1 ELSE 0 END AS take
           FROM sa_r CROSS JOIN sa_t)
, sa_k AS (SELECT lang AS stratum, doc_id AS key,
                  row_number() OVER (
                    PARTITION BY lang
                    ORDER BY {_md5_32_sql('CAST(doc_id AS VARCHAR)')}, doc_id) AS rk
           FROM documents)
SELECT stratum, key, rk FROM sa_k JOIN sa_a USING (stratum) WHERE rk <= take""",
    }


# curation-family oracles (operators/curation.py). PII patterns are the
# Java-regex/RE2 common subset, so the literal pattern strings are
# shared; text synthesis (PII spans, re-lining, boilerplate) mirrors
# __spark_entry__._pii_docs/_lined_docs verbatim.

_LINED_SQL = """
, lined AS (
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter' || chr(10) ELSE '' END
           || regexp_replace(text, '((\\S+ ){4}\\S+) ', '\\1' || chr(10), 'g')
           || CASE WHEN doc_id % 7 = 0
                   THEN chr(10) || '- bullet item' || chr(10) || '- another bullet'
                        || chr(10) || 'to be continued...'
                   ELSE '' END
           || chr(10) || 'copyright footer 2024' AS text
    FROM documents)
, glines AS (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS words,
           list_filter(list_transform(regexp_split_to_array(text, '\\n'), l -> trim(l)),
                       l -> l <> '') AS lines
    FROM lined)
"""


def _bigram_lm_ctes(p: str) -> str:
    """Add-0.5 bigram-LM per-doc score chain (text_analysis.
    bigram_logprob mirror), ending at {p}d = (doc_id, n_bigrams,
    logprob). Per-bigram ln terms fixed-point to BIGINT before the
    per-doc sum; constants ::DOUBLE (a bare decimal literal types as
    DECIMAL in DuckDB and diverges from Spark in the last ulp).
    Shared by the bigram_logprob and ccnet_buckets oracles."""
    return f""", {p}tk AS (
               SELECT doc_id,
                      list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> x <> '') AS tk
               FROM documents),
             {p}bb AS (
               SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM (
                 SELECT doc_id, unnest([{{'w1': tk[i], 'w2': tk[i+1]}}
                                        FOR i IN range(1, len(tk))]) AS g
                 FROM {p}tk)),
             {p}c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM {p}bb GROUP BY 1, 2),
             {p}u AS (SELECT w, COUNT(*) AS n1 FROM
                      (SELECT unnest(tk) AS w FROM {p}tk) GROUP BY 1),
             {p}v AS (SELECT COUNT(*) AS v FROM {p}u),
             {p}s AS (
               SELECT b.doc_id,
                      CAST(round(ln((c.n2 + 0.5::DOUBLE)
                                    / (u.n1 + 0.5::DOUBLE * v.v))
                                 * 1000000) AS BIGINT) AS fx
               FROM {p}bb b JOIN {p}c2 c USING (w1, w2)
                    JOIN {p}u u ON u.w = b.w1 CROSS JOIN {p}v v),
             {p}d AS (
               SELECT doc_id, COUNT(*) AS n_bigrams,
                      round(SUM(fx) / 1000000.0 / COUNT(*), 6) AS logprob
               FROM {p}s GROUP BY doc_id)"""


def _curation_sql() -> dict[str, str]:
    from fluent_bit_spark.operators.curation import PII_RULES

    # progressive redaction: each category's count is taken on the text
    # AFTER the previous categories were replaced (the operator's
    # sequential contract)
    pii_ctes, prev = [], "text"
    for i, (name, pat, repl) in enumerate(PII_RULES):
        cur = f"t{i + 1}"
        pii_ctes.append(
            f", p{i + 1} AS (SELECT *,"
            f" len(regexp_extract_all({prev}, '{pat}')) AS n_{name},"
            f" regexp_replace({prev}, '{pat}', '{repl}', 'g') AS {cur}"
            f" FROM {'pii' if i == 0 else f'p{i}'})"
        )
        prev = cur
    pii_sql = (
        """
, pii AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@mail.example.com or 555-123-4567 ssn 123-45-6789 from 10.0.42.7'
                ELSE text END AS text
    FROM documents)"""
        + "".join(pii_ctes)
        + f"""
SELECT doc_id, {prev} AS redacted, n_email, n_ssn, n_phone, n_ipv4
FROM p{len(PII_RULES)}"""
    )

    gopher_sql = (
        _LINED_SQL
        + """
, gm AS (
    SELECT doc_id, len(words) AS n_words,
           CASE WHEN len(words) > 0 THEN CAST(list_aggregate(list_transform(words, w -> length(w)), 'sum') AS DOUBLE) / len(words) ELSE 0.0 END AS mwl,
           CASE WHEN len(words) > 0 THEN CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(words) ELSE 0.0 END AS sym,
           CASE WHEN len(words) > 0 THEN CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(words) ELSE 0.0 END AS fal,
           CASE WHEN len(lines) > 0 THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) ELSE 0.0 END AS fdl,
           CASE WHEN len(lines) > 0 THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE) / len(lines) ELSE 0.0 END AS fbl,
           CASE WHEN len(lines) > 0 THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) AS DOUBLE) / len(lines) ELSE 0.0 END AS fel
    FROM glines)
SELECT doc_id, n_words,
       round(mwl, 6) AS mean_word_len_g, round(sym, 6) AS symbol_ratio,
       round(fal, 6) AS frac_alpha_words, round(fdl, 6) AS frac_dup_lines,
       round(fbl, 6) AS frac_bullet_lines, round(fel, 6) AS frac_ellipsis_lines,
       (n_words >= 10 AND n_words <= 100000
        AND round(mwl, 6) >= 2.0 AND round(mwl, 6) <= 12.0
        AND round(sym, 6) <= 0.1 AND round(fal, 6) >= 0.7
        AND round(fdl, 6) <= 0.3 AND round(fbl, 6) <= 0.9
        AND round(fel, 6) <= 0.3) AS gopher_pass
FROM gm"""
    )

    contamination_sql = """
, ctk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
    FROM documents)
, csh AS (
    SELECT doc_id,
           list_distinct([array_to_string(tk[i:i+12], ' ') FOR i IN range(1, len(tk) - 11)]) AS shs
    FROM ctk WHERE len(tk) >= 13)
, cbench AS (SELECT DISTINCT unnest(shs) AS shingle FROM csh WHERE doc_id % 50 = 0)
, cex AS (SELECT doc_id, unnest(shs) AS shingle FROM csh)
, chits AS (SELECT cex.doc_id, cex.shingle FROM cex JOIN cbench USING (shingle))
SELECT doc_id, COUNT(DISTINCT shingle) AS n_overlap,
       COUNT(DISTINCT shingle) >= 1 AS contaminated
FROM chits GROUP BY doc_id"""

    # C4 line/page rules over the re-sentenced docs (mirrors
    # __spark_entry__._c4_docs + curation.c4_filter)
    c4_sql = """
, c4src AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN 'this line has javascript inside it.' || chr(10) ELSE '' END
           || regexp_replace(text, '((\\S+ ){5}\\S+) ', '\\1.' || chr(10), 'g')
           || CASE WHEN doc_id % 7 = 0
                   THEN chr(10) || 'lorem ipsum dolor sit.' ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN chr(10) || 'tiny line.' ELSE '' END AS text
    FROM documents)
, c4l AS (SELECT doc_id, text,
                 list_filter(list_transform(string_split(text, chr(10)),
                                            l -> trim(l)), l -> l <> '') AS lines
          FROM c4src)
, c4k AS (SELECT doc_id, text, lines,
                 list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
                     AND len(list_filter(regexp_split_to_array(l, '\\s+'),
                                         w -> w <> '')) >= 3
                     AND NOT contains(lower(l), 'javascript')) AS kept
          FROM c4l)
, c4c AS (SELECT doc_id, text, lines, kept,
                 coalesce(array_to_string(kept, chr(10)), '') AS clean
          FROM c4k)
SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
       len(regexp_extract_all(clean, '[.!?]')) AS n_sentences,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       contains(text, '{') AS has_brace,
       (len(regexp_extract_all(clean, '[.!?]')) >= 5
        AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{')) AS c4_pass,
       clean AS clean_text
FROM c4c"""

    # cross-doc duplicated n-gram span removal (curation.
    # cross_doc_span_dedup, n=8): same tokenization, gram windows via a
    # ROWS frame, duplicate/canonical pick via per-gram windowed
    # count + row_number, covered positions expanded from range()
    span_n = 8
    span_sql = f"""
, sdt AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
    FROM documents)
, sdtok AS (
    SELECT doc_id, unnest(tk) AS tok,
           unnest(range(1, len(tk) + 1)) AS pos, len(tk) AS nt
    FROM sdt)
, sdocc AS (
    SELECT doc_id, start, g FROM (
        SELECT doc_id, pos AS start, nt,
               string_agg(tok, ' ') OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {span_n - 1} FOLLOWING) AS g
        FROM sdtok)
    WHERE start + {span_n - 1} <= nt)
, sdmark AS (
    SELECT doc_id, start,
           COUNT(*) OVER (PARTITION BY g) AS cnt,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, start) AS rn
    FROM sdocc)
, sdrm AS (
    SELECT DISTINCT doc_id, start + u.i AS p
    FROM (SELECT doc_id, start FROM sdmark WHERE cnt >= 2 AND rn > 1) nc,
         LATERAL (SELECT unnest(range(0, {span_n})) AS i) u)
, sdkept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM sdtok t LEFT JOIN sdrm r ON t.doc_id = r.doc_id AND t.pos = r.p
    WHERE r.p IS NULL)
, sdreb AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt FROM sdkept GROUP BY doc_id)
SELECT d.doc_id, d.nt AS n_tokens,
       COALESCE(r.c, 0) AS removed_tokens,
       COALESCE(k.txt, '') AS cleaned_text
FROM (SELECT doc_id, len(tk) AS nt FROM sdt) d
LEFT JOIN (SELECT doc_id, COUNT(*) AS c FROM sdrm GROUP BY doc_id) r USING (doc_id)
LEFT JOIN sdreb k USING (doc_id)"""

    quota_sql = f"""
SELECT doc_id, source FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {_md5_32_sql('CAST(doc_id AS VARCHAR)')}, doc_id) AS rk
    FROM documents) WHERE rk <= 5"""

    line_dedup_sql = (
        _LINED_SQL
        + """
, lex AS (SELECT doc_id, unnest(lines) AS line,
                 unnest(range(1, len(lines) + 1)) AS pos
          FROM glines)
, lcommon AS (SELECT line FROM lex GROUP BY line HAVING COUNT(DISTINCT doc_id) > 2)
, lkept AS (SELECT doc_id, pos, line FROM lex
            WHERE line NOT IN (SELECT line FROM lcommon))
, lreb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
           FROM lkept GROUP BY doc_id)
SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text
FROM documents d LEFT JOIN lreb r USING (doc_id)"""
    )

    # intra-doc dedup: every 4th doc's first line re-appended twice
    # (mirrors __spark_entry__._q_intra_doc_dedup), then
    # first-occurrence keep via the index lambda — the exact contract
    # the Spark operator states.
    intra_doc_sql = (
        _LINED_SQL
        + """
, rep AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0
                THEN text || chr(10) || string_split(text, chr(10))[1]
                          || chr(10) || string_split(text, chr(10))[1]
                ELSE text END AS text
    FROM lined)
, rl AS (
    SELECT doc_id,
           list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                       l -> l <> '') AS lines
    FROM rep)
, rk AS (
    SELECT doc_id, lines,
           list_filter(lines, (l, i) -> list_position(lines, l) = i) AS kept
    FROM rl)
SELECT doc_id,
       COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
       len(lines) - len(kept) AS n_dropped
FROM rk"""
    )

    ngram_topk_sql = """
, ntk AS (
    SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
    FROM documents)
, ng AS (
    SELECT unnest([array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))]) AS ngram
    FROM ntk WHERE len(tk) >= 2)
SELECT ngram, COUNT(*) AS freq
FROM ng GROUP BY ngram
ORDER BY freq DESC, ngram LIMIT 20"""

    len_pct_sql = """
SELECT role, COUNT(*) AS n_docs,
       round(quantile_cont(length(text), 0.25), 6) AS p25,
       round(quantile_cont(length(text), 0.50), 6) AS p50,
       round(quantile_cont(length(text), 0.90), 6) AS p90,
       round(quantile_cont(length(text), 0.99), 6) AS p99
FROM transcripts GROUP BY role"""

    # transcript-structure ops (operators/transcript_qa.py): role
    # normalization mirrors plans/flagship.ROLE_MAP via a generated CASE
    from fluent_bit_spark.plans.flagship import ROLE_MAP

    def _role_case(col: str) -> str:
        whens = "".join(
            f" WHEN {col} = '{raw}' THEN '{norm}'" for raw, norm in ROLE_MAP
        )
        return f"CASE{whens} ELSE 'other' END"

    rc = _role_case("role")
    sft_pairs_sql = f"""
, sp1 AS (
    SELECT conv_id, turn_idx, text, {rc} AS nrole,
           lead({rc}) OVER w AS next_role,
           lead(turn_idx) OVER w AS next_idx,
           lead(text) OVER w AS next_text
    FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
SELECT conv_id, turn_idx AS prompt_idx, text AS prompt,
       next_idx AS response_idx, next_text AS response
FROM sp1 WHERE nrole = 'user' AND next_role = 'assistant'"""

    # core CTE chains are shared with the conv_scorecard composition
    role_qa_core = f"""
, rq1 AS (
    SELECT conv_id, turn_idx, {rc} AS nrole,
           lag({rc}) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
    FROM transcripts)
, rq2 AS (
    SELECT conv_id, COUNT(*) AS n_turns,
           SUM(CASE WHEN nrole = prev THEN 1 ELSE 0 END) AS n_same_role_adjacent,
           arg_min(nrole, turn_idx) AS first_role,
           arg_max(nrole, turn_idx) AS last_role,
           SUM(CASE WHEN nrole = 'tool' THEN 1 ELSE 0 END) AS n_tool_turns
    FROM rq1 GROUP BY conv_id)
, rq3 AS (
    SELECT *, (n_same_role_adjacent = 0
               AND first_role IN ('system', 'user')) AS structure_ok
    FROM rq2)"""
    role_qa_sql = role_qa_core + """
SELECT conv_id, n_turns, n_same_role_adjacent, first_role, last_role,
       n_tool_turns, structure_ok
FROM rq3"""

    max_ctx = 64
    context_pairs_sql = f"""
, cp1 AS (
    SELECT conv_id, turn_idx, {rc} AS nrole, coalesce(text, '') AS text
    FROM transcripts)
, cp2 AS (
    SELECT conv_id, turn_idx, nrole, text,
           coalesce(list(text) OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING),
                    []::VARCHAR[]) AS prior
    FROM cp1)
, cp3 AS (
    SELECT conv_id, turn_idx, text,
           list_filter(regexp_split_to_array(
             trim(coalesce(array_to_string(prior, ' '), '')), '\\s+'),
             x -> x <> '') AS ctk
    FROM cp2 WHERE nrole = 'assistant')
SELECT conv_id, turn_idx,
       CAST(least(len(ctk), {max_ctx}) AS INT) AS n_ctx_tokens,
       coalesce(array_to_string(
         ctk[greatest(len(ctk) - {max_ctx} + 1, 1)
             : len(ctk)], ' '), '') AS context,
       text AS response
FROM cp3"""

    render_chat_sql = f"""
, rcl AS (SELECT conv_id, turn_idx,
                 '<|' || {rc} || '|>' || chr(10) || coalesce(text, '') AS line
          FROM transcripts)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       array_to_string(list(line ORDER BY turn_idx), chr(10)) AS rendered
FROM rcl GROUP BY conv_id"""

    # mixture: share^alpha fixed-pointed (x 1e9) before the normalizing
    # sum; alpha cast ::DOUBLE (bare literal would be DECIMAL).
    # _MIX_CTES is shared with the mix_manifest oracle.
    mixture_sql = _MIX_CTES + """
SELECT source, n_docs, n_tokens,
       round(n_tokens / tot, 6) AS share,
       round(fx / z, 6) AS weight
FROM mwp CROSS JOIN mwz ORDER BY source"""

    conv_dedup_sql = """
, dctr AS (
    SELECT conv_id, turn_idx, text FROM transcripts
    UNION ALL
    SELECT conv_id || '-copy' AS conv_id, turn_idx, text
    FROM transcripts WHERE conv_id LIKE '%0')
, dcfp AS (
    SELECT conv_id, md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS fp
    FROM dctr WHERE turn_idx < 3 GROUP BY conv_id)
SELECT fp, min(conv_id) AS keep_conv, COUNT(*) AS n_convs
FROM dcfp GROUP BY fp"""

    pack_sql = """
, pk1 AS (
    SELECT doc_id, source,
           len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
    FROM documents)
, pk2 AS (
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_offset
    FROM pk1)
SELECT doc_id, source, n_tokens, start_offset,
       CAST(start_offset // 256 AS BIGINT) AS bin,
       CAST(CASE WHEN n_tokens > 0
            THEN (start_offset + n_tokens - 1) // 256 - start_offset // 256
            ELSE 0 END AS BIGINT) AS n_splits
FROM pk2"""

    chunk_sql = """
, ck1 AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
    FROM documents)
, ck2 AS (SELECT doc_id, tk, len(tk) AS n FROM ck1 WHERE len(tk) > 0)
, ck3 AS (
    SELECT doc_id, tk, n,
           unnest(range(0, CAST(floor((n - 1) / 32) AS BIGINT) + 1)) AS ci
    FROM ck2)
SELECT doc_id, CAST(ci AS INT) AS chunk_idx, ci * 32 AS chunk_start,
       len(tk[ci * 32 + 1 : ci * 32 + 64]) AS n_chunk_tokens,
       array_to_string(tk[ci * 32 + 1 : ci * 32 + 64], ' ') AS chunk
FROM ck3"""

    dup_ngram_sql = (
        DUP_DOCS_SQL
        + """
, dng AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
    FROM all_docs)
, dgr AS (
    SELECT doc_id,
           unnest([array_to_string(tk[i:i+12], ' ') FOR i IN range(1, len(tk) - 11)]) AS g
    FROM dng WHERE len(tk) >= 13)
, dcnt AS (SELECT g FROM dgr GROUP BY g HAVING COUNT(*) > 1)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN dcnt.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       round(CAST(SUM(CASE WHEN dcnt.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_fraction
FROM dgr LEFT JOIN dcnt ON dgr.g = dcnt.g
GROUP BY doc_id"""
    )

    tool_transitions_sql = """
, tt1 AS (
    SELECT conv_id, turn_idx, tool,
           lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_tool
    FROM transcripts WHERE tool IS NOT NULL)
SELECT tool AS from_tool, next_tool AS to_tool, COUNT(*) AS n
FROM tt1 WHERE next_tool IS NOT NULL GROUP BY tool, next_tool"""

    # weighted PageRank, 3 unrolled iterations matching operators/graph.py:
    # constants are cast to DOUBLE before arithmetic — DuckDB numeric
    # literals are DECIMAL, so bare (1.0 - 0.85) evaluates in decimal
    # (exactly 0.15) and yields a different double than Python's
    # 1.0 - damping (0.15000000000000002). With the casts the base-term
    # doubles agree exactly; per-iteration round-9 absorbs the
    # remaining addition-order drift in the SUM.
    pr_iter = """
pr{K} AS (
    SELECT nd.node,
           round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))/nn.n
                 + CAST(0.85 AS DOUBLE)*coalesce(SUM(p.pr * sh.share), 0), 9) AS pr
    FROM pr_nodes nd CROSS JOIN pr_n nn
    LEFT JOIN pr_sh sh ON sh.d = nd.node
    LEFT JOIN pr{J} p ON p.node = sh.s
    GROUP BY nd.node, nn.n)"""
    pagerank_sql = (
        """
, tt1 AS (
    SELECT conv_id, turn_idx, tool,
           lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_tool
    FROM transcripts WHERE tool IS NOT NULL),
pr_e AS (
    SELECT tool AS s, next_tool AS d, CAST(count(*) AS DOUBLE) AS w
    FROM tt1 WHERE next_tool IS NOT NULL GROUP BY tool, next_tool),
pr_nodes AS (SELECT s AS node FROM pr_e UNION SELECT d FROM pr_e),
pr_n AS (SELECT count(*) AS n FROM pr_nodes),
pr_out AS (SELECT s, SUM(w) AS outw FROM pr_e GROUP BY s),
pr_sh AS (SELECT e.s, e.d, e.w/o.outw AS share FROM pr_e e JOIN pr_out o USING (s)),
pr0 AS (SELECT node, CAST(1.0 AS DOUBLE)/nn.n AS pr FROM pr_nodes CROSS JOIN pr_n nn),"""
        + ",".join(
            pr_iter.format(K=k, J=k - 1) for k in (1, 2, 3)
        )
        + """
SELECT node AS tool, pr FROM pr3"""
    )

    # DSIR importance weights (sampling.dsir_weights, target = en docs,
    # 4096 hashed-bigram buckets, add-0.5 smoothing): per-bucket
    # log-ratios fixed-pointed to BIGINT before the per-doc sum
    dsir_b, dsir_k = 4096, 0.5
    dsir_sql = f"""
, dst AS (
    SELECT doc_id, (lang = 'en') AS is_t,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
    FROM documents)
, dsg AS (SELECT doc_id, is_t,
                 unnest([tk[i] || ' ' || tk[i + 1] FOR i IN range(1, len(tk))]) AS g
          FROM dst)
, dsb AS (SELECT doc_id, is_t, {_md5_32_sql('g')} % {dsir_b} AS b FROM dsg)
, dss AS (SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS t,
                 SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS r
          FROM dsb GROUP BY b)
, dstot AS (SELECT CAST(SUM(t) AS BIGINT) AS tt, CAST(SUM(r) AS BIGINT) AS rt
            FROM dss)
, dlam AS (SELECT b,
                  CAST(round((ln((t + {dsir_k!r}::DOUBLE) / (tt + {dsir_k * dsir_b!r}::DOUBLE))
                            - ln((r + {dsir_k!r}::DOUBLE) / (rt + {dsir_k * dsir_b!r}::DOUBLE)))
                             * 1000000.0::DOUBLE) AS BIGINT) AS lam
           FROM dss, dstot)
, ddoc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM dsb GROUP BY doc_id, b)
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
       round(CAST(SUM(cnt * lam) AS BIGINT) / 1000000.0, 6) AS logw
FROM ddoc JOIN dlam USING (b) GROUP BY doc_id"""

    # funnel: the fold's "first X strictly after Y" chain is the
    # closed-form chained FILTERed MIN (turn_idx unique per conv)
    funnel_core = f"""
, fn1 AS (SELECT conv_id, turn_idx, {rc} AS nrole, tool FROM transcripts)
, fns1 AS (SELECT conv_id,
                  CAST(min(turn_idx) FILTER (WHERE nrole = 'user') AS INT) AS s1
           FROM fn1 GROUP BY conv_id)
, fns2 AS (SELECT t.conv_id, any_value(f.s1) AS s1,
                  CAST(min(t.turn_idx) FILTER (
                    WHERE t.tool IS NOT NULL AND t.turn_idx > f.s1) AS INT) AS s2
           FROM fn1 t JOIN fns1 f USING (conv_id) GROUP BY t.conv_id)
, fns3 AS (SELECT t.conv_id, any_value(f.s1) AS s1, any_value(f.s2) AS s2,
                  CAST(min(t.turn_idx) FILTER (
                    WHERE t.nrole = 'assistant' AND t.turn_idx > f.s2) AS INT) AS s3
           FROM fn1 t JOIN fns2 f USING (conv_id) GROUP BY t.conv_id)
, fnv AS (SELECT *, s3 IS NOT NULL AS converted FROM fns3)"""
    funnel_sql = funnel_core + """
SELECT conv_id, s1 AS step_user, s2 AS step_tool, s3 AS step_assist,
       converted
FROM fnv"""

    echo_thr = 0.6
    echo_core = f"""
, ec1 AS (
    SELECT conv_id, turn_idx, text, {rc} AS nrole,
           lead({rc}) OVER w AS next_role,
           lead(turn_idx) OVER w AS next_idx,
           lead(text) OVER w AS next_text
    FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
, ec2 AS (
    SELECT conv_id, turn_idx AS prompt_idx, next_idx AS response_idx,
           list_distinct(list_filter(regexp_split_to_array(
             trim(coalesce(text, '')), '\\s+'), x -> x <> '')) AS ptk,
           list_distinct(list_filter(regexp_split_to_array(
             trim(coalesce(next_text, '')), '\\s+'), x -> x <> '')) AS rtk
    FROM ec1 WHERE nrole = 'user' AND next_role = 'assistant')
, ec3 AS (
    SELECT conv_id, prompt_idx, response_idx,
           CAST(len(rtk) AS INT) AS n_resp_tokens,
           CASE WHEN len(rtk) > 0
                THEN round(CAST(len(list_intersect(rtk, ptk)) AS DOUBLE) / len(rtk), 6)
                ELSE 0.0::DOUBLE END AS overlap
    FROM ec2)
, ec4 AS (SELECT *, overlap >= {echo_thr!r}::DOUBLE AS is_echo FROM ec3)"""
    echo_sql = echo_core + """
SELECT conv_id, prompt_idx, response_idx, n_resp_tokens, overlap, is_echo
FROM ec4"""

    # conv_scorecard: the role-QA / funnel / echo cores composed into
    # one per-conversation keep verdict — every flag (structure_ok,
    # converted, is_echo) is defined ONCE, in its core CTE
    conv_scorecard_sql = role_qa_core + funnel_core + echo_core + """
, cs_ec AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(CASE WHEN is_echo THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_echo
            FROM ec4 GROUP BY conv_id)
SELECT r.conv_id, r.n_turns, r.structure_ok, f.converted,
       coalesce(e.n_pairs, 0) AS n_pairs,
       coalesce(e.n_echo, 0) AS n_echo,
       (r.structure_ok AND f.converted
        AND coalesce(e.n_echo, 0) = 0) AS keep
FROM rq3 r JOIN fnv f USING (conv_id) LEFT JOIN cs_ec e USING (conv_id)"""

    # interval overlap: sessions (gap 30 min, Spark session_window
    # semantics: end = last ts + gap, break at diff >= gap) x event
    # spike incidents; exact microsecond intersection of the true
    # overlap predicate — the hour-bucket candidate step is a Spark-side
    # performance device the closed form doesn't need
    interval_sql = """
, io_s AS (
    SELECT conv_id, sess, min(ts) AS s, max(ts) + INTERVAL 30 MINUTE AS e
    FROM (
      SELECT conv_id, ts,
             SUM(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS sess
      FROM (SELECT conv_id, turn_idx, ts,
                   lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
            FROM transcripts))
    GROUP BY conv_id, sess)
, io_l AS (SELECT conv_id || '#' || CAST(epoch_us(s) AS VARCHAR) AS session_id,
                  s, e FROM io_s)
, io_h AS (SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
           FROM events GROUP BY event_type, date_trunc('hour', ts))
, io_a AS (SELECT event_type, avg(n) AS av FROM io_h GROUP BY event_type)
, io_i AS (SELECT event_type || '@' || CAST(epoch_us(hr) AS VARCHAR) AS incident_id,
                  hr AS s, hr + INTERVAL 2 HOUR AS e
           FROM io_h JOIN io_a USING (event_type)
           WHERE n >= 1.5::DOUBLE * av)
SELECT l.session_id, i.incident_id,
       least(epoch_us(l.e), epoch_us(i.e))
         - greatest(epoch_us(l.s), epoch_us(i.s)) AS overlap_us
FROM io_l l JOIN io_i i ON l.s < i.e AND i.s < l.e"""

    # int8 ANN: floor(x/s*127+0.5) codes are bit-identical across
    # engines (same IEEE double expression); dots/norms are small
    # integers, exact in DOUBLE in any accumulation order
    int8_sql = """
, qi1 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
, qi2 AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s FROM qi1)
, qi3 AS (SELECT vec_id,
            CASE WHEN s > 0 THEN list_transform(v, x -> floor(x / s * 127.0 + 0.5))
                 ELSE list_transform(v, x -> 0.0::DOUBLE) END AS q
          FROM qi2)
, qi4 AS (SELECT vec_id, q, list_dot_product(q, q) AS n2 FROM qi3)
, qiq AS (SELECT vec_id AS query_id, q AS qq, n2 AS qn2 FROM qi4
          WHERE vec_id < 5 AND n2 > 0)
, qic AS (SELECT vec_id, q, n2 FROM qi4 WHERE vec_id >= 5 AND n2 > 0)
, qis AS (SELECT query_id, vec_id,
                 round(list_dot_product(q, qq) / sqrt(n2 * qn2), 6) AS qcosine
          FROM qic CROSS JOIN qiq)
SELECT query_id, vec_id, qcosine, rank FROM (
  SELECT query_id, vec_id, qcosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qcosine DESC, vec_id) AS rank
  FROM qis)
WHERE rank <= 10"""

    return {
        "funnel_steps": funnel_sql,
        "echo_overlap": echo_sql,
        "conv_scorecard": conv_scorecard_sql,
        "interval_overlap": interval_sql,
        "ann_int8_topk": int8_sql,
        "tool_pagerank": pagerank_sql,
        "dsir_weights": dsir_sql,
        "pack_offsets": pack_sql,
        "chunk_docs": chunk_sql,
        "dup_ngram_fraction": dup_ngram_sql,
        "tool_transitions": tool_transitions_sql,
        "sft_pairs": sft_pairs_sql,
        "role_qa": role_qa_sql,
        "conv_dedup": conv_dedup_sql,
        "context_pairs": context_pairs_sql,
        "render_chat": render_chat_sql,
        "mixture_weights": mixture_sql,
        "pii_redact": pii_sql,
        "gopher_quality": gopher_sql,
        "contamination": contamination_sql,
        "quota_sample": quota_sql,
        "line_dedup": line_dedup_sql,
        "intra_doc_dedup": intra_doc_sql,
        "span_dedup": span_sql,
        "c4_filter": c4_sql,
        "rate_anomalies": _RA_CTES + "\nSELECT event_type, hour, n, mean_n, z, spike FROM ra_v",
        # alert edges: emit only spike-state TRANSITIONS (alert on
        # false->true, resolve on true->false; NULL z counts as false)
        "alert_edges": _RA_CTES + """
, ae AS (SELECT event_type, hour, n, z,
                coalesce(spike, FALSE) AS sp,
                coalesce(lag(coalesce(spike, FALSE))
                           OVER (PARTITION BY event_type ORDER BY hour),
                         FALSE) AS prev
         FROM ra_v)
SELECT event_type, hour, n, z,
       CASE WHEN sp THEN 'alert' ELSE 'resolve' END AS kind
FROM ae WHERE sp <> prev""",
        # bigram LM: fixed-point ln sums (order-independent); 0.5 cast
        # ::DOUBLE (bare literal would run the smoothing in DECIMAL)
        # char-entropy: per-char -p*ln(p) fixed-pointed to BIGINT over
        # the sorted distinct set (integer sum => order-independent)
        "char_entropy": _CHAR_ENTROPY_CTES + f"""
             SELECT doc_id, n_chars, n_distinct,
                    {_ENTROPY_EXPR} AS entropy
             FROM ce_t""",
        # the composed filter stack: quality heuristics + char entropy +
        # bigram-LM score joined into one per-doc keep decision
        "curation_scorecard": _DOC_STATS_CTES + _CHAR_ENTROPY_CTES
        + _bigram_lm_ctes("sc") + f"""
             SELECT q.doc_id, q.quality, e.entropy, d.logprob,
                    (q.quality >= 0.75 AND e.entropy >= 2.7
                     AND coalesce(d.logprob >= -3.45::DOUBLE, FALSE)) AS keep
             FROM (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM s) q
             JOIN (SELECT doc_id, {_ENTROPY_EXPR} AS entropy FROM ce_t) e
                  USING (doc_id)
             LEFT JOIN scd d USING (doc_id)""",
        "bigram_logprob": _bigram_lm_ctes("bg")
        + """
             SELECT doc_id, n_bigrams, logprob FROM bgd""",
        # CCNet per-language terciles over the same bigram-LM chain;
        # NTILE ordered by (round-6 logprob DESC, doc_id) so the
        # assignment is engine- and partition-independent
        "ccnet_buckets": _bigram_lm_ctes("cb")
        + """
             SELECT doc_id, lang, n_bigrams, logprob,
                    CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                         ELSE 'tail' END AS bucket
             FROM (
               SELECT d.doc_id, m.lang, d.n_bigrams, d.logprob,
                      ntile(3) OVER (PARTITION BY m.lang
                                     ORDER BY d.logprob DESC, d.doc_id) AS nt
               FROM cbd d JOIN documents m USING (doc_id))""",
        # PMI: pairs from the same 1-based slice arithmetic as the
        # Spark shifted-slice zips; ln fold parenthesized identically
        # for cross-engine round-6 lockstep
        "pmi_topk": """, pm_tk AS (
               SELECT list_filter(
                        regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x <> '') AS tk
               FROM documents),
             pm_pr AS (
               SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]}
                              FOR i IN range(1, len(tk))]) AS p FROM pm_tk
               UNION ALL
               SELECT unnest([{'w1': tk[i], 'w2': tk[i+2]}
                              FOR i IN range(1, len(tk) - 1)]) AS p FROM pm_tk),
             pm_pc AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_p
                       FROM pm_pr GROUP BY 1, 2),
             pm_tc AS (SELECT term, count(*) AS n_t FROM
                       (SELECT unnest(tk) AS term FROM pm_tk) GROUP BY term),
             pm_tp AS (SELECT CAST(SUM(n_p) AS BIGINT) AS total_pairs FROM pm_pc),
             pm_tt AS (SELECT CAST(SUM(n_t) AS BIGINT) AS total_tok FROM pm_tc)
             SELECT w1, w2, n_p AS n_pair,
                    round((((ln(n_p) - ln(total_pairs)) - ln(c1.n_t)) - ln(c2.n_t))
                          + 2.0 * ln(total_tok), 6) AS pmi
             FROM pm_pc CROSS JOIN pm_tp CROSS JOIN pm_tt
             JOIN pm_tc c1 ON c1.term = w1
             JOIN pm_tc c2 ON c2.term = w2
             WHERE n_p >= 5
             ORDER BY pmi DESC, w1, w2 LIMIT 20""",
        "tfidf_topk": """, ti_tok AS (
               SELECT doc_id,
                      unnest(list_filter(
                        regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x <> '')) AS term
               FROM documents),
             ti_tf AS (
               SELECT doc_id, term, count(*) AS tf
               FROM ti_tok GROUP BY doc_id, term),
             ti_df AS (
               SELECT term, count(*) AS df FROM ti_tf GROUP BY term),
             ti_n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
             ti_s AS (
               SELECT t.doc_id, t.term, t.tf,
                      round(t.tf * (ln((n.n_docs + 1.0)/(d.df + 1.0)) + 1.0), 6) AS score
               FROM ti_tf t JOIN ti_df d USING (term) CROSS JOIN ti_n n),
             ti_r AS (
               SELECT doc_id, term, tf, score,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term ASC) AS rank
               FROM ti_s)
             SELECT doc_id, term, tf, CAST(rank AS INT) AS rank, score
             FROM ti_r WHERE rank <= 3""",
        # MOSS winnowing (k=5, w=4): identical md5-slice k-gram hashes;
        # window minima via unnest + ROWS-frame min (a list-comprehension
        # form is equivalent but ~2500x slower in DuckDB — interpreted
        # nested lambdas + per-window list copies)
        "winnow_fp": """, wf_clean AS (
               SELECT doc_id,
                      regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS c
               FROM documents),
             wf_h AS (
               SELECT doc_id,
                      ('0x'||substr(md5(substr(c, CAST(i AS INT), 5)),1,8))::BIGINT AS h,
                      i, m
               FROM (SELECT doc_id, c, length(c)-4 AS m,
                            unnest(generate_series(1, length(c)-4)) AS i
                     FROM wf_clean WHERE length(c) >= 5)),
             wf_win AS (
               SELECT doc_id, i, m,
                      min(h) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
               FROM wf_h),
             wf_sel AS (
               SELECT DISTINCT doc_id, fp FROM wf_win WHERE m >= 4 AND i <= m - 3
               UNION
               SELECT doc_id, min(h) AS fp FROM wf_h WHERE m < 4 GROUP BY doc_id)
             SELECT doc_id, fp FROM wf_sel""",
        "ngram_topk": ngram_topk_sql,
        "len_percentiles": len_pct_sql,
        "unigram_logprob": """
, utk AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS w
    FROM documents)
, utot AS (SELECT COUNT(*) AS total FROM utk)
, uvf AS (SELECT w, COUNT(*) AS cnt FROM utk GROUP BY w HAVING COUNT(*) >= 2)
SELECT doc_id, round(AVG(ln(COALESCE(cnt, 0.5) / total)), 6) AS logprob,
       COUNT(*) AS n_tok
FROM utk LEFT JOIN uvf USING (w) CROSS JOIN utot
GROUP BY doc_id""",
    }


NEARDUP_DOCS_SQL = """
, ne_base AS (
    SELECT doc_id, source,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
    FROM documents)
, ne_docs AS (
    SELECT doc_id, text, source FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           coalesce(array_to_string(
             toks[1 : CAST(len(toks) * (50 + doc_id % 40) // 100 AS BIGINT)],
             ' '), '') AS text,
           source
    FROM ne_base WHERE doc_id % 4 = 0)
"""


def _minhash_ctes(
    num_perm: int = 64, bands: int = 32, k: int = 3, table: str = "documents"
) -> str:
    """MinHash-LSH CTE chain (shingles -> md5 base hashes -> affine
    permutation minima -> banded candidate join) through `mh_cand`;
    `mh_sig` keeps the shingle sets for exact verification. Same
    permutation constants as minhash_sig_from_shingles."""
    rows = num_perm // bands
    consts = perm_consts(num_perm)
    sig_exprs = ", ".join(
        f"list_min(list_transform(base, h -> (h*{a} + {b}) % {MINHASH_P}))"
        for a, b in consts
    )
    band_rows = ", ".join(
        f"({b}, array_to_string(sig[{b * rows + 1}:{b * rows + rows}], ','))"
        for b in range(bands)
    )
    return f"""
, mh_tok AS (
    SELECT doc_id AS id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
    FROM {table}),
mh_sh AS (
    SELECT id, CASE WHEN len(toks) >= {k}
        THEN list_distinct([array_to_string(toks[i+1:i+{k}], ' ')
                            for i in range(0, len(toks)-{k}+1)])
        ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
    FROM mh_tok),
mh_sig AS (
    SELECT id, shingles,
           [{sig_exprs}] AS sig
    FROM (SELECT id, shingles,
                 list_transform(shingles, s -> {_md5_32_sql('s')} % {MINHASH_P}) AS base
          FROM mh_sh)),
mh_band AS (
    SELECT id, b.band, b.key FROM mh_sig,
    LATERAL (SELECT * FROM (VALUES {band_rows}) v(band, key)) b),
mh_cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM mh_band a JOIN mh_band b
      ON a.band = b.band AND a.key = b.key AND a.id < b.id)"""


def _minhash_pairs_sql(
    num_perm: int = 64, bands: int = 32, threshold: float = 0.8, k: int = 3
) -> str:
    """Full MinHash-LSH pipeline in SQL: banded candidates + exact
    Jaccard verification."""
    return (
        _minhash_ctes(num_perm, bands, k)
        + f"""
SELECT id_a, id_b,
       round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
FROM mh_cand
JOIN mh_sig sa ON sa.id = id_a
JOIN mh_sig sb ON sb.id = id_b
WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
      / (len(sa.shingles) + len(sb.shingles)
         - len(list_intersect(sa.shingles, sb.shingles))) >= {threshold}"""
    )


def _minhash_eval_sql(
    num_perm: int = 64, bands: int = 16, threshold: float = 0.5, k: int = 3
) -> str:
    """Precision/recall scorecard for MinHash-LSH candidate generation
    vs the exact shingle-Jaccard truth, both restricted to same-source
    pairs (the blocked truth is computable; the restriction applies to
    BOTH sides so the comparison is apples-to-apples). Runs over the
    synthesized near-duplicate corpus (prefix-cut copies with a spread
    of true Jaccards) — the raw table is all-distinct at small SFs."""
    return (
        NEARDUP_DOCS_SQL
        + _minhash_ctes(num_perm, bands, k, table="ne_docs")
        + f"""
, me_src AS (SELECT doc_id AS id, source FROM ne_docs)
, me_s AS (SELECT s.id, s.shingles, d.source
           FROM mh_sig s JOIN me_src d ON d.id = s.id)
, me_j AS (
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))) AS j
    FROM me_s a JOIN me_s b ON a.source = b.source AND a.id < b.id)
, me_truth AS (SELECT id_a, id_b FROM me_j WHERE j >= {threshold!r}::DOUBLE)
, me_pred AS (
    SELECT c.id_a, c.id_b FROM mh_cand c
    JOIN me_src sa ON sa.id = c.id_a
    JOIN me_src sb ON sb.id = c.id_b
    WHERE sa.source = sb.source)
, me_join AS (
    SELECT coalesce(t.id_a, p.id_a) AS id_a,
           (t.id_a IS NOT NULL) AS in_t, (p.id_a IS NOT NULL) AS in_p
    FROM me_truth t FULL OUTER JOIN me_pred p
      ON t.id_a = p.id_a AND t.id_b = p.id_b)
SELECT CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN in_p THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
       CAST(SUM(CASE WHEN in_t AND in_p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN in_t AND NOT in_p THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       round(CAST(SUM(CASE WHEN in_t AND in_p THEN 1 ELSE 0 END) AS DOUBLE)
             / nullif(SUM(CASE WHEN in_p THEN 1 ELSE 0 END), 0), 6) AS precision,
       round(CAST(SUM(CASE WHEN in_t AND in_p THEN 1 ELSE 0 END) AS DOUBLE)
             / nullif(SUM(CASE WHEN in_t THEN 1 ELSE 0 END), 0), 6) AS recall
FROM me_join"""
    )


def _simhash_pairs_sql(max_hamming: int = 3) -> str:
    """Closed-form SimHash oracle: the banded operator has 100% recall
    (pigeonhole over max_hamming+1 bands), so its output is EXACTLY the
    all-pairs set with Hamming(sig_a, sig_b) <= max_hamming. Signatures
    re-derived from md5 slices (bit j of half h = (h >> j) & 1; majority
    vote over tokens; bits packed little-endian over 62 positions)."""
    return f"""
, sim_tok AS (
    SELECT doc_id AS id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
    FROM documents),
sim_hs AS (
    SELECT id, len(toks) AS n,
           list_transform(toks, t -> [{_md5_32_sql('t')} & 2147483647,
                                      {_md5_32_sql('t', 9)} & 2147483647]) AS hs
    FROM sim_tok),
sim_bits AS (
    SELECT id, n,
           list_transform(range(0, 62), j -> CASE WHEN n > 0 AND
               2*list_sum(list_transform(hs, h -> (h[j // 31 + 1] >> (j % 31)) & 1)) >= n
               THEN 1::BIGINT ELSE 0::BIGINT END) AS bits
    FROM sim_hs),
sim_sig AS (
    SELECT id, CASE WHEN n > 0
        THEN CAST(list_sum(list_transform(range(0, 62), j -> bits[j+1] << j)) AS BIGINT)
        ELSE 0 END AS sh
    FROM sim_bits)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM sim_sig a JOIN sim_sig b ON a.id < b.id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}"""


def _planes_values_sql(dim: int, nbits: int) -> str:
    planes = hyperplanes(dim, nbits)
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    return f"(VALUES {rows}) p(pi, pl)"


def _hyperplane_sig_sql(dim: int, nbits: int) -> str:
    """CTEs hp_planes + hp_sigs(vec_id, v, sig): hyperplane signature
    with the dot product folded left-to-right exactly like the Spark
    aggregate (bit-identical doubles, so identical sign bits)."""
    return f"""
, hp_planes AS (SELECT * FROM {_planes_values_sql(dim, nbits)}),
hp_v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings),
hp_sigs AS (
    SELECT vec_id, any_value(v) AS v,
           CAST(SUM(CASE WHEN list_reduce(
                    list_prepend(0.0::DOUBLE, [v[i] * pl[i] for i in range(1, {dim + 1})]),
                    (a, b) -> a + b) >= 0
               THEN 1::BIGINT << pi ELSE 0 END) AS BIGINT) AS sig
    FROM hp_v CROSS JOIN hp_planes
    GROUP BY vec_id)"""


def _lsh_topk_sql(dim: int = 64, nbits: int = 4, k: int = 10) -> str:
    """Hyperplane-LSH top-k oracle: candidates = query bucket plus every
    1-bit-flipped bucket (multi-probe), exact cosine rank within."""
    return (
        _hyperplane_sig_sql(dim, nbits)
        + f""",
lsh_q AS (SELECT vec_id AS query_id, v AS qv, sig FROM hp_sigs WHERE vec_id < 5),
lsh_probe AS (
    SELECT query_id, qv, sig FROM lsh_q
    UNION SELECT query_id, qv, xor(sig, 1::BIGINT << i) FROM lsh_q CROSS JOIN range({nbits}) r(i)),
lsh_cand AS (
    SELECT DISTINCT p.query_id, c.vec_id,
           list_cosine_similarity(c.v, p.qv) AS cos
    FROM lsh_probe p JOIN hp_sigs c ON c.sig = p.sig
    WHERE c.vec_id >= 5)
SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
    SELECT query_id, vec_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
    FROM lsh_cand)
WHERE rank <= {k}"""
    )


def _embed_near_dup_sql(dim: int = 64, nbits: int = 4, threshold: float = 0.25) -> str:
    """Signature-blocked embedding near-dup: pairs share the hyperplane
    bucket, verified by exact cosine — replicates the Spark blocking, so
    the result sets agree exactly (no recall mismatch)."""
    return (
        _hyperplane_sig_sql(dim, nbits)
        + f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM hp_sigs a JOIN hp_sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= {threshold}"""
    )

_APACHE = r'^(\S+) - (\S+) \[([^\]]+) \+0000\] "(\S+) (\S+) HTTP/1\.1" (\d+) (\d+)$'
_SYSLOG = r"^<(\d+)>1 (\S+) (\S+) (\S+) (\d+) (\S+) - (.*)$"


# similarity.centroid_assign mirror: centroids from exact fixed-point
# integer sums (order-independent), components divided once at the end
# with the same operand order as the Spark expression; cosine via
# list_cosine_similarity at round-6 (the ann-query convention)
_CENTROID_SQL = """
, cc0 AS (SELECT label, vec_id, embedding FROM embeddings)
, ccf AS (SELECT label,
                 unnest([{'pos': i, 'fx': CAST(round(embedding[i]::DOUBLE
                                                     * 1000000) AS BIGINT)}
                         FOR i IN range(1, len(embedding) + 1)]) AS p
          FROM cc0)
, ccs AS (SELECT label, p.pos AS pos, CAST(SUM(p.fx) AS BIGINT) AS s,
                 COUNT(*) AS n
          FROM ccf GROUP BY 1, 2)
, ccn AS (SELECT label, MAX(n) AS n_vecs FROM ccs GROUP BY label)
, ccc AS (SELECT s.label,
                 list(s.s / (1000000.0 * n.n_vecs) ORDER BY s.pos) AS centroid
          FROM ccs s JOIN ccn n USING (label) GROUP BY s.label)
, cca AS (SELECT e.vec_id, e.label, c.label AS pred_label,
                 round(list_cosine_similarity(
                   list_transform(e.embedding, x -> x::DOUBLE), c.centroid), 6) AS cosine
          FROM cc0 e CROSS JOIN ccc c)
, ccr AS (SELECT vec_id, label, pred_label, cosine,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cosine DESC, pred_label) AS rn
          FROM cca)
SELECT vec_id, label, pred_label, cosine, label = pred_label AS correct
FROM ccr WHERE rn = 1"""


def _bm25_core(
    cand_where: str, query_cte: str, k: int, k1: float = 1.2, b: float = 0.75
) -> str:
    """Shared CTE chain for every BM25 mirror, ending in `bmr`
    (query_id, doc_id, score, rank<=k). Constants are interpolated via
    repr() AND cast ::DOUBLE — a bare decimal literal types as DECIMAL
    in DuckDB, and e.g. tf * 2.2 in exact decimal arithmetic differs
    from Spark's long * double in the last ulp. Per-term scores
    fixed-point to BIGINT before the sum, so accumulation is
    order-independent. `query_cte` must yield (query_id, term) with
    distinct terms per query."""
    return f"""
, bmt AS (SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(trim(lower(text)),
                                                          '\\s+'),
                                    x -> x <> '')) AS term
          FROM documents WHERE {cand_where})
, bmtf AS (SELECT doc_id, term, COUNT(*) AS tf FROM bmt GROUP BY 1, 2)
, bmdl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len_d FROM bmtf GROUP BY 1)
, bmdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM bmtf GROUP BY 1)
, bmst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(len_d) AS BIGINT) AS total_len FROM bmdl)
, bmq AS ({query_cte})
, bms AS (SELECT q.query_id, t.doc_id,
                 CAST(round((ln(1.0::DOUBLE
                                + (s.n_docs - d.df + 0.5::DOUBLE)
                                  / (d.df + 0.5::DOUBLE))
                             * (t.tf * {k1 + 1.0!r}::DOUBLE)
                             / (t.tf + {k1!r}::DOUBLE
                                       * ({1.0 - b!r}::DOUBLE
                                          + {b!r}::DOUBLE * l.len_d
                                            / (s.total_len / s.n_docs))))
                            * 1000000) AS BIGINT) AS fx
          FROM bmtf t JOIN bmq q USING (term) JOIN bmdf d USING (term)
               JOIN bmdl l ON l.doc_id = t.doc_id CROSS JOIN bmst s)
, bma AS (SELECT query_id, doc_id, SUM(fx) / 1000000.0 AS score
          FROM bms GROUP BY 1, 2)
, bmr AS (SELECT query_id, doc_id, score, rank FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank
    FROM bma) WHERE rank <= {k})"""


def _bm25_sql(k: int = 10) -> dict[str, str]:
    """bm25_topk mirror: queries = doc_id < 3 full texts, candidates =
    the rest. retrieval_eval mirror: every 25th doc's first 8 tokens as
    the query, ALL docs as candidates, self-retrieval recall@1/@10 and
    fixed-point MRR (round(1e6/rank) integer sums)."""
    topk_queries = """SELECT doc_id AS query_id,
                 unnest(list_distinct(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\\s+'),
                   x -> x <> ''))) AS term
          FROM documents WHERE doc_id < 3"""
    eval_queries = """SELECT doc_id AS query_id,
                 unnest(list_distinct(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\\s+'),
                   x -> x <> '')[1:8])) AS term
          FROM documents WHERE doc_id % 25 = 0"""
    eval_sql = _bm25_core("TRUE", eval_queries, k) + f"""
, evq AS (SELECT doc_id AS query_id FROM documents WHERE doc_id % 25 = 0)
, evh AS (SELECT query_id, rank FROM bmr WHERE doc_id = query_id)
, evm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                 CAST(SUM(CASE WHEN rank = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS hits_at_1,
                 CAST(SUM(CASE WHEN rank IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS hits_at_{k},
                 CAST(SUM(coalesce(CAST(round(1000000.0::DOUBLE / rank)
                                        AS BIGINT), 0)) AS BIGINT) AS mrr_fx
          FROM evq LEFT JOIN evh USING (query_id))
SELECT n_queries, hits_at_1, hits_at_{k},
       round(hits_at_1 / n_queries, 6) AS recall_at_1,
       round(hits_at_{k} / n_queries, 6) AS recall_at_{k},
       round(mrr_fx / 1000000.0 / n_queries, 6) AS mrr
FROM evm"""
    # hybrid retrieval: BM25 + dense-cosine top-20 lists for query ids
    # 0..2, fused by fixed-point reciprocal-rank fusion (k0=60, top-10)
    hybrid_sql = _bm25_core(
        "doc_id >= 3", topk_queries, 20
    ) + """
, hyd AS (SELECT query_id, vec_id AS doc_id, rank FROM (
     SELECT q.vec_id AS query_id, c.vec_id,
            row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY round(list_cosine_similarity(
                             CAST(c.embedding AS DOUBLE[]),
                             CAST(q.embedding AS DOUBLE[])), 6) DESC,
                         c.vec_id) AS rank
     FROM embeddings q, embeddings c WHERE q.vec_id < 3 AND c.vec_id >= 3)
   WHERE rank <= 20)
, hyu AS (SELECT query_id, doc_id, rank FROM bmr
          UNION ALL SELECT query_id, doc_id, rank FROM hyd)
, hyg AS (SELECT query_id, doc_id,
                 CAST(SUM(CAST(round(1000000.0::DOUBLE / (60 + rank))
                               AS BIGINT)) AS BIGINT) AS fx,
                 CAST(COUNT(*) AS BIGINT) AS n_lists
          FROM hyu GROUP BY 1, 2)
SELECT query_id, doc_id, round(fx / 1000000.0, 6) AS rrf, n_lists, rank FROM (
  SELECT query_id, doc_id, fx, n_lists,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY fx DESC, doc_id) AS rank
  FROM hyg) WHERE rank <= 10"""
    # hard negatives: self-retrieval queries, positive = self (labeled,
    # NULL score), negatives = top-5 others re-ranked after the drop.
    # The query sample is capped at max_queries=100000 by md5-ordered
    # rank (text_analysis.hard_negatives keeps bm25's broadcast side
    # constant-bounded at corpus scale); inert at bench SFs, mirrored
    # here so the rule is oracle-pinned at any scale.
    n_neg = 5
    hn_cap = 100_000
    hn_queries = f"""SELECT query_id,
                 unnest(list_distinct(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\\s+'),
                   x -> x <> '')[1:8])) AS term
          FROM (SELECT doc_id AS query_id, text,
                       row_number() OVER (
                         ORDER BY {_md5_32_sql('CAST(doc_id AS VARCHAR)')},
                                  doc_id) AS qrk
                FROM documents WHERE doc_id % 25 = 0)
          WHERE qrk <= {hn_cap}"""
    hard_neg_sql = _bm25_core("TRUE", hn_queries, n_neg + 1) + f"""
, hnq AS (SELECT query_id FROM (
            SELECT doc_id AS query_id,
                   row_number() OVER (
                     ORDER BY {_md5_32_sql('CAST(doc_id AS VARCHAR)')},
                              doc_id) AS qrk
            FROM documents WHERE doc_id % 25 = 0)
          WHERE qrk <= {hn_cap})
, hnn AS (SELECT query_id, doc_id, score,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank)
                      AS INTEGER) AS neg_rank
          FROM bmr WHERE doc_id <> query_id)
SELECT query_id, query_id AS doc_id, 'positive' AS kind,
       CAST(0 AS INTEGER) AS neg_rank, CAST(NULL AS DOUBLE) AS score
FROM hnq
UNION ALL
SELECT query_id, doc_id, 'hard_negative' AS kind, neg_rank, score
FROM hnn WHERE neg_rank <= {n_neg}"""
    from fluent_bit_spark.operators.text_analysis import NDCG_DISC_MILLI

    ndisc = ", ".join(
        f"({r}, {NDCG_DISC_MILLI[r]})" for r in range(1, 11)
    )
    ndcg_sql = _bm25_core("TRUE", eval_queries, 10) + f"""
, nq AS (SELECT doc_id AS query_id FROM documents WHERE doc_id % 25 = 0)
, nqr AS (SELECT query_id, query_id AS doc_id, 3 AS gain FROM nq
          UNION ALL
          SELECT query_id, query_id + 1 AS doc_id, 1 AS gain FROM nq
          WHERE EXISTS (SELECT 1 FROM documents d
                        WHERE d.doc_id = nq.query_id + 1))
, ndisc(r, dm) AS (VALUES {ndisc})
, nh AS (SELECT b.query_id, r.gain, d.dm FROM bmr b
         JOIN nqr r ON b.query_id = r.query_id AND b.doc_id = r.doc_id
         JOIN ndisc d ON d.r = b.rank
         WHERE b.rank <= 10)
, ndc AS (SELECT query_id, CAST(SUM(gain * dm) AS BIGINT) AS dcg
          FROM nh GROUP BY query_id)
, nir AS (SELECT query_id, gain,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY gain DESC, doc_id) AS ir
          FROM nqr)
, nid AS (SELECT n.query_id, CAST(SUM(n.gain * d.dm) AS BIGINT) AS idcg
          FROM nir n JOIN ndisc d ON d.r = n.ir
          WHERE n.ir <= 10 GROUP BY n.query_id)
SELECT i.query_id, CAST(COALESCE(c.dcg, 0) AS BIGINT) AS dcg_milli,
       i.idcg AS idcg_milli,
       COALESCE(c.dcg, 0) * 1000000 // i.idcg AS ndcg_ppm
FROM nid i LEFT JOIN ndc c USING (query_id)"""

    return {
        "bm25_topk": _bm25_core("doc_id >= 3", topk_queries, k)
        + "\nSELECT query_id, doc_id, score, rank FROM bmr",
        "ndcg_eval": ndcg_sql,
        "retrieval_eval": eval_sql,
        "hybrid_topk": hybrid_sql,
        "hard_negatives": hard_neg_sql,
    }


def _kmeans_ctes(k: int = 8, iters: int = 3) -> str:
    """The unrolled k-means CTE chain (ends at kb{iters} =
    (vec_id, cluster, cosine), with km0 = (vec_id, v)) shared by the
    kmeans_assign and semantic_dedup oracles."""
    ctes = [f"""
, km0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings)
, kc0 AS (SELECT vec_id AS label, v AS centroid FROM km0 WHERE vec_id < {k})"""]
    for t in range(1, iters + 1):
        ctes.append(f"""
, ka{t} AS (SELECT m.vec_id, c.label AS cluster,
                   round(list_cosine_similarity(m.v, c.centroid), 6) AS cosine
            FROM km0 m CROSS JOIN kc{t - 1} c)
, kb{t} AS (SELECT vec_id, cluster, cosine FROM (
              SELECT vec_id, cluster, cosine,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY cosine DESC, cluster) AS rn
              FROM ka{t}) WHERE rn = 1)""")
        if t < iters:
            ctes.append(f"""
, kf{t} AS (SELECT b.cluster,
                   unnest([{{'pos': i, 'fx': CAST(round(m.v[i] * 1000000)
                                                  AS BIGINT)}}
                           FOR i IN range(1, len(m.v) + 1)]) AS p
            FROM kb{t} b JOIN km0 m USING (vec_id))
, ks{t} AS (SELECT cluster, p.pos AS pos, CAST(SUM(p.fx) AS BIGINT) AS s,
                   COUNT(*) AS n
            FROM kf{t} GROUP BY 1, 2)
, kn{t} AS (SELECT cluster, MAX(n) AS n_vecs FROM ks{t} GROUP BY cluster)
, kc{t} AS (SELECT s.cluster AS label,
                   list(s.s / (1000000.0 * n.n_vecs) ORDER BY s.pos) AS centroid
            FROM ks{t} s JOIN kn{t} n USING (cluster) GROUP BY s.cluster)""")
    return "".join(ctes)


def _kmeans_sql(k: int = 8, iters: int = 3, semdedup_thr: float = 0.3) -> dict[str, str]:
    """similarity.kmeans_assign mirror, unrolled per iteration (the
    bpe_merges pattern): assignment = round-6 cosine argmax with
    cluster-asc ties; recompute = the exact fixed-point centroid sums
    from _CENTROID_SQL. Initial centroids are the vec_id < k vectors.

    semantic_dedup rides the same chain: a vector is kept unless a
    smaller-id cluster-mate has round-6 cosine >= threshold."""
    c = _kmeans_ctes(k, iters)
    semdedup = c + f"""
, sdl AS (SELECT b.vec_id, b.cluster, m.v
          FROM kb{iters} b JOIN km0 m USING (vec_id))
, sdd AS (SELECT DISTINCT y.vec_id
          FROM sdl x JOIN sdl y
            ON x.cluster = y.cluster AND x.vec_id < y.vec_id
          WHERE round(list_cosine_similarity(x.v, y.v), 6)
                >= {semdedup_thr!r}::DOUBLE)
SELECT l.vec_id, l.cluster, (d.vec_id IS NULL) AS keep
FROM sdl l LEFT JOIN sdd d USING (vec_id)"""
    # IVF: probe nprobe nearest FINAL-round centroids (kc{iters-1} —
    # the ones that produced assignment kb{iters}), exact cosine inside
    # probed cells only, candidates = vec_id >= 5, queries < 5
    nprobe, topk = 2, 10
    ivf = c + f"""
, ivq AS (SELECT vec_id AS query_id, v FROM km0 WHERE vec_id < 5)
, ivp AS (SELECT query_id, cluster, v FROM (
    SELECT q.query_id, c.label AS cluster, q.v,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.v, c.centroid), 6) DESC,
                      c.label) AS pr
    FROM ivq q CROSS JOIN kc{iters - 1} c) WHERE pr <= {nprobe})
, ivc AS (SELECT b.vec_id, b.cluster, m.v
          FROM kb{iters} b JOIN km0 m USING (vec_id) WHERE b.vec_id >= 5)
, ivs AS (SELECT p.query_id, c.vec_id,
                 round(list_cosine_similarity(p.v, c.v), 6) AS cosine
          FROM ivp p JOIN ivc c USING (cluster))
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM ivs) WHERE rank <= {topk}"""
    return {
        "kmeans_assign": c
        + f"\nSELECT vec_id, cluster, cosine FROM kb{iters} ORDER BY vec_id",
        "semantic_dedup": semdedup,
        "ann_ivf_topk": ivf,
    }


def _pq_ctes(
    m: int = 4, k_codes: int = 4, iters: int = 2, dim: int = 64,
    nq: int = 5, fit_where: str = "TRUE",
) -> str:
    """similarity.pq_fit mirror, CTEs only (ends at pqc = candidate
    codes, pqt = per-query ADC tables): per-subspace unrolled L2
    k-means codebooks (the _kmeans_ctes pattern with squared-L2
    argmin), PQ encoding, and the fixed-point distance tables. Queries
    = vec_id < nq, candidates = the rest. `fit_where` restricts the
    TRAINING rows (pq_fit's fit_fraction hash sample); the final
    encode always runs over all rows. Shared by _pq_sql (full ADC
    ranking) and _ivfpq_sql (cell-restricted ranking).

    NOTE: the p{s}a/b/f/s/n/c chain is the same fitting recipe as
    _kmeans_ctes' ka/kb/kf/ks/kn/kc (score expression, sort direction,
    and source differ) — a change to the shared recipe (fixed-point
    constant, MAX(n) n_vecs trick, tie rules) must be mirrored in BOTH
    generators, exactly as the Spark side shares one literal-centroid
    fitting recipe (similarity._kmeans_fit / pq_fit)."""
    sd = dim // m

    def ssq(a: str, b: str) -> str:
        return (
            f"list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
            f"FOR i IN range(1, {sd} + 1)])"
        )

    parts = ["""
, pq0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings)"""]
    for s in range(m):
        lo = s * sd + 1
        parts.append(f"""
, p{s}m AS (SELECT vec_id, v[{lo}:{lo + sd - 1}] AS sv FROM pq0)
, p{s}w AS (SELECT * FROM p{s}m WHERE {fit_where})
, p{s}c0 AS (SELECT vec_id AS label, sv AS centroid FROM p{s}m
             WHERE vec_id < {k_codes})""")
        for t in range(1, iters + 1):
            # training rounds assign/recompute over the fit sample; the
            # FINAL round assigns every row against the fitted books
            src = f"p{s}m" if t == iters else f"p{s}w"
            parts.append(f"""
, p{s}a{t} AS (SELECT mm.vec_id, c.label AS cluster,
                      round({ssq('mm.sv', 'c.centroid')}, 6) AS d
               FROM {src} mm CROSS JOIN p{s}c{t - 1} c)
, p{s}b{t} AS (SELECT vec_id, cluster FROM (
                 SELECT vec_id, cluster,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d ASC, cluster) AS rn
                 FROM p{s}a{t}) WHERE rn = 1)""")
            if t < iters:
                parts.append(f"""
, p{s}f{t} AS (SELECT b.cluster,
                      unnest([{{'pos': i,
                                'fx': CAST(round(mm.sv[i] * 1000000) AS BIGINT)}}
                              FOR i IN range(1, {sd} + 1)]) AS p
               FROM p{s}b{t} b JOIN p{s}w mm USING (vec_id))
, p{s}s{t} AS (SELECT cluster, p.pos AS pos, CAST(SUM(p.fx) AS BIGINT) AS sm,
                      COUNT(*) AS n
               FROM p{s}f{t} GROUP BY 1, 2)
, p{s}n{t} AS (SELECT cluster, MAX(n) AS n_vecs FROM p{s}s{t} GROUP BY cluster)
, p{s}c{t} AS (SELECT ss.cluster AS label,
                      list(ss.sm / (1000000.0 * nn.n_vecs) ORDER BY ss.pos)
                        AS centroid
               FROM p{s}s{t} ss JOIN p{s}n{t} nn USING (cluster)
               GROUP BY ss.cluster)""")
    code_union = "\n    UNION ALL ".join(
        f"SELECT vec_id, {s} AS sub, cluster AS code FROM p{s}b{iters} "
        f"WHERE vec_id >= {nq}"
        for s in range(m)
    )
    dtab_union = "\n    UNION ALL ".join(
        f"""SELECT q.vec_id AS query_id, {s} AS sub, c.label AS code,
               CAST(round({ssq(f'q.v[{s * sd + 1}:{s * sd + sd}]', 'c.centroid')}
                          * 1000000) AS BIGINT) AS fx
        FROM pq0 q CROSS JOIN p{s}c{iters - 1} c WHERE q.vec_id < {nq}"""
        for s in range(m)
    )
    parts.append(f"""
, pqc AS ({code_union})
, pqt AS ({dtab_union})""")
    return "".join(parts)


_PQ_RANK_SELECT = """
, pqs AS (SELECT t.query_id, c.vec_id, CAST(SUM(t.fx) AS BIGINT) AS fx
          FROM pqc c JOIN pqt t ON t.sub = c.sub AND t.code = c.code
          GROUP BY 1, 2)
SELECT query_id, vec_id, round(fx / 1000000.0, 6) AS adc_dist, rank FROM (
  SELECT query_id, vec_id, fx,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY fx ASC, vec_id) AS rank
  FROM pqs) WHERE rank <= {topk}"""


def _pq_sql(
    m: int = 4, k_codes: int = 4, iters: int = 2, dim: int = 64,
    nq: int = 5, topk: int = 10, fit_where: str = "TRUE",
) -> str:
    """Full ADC ranking over the _pq_ctes chain (ann_pq_topk /
    ann_pq_sampled)."""
    return _pq_ctes(m, k_codes, iters, dim, nq, fit_where) + \
        _PQ_RANK_SELECT.format(topk=topk)


def _ivfpq_sql(
    k_clusters: int = 8, km_iters: int = 3, nprobe: int = 2,
    m: int = 4, k_codes: int = 4, pq_iters: int = 2, dim: int = 64,
    nq: int = 5, topk: int = 10,
) -> str:
    """similarity.ivfpq_topk mirror: the _kmeans_ctes coarse quantizer
    chain bounds candidates to probed cells, the _pq_ctes shared
    codebooks provide the per-(query, candidate) ADC sum -- exactly the
    two already-gated recipes composed, so every constant and tie rule
    is pinned by the existing kmeans/pq oracles."""
    return _kmeans_ctes(k_clusters, km_iters) + \
        _pq_ctes(m, k_codes, pq_iters, dim, nq, "TRUE") + f"""
, xq AS (SELECT vec_id AS query_id, v FROM km0 WHERE vec_id < {nq})
, xp AS (SELECT query_id, cluster FROM (
    SELECT q.query_id, c.label AS cluster,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.v, c.centroid), 6) DESC,
                      c.label) AS pr
    FROM xq q CROSS JOIN kc{km_iters - 1} c) WHERE pr <= {nprobe})
, xpair AS (SELECT p.query_id, b.vec_id
            FROM xp p JOIN kb{km_iters} b USING (cluster)
            WHERE b.vec_id >= {nq})
, xadc AS (SELECT pr.query_id, pr.vec_id, CAST(SUM(t.fx) AS BIGINT) AS fx
           FROM xpair pr
           JOIN pqc c ON c.vec_id = pr.vec_id
           JOIN pqt t ON t.query_id = pr.query_id
                     AND t.sub = c.sub AND t.code = c.code
           GROUP BY 1, 2)
SELECT query_id, vec_id, round(fx / 1000000.0, 6) AS adc_dist, rank FROM (
  SELECT query_id, vec_id, fx,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY fx ASC, vec_id) AS rank
  FROM xadc) WHERE rank <= {topk}"""


def _hist_quantiles_sql(
    rows_sql: str,
    group: str | None,
    prefix: str,
    width: int = 64,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """The sketch.hist_quantiles(_by) mirror: fixed-width bucket
    counts -> cumulative window -> first bucket whose cumulative count
    reaches ceil(q * total). ONE generator for the ungrouped, grouped,
    and tool-latency oracles — `rows_sql` must yield (group?, v)."""
    g = f"{group}, " if group else ""
    part = f"PARTITION BY {group} " if group else ""
    tot_over = f"PARTITION BY {group}" if group else ""
    partq = f"PARTITION BY {group}, q" if group else "PARTITION BY q"
    order = f"{group}, q" if group else "q"
    qlist = ", ".join(f"{q}::DOUBLE" for q in qs)
    return f"""
, {prefix}b AS (SELECT {g}v // {width} AS bucket, COUNT(*) AS n
          FROM ({rows_sql}) GROUP BY {g}v // {width})
, {prefix}c AS (SELECT {g}bucket,
                 CAST(SUM(n) OVER ({part}ORDER BY bucket) AS BIGINT) AS cum_n,
                 CAST(SUM(n) OVER ({tot_over}) AS BIGINT) AS n_total
          FROM {prefix}b)
, {prefix}q AS (SELECT unnest([{qlist}]) AS q)
, {prefix}h AS (SELECT {g}q, bucket, cum_n, n_total,
                 row_number() OVER ({partq} ORDER BY bucket) AS rn
          FROM {prefix}q JOIN {prefix}c ON cum_n >= ceil(q * n_total))
SELECT {g}q, bucket, bucket * {width} AS lo,
       bucket * {width} + {width - 1} AS hi, cum_n, n_total
FROM {prefix}h WHERE rn = 1 ORDER BY {order}"""


def _sketch_sql() -> dict[str, str]:
    """operators/sketch.py mirrors: every sketch hashes via md5 hex
    slices, so DuckDB reproduces the bloom verdicts (incl. false
    positives), count-min counters, and HLL registers exactly. The
    bloom membership is re-expressed as "all k positions in the set-bit
    CTE" — semantically identical to the packed-word bit test."""
    m, k, n = 16384, 4, 13
    bloom_sql = f"""
, btk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
    FROM documents)
, bsh AS (
    SELECT doc_id,
           list_distinct([array_to_string(tk[i:i+{n - 1}], ' ') FOR i IN range(1, len(tk) - {n - 2})]) AS shs
    FROM btk WHERE len(tk) >= {n})
, bbench AS (SELECT DISTINCT unnest(shs) AS shingle FROM bsh WHERE doc_id % 50 = 0)
, bbits AS (
    SELECT DISTINCT ('0x'||substr(md5(shingle||'#'||i),1,8))::BIGINT % {m} AS pos
    FROM bbench CROSS JOIN range({k}) r(i))
, bex AS (SELECT doc_id, unnest(shs) AS shingle FROM bsh)
, bpos AS (
    SELECT doc_id, shingle,
           ('0x'||substr(md5(shingle||'#'||i),1,8))::BIGINT % {m} AS pos
    FROM bex CROSS JOIN range({k}) r(i))
, bflag AS (
    SELECT doc_id, shingle FROM bpos JOIN bbits USING (pos)
    GROUP BY doc_id, shingle HAVING COUNT(*) = {k})
, bbloom AS (SELECT doc_id, COUNT(DISTINCT shingle) AS n_bloom FROM bflag GROUP BY doc_id)
, bexact AS (
    SELECT f.doc_id, COUNT(DISTINCT f.shingle) AS n_exact
    FROM bflag f JOIN bbench USING (shingle) GROUP BY f.doc_id)
SELECT b.doc_id, b.n_bloom, COALESCE(e.n_exact, 0) AS n_exact,
       TRUE AS bloom_contaminated, COALESCE(e.n_exact, 0) > 0 AS contaminated
FROM bbloom b LEFT JOIN bexact e USING (doc_id)"""

    depth, width, topk = 4, 512, 20
    cms_sql = f"""
, cmtk AS (
    SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS token
    FROM documents)
, cmc AS (SELECT token, COUNT(*) AS cn FROM cmtk GROUP BY token)
, cmg AS (
    SELECT i AS seed, ('0x'||substr(md5(token||'#'||i),1,8))::BIGINT % {width} AS pos,
           CAST(SUM(cn) AS BIGINT) AS cnt
    FROM cmc CROSS JOIN range({depth}) r(i) GROUP BY 1, 2)
, cmtop AS (SELECT token, cn AS exact_n FROM cmc ORDER BY cn DESC, token LIMIT {topk})
SELECT t.token, t.exact_n, MIN(g.cnt) AS cms_est
FROM cmtop t CROSS JOIN range({depth}) r(i)
JOIN cmg g ON g.seed = i
          AND g.pos = ('0x'||substr(md5(t.token||'#'||i),1,8))::BIGINT % {width}
GROUP BY t.token, t.exact_n
ORDER BY t.exact_n DESC, t.token"""

    p = 10
    rest_bits = 62 - p
    hll_sql = f"""
, hh AS (
    SELECT ((('0x'||substr(md5(conv_id),1,8))::BIGINT & 2147483647) << 31)
           + (('0x'||substr(md5(conv_id),9,8))::BIGINT & 2147483647) AS h
    FROM transcripts WHERE conv_id IS NOT NULL)
, hr AS (SELECT h >> {rest_bits} AS bucket,
                h & ((1::BIGINT << {rest_bits}) - 1) AS rest FROM hh)
SELECT bucket,
       MAX(CASE WHEN rest = 0 THEN {rest_bits + 1}
                ELSE {rest_bits} - length(bin(rest)) + 1 END) AS max_rho
FROM hr GROUP BY bucket"""

    hll_hourly_sql = f"""
, hgh AS (
    SELECT date_trunc('hour', ts) AS hour,
           ((('0x'||substr(md5(conv_id),1,8))::BIGINT & 2147483647) << 31)
           + (('0x'||substr(md5(conv_id),9,8))::BIGINT & 2147483647) AS h
    FROM transcripts WHERE conv_id IS NOT NULL)
, hgr AS (SELECT hour, h >> {rest_bits} AS bucket,
                 h & ((1::BIGINT << {rest_bits}) - 1) AS rest FROM hgh)
SELECT hour, bucket,
       MAX(CASE WHEN rest = 0 THEN {rest_bits + 1}
                ELSE {rest_bits} - length(bin(rest)) + 1 END) AS max_rho
FROM hgr GROUP BY hour, bucket"""

    hist_sql = _hist_quantiles_sql(
        "SELECT length(text) AS v FROM documents WHERE text IS NOT NULL",
        group=None,
        prefix="hq",
    )

    grouped_hist_sql = _hist_quantiles_sql(
        "SELECT role, length(text) AS v FROM transcripts "
        "WHERE length(text) IS NOT NULL",
        group="role",
        prefix="rq",
    )

    return {
        "bloom_contam": bloom_sql,
        "cms_tokens": cms_sql,
        "hll_convs": hll_sql,
        "hll_hourly": hll_hourly_sql,
        "len_quantiles_hist": hist_sql,
        "role_len_quantiles": grouped_hist_sql,
        "centroid_assign": _CENTROID_SQL,
    }


def _bpe_sql(iters: int = 5) -> dict[str, str]:
    """Unrolled-CTE mirror of text_analysis.bpe_merges (pagerank-style
    per-iteration unrolling): each round counts adjacent symbol pairs
    from the distinct-word table, takes the (cnt desc, a, b) argmax,
    and rewrites words with the same greedy leftmost fold — list_reduce
    over singleton-wrapped symbols with a list_prepend'ed empty init
    (DuckDB list_reduce has no init parameter). acc[-1] on the empty
    accumulator is NULL (never an error), matching Spark's F.get."""
    ctes = ["""
, bw AS (
    SELECT word, COUNT(*) AS n FROM (
      SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> x <> '')) AS word
      FROM documents) GROUP BY word)
, b0 AS (SELECT word, n, [substr(word, CAST(i AS INT), 1)
                          FOR i IN range(1, len(word) + 1)] AS sym FROM bw)"""]
    for it in range(1, iters + 1):
        prev = f"b{it - 1}"
        ctes.append(f"""
, p{it} AS (
    SELECT p.a AS a, p.b AS b, CAST(SUM(n) AS BIGINT) AS cnt FROM (
      SELECT n, unnest([{{'a': sym[i], 'b': sym[i+1]}}
                        FOR i IN range(1, len(sym))]) AS p FROM {prev})
    GROUP BY 1, 2)
, t{it} AS (SELECT a, b, a || b AS merged, cnt FROM p{it}
            ORDER BY cnt DESC, a, b LIMIT 1)
, b{it} AS (
    SELECT word, n, list_reduce(
      list_prepend([]::VARCHAR[], list_transform(sym, s -> [s])),
      (acc, x) -> CASE WHEN acc[-1] = tr.a AND x[1] = tr.b
                  THEN list_append(acc[1:len(acc)-1], tr.a || tr.b)
                  ELSE list_append(acc, x[1]) END) AS sym
    FROM {prev}, (SELECT MAX(a) AS a, MAX(b) AS b FROM t{it}) tr)""")
    union = "\nUNION ALL ".join(
        f'SELECT {i} AS iter, a AS "left", b AS "right", merged, cnt FROM t{i}'
        for i in range(1, iters + 1)
    )
    body = "".join(ctes)
    return {
        "bpe_merges": body + f"\n{union} ORDER BY iter",
        "bpe_vocab": body
        + f"\nSELECT word, n, array_to_string(sym, ' ') AS encoded"
        f" FROM b{iters} ORDER BY word",
    }


def _values(rows, alias, cols) -> str:
    def lit(v):
        return "NULL" if v is None else "'" + str(v).replace("'", "''") + "'"

    body = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    return f"(VALUES {body}) AS {alias}({', '.join(cols)})"


def _glob_to_like(glob: str) -> str:
    return glob.replace("%", r"\%").replace("_", r"\_").replace("*", "%")


def pipeline_ctes() -> str:
    """WITH chain: transcripts -> parsed -> enriched -> routed -> per_sink."""
    sinks_values = _values(
        [(name, _glob_to_like(glob)) for name, glob in SINKS], "s", ["sink", "pat"]
    )
    tools_values = _values(TOOL_CATEGORIES, "tc", ["tool_key", "category", "risk_level"])
    roles_values = _values(ROLE_MAP, "rm", ["raw_role", "norm_role"])
    return f"""
WITH transcripts AS ({transcripts_sql('duckdb')}),
parsed AS (
  SELECT t.*,
    CASE
      WHEN regexp_matches(text, '^\\S+ - \\S+ \\[') THEN 'apache'
      WHEN regexp_matches(text, '^level=') THEN 'logfmt'
      WHEN regexp_matches(text, '^\\{{') THEN 'json'
      WHEN regexp_matches(text, '^<\\d+>1 ') THEN 'syslog'
      WHEN regexp_matches(text, '^[A-Za-z0-9_]+:[^\t]*\t') THEN 'ltsv'
      ELSE 'unknown' END AS fmt,
    nullif(regexp_extract(text, '{_APACHE}', 1), '') AS host,
    nullif(regexp_extract(text, '{_APACHE}', 2), '') AS http_user,
    nullif(regexp_extract(text, '{_APACHE}', 3), '') AS atime,
    nullif(regexp_extract(text, '{_APACHE}', 4), '') AS method,
    nullif(regexp_extract(text, '{_APACHE}', 5), '') AS path,
    CAST(nullif(regexp_extract(text, '{_APACHE}', 6), '') AS BIGINT) AS code,
    CAST(nullif(regexp_extract(text, '{_APACHE}', 7), '') AS BIGINT) AS size,
    strptime(nullif(regexp_extract(text, '{_APACHE}', 3), ''), '%d/%b/%Y:%H:%M:%S') AS event_time,
    CASE WHEN starts_with(text, 'level=') THEN nullif(regexp_extract(text, '(^|\\s)level=(\\S+)', 2), '') END AS level,
    CASE WHEN starts_with(text, 'level=') THEN nullif(regexp_extract(text, 'msg="([^"]*)"', 1), '') END AS msg,
    CASE WHEN starts_with(text, 'level=') THEN CAST(nullif(regexp_extract(text, 'latency_cents=(\\d+)', 1), '') AS BIGINT) END AS latency_cents,
    CASE WHEN starts_with(text, '{{') THEN CAST(nullif(regexp_extract(text, '"id": (\\d+)', 1), '') AS BIGINT) END AS json_id,
    CASE WHEN starts_with(text, '{{') THEN nullif(regexp_extract(text, '"word1": "([^"]*)"', 1), '') END AS word1,
    CASE WHEN starts_with(text, '{{') THEN CAST(nullif(regexp_extract(text, '"bytes": (\\d+)', 1), '') AS BIGINT) END AS bytes_cents,
    CASE WHEN starts_with(text, '{{') THEN CAST(nullif(regexp_extract(text, '"usage": (\\d+)', 1), '') AS BIGINT) END AS usage,
    CAST(nullif(regexp_extract(text, '{_SYSLOG}', 1), '') AS BIGINT) AS pri,
    nullif(regexp_extract(text, '{_SYSLOG}', 7), '') AS smsg,
    CASE WHEN regexp_matches(text, '^[A-Za-z0-9_]+:[^\t]*\t') THEN nullif(regexp_extract(text, 'k1:([^\t]*)', 1), '') END AS k1,
    CASE WHEN regexp_matches(text, '^[A-Za-z0-9_]+:[^\t]*\t') THEN CAST(nullif(regexp_extract(text, 'k2:([^\t]*)', 1), '') AS BIGINT) END AS k2,
    CASE WHEN regexp_matches(text, '^[A-Za-z0-9_]+:[^\t]*\t') THEN CAST(nullif(regexp_extract(text, 'cents:(\\d+)', 1), '') AS BIGINT) END AS ltsv_cents
  FROM transcripts t
),
unified AS (
  SELECT p.*,
    CASE fmt
      WHEN 'apache' THEN regexp_extract(path, '^/api/(.*)$', 1)
      WHEN 'logfmt' THEN regexp_extract(msg, '^evt (.*)$', 1)
      WHEN 'json'   THEN word1
      WHEN 'syslog' THEN regexp_extract(smsg, '^(\\S+) happened$', 1)
      WHEN 'ltsv'   THEN k1
    END AS evt_name,
    CASE fmt
      WHEN 'logfmt' THEN latency_cents
      WHEN 'json'   THEN bytes_cents
      WHEN 'ltsv'   THEN ltsv_cents
    END AS amount_cents,
    coalesce(CASE fmt
      WHEN 'apache' THEN code IS NOT NULL
      WHEN 'logfmt' THEN level IS NOT NULL
      WHEN 'json'   THEN json_id IS NOT NULL
      WHEN 'syslog' THEN pri IS NOT NULL
      WHEN 'ltsv'   THEN k1 IS NOT NULL
      ELSE FALSE END, FALSE) AS parse_ok
  FROM parsed p
),
enriched AS (
  SELECT u.*,
    coalesce(tc.category, 'Unknown') AS category,
    coalesce(tc.risk_level, 'none') AS risk_level,
    coalesce(rm.norm_role, 'other') AS norm_role
  FROM unified u
  LEFT JOIN {tools_values} ON u.tool = tc.tool_key
  LEFT JOIN {roles_values} ON u.role = rm.raw_role
),
routed AS (
  SELECT e.* EXCLUDE (tag0),
    CASE WHEN tag0 LIKE 'errors.%' AND fmt = 'apache'
         THEN 'alerts.' || norm_role ELSE tag0 END AS tag
  FROM (
    SELECT e.*,
      CASE
        WHEN NOT parse_ok THEN 'unparsed.' || norm_role
        WHEN evt_name = 'error' THEN 'errors.' || norm_role
        WHEN category <> 'Unknown' THEN 'tools.' || category
        WHEN norm_role = 'tool' THEN 'tools.misc'
        ELSE 'chat.' || norm_role
      END AS tag0
    FROM enriched e
  ) e
),
per_sink AS (
  SELECT r.*, s.sink FROM routed r JOIN {sinks_values} ON r.tag LIKE s.pat ESCAPE '\\'
)
"""


PARSE_COLS = (
    "conv_id, turn_idx, fmt, parse_ok, host, http_user, method, path, code, size, "
    "event_time, level, msg, latency_cents, json_id, word1, bytes_cents, usage, "
    "pri, smsg, k1, k2, ltsv_cents, evt_name, amount_cents"
)


def _grok_parse_sql() -> str:
    """Replay the entry's apache grok expression positionally: the
    expansion is deterministic and base patterns are capture-free, so
    capture i == field i; `:int` fields get the BIGINT cast the Spark
    typecast stage applies."""
    from fluent_bit_spark.operators.grok import grok_compile
    from fluent_bit_spark.operators.parse import java_pattern

    import __spark_entry__ as entry

    regex, fields, casts = grok_compile(entry.GROK_APACHE)
    pos = java_pattern(regex).replace("'", "''")
    cols = []
    for i, f in enumerate(fields):
        e = f"nullif(regexp_extract(text, '{pos}', {i + 1}), '')"
        if casts.get(f) in ("integer", "int"):
            e = f"CAST({e} AS BIGINT)"
        cols.append(f"{e} AS {f}")
    return f"SELECT conv_id, turn_idx, {', '.join(cols)} FROM transcripts"


def _stackdriver_sql() -> str:
    """sinks.stackdriver_transform mirror: the severity token/name
    tables are shared constants (the PII_RULES convention); the SQL
    re-derives every entry field independently from `unified`."""
    from fluent_bit_spark.sinks import (
        STACKDRIVER_SEVERITY,
        STACKDRIVER_SEVERITY_NAMES,
    )

    whens = " ".join(
        f"WHEN '{t}' THEN {n}" for t, n in STACKDRIVER_SEVERITY.items()
    )
    names = " ".join(
        f"WHEN {n} THEN '{s}'" for n, s in STACKDRIVER_SEVERITY_NAMES.items()
    )
    return f"""SELECT 'projects/fluent-bit/logs/fluent-bit' AS logName,
       conv_id || ':' || CAST(turn_idx AS VARCHAR) AS insertId,
       CASE sev {names} END AS severity,
       sev AS severity_num, text AS message, epoch_ms(ts) AS timestamp
FROM (SELECT conv_id, turn_idx, text, ts,
             coalesce(CASE upper(level) {whens} END, 0) AS sev
      FROM unified)"""


def _syslog_sql() -> str:
    """sinks.syslog_rfc5424_transform mirror (severity table shared,
    the PII_RULES convention)."""
    from fluent_bit_spark.sinks import SYSLOG_SEVERITY

    whens = " ".join(f"WHEN '{t}' THEN {n}" for t, n in SYSLOG_SEVERITY.items())
    return f"""SELECT conv_id, turn_idx, sev AS severity,
       '<' || CAST(8 + sev AS VARCHAR) || '>1 '
       || strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') || ' '
       || coalesce(substr(host, 1, 255), '-') || ' '
       || coalesce(substr(tool, 1, 48), '-') || ' - - - ' || text AS line
FROM (SELECT conv_id, turn_idx, host, tool, ts, text,
             coalesce(CASE lower(level) {whens} END, 6) AS sev
      FROM unified)"""


_INFLUX_SQL = r"""SELECT conv_id, turn_idx,
       'transcripts'
       || CASE WHEN role IS NOT NULL THEN ',role='
               || replace(replace(replace(role, ',', '\,'), ' ', '\ '), '=', '\=')
               ELSE '' END
       || CASE WHEN tool IS NOT NULL THEN ',tool='
               || replace(replace(replace(tool, ',', '\,'), ' ', '\ '), '=', '\=')
               ELSE '' END
       || ' turn_idx=' || CAST(turn_idx AS VARCHAR) || 'i,len='
       || CAST(length(text) AS VARCHAR) || 'i '
       || CAST(epoch_us(ts) * 1000 AS VARCHAR) AS line
FROM transcripts"""


# mixture-weight chain (share^alpha, fixed-point normalizer) shared by
# the mixture_weights and mix_manifest oracles
_MIX_CTES = """
, mw1 AS (SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(len(list_filter(
                   regexp_split_to_array(trim(text), '\\s+'),
                   x -> x <> ''))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source)
, mwt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM mw1)
, mwp AS (SELECT source, n_docs, n_tokens, tot,
                 CAST(round(pow(n_tokens / tot, 0.3::DOUBLE)
                            * 1000000000) AS BIGINT) AS fx
          FROM mw1 CROSS JOIN mwt)
, mwz AS (SELECT CAST(SUM(fx) AS BIGINT) AS z FROM mwp)"""

# rate_anomalies chain, ending at ra_v = (event_type, hour, n, mean_n,
# z, spike) — shared by the rate_anomalies and alert_edges oracles
_RA_CTES = """, ra_h AS (
               SELECT event_type, date_trunc('hour', ts) AS hour,
                      count(*) AS n
               FROM events WHERE ts IS NOT NULL
               GROUP BY event_type, date_trunc('hour', ts)),
             ra_w AS (
               SELECT event_type, hour, n,
                 SUM(n)   OVER w AS s1,
                 SUM(n*n) OVER w AS s2,
                 COUNT(n) OVER w AS cnt
               FROM ra_h
               WINDOW w AS (PARTITION BY event_type ORDER BY hour
                            ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
             ra_v AS (
               SELECT event_type, hour, n,
                 CASE WHEN cnt = 6 AND (s2 - s1*s1/6.0)/6.0 > 0
                      THEN round(s1/6.0, 6) END AS mean_n,
                 CASE WHEN cnt = 6 AND (s2 - s1*s1/6.0)/6.0 > 0
                      THEN round((n - s1/6.0)/sqrt((s2 - s1*s1/6.0)/6.0), 6)
                      END AS z,
                 CASE WHEN cnt = 6 AND (s2 - s1*s1/6.0)/6.0 > 0
                      THEN (n - s1/6.0)/sqrt((s2 - s1*s1/6.0)/6.0) > 3.0
                      END AS spike
               FROM ra_w)"""

# token/word-metric chain shared by the doc_stats and scorecard
# oracles: ends at s = (doc_id, text, n_tok, mwl, swr, pr, s_*)
_DOC_STATS_CTES = """, t AS (
               SELECT doc_id, text,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks,
                 list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toksl
               FROM documents),
             s AS (
               SELECT doc_id, text, len(toks) AS n_tok,
                 CASE WHEN len(toks) > 0
                      THEN CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks)
                      ELSE 0.0 END AS mwl,
                 CASE WHEN len(toksl) > 0
                      THEN CAST(len(list_filter(toksl, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / len(toksl)
                      ELSE 0.0 END AS swr,
                 CASE WHEN length(text) > 0
                      THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
                      ELSE 0.0 END AS pr,
                 len(list_filter(toksl, x -> list_contains(['the','and','of','to','a'], x))) AS s_en,
                 len(list_filter(toksl, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
                 len(list_filter(toksl, x -> list_contains(['el','la','los','que','de'], x))) AS s_es,
                 len(list_filter(toksl, x -> list_contains(['der','die','und','das','ein'], x))) AS s_de
               FROM t)"""

_QUALITY_EXPR = """(CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.25 ELSE 0.0 END
                     + CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 0.25 ELSE 0.0 END
                     + CASE WHEN swr >= 0.01 THEN 0.25 ELSE 0.0 END
                     + CASE WHEN pr <= 0.2 THEN 0.25 ELSE 0.0 END)"""

# char-entropy chain (ends at ce_t = doc_id, n_chars, n_distinct,
# terms) + final expression, shared with the scorecard oracle
_CHAR_ENTROPY_CTES = """, ce_c AS (
               SELECT doc_id,
                      [text[i] FOR i IN range(1, len(text) + 1)] AS chars
               FROM documents),
             ce_d AS (SELECT doc_id, chars,
                             list_sort(list_distinct(chars)) AS d
                      FROM ce_c),
             ce_t AS (
               SELECT doc_id, len(chars) AS n_chars, len(d) AS n_distinct,
                      [CAST(round(-((len(list_filter(chars, x -> x = c))
                                     / len(chars))
                                    * ln(len(list_filter(chars, x -> x = c))
                                         / len(chars)))
                                  * 1000000000) AS BIGINT)
                       FOR c IN d] AS terms
               FROM ce_d)"""

_ENTROPY_EXPR = """CASE WHEN n_chars > 0
                         THEN round(CAST(list_aggregate(terms, 'sum') AS BIGINT)
                                    / 1000000000.0, 6)
                         ELSE 0.0 END"""




def _round3_sql() -> dict[str, str]:
    """Round-3 gate queries: streaming HLL windows, the RFC5424 wire
    roundtrip, GELF additional fields, Loki auto-kubernetes labels."""
    from fluent_bit_spark.sinks import GELF_LEVEL_KEYWORDS

    p = 10
    rest_bits = 62 - p
    streaming_hll = f"""
, shh AS (
    SELECT date_trunc('hour', ts) AS window_start,
           ((('0x'||substr(md5(conv_id),1,8))::BIGINT & 2147483647) << 31)
           + (('0x'||substr(md5(conv_id),9,8))::BIGINT & 2147483647) AS h
    FROM transcripts WHERE conv_id IS NOT NULL)
, shr AS (SELECT window_start, h >> {rest_bits} AS bucket,
                 h & ((1::BIGINT << {rest_bits}) - 1) AS rest FROM shh)
SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end, bucket,
       MAX(CASE WHEN rest = 0 THEN {rest_bits + 1}
                ELSE {rest_bits} - length(bin(rest)) + 1 END) AS max_rho
FROM shr GROUP BY window_start, bucket"""

    # sources.SYSLOG_RFC5424_RE, same language in RE2
    re5 = r"^<([0-9]{1,5})>1 ([^ ]+) ([^ ]+) ([^ ]+) ([-0-9]+) ([^ ]+) (\[.*?\]|-) (.+)$"
    g = lambda i: f"nullif(regexp_extract(line, '{re5}', {i}), '')"  # noqa: E731
    syslog_source = f"""
, rawlines AS ({_syslog_sql()})
, sysp AS (SELECT CAST({g(1)} AS INTEGER) AS pri, {g(2)} AS stime,
                  {g(3)} AS host, {g(4)} AS ident, {g(5)} AS pid,
                  {g(6)} AS msgid, {g(7)} AS extradata, {g(8)} AS message
           FROM rawlines)
SELECT pri, CAST(pri // 8 AS INTEGER) AS facility,
       CAST(pri % 8 AS INTEGER) AS severity, stime,
       strptime(stime, '%Y-%m-%dT%H:%M:%S.%fZ') AS event_time,
       host, ident, pid, msgid, extradata, message
FROM sysp"""

    kw_cases = " ".join(
        f"WHEN '{kw}' THEN '{i}'" for i, kw in enumerate(GELF_LEVEL_KEYWORDS)
    )
    gelf_extra = f"""SELECT '1.1' AS version, conv_id AS host,
       text AS short_message,
       CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS timestamp,
       CASE WHEN regexp_matches(level, '^[0-7]$') THEN level
            ELSE coalesce(CASE lower(level) {kw_cases} END, level)
       END AS level,
       role AS "_role", tool AS "_tool", turn_idx AS "_turn_idx",
       'fluent-bit-spark/3' AS "_user_agent"
FROM unified"""

    rc = "".join(
        f" WHEN role = '{raw}' THEN '{norm}'" for raw, norm in ROLE_MAP
    )
    loss_mask = f"""
, lm1 AS (
    SELECT conv_id, turn_idx, CASE{rc} ELSE 'other' END AS norm_role,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS BIGINT) AS seg_len
    FROM transcripts)
SELECT conv_id, turn_idx, norm_role, seg_len,
       CAST(COALESCE(SUM(seg_len) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS seg_start,
       norm_role = 'assistant' AS trainable
FROM lm1"""

    budget = 2048
    shard_sql = f"""
, sm1 AS (
    SELECT doc_id, source,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens
    FROM documents WHERE source IS NOT NULL)
, sm2 AS (
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS loc
    FROM sm1)
, sm3 AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS gtot
          FROM sm1 GROUP BY source)
, sm4 AS (
    SELECT source,
           CAST(COALESCE(SUM(gtot) OVER (
               ORDER BY source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS base
    FROM sm3)
, sm5 AS (
    SELECT s2.doc_id, s2.source, s2.n_tokens,
           CAST((s4.base + s2.loc) // {budget} AS BIGINT) AS shard
    FROM sm2 s2 JOIN sm4 s4 USING (source))
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_groups
FROM sm5 GROUP BY shard"""

    from fluent_bit_spark.operators.curation import (
        QUALITY_CLF_BUCKETS,
        quality_clf_weights,
    )

    w_fx = [
        int(round(w * 1_000_000)) for w in quality_clf_weights(QUALITY_CLF_BUCKETS)
    ]
    wlist = "[" + ", ".join(str(x) for x in w_fx) + "]"
    quality_clf_sql = f"""
, qc0 AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS t
    FROM documents)
, qc1 AS (
    SELECT doc_id,
           ({wlist})[CAST((('0x'||substr(md5(t),1,8))::BIGINT
                           % {QUALITY_CLF_BUCKETS}) + 1 AS INTEGER)] AS wfx
    FROM qc0)
, qca AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(SUM(wfx) AS BIGINT) AS sfx
          FROM qc1 GROUP BY doc_id)
, qcs AS (
    SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
           round(1.0::DOUBLE / (1.0::DOUBLE + exp(-(
               CASE WHEN coalesce(a.n_tokens, 0) > 0
                    THEN a.sfx / (1000000.0::DOUBLE * a.n_tokens)
                    ELSE 0.0::DOUBLE END))), 6) AS score
    FROM documents d LEFT JOIN qca a USING (doc_id))
SELECT doc_id, n_tokens, score, score >= {0.5!r}::DOUBLE AS keep FROM qcs"""

    from fluent_bit_spark.operators.transcript_qa import REFUSAL_MARKERS

    marker_hits = " OR ".join(
        f"contains(lower(text2), '{m.replace(chr(39), chr(39) * 2)}')"
        for m in REFUSAL_MARKERS
    )
    refusal_sql = f"""
, rr0 AS (
    SELECT conv_id, role,
           CASE WHEN turn_idx % 6 = 2
                THEN 'I cannot help with that request' ELSE text END AS text2
    FROM transcripts)
, rr1 AS (
    SELECT conv_id,
           CASE WHEN CASE{rc} ELSE 'other' END = 'assistant'
                THEN 1 ELSE 0 END AS a,
           CASE WHEN CASE{rc} ELSE 'other' END = 'assistant'
                 AND coalesce({marker_hits}, FALSE)
                THEN 1 ELSE 0 END AS r
    FROM rr0)
SELECT conv_id, CAST(SUM(a) AS BIGINT) AS n_assistant,
       CAST(SUM(r) AS BIGINT) AS n_refusals,
       CASE WHEN SUM(a) > 0
            THEN round(CAST(SUM(r) AS DOUBLE) / SUM(a), 6) END AS refusal_rate
FROM rr1 GROUP BY conv_id"""

    loop_sql = """
, lp0 AS (
    SELECT conv_id, turn_idx,
           CASE WHEN turn_idx % 7 BETWEEN 2 AND 4
                THEN 'assistant' ELSE role END AS role2,
           lower(trim(regexp_replace(
               CASE WHEN turn_idx % 7 BETWEEN 2 AND 4
                    THEN 'calling tool again' ELSE text END,
               '\\s+', ' ', 'g'))) AS norm
    FROM transcripts)
, lp1 AS (
    SELECT conv_id, turn_idx, role2, norm,
           CASE WHEN lag(norm) OVER w IS NOT DISTINCT FROM norm
                 AND lag(role2) OVER w IS NOT DISTINCT FROM role2
                THEN 0 ELSE 1 END AS new_run
    FROM lp0 WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
, lp2 AS (
    SELECT conv_id,
           SUM(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS run
    FROM lp1)
, lp3 AS (SELECT conv_id, run, COUNT(*) AS len FROM lp2 GROUP BY conv_id, run)
SELECT conv_id, CAST(MAX(len) AS BIGINT) AS max_run,
       MAX(len) >= 3 AS looping
FROM lp3 GROUP BY conv_id"""

    fertility_sql = """
, tf1 AS (
    SELECT lang,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS BIGINT) AS nw,
           CAST(len(list_filter(regexp_split_to_array(
                   regexp_replace(regexp_replace(text,
                       '([a-zA-Z])([0-9])', '\\1 \\2', 'g'),
                       '([0-9])([a-zA-Z])', '\\1 \\2', 'g'),
                   '[^a-zA-Z0-9]+'), x -> x <> '')) AS BIGINT) AS ns
    FROM documents)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS n_words,
       CAST(SUM(ns) AS BIGINT) AS n_subwords,
       CASE WHEN SUM(nw) > 0
            THEN round(CAST(SUM(ns) AS DOUBLE) / SUM(nw), 6) END AS fertility
FROM tf1 GROUP BY lang"""

    from fluent_bit_spark.operators.curation import (
        TRACKING_PARAM_PREFIXES,
        TRACKING_PARAMS,
        URL_RE,
    )

    trk = " OR ".join(
        [f"starts_with(p, '{x}')" for x in TRACKING_PARAM_PREFIXES]
        + [f"starts_with(p, '{x}=') OR p = '{x}'" for x in TRACKING_PARAMS]
    )
    url_dedup_sql = f"""
, ud0 AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN 'not a url' ELSE
             (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
             || '://Example-' || CAST(doc_id % 37 AS VARCHAR) || '.COM'
             || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
             || '/' || source || '/page' || CAST(doc_id % 11 AS VARCHAR)
             || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1'
                      ELSE '?b=2&a=1' END)
             || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END)
           END AS url
    FROM documents)
, ud1 AS (
    SELECT doc_id,
           lower(nullif(regexp_extract(url, '{URL_RE}', 1), '')) AS scheme,
           lower(nullif(regexp_extract(url, '{URL_RE}', 2), '')) AS host0,
           regexp_extract(url, '{URL_RE}', 3) AS path0,
           nullif(regexp_extract(url, '{URL_RE}', 4), '') AS query
    FROM ud0)
, ud2 AS (
    SELECT doc_id, scheme,
           CASE WHEN scheme = 'https' AND host0 LIKE '%:443'
                  THEN substr(host0, 1, len(host0) - 4)
                WHEN scheme = 'http' AND host0 LIKE '%:80'
                  THEN substr(host0, 1, len(host0) - 3)
                ELSE host0 END AS host,
           CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                ELSE regexp_replace(path0, '/+$', '') END AS path,
           list_sort(list_filter(
               regexp_split_to_array(coalesce(query, ''), '&'),
               p -> p <> '' AND NOT ({trk}))) AS kept
    FROM ud1)
, ud3 AS (
    SELECT doc_id,
           scheme || '://' || host || path
           || CASE WHEN len(kept) > 0
                   THEN '?' || array_to_string(kept, '&') ELSE '' END
             AS canon_url
    FROM ud2 WHERE scheme IS NOT NULL AND host IS NOT NULL)
SELECT canon_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_variants
FROM ud3 GROUP BY canon_url"""

    # label-entry order mirrors the Spark map_concat(base, k8s) order;
    # keys are pre-normalized literals here, which is exactly what the
    # gate verifies against the Spark side's RUNTIME loki_label_key
    loki_k8s = """SELECT to_json(map_from_entries(
         list_filter([struct_pack(k := 'role', v := role)],
                     x -> x.v IS NOT NULL AND x.v <> '')
         || [struct_pack(k := 'namespace_name', v := coalesce(role, 'default')),
             struct_pack(k := 'pod_name', v := 'pod-' || conv_id)]
         || list_filter([struct_pack(k := '_0container', v := tool)],
                        x -> x.v IS NOT NULL)
         || [struct_pack(k := 'app_kubernetes_io_name', v := 'fluent-bit')]
       )) AS labels_json,
       to_json(struct_pack(conv_id := conv_id, turn_idx := turn_idx,
                           text := text)) AS line
FROM transcripts"""

    depth, width = 4, 512
    streaming_cms = f"""
, scp AS (
    SELECT date_trunc('hour', ts) AS window_start, i AS seed,
           ('0x'||substr(md5(tool||'#'||i),1,8))::BIGINT % {width} AS pos
    FROM transcripts CROSS JOIN range({depth}) r(i)
    WHERE tool IS NOT NULL)
SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
       seed, pos, COUNT(*) AS cnt
FROM scp GROUP BY window_start, seed, pos"""

    dpo_sql = f"""
, dp0 AS (
    SELECT conv_id AS prompt_id, turn_idx, text,
           CAST(len(list_distinct(list_filter(
               regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')))
             AS DOUBLE) AS score
    FROM transcripts
    -- text IS NOT NULL pins the Spark side's score-not-null exclusion
    -- (a NULL text is the only way this score goes NULL)
    WHERE CASE{rc} ELSE 'other' END = 'assistant' AND text IS NOT NULL)
, dp1 AS (
    SELECT prompt_id, turn_idx, text, score,
           row_number() OVER (PARTITION BY prompt_id
                              ORDER BY score DESC, turn_idx ASC) AS rb,
           row_number() OVER (PARTITION BY prompt_id
                              ORDER BY score ASC, turn_idx DESC) AS rw,
           COUNT(*) OVER (PARTITION BY prompt_id) AS nc
    FROM dp0)
SELECT b.prompt_id,
       b.turn_idx AS chosen_cand, b.text AS chosen,
       w.turn_idx AS rejected_cand, w.text AS rejected,
       CAST(b.nc AS BIGINT) AS n_cands,
       round(b.score - w.score, 6) AS score_gap
FROM dp1 b JOIN dp1 w USING (prompt_id)
WHERE b.rb = 1 AND w.rw = 1 AND b.nc >= 2
  AND round(b.score - w.score, 6) > 0"""

    tool_args_sql = """
, ta0 AS (
    SELECT tool,
           CASE WHEN turn_idx % 7 = 1 THEN '{"query": "evt", "limit": '
                WHEN turn_idx % 7 = 2 THEN '{"limit": 3}'
                WHEN turn_idx % 7 = 3
                  THEN '{"query": "evt", "limit": 3, "debug": true}'
                ELSE '{"query": "evt", "limit": '
                     || CAST(turn_idx % 5 AS VARCHAR) || ', "verbose": false}'
           END AS args
    FROM transcripts
    WHERE tool IN ('bash', 'browser', 'editor', 'python', 'sql'))
, ta1 AS (
    SELECT tool,
           CASE WHEN json_valid(args) AND json_type(args) = 'OBJECT'
                THEN json_keys(args) END AS keys
    FROM ta0)
, ta2 AS (
    SELECT tool, keys IS NOT NULL AS is_object,
           CASE WHEN keys IS NOT NULL
                THEN len(list_filter(['query', 'limit'],
                                     k -> NOT list_contains(keys, k)))
                ELSE 2 END AS n_missing,
           CASE WHEN keys IS NOT NULL
                THEN len(list_filter(keys,
                        k -> NOT list_contains(['limit', 'query', 'verbose'], k)))
                ELSE 0 END AS n_unexpected
    FROM ta1)
SELECT tool, COUNT(*) AS n_calls,
       CAST(SUM(CASE WHEN NOT is_object THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad_json,
       CAST(SUM(CASE WHEN n_missing > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_missing,
       CAST(SUM(CASE WHEN n_unexpected > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_unexpected,
       CAST(SUM(CASE WHEN is_object AND n_missing = 0 AND n_unexpected = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       round(CAST(SUM(CASE WHEN is_object AND n_missing = 0
                            AND n_unexpected = 0
                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS valid_rate
FROM ta2 GROUP BY tool"""

    edit_dedup_sql = """
, ed0 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || '!' FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000, text || 'xyz' FROM documents WHERE doc_id % 20 = 0)
, ed1 AS (
    SELECT doc_id, text,
           coalesce(array_to_string(list_slice(list_filter(
               regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''),
               1, 2), ' '), '') AS blk
    FROM ed0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
FROM ed1 a JOIN ed1 b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= 2"""

    streaming_multiline = """
, sml AS (
    SELECT conv_id AS file, turn_idx, coalesce(text, '') AS text,
           SUM(CASE WHEN regexp_matches(coalesce(text, ''), '^10\\.0\\.')
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY conv_id ORDER BY turn_idx) AS grp
    FROM transcripts)
SELECT file, CAST(MIN(turn_idx) AS BIGINT) AS start_line,
       CAST(COUNT(*) AS INTEGER) AS n_lines,
       string_agg(text, chr(10) ORDER BY turn_idx) AS record
FROM sml GROUP BY file, grp"""

    # injected duplicates are exact row copies, so "first arrival per
    # key" is content-deterministic and the expected output is just the
    # un-duplicated table
    streaming_dedup = (
        "SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts"
    )

    # independent re-derivation of the flagship detection chain +
    # per-grammar key-field probes over the same injected-corruption
    # union the Spark side builds (first failing check names the reason)
    dlq_sql = f"""
, dl0 AS (
    SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, text FROM transcripts
    UNION ALL
    SELECT conv_id, CAST(turn_idx + 1000000 AS BIGINT),
           'web-1 - alice [corrupt entry'
    FROM transcripts WHERE turn_idx % 37 = 0
    UNION ALL
    SELECT conv_id, CAST(turn_idx + 2000000 AS BIGINT), ''
    FROM transcripts WHERE turn_idx % 41 = 0
    UNION ALL
    SELECT conv_id, CAST(turn_idx + 3000000 AS BIGINT), '<14>1 incomplete'
    FROM transcripts WHERE turn_idx % 43 = 0)
, dl1 AS (
    SELECT conv_id, turn_idx, text,
      CASE
        WHEN regexp_matches(text, '^\\S+ - \\S+ \\[') THEN 'apache'
        WHEN regexp_matches(text, '^level=') THEN 'logfmt'
        WHEN regexp_matches(text, '^\\{{') THEN 'json'
        WHEN regexp_matches(text, '^<\\d+>1 ') THEN 'syslog'
        WHEN regexp_matches(text, '^[A-Za-z0-9_]+:[^\t]*\t') THEN 'ltsv'
        ELSE 'unknown' END AS fmt
    FROM dl0)
, dl2 AS (
    SELECT conv_id, turn_idx, fmt,
      (text IS NULL OR trim(text) = '') AS is_empty,
      coalesce(CASE fmt
        WHEN 'apache' THEN nullif(regexp_extract(text, '{_APACHE}', 6), '') IS NOT NULL
        WHEN 'logfmt' THEN nullif(regexp_extract(text, '(^|\\s)level=(\\S+)', 2), '') IS NOT NULL
        WHEN 'json'   THEN nullif(regexp_extract(text, '"id": (\\d+)', 1), '') IS NOT NULL
        WHEN 'syslog' THEN nullif(regexp_extract(text, '{_SYSLOG}', 1), '') IS NOT NULL
        WHEN 'ltsv'   THEN nullif(regexp_extract(text, 'k1:([^\t]*)', 1), '') IS NOT NULL
        ELSE FALSE END, FALSE) AS parse_ok
    FROM dl1)
SELECT conv_id, turn_idx, fmt,
       CASE WHEN is_empty THEN 'empty'
            WHEN fmt = 'unknown' THEN 'no_grammar'
            ELSE 'parse_error' END AS dlq_reason
FROM dl2 WHERE is_empty OR NOT parse_ok"""

    # one SELECT per PII rule (literal pattern -- DuckDB regexp wants
    # constants); the Spark side folds all rules into one map pass
    from fluent_bit_spark.operators.curation import PII_RULES

    pii_spans = "\n    UNION ALL\n".join(
        f"""    SELECT conv_id, turn_idx, '{name}' AS pii_type,
           unnest(regexp_extract_all(text, '{pat}')) AS value
    FROM pl0 WHERE norm_role = 'user'"""
        for name, pat, _ in PII_RULES
    )
    pii_leak_sql = f"""
, plc AS (SELECT DISTINCT conv_id FROM transcripts)
, pl0 AS (
    SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, norm_role, text
    FROM enriched
    UNION ALL
    SELECT conv_id, 1000000, 'user',
           'my email is u' || substr(md5(conv_id), 1, 8)
           || '@mail.example.com thanks'
    FROM plc
    UNION ALL
    SELECT conv_id, 1000001, 'assistant',
           CASE WHEN ('0x' || substr(md5(conv_id), 1, 2))::BIGINT % 2 = 0
                THEN 'noted u' || substr(md5(conv_id), 1, 8)
                     || '@mail.example.com saved'
                ELSE 'noted and saved' END
    FROM plc)
, plv AS (
    SELECT conv_id, pii_type, value, MIN(turn_idx) AS first_seen
    FROM (
{pii_spans}
    ) GROUP BY conv_id, pii_type, value)
SELECT a.conv_id, a.turn_idx AS leak_turn_idx, v.pii_type, v.value,
       v.first_seen
FROM pl0 a JOIN plv v ON a.conv_id = v.conv_id
WHERE a.norm_role = 'assistant' AND a.turn_idx > v.first_seen
      AND contains(a.text, v.value)"""

    # the oracle is the naive global row_number the scalable two-level
    # plan must reproduce exactly
    epoch_shuffle_sql = """
, es0 AS (SELECT doc_id, epoch FROM documents, (VALUES (0),(1),(2)) e(epoch))
, es1 AS (SELECT epoch, doc_id,
          md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
          FROM es0)
SELECT epoch, doc_id,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) - 1
            AS BIGINT) AS pos
FROM es1"""

    return {
        "streaming_hll": streaming_hll,
        "streaming_cms": streaming_cms,
        "streaming_multiline": streaming_multiline,
        "streaming_dedup": streaming_dedup,
        "syslog_source": syslog_source,
        "sink_gelf_extra": gelf_extra,
        "sink_loki_k8s": loki_k8s,
        "sft_loss_mask": loss_mask,
        "shard_manifest": shard_sql,
        "url_dedup": url_dedup_sql,
        "tokenizer_fertility": fertility_sql,
        "quality_clf": quality_clf_sql,
        "refusal_rate": refusal_sql,
        "loop_detect": loop_sql,
        "dpo_pairs": dpo_sql,
        "tool_args": tool_args_sql,
        "edit_dedup": edit_dedup_sql,
        "dlq_route": dlq_sql,
        "pii_leak": pii_leak_sql,
        "epoch_shuffle": epoch_shuffle_sql,
    }


def _round3b_sql() -> dict[str, str]:
    """Round-3 additions: log-template mining, per-sink byte-budget
    retention (storage.total_limit_size), per-partition watermark
    lineage, and the conv_id heavy-hitter skew report."""
    template_mine = r"""
, tm AS (SELECT conv_id, text,
           regexp_replace(regexp_replace(text,
             '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
             '\d+', '<N>', 'g') AS template
         FROM transcripts)
SELECT template, COUNT(*) AS n_turns,
       COUNT(DISTINCT conv_id) AS n_groups, MIN(text) AS sample
FROM tm GROUP BY template HAVING COUNT(DISTINCT conv_id) >= 3"""

    budget = 30_000
    retention_budget = f"""
, rb0 AS (SELECT sink, conv_id, turn_idx, ts,
                 CAST(length(text) AS BIGINT) AS nbytes,
                 date_trunc('day', ts) AS bkt FROM per_sink)
, rb1 AS (SELECT sink, bkt, CAST(SUM(nbytes) AS BIGINT) AS btotal
          FROM rb0 GROUP BY sink, bkt)
, rb2 AS (SELECT sink, bkt, btotal,
                 CAST(COALESCE(SUM(btotal) OVER (
                     PARTITION BY sink ORDER BY bkt DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS prior
          FROM rb1)
, rb3 AS (SELECT r.sink, r.conv_id, r.turn_idx, r.ts, r.nbytes, r.bkt,
                 b.prior, b.btotal
          FROM rb0 r JOIN rb2 b ON r.sink = b.sink AND r.bkt = b.bkt)
SELECT sink, conv_id, turn_idx, ts, nbytes FROM rb3
WHERE prior + btotal <= {budget}
UNION ALL
SELECT sink, conv_id, turn_idx, ts, nbytes FROM (
  SELECT rb3.*, CAST(SUM(nbytes) OVER (PARTITION BY sink, bkt
             ORDER BY ts DESC, conv_id, turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM rb3 WHERE prior < {budget} AND prior + btotal > {budget})
WHERE prior + cum <= {budget}"""

    watermark_report = """
, wm AS (SELECT (('0x'||substr(md5(conv_id),1,8))::BIGINT) % 16 AS bucket,
                ts, conv_id FROM transcripts)
SELECT CAST(bucket AS INT) AS bucket, MAX(ts) AS watermark,
       MIN(ts) AS low_ts, COUNT(*) AS n_rows,
       COUNT(DISTINCT conv_id) AS n_keys
FROM wm GROUP BY bucket"""

    skew_report = """
, skc AS (SELECT conv_id, COUNT(*) AS n_rows FROM transcripts GROUP BY conv_id)
, skt AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot FROM skc)
, skr AS (SELECT conv_id, n_rows, n_rows * 1000000 // tot AS share_ppm,
                 row_number() OVER (ORDER BY n_rows DESC, conv_id) AS rnk
          FROM skc, skt)
SELECT conv_id, n_rows, share_ppm, rnk FROM skr WHERE rnk <= 20"""

    conv_branching = """
, cb0 AS (SELECT conv_id, turn_idx, text, ts FROM transcripts
          UNION ALL
          SELECT conv_id, turn_idx, 'regen: ' || text AS text,
                 ts + INTERVAL 1 HOUR AS ts
          FROM transcripts
          WHERE (('0x'||substr(md5(conv_id || ':' || CAST(turn_idx AS VARCHAR)),1,8))::BIGINT) % 7 = 0)
, cb1 AS (SELECT conv_id, turn_idx, text, ts,
                 row_number() OVER (PARTITION BY conv_id, turn_idx
                                    ORDER BY ts DESC, text DESC) AS rk,
                 COUNT(*) OVER (PARTITION BY conv_id, turn_idx) AS n_branches
          FROM cb0)
SELECT conv_id, turn_idx, text, ts, n_branches FROM cb1 WHERE rk = 1"""

    # expression tree mirrors operators/aggregate.reliability_report
    # term-for-term: +,*,/ and sqrt are IEEE-correctly-rounded, so the
    # doubles agree bitwise, not just within tolerance
    wilson = (
        "(e/n + (1.96*1.96)/(2.0*n) - "
        "1.96*sqrt(((e/n)*(1.0 - (e/n)) + (1.96*1.96)/(4.0*n))/n)) "
        "/ (1.0 + (1.96*1.96)/n)"
    )
    tool_reliability = f"""
, tr1 AS (SELECT tool, COUNT(*) AS n_turns,
                 CAST(SUM(CASE WHEN coalesce(evt_name = 'error', FALSE)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_errs
          FROM unified WHERE tool IS NOT NULL GROUP BY tool)
, tr2 AS (SELECT tool, n_turns, n_errs,
                 CAST(n_turns AS DOUBLE) AS n, CAST(n_errs AS DOUBLE) AS e
          FROM tr1)
SELECT tool, n_turns, n_errs, round(e/n, 6) AS err_rate,
       round({wilson}, 6) AS wilson_lb
FROM tr2"""

    jac = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / (len(sa.shingles) + len(sb.shingles)"
        " - len(list_intersect(sa.shingles, sb.shingles)))"
    )
    fuzzy_contam = (
        """
, contam_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 5000000 AS doc_id,
           text || ' held out eval set 2024' AS text
    FROM documents WHERE doc_id % 25 = 0)"""
        + _minhash_ctes(64, 32, 3, "contam_docs")
        + f"""
, fcp AS (
    SELECT id_a, id_b, round({jac}, 6) AS jaccard
    FROM mh_cand
    JOIN mh_sig sa ON sa.id = id_a
    JOIN mh_sig sb ON sb.id = id_b
    WHERE {jac} >= 0.8 AND id_a < 5000000 AND id_b >= 5000000)
SELECT id_a AS doc_id, COUNT(*) AS n_bench, MAX(jaccard) AS max_jaccard
FROM fcp GROUP BY id_a"""
    )

    rc = "".join(f" WHEN '{raw}' THEN '{norm}'" for raw, norm in ROLE_MAP)
    reply_latency = f"""
, rl0 AS (SELECT conv_id, turn_idx, ts,
                 coalesce(CASE role{rc} END, 'other') AS nrole
          FROM transcripts)
, rl1 AS (SELECT conv_id, turn_idx, nrole, ts,
                 lag(nrole) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prole,
                 lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pts
          FROM rl0)
SELECT conv_id, turn_idx, epoch_us(ts) - epoch_us(pts) AS wait_us
FROM rl1 WHERE nrole = 'assistant' AND prole = 'user'"""

    # mirrors sketch.mad_outliers: hist-median (width 16) of the spiked
    # latencies, hist-median of |v - med|, modified z-score filter
    mad_outliers = """
, mo0 AS (SELECT conv_id, turn_idx,
    CASE WHEN (('0x'||substr(md5(conv_id || ':' || CAST(turn_idx AS VARCHAR)),1,8))::BIGINT) % 37 = 0
         THEN latency_cents * 50 ELSE latency_cents END AS v
  FROM unified WHERE latency_cents IS NOT NULL)
, mob AS (SELECT v // 16 AS bucket, COUNT(*) AS n FROM mo0 GROUP BY 1)
, moc AS (SELECT bucket, CAST(SUM(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n,
                 CAST(SUM(n) OVER () AS BIGINT) AS n_total FROM mob)
, mom AS (SELECT bucket*16 + 15 AS med FROM moc
          WHERE cum_n >= ceil(0.5 * n_total) ORDER BY bucket LIMIT 1)
, mod0 AS (SELECT mo0.*, med, abs(v - med) AS dev FROM mo0, mom)
, modb AS (SELECT dev // 16 AS bucket, COUNT(*) AS n FROM mod0 GROUP BY 1)
, modc AS (SELECT bucket, CAST(SUM(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n,
                 CAST(SUM(n) OVER () AS BIGINT) AS n_total FROM modb)
, modm AS (SELECT bucket*16 + 15 AS mad FROM modc
           WHERE cum_n >= ceil(0.5 * n_total) ORDER BY bucket LIMIT 1)
, moz AS (SELECT conv_id, turn_idx, v, med, mad,
                 round(0.6745 * CAST(v - med AS DOUBLE) / CAST(mad AS DOUBLE), 6) AS robust_z
          FROM mod0, modm)
SELECT conv_id, turn_idx, v AS latency_cents, med AS med_est,
       mad AS mad_est, robust_z
FROM moz WHERE abs(robust_z) > 3.5"""

    zonemap_prune = """
, zm AS (SELECT date_trunc('day', ts) AS part, COUNT(*) AS n_rows,
                MIN(ts) AS min_ts, MAX(ts) AS max_ts,
                MIN(conv_id) AS min_key, MAX(conv_id) AS max_key
         FROM transcripts GROUP BY date_trunc('day', ts))
SELECT part, n_rows, min_ts, max_ts, min_key, max_key,
       (max_ts < TIMESTAMP '2024-01-10 00:00:00'
        OR min_ts >= TIMESTAMP '2024-01-20 00:00:00') AS pruned
FROM zm"""

    retry_schedule = """
, rs0 AS (SELECT conv_id, turn_idx, ts FROM unified WHERE NOT parse_ok)
, rs1 AS (SELECT conv_id, turn_idx, ts, CAST(a.attempt AS INT) AS attempt,
                 least(CAST(30 AS BIGINT),
                       2 * CAST(pow(2.0, a.attempt - 1) AS BIGINT)) AS delay_s
          FROM rs0 CROSS JOIN (SELECT unnest(range(1, 6)) AS attempt) a)
SELECT conv_id, turn_idx, ts, attempt, delay_s,
       ts + to_seconds(CAST(SUM(delay_s) OVER (
           PARTITION BY conv_id, turn_idx ORDER BY attempt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
         AS retry_at
FROM rs1"""

    budget_lit = repr(1.0 - 0.8)
    burn_alerts = f"""
, ba0 AS (SELECT date_trunc('hour', ts) AS window_start,
                 CASE WHEN coalesce(evt_name = 'error', FALSE)
                      THEN 1 ELSE 0 END AS e
          FROM unified)
, ba1 AS (SELECT window_start, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS n_err
          FROM ba0 GROUP BY window_start)
, ba2 AS (SELECT *, epoch_us(window_start) // 21600000000 AS b FROM ba1)
, ba3 AS (SELECT b, CAST(SUM(n) AS BIGINT) AS ln, CAST(SUM(n_err) AS BIGINT) AS le
          FROM ba2 GROUP BY b)
, ba4 AS (SELECT window_start, n, n_err,
                 round((CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE)) / {budget_lit}, 6) AS short_burn,
                 round((CAST(le AS DOUBLE) / CAST(ln AS DOUBLE)) / {budget_lit}, 6) AS long_burn
          FROM ba2 JOIN ba3 USING (b))
SELECT window_start, n, n_err, short_burn, long_burn,
       short_burn > 1.0 AND long_burn > 1.0 AS alert
FROM ba4"""

    ttr_by_source = r"""
, tt0 AS (SELECT source, doc_id,
                 unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                    x -> x <> '')) AS tok
          FROM documents WHERE source IS NOT NULL)
, tt1 AS (SELECT source, COUNT(*) AS n_tokens,
                 COUNT(DISTINCT doc_id) AS n_docs
          FROM tt0 GROUP BY source)
, tt2 AS (SELECT source, COUNT(*) AS n_types
          FROM (SELECT DISTINCT source, tok FROM tt0) GROUP BY source)
SELECT source, n_docs, n_tokens, n_types,
       round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr
FROM tt1 JOIN tt2 USING (source)"""

    ann_recall_eval = (
        _hyperplane_sig_sql(64, 4)
        + """,
ar_q AS (SELECT vec_id AS query_id, v AS qv, sig FROM hp_sigs WHERE vec_id < 5),
ar_probe AS (
    SELECT query_id, qv, sig FROM ar_q
    UNION SELECT query_id, qv, xor(sig, 1::BIGINT << i)
    FROM ar_q CROSS JOIN range(4) r(i)),
ar_lsh AS (SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id) AS rank
    FROM (SELECT DISTINCT p.query_id, c.vec_id,
                 list_cosine_similarity(c.v, p.qv) AS cos
          FROM ar_probe p JOIN hp_sigs c ON c.sig = p.sig
          WHERE c.vec_id >= 5))
    WHERE rank <= 10),
ar_exact AS (SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rank
    FROM ar_q q JOIN hp_sigs c ON c.vec_id >= 5)
    WHERE rank <= 10),
ar_common AS (SELECT query_id, COUNT(*) AS n_common
              FROM ar_lsh JOIN ar_exact USING (query_id, vec_id)
              GROUP BY query_id)
SELECT query_id, CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
       round(COALESCE(n_common, 0) / 10.0, 6) AS recall_at_k
FROM (SELECT DISTINCT query_id FROM ar_q) LEFT JOIN ar_common USING (query_id)"""
    )

    return {
        "template_mine": template_mine,
        "retention_budget": retention_budget,
        "watermark_report": watermark_report,
        "skew_report": skew_report,
        "conv_branching": conv_branching,
        "tool_reliability": tool_reliability,
        "fuzzy_contam": fuzzy_contam,
        "reply_latency": reply_latency,
        "mad_outliers": mad_outliers,
        "zonemap_prune": zonemap_prune,
        "retry_schedule": retry_schedule,
        "burn_alerts": burn_alerts,
        "ttr_by_source": ttr_by_source,
        "ann_recall_eval": ann_recall_eval,
        "mtbf_report": """
, mt0 AS (SELECT tool, ts FROM unified
          WHERE coalesce(evt_name = 'error', FALSE) AND tool IS NOT NULL)
SELECT tool, COUNT(*) AS n_failures, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       CASE WHEN COUNT(*) > 1
            THEN (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // (COUNT(*) - 1)
       END AS mtbf_us
FROM mt0 GROUP BY tool""",
        "scd2_history": """
, sc0 AS (SELECT conv_id, tool, ts, turn_idx,
                 lag(tool) OVER w AS prev_tool,
                 lag(ts) OVER w AS prev_ts
          FROM transcripts
          WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
, sc1 AS (SELECT conv_id, tool, ts, turn_idx FROM sc0
          WHERE prev_ts IS NULL OR tool IS DISTINCT FROM prev_tool)
SELECT conv_id, tool, ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       lead(ts) OVER w2 IS NULL AS is_current
FROM sc1 WINDOW w2 AS (PARTITION BY conv_id ORDER BY ts, turn_idx)""",
        "late_data": """
, ld0 AS (SELECT ts,
                 (('0x'||substr(md5(conv_id || ':' || CAST(turn_idx AS VARCHAR)),1,8))::BIGINT) % 1200 AS delay_s
          FROM transcripts)
, ld1 AS (SELECT date_trunc('hour', ts + to_seconds(delay_s)) AS proc_hour,
                 CASE WHEN delay_s > 600 THEN 1 ELSE 0 END AS late
          FROM ld0)
SELECT proc_hour, COUNT(*) AS n_total, CAST(SUM(late) AS BIGINT) AS n_late,
       CAST(SUM(late) AS BIGINT) * 1000000 // COUNT(*) AS late_ppm
FROM ld1 GROUP BY proc_hour""",
        # winner pick mirrors enrich.cdc_apply's max(struct(seq,op,text,
        # role)): lexicographic max == first row under all-DESC ordering
        "cdc_apply": """
, cd0 AS (SELECT conv_id, turn_idx, role, text,
                 (('0x'||substr(md5(conv_id || ':' || CAST(turn_idx AS VARCHAR)),1,8))::BIGINT) % 11 AS h
          FROM transcripts)
, cdch AS (
    SELECT conv_id, turn_idx, 'U' AS op, 1 AS seq,
           'edit1: ' || text AS text, role FROM cd0 WHERE h = 0
    UNION ALL SELECT conv_id, turn_idx, 'U', 2, 'edit2: ' || text, role
    FROM cd0 WHERE h = 0
    UNION ALL SELECT conv_id, turn_idx, 'D', 1, text, role
    FROM cd0 WHERE h = 1
    UNION ALL SELECT conv_id, turn_idx + 100000, 'I', 1, 'inserted row', 'assistant'
    FROM cd0 WHERE h = 2)
, cdw AS (SELECT conv_id, turn_idx, op, text, role FROM (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
              ORDER BY seq DESC, op DESC, text DESC, role DESC) AS rk
    FROM cdch) WHERE rk = 1)
, cdm AS (SELECT b.conv_id, b.turn_idx,
                 CASE WHEN w.op IS NOT NULL THEN w.text ELSE b.text END AS text,
                 CASE WHEN w.op IS NOT NULL THEN w.role ELSE b.role END AS role,
                 w.op
          FROM cd0 b LEFT JOIN cdw w USING (conv_id, turn_idx))
SELECT conv_id, turn_idx, text, role FROM cdm
WHERE op IS NULL OR op <> 'D'
UNION ALL
SELECT w.conv_id, w.turn_idx, w.text, w.role
FROM cdw w LEFT JOIN cd0 b USING (conv_id, turn_idx)
WHERE b.conv_id IS NULL AND w.op <> 'D'""",
        "compaction_plan": """
, cp0 AS (SELECT date_trunc('day', ts) AS part, fmt,
                 CAST(SUM(length(text)) AS BIGINT) AS n_bytes
          FROM unified GROUP BY date_trunc('day', ts), fmt)
, cp1 AS (SELECT part, fmt, n_bytes FROM cp0 WHERE n_bytes < 25000)
SELECT part, fmt, n_bytes,
       CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY part, fmt
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         // 50000 AS task_id
FROM cp1""",
        # two-level bucketed rank == one rank over (key, id): the bucket
        # is the key's own hex prefix, so the flat window is the exact
        # oracle of sampling.kfold_assign's parallel scheme
        "kfold_assign": """
, kf0 AS (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS key
          FROM documents)
SELECT doc_id, lang,
       CAST((row_number() OVER (PARTITION BY lang ORDER BY key, doc_id) - 1)
            % 5 AS INT) AS fold
FROM kf0""",
    }


def _dataquality_sql() -> dict[str, str]:
    """operators/dataquality.py mirrors: blue/green output diff,
    JSON-key lifecycle drift, and integer-ppm TVD distribution drift.
    Each oracle re-derives the entry's synthesized 'new build' /
    'props stream' / 'shifted window' in closed form, then states the
    expected report directly — an independent second derivation, not
    a replay of the Spark plan."""
    h = _md5_32_sql("conv_id || ':' || CAST(turn_idx AS VARCHAR)")
    data_diff = f"""
, ddh AS (SELECT conv_id, turn_idx, ({h}) % 17 AS h FROM transcripts)
SELECT conv_id, turn_idx, 'only_old' AS verdict, '' AS changed_cols
FROM ddh WHERE h = 1
UNION ALL
SELECT conv_id, turn_idx, 'changed' AS verdict,
       CASE h WHEN 0 THEN 'text' WHEN 2 THEN 'role'
              ELSE 'role,text' END AS changed_cols
FROM ddh WHERE h IN (0, 2, 3)
UNION ALL
SELECT conv_id, CAST(turn_idx + 200000 AS INT) AS turn_idx,
       'only_new' AS verdict, '' AS changed_cols
FROM ddh WHERE h = 4"""

    schema_drift = """
, sd0 AS (SELECT date_trunc('day', ts) AS day, date_part('day', ts) AS dd,
                 event_type FROM events)
, sd1 AS (SELECT day, 'k' AS key FROM sd0
          UNION ALL SELECT day, 'legacy' FROM sd0 WHERE dd <= 20
          UNION ALL SELECT day, 'newfld' FROM sd0 WHERE dd >= 15
          UNION ALL SELECT day, 'err_detail' FROM sd0
            WHERE event_type = 'error' AND dd BETWEEN 25 AND 28)
, sd2 AS (SELECT key, MIN(day) AS first_seen, MAX(day) AS last_seen,
                 CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
                 CAST(COUNT(*) AS BIGINT) AS n_records
          FROM sd1 GROUP BY key)
, sdb AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM sd0)
SELECT key, first_seen, last_seen, n_days, n_records,
       CASE WHEN first_seen > lo AND last_seen < hi THEN 'transient'
            WHEN first_seen > lo THEN 'new'
            WHEN last_seen < hi THEN 'dropped'
            ELSE 'stable' END AS status
FROM sd2 CROSS JOIN sdb"""

    tvd_drift = """
, tv0 AS (SELECT event_type,
            CASE WHEN date_part('day', ts) > 15 THEN 1 ELSE 0 END AS is_cur,
            value + CASE WHEN event_type = 'error'
                          AND date_part('day', ts) > 15
                         THEN 40.0 ELSE 0.0 END AS v
          FROM events)
, tv1 AS (SELECT event_type, is_cur,
                 least(CAST(7 AS BIGINT),
                       CAST(floor(v * 100 + 0.5) AS BIGINT) // 4000) AS bin
          FROM tv0)
, tv2 AS (SELECT event_type, bin,
                 CAST(SUM(1 - is_cur) AS BIGINT) AS r,
                 CAST(SUM(is_cur) AS BIGINT) AS c
          FROM tv1 GROUP BY event_type, bin)
, tv3 AS (SELECT event_type, CAST(SUM(r) AS BIGINT) AS n_ref,
                 CAST(SUM(c) AS BIGINT) AS n_cur
          FROM tv2 GROUP BY event_type)
, tv4 AS (SELECT tv2.event_type, n_ref, n_cur,
                 r * 1000000 // n_ref AS p, c * 1000000 // n_cur AS q
          FROM tv2 JOIN tv3 ON tv2.event_type = tv3.event_type)
SELECT event_type, n_ref, n_cur,
       CAST(SUM(abs(p - q)) // 2 AS BIGINT) AS tvd_ppm,
       CAST(SUM(abs(p - q)) // 2 AS BIGINT) > 100000 AS drifted
FROM tv4 GROUP BY event_type, n_ref, n_cur"""

    return {
        "data_diff": data_diff,
        "schema_drift": schema_drift,
        "tvd_drift": tvd_drift,
    }


def _governance_sql() -> dict[str, str]:
    """operators/governance.py mirrors: k-anonymity census, canary
    token census (with the entry's md5-slot planting re-derived),
    per-day template novelty, and the right-to-erasure manifest."""
    k_anonymity = """
, ka AS (SELECT role, tool, date_trunc('day', ts) AS day FROM transcripts)
SELECT role, tool, day, CAST(COUNT(*) AS BIGINT) AS n,
       COUNT(*) < 5 AS at_risk
FROM ka GROUP BY role, tool, day"""

    slot = _md5_32_sql("conv_id || ':' || CAST(turn_idx AS VARCHAR)")
    canary_leak = f"""
, cl0 AS (SELECT conv_id,
            CASE WHEN ({slot}) % 13 = 5
                 THEN text || ' CANARY-'
                      || substr(md5(coalesce(tool, 'none')), 1, 8)
                 ELSE text END AS text
          FROM transcripts)
, cl1 AS (SELECT conv_id,
            unnest(regexp_extract_all(text, 'CANARY-[0-9a-f]{{8}}'))
              AS canary
          FROM cl0)
SELECT canary, CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_groups,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM cl1 GROUP BY canary"""

    template_novelty = r"""
, tn0 AS (SELECT DISTINCT
            regexp_replace(regexp_replace(text,
              '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
              '\d+', '<N>', 'g') AS template,
            date_trunc('day', ts) AS day
          FROM transcripts)
, tn1 AS (SELECT template, MIN(day) AS first FROM tn0 GROUP BY template)
, tn2 AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
                 CAST(SUM(CASE WHEN first = day THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_new
          FROM tn0 JOIN tn1 USING (template) GROUP BY day)
SELECT day, n_active, n_new, n_new * 1000000 // n_active AS new_ppm
FROM tn2"""

    h = _md5_32_sql("conv_id")
    gdpr_manifest = f"""
, gd0 AS (SELECT date_trunc('day', ts) AS day, conv_id,
                 ({h}) % 10 = 3 AS dead
          FROM transcripts)
SELECT day,
       CAST(SUM(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(SUM(CASE WHEN dead THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       CAST(COUNT(DISTINCT CASE WHEN dead THEN conv_id END) AS BIGINT)
         AS n_keys_deleted
FROM gd0 GROUP BY day"""

    return {
        "k_anonymity": k_anonymity,
        "canary_leak": canary_leak,
        "template_novelty": template_novelty,
        "gdpr_manifest": gdpr_manifest,
    }


def _opsaudit_sql() -> dict[str, str]:
    """Round-3 ops-audit mirrors: share-quantized Cohen's kappa,
    the Lindley backpressure replay (Mem_Buf_Limit pause analog),
    and the hour-of-day seasonal anomaly screen.  All integer math;
    DuckDB's `//` floors exactly like the Spark side's pmod-adjusted
    `div`."""
    ha = _md5_32_sql("text")
    hs = _md5_32_sql("conv_id || ':' || CAST(turn_idx AS VARCHAR)", offset=9)
    kappa = f"""
, kp0 AS (SELECT role,
            'q' || CAST(({ha}) % 3 AS VARCHAR) AS a,
            CASE WHEN ({hs}) % 4 <> 0
                 THEN 'q' || CAST(({ha}) % 3 AS VARCHAR)
                 ELSE 'q' || CAST((({ha}) + 1) % 3 AS VARCHAR) END AS b
          FROM transcripts)
, kpt AS (SELECT role, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                   AS agree
          FROM kp0 GROUP BY role)
, kpa AS (SELECT role, a AS l, CAST(COUNT(*) AS BIGINT) AS na
          FROM kp0 GROUP BY role, a)
, kpb AS (SELECT role, b AS l, CAST(COUNT(*) AS BIGINT) AS nb
          FROM kp0 GROUP BY role, b)
, kpm AS (SELECT COALESCE(kpa.role, kpb.role) AS role,
                 COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
          FROM kpa FULL OUTER JOIN kpb
            ON kpa.role = kpb.role AND kpa.l = kpb.l)
, kpp AS (SELECT m.role, t.n, t.agree,
                 CAST(SUM((na * 1000000 // t.n) * (nb * 1000000 // t.n))
                      AS BIGINT) AS pesum
          FROM kpm m JOIN kpt t ON m.role = t.role
          GROUP BY m.role, t.n, t.agree)
SELECT role, n, agree * 1000000 // n AS po_ppm,
       pesum // 1000000 AS pe_ppm,
       CASE WHEN 1000000 - pesum // 1000000 > 0
            THEN ((agree * 1000000 // n) - (pesum // 1000000)) * 1000000
                 // (1000000 - pesum // 1000000) END AS kappa_ppm
FROM kpp"""

    backpressure = """
, bp0 AS (SELECT sink, date_trunc('hour', ts) AS hour,
                 CAST(COUNT(*) AS BIGINT) AS n_in
          FROM per_sink GROUP BY 1, 2)
, bpb AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                 date_trunc('hour', MAX(ts)) AS hi,
                 CAST(COUNT(*) AS BIGINT) AS total FROM per_sink)
, bpr AS (SELECT lo, hi,
                 GREATEST(1, total //
                   ((epoch_us(hi) - epoch_us(lo)) // 3600000000 + 1))
                   AS drain
          FROM bpb)
, bph AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
          FROM bpr)
, bpsk AS (SELECT DISTINCT sink FROM per_sink)
, bpd AS (SELECT s.sink, h.hour, COALESCE(c.n_in, 0) AS n_in
          FROM bpsk s CROSS JOIN bph h
          LEFT JOIN bp0 c ON c.sink = s.sink AND c.hour = h.hour)
, bpw AS (SELECT sink, hour, n_in, r.drain,
            SUM(n_in - r.drain) OVER (PARTITION BY sink ORDER BY hour
              ROWS UNBOUNDED PRECEDING) AS s
          FROM bpd CROSS JOIN bpr r)
, bpq AS (SELECT sink, hour, n_in, drain,
            s - LEAST(0, MIN(s) OVER (PARTITION BY sink ORDER BY hour
              ROWS UNBOUNDED PRECEDING)) AS q
          FROM bpw)
SELECT sink, hour, n_in, CAST(q AS BIGINT) AS queue_depth,
       q > 3 * drain AS paused
FROM bpq"""

    cell = _md5_32_sql(
        "event_type || ':' || CAST(date_part('day', ts) AS VARCHAR)"
        " || ':' || CAST(date_part('hour', ts) AS VARCHAR)"
    )
    seasonal = f"""
, sa0 AS (SELECT event_type, date_trunc('day', ts) AS day,
                 CAST(date_part('hour', ts) AS INT) AS hod,
                 CAST(SUM(CASE WHEN ({cell}) % 40 = 7 THEN 4 ELSE 1 END)
                      AS BIGINT) AS n
          FROM events GROUP BY 1, 2, 3)
, sab AS (SELECT event_type, hod, CAST(SUM(n) AS BIGINT) AS base_total,
                 CAST(COUNT(*) AS BIGINT) AS base_days
          FROM sa0 WHERE date_part('day', day) <= 15
          GROUP BY event_type, hod)
, sac AS (SELECT * FROM sa0 WHERE date_part('day', day) > 15)
SELECT c.event_type, c.day, c.hod, c.n,
       CAST(COALESCE(b.base_total, 0) AS BIGINT) AS base_total,
       CAST(COALESCE(b.base_days, 0) AS BIGINT) AS base_days,
       CASE WHEN b.base_total IS NULL THEN 'no_baseline'
            WHEN c.n * b.base_days > 2 * b.base_total THEN 'high'
            WHEN c.n * b.base_days * 2 < b.base_total THEN 'low'
            ELSE 'ok' END AS verdict
FROM sac c LEFT JOIN sab b
  ON c.event_type = b.event_type AND c.hod = b.hod"""

    route_diff = """
, rdt AS (SELECT tag, CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM routed GROUP BY tag)
, rda AS (SELECT tag, n_rows,
            list_sort(list_filter([
              CASE WHEN tag LIKE 'errors.%' THEN 'sink_errors' END,
              CASE WHEN tag LIKE 'alerts.%' THEN 'sink_alerts' END,
              CASE WHEN tag LIKE 'tools.%' THEN 'sink_tools' END,
              'sink_all'
            ], x -> x IS NOT NULL)) AS ra,
            list_sort(list_filter([
              CASE WHEN tag LIKE 'errors.%' THEN 'sink_errors' END,
              CASE WHEN tag LIKE 'alerts.%' THEN 'sink_alerts' END,
              CASE WHEN tag LIKE 'tools.%' THEN 'sink_tools' END,
              CASE WHEN tag LIKE 'chat.%' THEN 'sink_all' END,
              CASE WHEN tag = 'unparsed.user' THEN 'sink_quarantine' END
            ], x -> x IS NOT NULL)) AS rb
          FROM rdt)
SELECT tag, n_rows,
       COALESCE(array_to_string(ra, ','), '') AS routes_old,
       COALESCE(array_to_string(rb, ','), '') AS routes_new,
       COALESCE(array_to_string(list_sort(
         list_filter(rb, x -> NOT list_contains(ra, x))), ','), '') AS added,
       COALESCE(array_to_string(list_sort(
         list_filter(ra, x -> NOT list_contains(rb, x))), ','), '') AS removed,
       CASE WHEN ra = rb THEN 'unchanged'
            WHEN len(rb) = 0 THEN 'newly_dropped'
            WHEN len(ra) = 0 THEN 'newly_routed'
            ELSE 'rerouted' END AS verdict
FROM rda"""

    heartbeat = """
, hb0 AS (SELECT DISTINCT event_type AS source,
                 date_trunc('hour', ts) AS hour FROM events)
, hb1 AS (SELECT source, hour,
                 LAG(hour) OVER (PARTITION BY source ORDER BY hour) AS prev
          FROM hb0)
SELECT source, prev AS gap_start, hour AS gap_end,
       (epoch_us(hour) - epoch_us(prev)) // 3600000000 AS gap_hours
FROM hb1
WHERE (epoch_us(hour) - epoch_us(prev)) // 3600000000 > 6"""

    cardinality = """
, cg0 AS (SELECT DISTINCT date_trunc('day', ts) AS day,
                 CASE WHEN date_part('day', ts) >= 25
                      THEN CAST(floor(value * 100) AS BIGINT)
                      ELSE CAST(floor(value) AS BIGINT) END AS lab
          FROM events)
, cg1 AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_distinct
          FROM cg0 GROUP BY day)
, cg2 AS (SELECT day, n_distinct,
                 LAG(n_distinct) OVER (ORDER BY day) AS n_prev
          FROM cg1)
SELECT day, n_distinct,
       CAST(COALESCE(n_prev, 0) AS BIGINT) AS n_prev,
       CAST(COALESCE((n_distinct - n_prev) * 1000000 // n_prev, 0)
            AS BIGINT) AS delta_ppm,
       COALESCE((n_distinct - n_prev) * 1000000 // n_prev > 200000,
                FALSE) AS alarm
FROM cg2"""

    return {
        "kappa_agreement": kappa,
        "backpressure": backpressure,
        "seasonal_anomaly": seasonal,
        "route_diff": route_diff,
        "heartbeat_gaps": heartbeat,
        "cardinality_guard": cardinality,
    }


def _msgpack_strsz(blen: str) -> str:
    """msgpack str: payload + 1-byte fixstr (<=31) / 2-byte str8
    (<=255) / 3-byte str16 / 5-byte str32 header."""
    return (
        f"({blen}) + CASE WHEN ({blen}) <= 31 THEN 1"
        f" WHEN ({blen}) <= 255 THEN 2"
        f" WHEN ({blen}) <= 65535 THEN 3 ELSE 5 END"
    )


def _varint_sz(z: str) -> str:
    """Base-128 varint byte count of the (already zigzagged,
    non-negative) value."""
    cases = " ".join(
        f"WHEN ({z}) <= {(1 << (7 * k)) - 1} THEN {k}" for k in range(1, 9)
    )
    return f"CASE {cases} ELSE 9 END"


def _wireformat_sql() -> dict[str, str]:
    """operators/wireformat.py mirrors: the decoded fields must equal
    the source row (roundtrip identity) and `n_bytes` must equal the
    spec-dictated wire size, derived here in closed form from the
    UTF-8 byte lengths — an independent second derivation of the
    codec's every header/width choice (msgpack spec; Avro spec binary
    encoding; EventTime ext0 per src/flb_time.c)."""
    bl = "octet_length(encode({c}))"
    msg_fixed = (
        # fixarray2 + fixext8 EventTime(2+8) + fixmap5 + the five
        # fixstr keys: conv_id(1+7) turn_idx(1+8) role(1+4) text(1+4)
        # tool(1+4)
        1 + 10 + 1 + 8 + 9 + 5 + 5 + 5
    )
    turn_sz = (
        "CASE WHEN turn_idx <= 127 THEN 1 WHEN turn_idx <= 255 THEN 2"
        " WHEN turn_idx <= 65535 THEN 3"
        " WHEN turn_idx <= 4294967295 THEN 5 ELSE 9 END"
    )
    msgpack = f"""
SELECT conv_id, turn_idx, role, text, tool, ts,
       CAST({msg_fixed}
            + {_msgpack_strsz(bl.format(c='conv_id'))}
            + {turn_sz}
            + {_msgpack_strsz(bl.format(c='role'))}
            + {_msgpack_strsz(bl.format(c='text'))}
            + CASE WHEN tool IS NULL THEN 1
                   ELSE {_msgpack_strsz(bl.format(c='tool'))} END
         AS BIGINT) AS n_bytes
FROM transcripts"""

    def astr(c: str) -> str:
        b = bl.format(c=c)
        return f"({_varint_sz(f'2 * ({b})')} + ({b}))"

    avro = f"""
SELECT conv_id, turn_idx, role, text, tool, ts,
       CAST({astr('conv_id')}
            + {_varint_sz('2 * turn_idx')}
            + {astr('role')}
            + {astr('text')}
            + 1
            + CASE WHEN tool IS NULL THEN 0 ELSE {astr('tool')} END
            + {_varint_sz('2 * epoch_us(ts)')}
         AS BIGINT) AS n_bytes
FROM transcripts"""

    tf_inference = """
, tf0 AS (SELECT CAST(length(text) AS BIGINT) AS x_len,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS x_words,
                 CAST(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END
                      AS BIGINT) AS x_tool
          FROM transcripts)
, tf1 AS (SELECT x_len, x_words, x_tool,
            GREATEST(0, 2*x_len - x_words + 5*x_tool + 10) // 16 AS h0,
            GREATEST(0, x_len + 3*x_words - 2*x_tool - 20) // 16 AS h1,
            GREATEST(0, -x_len + 2*x_words + 4*x_tool + 5) // 16 AS h2
          FROM tf0)
, tf2 AS (SELECT x_len, x_words, x_tool,
                 3*h0 - 2*h1 + 6*h2 - 40 AS yraw FROM tf1)
SELECT x_len, x_words, x_tool,
       CAST(floor(yraw / 4.0) AS BIGINT) AS score,
       CAST(floor(yraw / 4.0) AS BIGINT) >= 0 AS keep
FROM tf2"""

    esz = (
        f"{msg_fixed} + {_msgpack_strsz(bl.format(c='conv_id'))}"
        f" + {turn_sz}"
        f" + {_msgpack_strsz(bl.format(c='role'))}"
        f" + {_msgpack_strsz(bl.format(c='text'))}"
        f" + CASE WHEN tool IS NULL THEN 1"
        f"        ELSE {_msgpack_strsz(bl.format(c='tool'))} END"
    )
    forward = f"""
, fw0 AS (SELECT tag, conv_id, turn_idx, role, text, tool, ts,
                 {esz} AS esz
          FROM routed)
, fw1 AS (SELECT tag, conv_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(2 + octet_length(encode(tag))
                      + CASE WHEN COUNT(*) <= 15 THEN 1 ELSE 3 END
                      + SUM(esz) AS BIGINT) AS msg_bytes
          FROM fw0 GROUP BY tag, conv_id)
SELECT f.tag, f.conv_id, f.turn_idx, f.role, f.text, f.tool, f.ts,
       g.n_events, g.msg_bytes
FROM fw0 f JOIN fw1 g ON f.tag = g.tag AND f.conv_id = g.conv_id"""

    streaming_backpressure = """
, sb0 AS (SELECT event_type AS sink, date_trunc('hour', ts) AS hour,
                 CAST(COUNT(*) AS BIGINT) AS n_in
          FROM events GROUP BY 1, 2)
, sbb AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                 date_trunc('hour', MAX(ts)) AS hi FROM events)
, sbh AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
          FROM sbb)
, sbs AS (SELECT DISTINCT event_type AS sink FROM events)
, sbd AS (SELECT s.sink, h.hour, COALESCE(c.n_in, 0) AS n_in
          FROM sbs s CROSS JOIN sbh h
          LEFT JOIN sb0 c ON c.sink = s.sink AND c.hour = h.hour)
, sbw AS (SELECT sink, hour, n_in,
            SUM(n_in - 2) OVER (PARTITION BY sink ORDER BY hour
              ROWS UNBOUNDED PRECEDING) AS s
          FROM sbd)
SELECT sink, hour, CAST(n_in AS BIGINT) AS n_in,
       CAST(n_in AS BIGINT) AS accepted,
       CAST(s - LEAST(0, MIN(s) OVER (PARTITION BY sink ORDER BY hour
            ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS queue_depth
FROM sbw"""

    h_eid = _md5_32_sql("CAST(event_id AS VARCHAR)")
    priority_sample = f"""
, ps0 AS (SELECT event_id, event_type,
            ({h_eid}) % 1000000 AS h,
            CASE event_type WHEN 'error' THEN 1000000
                 WHEN 'purchase' THEN 500000 WHEN 'signup' THEN 250000
                 WHEN 'click' THEN 100000 WHEN 'view' THEN 10000
                 ELSE 1000000 END AS rate
          FROM events)
SELECT event_id, event_type,
       CAST(1000000000 // rate AS BIGINT) AS weight_milli
FROM ps0 WHERE h < rate"""

    flap_suppress = _RA_CTES + """
, fl0 AS (SELECT event_type, hour,
                 coalesce(spike, FALSE) AS sp,
                 coalesce(lag(coalesce(spike, FALSE))
                            OVER (PARTITION BY event_type ORDER BY hour),
                          FALSE) AS prev
          FROM ra_v)
, fl1 AS (SELECT event_type, date_trunc('day', hour) AS day,
                 CASE WHEN sp THEN 1 ELSE 0 END AS is_alert
          FROM fl0 WHERE sp <> prev)
SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(is_alert) AS BIGINT) AS n_alerts,
       COUNT(*) > 2 AS suppressed
FROM fl1 GROUP BY event_type, day"""

    schema_compat = """
, sc_o(field, ot) AS (VALUES
    ('conv_id', 'string'), ('turn_idx', 'int'), ('score', 'float'),
    ('tool', 'string'), ('legacy', 'string'), ('flags', 'int'))
, sc_n(field, nt, nd) AS (VALUES
    ('conv_id', 'string', TRUE), ('turn_idx', 'long', FALSE),
    ('score', 'double', FALSE), ('tool', 'boolean', FALSE),
    ('added_d', 'string', TRUE), ('added_nd', 'string', FALSE),
    ('flags', 'int', FALSE))
, sc_p(ot, nt) AS (VALUES
    ('int', 'long'), ('int', 'float'), ('int', 'double'),
    ('long', 'float'), ('long', 'double'), ('float', 'double'),
    ('string', 'bytes'), ('bytes', 'string'))
, sc_j AS (SELECT COALESCE(o.field, n.field) AS field, o.ot, n.nt, n.nd,
                  p.ot IS NOT NULL AS promo
           FROM sc_o o FULL OUTER JOIN sc_n n ON o.field = n.field
           LEFT JOIN sc_p p ON p.ot = o.ot AND p.nt = n.nt)
, sc_v AS (SELECT field, ot AS old_type, nt AS new_type,
             CASE WHEN ot IS NULL AND nd THEN 'added_ok'
                  WHEN ot IS NULL THEN 'breaking_no_default'
                  WHEN nt IS NULL THEN 'removed_ok'
                  WHEN ot = nt THEN 'ok'
                  WHEN promo THEN 'promoted'
                  ELSE 'breaking_type' END AS verdict
           FROM sc_j)
SELECT field, old_type, new_type, verdict,
       NOT (verdict LIKE 'breaking%') AS compatible
FROM sc_v"""

    # Kafka v2 record batch (operators/wireformat.py
    # kafka_batch_roundtrip): 61-byte fixed header + per-record
    # zigzag-varint bodies; every width re-derived independently here.
    zztsd = "CASE WHEN tsd >= 0 THEN 2 * tsd ELSE -2 * tsd - 1 END"
    kafka_batch = f"""
, kb0 AS (SELECT conv_id, turn_idx,
            epoch_us(ts) // 1000 AS ts_ms,
            octet_length(encode(conv_id)) AS klen,
            ({esz}) AS vlen
          FROM transcripts)
, kb1 AS (SELECT conv_id, ts_ms, klen, vlen,
            first_value(ts_ms) OVER w AS base_ts,
            ts_ms - first_value(ts_ms) OVER w AS tsd,
            ROW_NUMBER() OVER w - 1 AS od
          FROM kb0
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
, kb2 AS (SELECT conv_id, ts_ms, base_ts,
            1 + {_varint_sz(zztsd)} + {_varint_sz("2 * od")}
              + {_varint_sz("2 * klen")} + klen
              + {_varint_sz("2 * vlen")} + vlen + 1 AS body
          FROM kb1)
, kb3 AS (SELECT conv_id, ts_ms, base_ts,
            {_varint_sz("2 * body")} + body AS rec
          FROM kb2)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(61 + SUM(rec) AS BIGINT) AS batch_bytes,
       CAST(MIN(base_ts) AS BIGINT) AS base_ts_ms,
       CAST(MAX(ts_ms) AS BIGINT) AS max_ts_ms,
       TRUE AS crc_ok
FROM kb3 GROUP BY conv_id"""

    # Produce v3 envelope over the same batch: 40 fixed bytes
    # (size+header ints+null txn id+acks+timeout+array counts+
    # partition+set length) + client_id 'fluent-bit' (10) + topic
    # 'fbs.transcripts' (15) + the batch.
    kafka_produce = kafka_batch.replace(
        """SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(61 + SUM(rec) AS BIGINT) AS batch_bytes,
       CAST(MIN(base_ts) AS BIGINT) AS base_ts_ms,
       CAST(MAX(ts_ms) AS BIGINT) AS max_ts_ms,
       TRUE AS crc_ok
FROM kb3 GROUP BY conv_id""",
        """SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(61 + SUM(rec) AS BIGINT) AS batch_bytes,
       CAST(40 + 10 + 15 + 61 + SUM(rec) AS BIGINT) AS request_bytes,
       CAST(0 AS INTEGER) AS api_key,
       CAST(COUNT(*) AS INTEGER) AS correlation_id,
       TRUE AS crc_ok
FROM kb3 GROUP BY conv_id""",
    )

    mqtt = """
SELECT conv_id, turn_idx,
       CAST(turn_idx % 3 AS INTEGER) AS qos,
       'fbs/' || conv_id AS topic,
       CAST(CASE WHEN turn_idx % 3 = 0 THEN 0
                 ELSE turn_idx % 65536 END AS INTEGER) AS packet_id,
       coalesce(text, '') AS payload,
       CAST(1 + CASE WHEN rem < 128 THEN 1 WHEN rem < 16384 THEN 2
                     WHEN rem < 2097152 THEN 3 ELSE 4 END
              + rem AS BIGINT) AS n_bytes
FROM (SELECT *,
             2 + octet_length(encode('fbs/' || conv_id))
               + CASE WHEN turn_idx % 3 = 0 THEN 0 ELSE 2 END
               + octet_length(encode(coalesce(text, ''))) AS rem
      FROM transcripts)"""
    http_jvm = """
, hcj0 AS (SELECT conv_id, turn_idx,
                 CAST(octet_length(encode(coalesce(text, '')))
                      AS BIGINT) AS L
          FROM transcripts)
, hcj1 AS (SELECT *,
                 CASE WHEN L = 0 THEN CAST(0 AS BIGINT)
                      ELSE (L + 47) // 48 END AS n_chunks,
                 CASE WHEN L = 0 THEN CAST(0 AS BIGINT)
                      ELSE L - 48 * ((L + 47) // 48 - 1) END AS r
          FROM hcj0)
SELECT conv_id, turn_idx, n_chunks,
       CAST(CASE WHEN L = 0 THEN 5
                 ELSE (n_chunks - 1)
                        * (length(printf('%x', 48)) + 4 + 48)
                      + (length(printf('%x', r)) + 4 + r) + 5
            END AS BIGINT) AS n_bytes
FROM hcj1"""

    collectd = """
SELECT conv_id, turn_idx, conv_id AS host, 'transcript' AS plugin,
       role AS plugin_instance, 'gauge' AS type, tool AS type_instance,
       epoch_us(ts) // 1000000 AS time_sec,
       CAST(length(coalesce(text, '')) AS DOUBLE) AS text_len,
       CAST((4 + octet_length(encode(conv_id)) + 1)
            + 12
            + 15
            + (4 + octet_length(encode(role)) + 1)
            + 10
            + CASE WHEN tool IS NULL THEN 0
                   ELSE 4 + octet_length(encode(tool)) + 1 END
            + 15 AS BIGINT) AS n_bytes
FROM transcripts"""

    # WebSocket client data frame (plugins/out_websocket/
    # websocket.c:92-156): 0x81 FIN+text, MASK bit, 7/16/64-bit
    # extended-length branches, fixed 4-byte key 12345678.
    websocket = """
, ws0 AS (SELECT conv_id, turn_idx,
                 CAST(octet_length(encode(repeat(coalesce(text, ''),
                      1 + (turn_idx % 3) * 8))) AS BIGINT) AS L
          FROM transcripts)
SELECT conv_id, turn_idx, L AS payload_bytes,
       CASE WHEN L < 126 THEN '81' || printf('%02x', 128 + L) || '12345678'
            WHEN L < 65536 THEN '81fe' || printf('%04x', L) || '12345678'
            ELSE '81ff' || printf('%016x', L) || '12345678'
       END AS header_hex,
       CAST(CASE WHEN L < 126 THEN 6 WHEN L < 65536 THEN 8
                 ELSE 14 END + L AS BIGINT) AS n_bytes,
       TRUE AS ok
FROM ws0"""

    # /api/v1/metrics (src/flb_metrics_exporter.c:48-141): per-plugin
    # JSON fragments; bytes = the same closed-form msgpack event size
    # as msgpack_roundtrip.
    metrics_ep = f"""
, me0 AS (SELECT {esz} AS esz,
                 CASE WHEN text LIKE '!!corrupt%' THEN 1 ELSE 0 END AS corrupt,
                 'fbs.' || role AS tag
          FROM transcripts)
, me1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS in_n,
                 CAST(COALESCE(SUM(esz), 0) AS BIGINT) AS in_b,
                 CAST(COALESCE(SUM(corrupt), 0) AS BIGINT) AS drop_n,
                 CAST(COALESCE(SUM(CASE WHEN corrupt = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS es_n,
                 CAST(COALESCE(SUM(CASE WHEN corrupt = 0 THEN esz ELSE 0 END), 0) AS BIGINT) AS es_b,
                 CAST(COALESCE(SUM(CASE WHEN corrupt = 0 AND tag LIKE 'fbs.a%' THEN 1 ELSE 0 END), 0) AS BIGINT) AS so_n,
                 CAST(COALESCE(SUM(CASE WHEN corrupt = 0 AND tag LIKE 'fbs.a%' THEN esz ELSE 0 END), 0) AS BIGINT) AS so_b,
                 CAST(COALESCE(SUM(CASE WHEN corrupt = 0 AND tag = 'fbs.assistant' THEN 1 ELSE 0 END), 0) AS BIGINT) AS ct_n,
                 CAST(COALESCE(SUM(CASE WHEN corrupt = 0 AND tag = 'fbs.assistant' THEN esz ELSE 0 END), 0) AS BIGINT) AS ct_b
          FROM me0)
SELECT 'input' AS section, 'tail.0' AS name,
       '"tail.0":{{"records":' || in_n || ',"bytes":' || in_b || '}}' AS fragment
FROM me1
UNION ALL
SELECT 'filter', 'grep.0',
       '"grep.0":{{"drop_records":' || drop_n || ',"add_records":0}}'
FROM me1
UNION ALL
SELECT 'output', 'es.0',
       '"es.0":{{"proc_records":' || es_n || ',"proc_bytes":' || es_b
       || ',"errors":0,"retries":0,"retries_failed":0}}'
FROM me1
UNION ALL
SELECT 'output', 'stdout.1',
       '"stdout.1":{{"proc_records":' || so_n || ',"proc_bytes":' || so_b
       || ',"errors":0,"retries":0,"retries_failed":0}}'
FROM me1
UNION ALL
SELECT 'output', 'counter.2',
       '"counter.2":{{"proc_records":' || ct_n || ',"proc_bytes":' || ct_b
       || ',"errors":0,"retries":0,"retries_failed":0}}'
FROM me1"""

    # storage.total_limit_size FIFO eviction (flb_input_chunk.c:152,
    # 201): closed form = reverse running sum over accepted chunks.
    storage_limit = f"""
, sl0 AS (SELECT 'fbs.' || role AS sink, date_trunc('hour', ts) AS hour,
                 CAST(SUM({esz}) AS BIGINT) AS chunk_bytes
          FROM transcripts GROUP BY 1, 2)
, sl1 AS (SELECT *,
            SUM(CASE WHEN chunk_bytes <= 16384 THEN chunk_bytes ELSE 0 END)
              OVER (PARTITION BY sink ORDER BY hour DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS newest_cum
          FROM sl0)
SELECT sink, hour, chunk_bytes,
       CASE WHEN chunk_bytes > 16384 THEN 'rejected_oversize'
            WHEN newest_cum <= 16384 THEN 'retained'
            ELSE 'evicted' END AS status
FROM sl1"""

    # Treasure Data repack (plugins/out_td/td.c:103-129): per record a
    # msgpack map of the original 5 keys + the injected 'time' int --
    # fixmap(6) 1 + keys time(5) conv_id(8) turn_idx(9) role(5)
    # text(5) tool(5) = 38 fixed, plus canonical-smallest int widths
    # and str headers.
    td_time_sz = (
        "CASE WHEN es <= 127 THEN 1 WHEN es <= 255 THEN 2"
        " WHEN es <= 65535 THEN 3 WHEN es <= 4294967295 THEN 5 ELSE 9 END"
    )
    td = f"""
, td0 AS (SELECT conv_id, epoch_us(ts) // 1000000 AS es, turn_idx,
                 role, text, tool
          FROM transcripts)
, td1 AS (SELECT conv_id,
                 38 + {td_time_sz}
                    + {_msgpack_strsz(bl.format(c='conv_id'))}
                    + {turn_sz}
                    + {_msgpack_strsz(bl.format(c='role'))}
                    + {_msgpack_strsz(bl.format(c='text'))}
                    + CASE WHEN tool IS NULL THEN 1
                           ELSE {_msgpack_strsz(bl.format(c='tool'))} END AS esz
          FROM td0)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(SUM(esz) AS BIGINT) AS mp_bytes, TRUE AS gz_ok
FROM td1 GROUP BY conv_id"""

    # JVM-expression encoders (functions/wire_expr.py): per-row exact
    # wire sizes of the [EventTime, 5-key map] msgpack entry and the
    # Avro binary record — the encode sides re-derived with zero
    # Python in the Spark plan; same closed forms as the roundtrips'
    msgpack_jvm = f"""
SELECT conv_id, turn_idx, CAST({esz} AS BIGINT) AS n_bytes
FROM transcripts"""
    avro_jvm = f"""
SELECT conv_id, turn_idx,
       CAST({astr('conv_id')}
            + {_varint_sz('2 * turn_idx')}
            + {astr('role')}
            + {astr('text')}
            + 1
            + CASE WHEN tool IS NULL THEN 0 ELSE {astr('tool')} END
            + {_varint_sz('2 * epoch_us(ts)')}
         AS BIGINT) AS n_bytes
FROM transcripts"""
    # Forward-mode framing JVM-side (wire_expr.forward_message_bytes):
    # msg = 0x92 + str(tag) + array header + sum of event entries;
    # full generality on the tag header and array widths (the Python
    # forward oracle above assumes fixstr tags / <=65535 events)
    forward_jvm = f"""
SELECT tag, conv_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(1 + {_msgpack_strsz(bl.format(c='tag'))}
            + CASE WHEN COUNT(*) <= 15 THEN 1
                   WHEN COUNT(*) <= 65535 THEN 3 ELSE 5 END
            + SUM({esz}) AS BIGINT) AS msg_bytes
FROM routed GROUP BY tag, conv_id"""
    mqtt_jvm = """
SELECT conv_id, turn_idx,
       CAST(1 + CASE WHEN rem < 128 THEN 1 WHEN rem < 16384 THEN 2
                     WHEN rem < 2097152 THEN 3 ELSE 4 END
              + rem AS BIGINT) AS n_bytes
FROM (SELECT conv_id, turn_idx,
             2 + octet_length(encode('fbs/' || conv_id))
               + CASE WHEN turn_idx % 3 = 0 THEN 0 ELSE 2 END
               + octet_length(encode(coalesce(text, ''))) AS rem
      FROM transcripts)"""

    return {
        "msgpack_roundtrip": msgpack,
        "msgpack_wire_jvm": msgpack_jvm,
        "avro_wire_jvm": avro_jvm,
        "forward_wire_jvm": forward_jvm,
        "mqtt_wire_jvm": mqtt_jvm,
        "http_chunked_wire_jvm": http_jvm,
        "avro_roundtrip": avro,
        "mqtt_frame": mqtt,
        "collectd_packet": collectd,
        "websocket_frames": websocket,
        "sink_td": td,
        "metrics_endpoint": metrics_ep,
        "storage_limit": storage_limit,
        "tf_inference": tf_inference,
        "forward_roundtrip": forward,
        "kafka_batch": kafka_batch,
        "kafka_produce": kafka_produce,
        "streaming_backpressure": streaming_backpressure,
        "priority_sample": priority_sample,
        "flap_suppress": flap_suppress,
        "schema_compat": schema_compat,
    }


def _dqsuite_sql() -> dict[str, str]:
    """profile_columns / check_constraints / fk_integrity /
    legal-hold tombstone mirrors."""

    def prof(col: str) -> str:
        return f"""SELECT '{col}' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
       CAST(MIN({col}) AS VARCHAR) AS min_value,
       CAST(MAX({col}) AS VARCHAR) AS max_value
FROM events"""

    dq_profile = "\n" + "\nUNION ALL\n".join(
        prof(c) for c in ["event_id", "event_type", "value", "user_id"]
    )

    dq_checks = """
, dqw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c0,
    CAST(COUNT(DISTINCT event_id) AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN value IS NOT NULL AND value BETWEEN 0 AND 400
             THEN 1 ELSE 0 END) AS BIGINT) AS c2,
    CAST(SUM(CASE WHEN value IS NOT NULL AND value BETWEEN 0 AND 100
             THEN 1 ELSE 0 END) AS BIGINT) AS c3,
    CAST(SUM(CASE WHEN coalesce(regexp_matches(event_type,
             '^(click|view|error|purchase|signup)$'), FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS c4
  FROM events)
SELECT 'completeness(event_type)' AS rule, c0 * 1000000 // n AS metric_ppm,
       CAST(1000000 AS BIGINT) AS threshold_ppm,
       c0 * 1000000 // n >= 1000000 AS passed FROM dqw
UNION ALL
SELECT 'uniqueness(event_id)', c1 * 1000000 // n, 1000000,
       c1 * 1000000 // n >= 1000000 FROM dqw
UNION ALL
SELECT 'in_range(value,0,400)', c2 * 1000000 // n, 1000000,
       c2 * 1000000 // n >= 1000000 FROM dqw
UNION ALL
SELECT 'in_range(value,0,100)', c3 * 1000000 // n, 600000,
       c3 * 1000000 // n >= 600000 FROM dqw
UNION ALL
SELECT 'matches(event_type)', c4 * 1000000 // n, 1000000,
       c4 * 1000000 // n >= 1000000 FROM dqw"""

    hk = _md5_32_sql("CAST(o_orderkey AS VARCHAR)")
    fk_orphans = f"""
, fko AS (SELECT DISTINCT o_orderkey FROM orders
          WHERE ({hk}) % 20 <> 4)
, fkj AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
                 CAST(SUM(CASE WHEN f.o_orderkey IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_orphans
          FROM lineitem l LEFT JOIN fko f ON l.l_orderkey = f.o_orderkey)
SELECT 'lineitem->orders' AS relation, n_child, n_orphans,
       n_orphans * 1000000 // n_child AS orphan_ppm
FROM fkj"""

    hc = _md5_32_sql("conv_id")
    legal_hold = f"""
, lh0 AS (SELECT date_trunc('day', ts) AS day, conv_id,
                 ({hc}) % 10 = 3 AS tomb, ({hc}) % 30 = 3 AS held
          FROM transcripts)
SELECT day,
       CAST(SUM(CASE WHEN tomb AND NOT held THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deleted,
       CAST(SUM(CASE WHEN NOT tomb OR held THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(COUNT(DISTINCT CASE WHEN tomb AND NOT held THEN conv_id END)
            AS BIGINT) AS n_keys_deleted,
       CAST(SUM(CASE WHEN tomb AND held THEN 1 ELSE 0 END) AS BIGINT)
         AS n_held_rows
FROM lh0 GROUP BY day"""

    he = _md5_32_sql("CAST(event_id AS VARCHAR)")
    dp_clamp = f"""
, dp0 AS (SELECT date_trunc('day', ts) AS day, user_id AS u,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS raw,
                 row_number() OVER (
                   PARTITION BY user_id, date_trunc('day', ts)
                   ORDER BY ({he}), event_id) AS rk
          FROM events)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN rk <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(COUNT(DISTINCT u) AS BIGINT) AS users,
       CAST(COUNT(DISTINCT CASE WHEN rk > 2
                                  OR (rk <= 2 AND raw > 5000)
                                THEN u END) AS BIGINT) AS clipped_users,
       CAST(SUM(raw) AS BIGINT) AS sum_raw_cents,
       CAST(SUM(CASE WHEN rk <= 2 THEN LEAST(raw, 5000) ELSE 0 END)
            AS BIGINT) AS sum_clamped_cents
FROM dp0 GROUP BY day"""

    k_anon_repair = """
, kr0 AS (SELECT role, tool, date_trunc('day', ts) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM transcripts GROUP BY 1, 2, 3)
, kr1 AS (SELECT role, tool, date_trunc('week', ts) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM transcripts GROUP BY 1, 2, 3)
SELECT 'day' AS granularity, CAST(COUNT(*) AS BIGINT) AS n_combos,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_risk,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS rows_at_risk
FROM kr0
UNION ALL
SELECT 'week', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
FROM kr1"""

    hg = _md5_32_sql("conv_id || ':' || CAST(turn_idx AS VARCHAR)")
    gelf_chunks = f"""
, gc0 AS (SELECT conv_id, turn_idx,
            octet_length(encode(CASE WHEN ({hg}) % 37 = 11
                                     THEN repeat(text, 60)
                                     ELSE text END)) AS plen
          FROM transcripts)
, gc1 AS (SELECT conv_id, turn_idx, plen,
                 (plen + 63) // 64 AS chunks, plen > 64 AS chunked
          FROM gc0)
SELECT conv_id, turn_idx, CAST(plen AS BIGINT) AS payload_bytes, chunked,
       CAST(CASE WHEN chunked THEN chunks ELSE 1 END AS BIGINT) AS n_chunks,
       chunked AND chunks > 128 AS dropped,
       CAST(CASE WHEN chunked AND chunks > 128 THEN 0
                 WHEN chunked THEN plen + 12 * chunks
                 ELSE plen END AS BIGINT) AS wire_bytes
FROM gc1"""

    return {
        "dq_profile": dq_profile,
        "dq_checks": dq_checks,
        "fk_orphans": fk_orphans,
        "legal_hold": legal_hold,
        "dp_clamp": dp_clamp,
        "k_anon_repair": k_anon_repair,
        "gelf_chunks": gelf_chunks,
    }


def _statsd_sql() -> dict[str, str]:
    """sources.statsd_lines_from_transcripts / parse_statsd /
    aggregate.statsd_flush mirrors (plugins/in_statsd/statsd.c
    grammar; the renderer, splitter, and flush windows are
    dialect-parallel expression for expression)."""
    re = r"^([^:]+):([^|]*)\|(.*)$"
    lines = r"""
, sd0 AS (
    SELECT conv_id, turn_idx, ts,
           'turns.' || coalesce(role, 'none') || '.'
                    || coalesce(tool, 'none') AS bucket,
           CASE turn_idx % 4 WHEN 0 THEN 'c' WHEN 1 THEN 'g'
                             WHEN 2 THEN 'ms' ELSE 's' END AS mt,
           CASE turn_idx % 4
             WHEN 0 THEN CAST(length(text) AS VARCHAR)
             WHEN 1 THEN CASE WHEN turn_idx % 3 = 0
                              THEN '+' || CAST(length(text) AS VARCHAR)
                              WHEN turn_idx % 3 = 1
                              THEN '-' || CAST(length(text) AS VARCHAR)
                              ELSE CAST(length(text) AS VARCHAR) END
             WHEN 2 THEN CAST(length(text) AS VARCHAR) || '.5'
             ELSE conv_id END AS val
    FROM transcripts)
, sdl AS (
    SELECT conv_id, turn_idx, ts,
           CASE WHEN turn_idx % 11 = 0
                THEN 'malformed statsd datagram no separators'
                WHEN turn_idx % 13 = 0 THEN bucket || ':42'
                ELSE bucket || ':' || val || '|' || mt
                     || CASE WHEN turn_idx % 5 = 0 THEN '|@0.5'
                             WHEN turn_idx % 7 = 0 THEN '|@0'
                             ELSE '' END
           END AS line
    FROM sd0)"""
    parse = f"""
, sdx AS (
    SELECT conv_id, turn_idx, ts,
           nullif(regexp_extract(line, '{re}', 1), '') AS bucket,
           regexp_extract(line, '{re}', 2) AS value_raw,
           nullif(regexp_extract(line, '{re}', 3), '') AS typepart
    FROM sdl)
, sdp AS (
    SELECT conv_id, turn_idx, ts, bucket, value_raw,
           CASE WHEN substr(typepart, 1, 1) = 'g' THEN 'gauge'
                WHEN substr(typepart, 1, 1) = 's' THEN 'set'
                WHEN substr(typepart, 1, 1) = 'c' THEN 'counter'
                WHEN substr(typepart, 1, 2) = 'ms' THEN 'timer'
                ELSE 'counter' END AS mtype,
           coalesce(TRY_CAST(value_raw AS DOUBLE), 0.0::DOUBLE) AS vnum,
           CASE WHEN coalesce(TRY_CAST(
                    nullif(regexp_extract(typepart, '\\|@(.*)$', 1), '')
                    AS DOUBLE), 0.0::DOUBLE) = 0.0::DOUBLE
                THEN 1.0::DOUBLE
                ELSE TRY_CAST(
                    nullif(regexp_extract(typepart, '\\|@(.*)$', 1), '')
                    AS DOUBLE) END AS srate,
           CASE WHEN substr(value_raw, 1, 1) IN ('+', '-')
                THEN 1 ELSE 0 END AS incr
    FROM sdx WHERE bucket IS NOT NULL)"""
    source = f"""{lines}{parse}
SELECT conv_id, turn_idx, bucket, mtype,
       CASE WHEN mtype <> 'set' THEN vnum END AS value_num,
       CASE WHEN mtype = 'set' THEN value_raw END AS value_str,
       CASE WHEN mtype IN ('counter', 'timer') THEN srate END AS sample_rate,
       CASE WHEN mtype = 'gauge' THEN incr END AS incremental
FROM sdp"""
    agg = f"""{lines}{parse}
, sds AS (
    SELECT *, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '#'
              || conv_id || '#'
              || lpad(CAST(turn_idx AS VARCHAR), 6, '0') AS okey
    FROM sdp)
, sdg AS (
    SELECT *, MAX(CASE WHEN mtype = 'gauge' AND incr = 0 THEN okey END)
              OVER (PARTITION BY mtype, bucket ORDER BY okey
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
              AS nonincr_after
    FROM sds)
, sdc AS (
    SELECT mtype, bucket, value_raw,
           CASE WHEN mtype = 'counter' THEN vnum / srate
                WHEN mtype = 'timer' THEN vnum
                WHEN mtype = 'gauge' AND nonincr_after IS NULL THEN vnum
           END AS contrib,
           CASE WHEN mtype = 'timer' THEN vnum END AS tval,
           CASE WHEN mtype = 'set' THEN value_raw END AS sval
    FROM sdg)
SELECT mtype, bucket, COUNT(*) AS n,
       round(coalesce(SUM(contrib),
                      CAST(COUNT(DISTINCT sval) AS DOUBLE)), 6) AS value,
       MIN(tval) AS v_min, MAX(tval) AS v_max
FROM sdc GROUP BY mtype, bucket"""
    return {"statsd_source": source, "statsd_agg": agg}


def _container_sql() -> dict[str, str]:
    """Ground truth for the container-log reassembly gates: the Spark
    side does the full wire roundtrip (render runtime split pieces,
    reassemble, parse the envelope back); the oracle states the
    invariant the roundtrip must preserve — one row per turn, log =
    original text (+ newline in docker mode), stream/ts from the first
    piece, first_line_no = the synthesis base offset."""
    base = """SELECT conv_id AS file,
       CAST(turn_idx AS BIGINT) * 100000 AS first_line_no,
       CASE WHEN turn_idx % 2 = 0 THEN 'stdout' ELSE 'stderr' END AS stream,
       ts,
       coalesce(text, '') {suffix} AS log
FROM transcripts"""
    kmsg = """SELECT conv_id,
       CAST(turn_idx % 8 AS BIGINT) AS priority,
       CAST(turn_idx AS BIGINT) AS sequence,
       _mono // 1000000 AS sec,
       _mono % 1000000 AS usec,
       TIMESTAMP '2024-01-01 00:00:00' + to_microseconds(_mono) AS ts,
       coalesce(text, '') AS msg
FROM (SELECT conv_id, turn_idx, text,
             CAST(turn_idx AS BIGINT) * 1000003
               + length(coalesce(text, '')) AS _mono
      FROM transcripts)"""
    journal = """SELECT conv_id AS file,
       CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
            - 1 AS BIGINT) AS entry_no,
       CAST(turn_idx % 8 AS VARCHAR) AS priority,
       regexp_replace(coalesce(text, ''), chr(10), ' ', 'g') AS message,
       coalesce(tool, 'app') || '.service' AS systemd_unit,
       CAST(turn_idx + 1000 AS VARCHAR) AS pid,
       ts
FROM transcripts"""
    streaming_docker = """SELECT conv_id AS file,
       CAST(turn_idx AS BIGINT) * 100000 AS first_line_no,
       CASE WHEN turn_idx % 2 = 0 THEN 'stdout' ELSE 'stderr' END AS stream,
       strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS time_str,
       coalesce(text, '') || chr(10) AS log
FROM transcripts"""
    return {
        "docker_mode_join": base.format(suffix="|| chr(10)"),
        "cri_mode_join": base.format(suffix=""),
        "streaming_docker": streaming_docker,
        "kmsg_source": kmsg,
        "journal_source": journal,
    }


def _round3c_sql() -> dict[str, str]:
    """best_of_n + ks_drift mirrors (transcript_qa.py / dataquality.py)."""
    from fluent_bit_spark.plans.flagship import ROLE_MAP

    whens = "".join(
        f" WHEN role = '{raw}' THEN '{norm}'" for raw, norm in ROLE_MAP
    )
    rc = f"CASE{whens} ELSE 'other' END"
    best_of_n = f"""
, bo1 AS (SELECT conv_id, turn_idx, text,
                 CAST(length(text) AS BIGINT) AS score
          FROM transcripts WHERE {rc} = 'assistant')
, bo2 AS (SELECT *,
                 CAST(row_number() OVER (PARTITION BY conv_id
                      ORDER BY score DESC, turn_idx) AS BIGINT) AS rank,
                 CAST(COUNT(*) OVER (PARTITION BY conv_id)
                      AS BIGINT) AS n_candidates
          FROM bo1)
SELECT conv_id, turn_idx, score, rank, n_candidates, text
FROM bo2 WHERE rank <= 2"""

    ks_drift = """
, ks0 AS (SELECT role, CAST(length(text) AS BIGINT) AS v,
                 turn_idx % 2 AS cur
          FROM transcripts)
, ks1 AS (SELECT role, v,
                 CAST(SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS na,
                 CAST(SUM(CASE WHEN cur = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS nb
          FROM ks0 GROUP BY role, v)
, ks2 AS (SELECT role,
                 CAST(SUM(na) OVER (PARTITION BY role) AS BIGINT) AS ta,
                 CAST(SUM(nb) OVER (PARTITION BY role) AS BIGINT) AS tb,
                 CAST(SUM(na) OVER (PARTITION BY role ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS ca,
                 CAST(SUM(nb) OVER (PARTITION BY role ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cb
          FROM ks1)
SELECT role,
       MAX(abs(ca * 1000000 // nullif(ta, 0)
               - cb * 1000000 // nullif(tb, 0))) AS ks_ppm,
       MAX(ta) AS n_ref, MAX(tb) AS n_cur
FROM ks2 GROUP BY role"""
    http_chunked = """
, hc0 AS (SELECT conv_id, turn_idx, coalesce(text, '') AS payload,
                 CAST(octet_length(encode(coalesce(text, '')))
                      AS BIGINT) AS L
          FROM transcripts)
, hc1 AS (SELECT *,
                 CASE WHEN L = 0 THEN CAST(0 AS BIGINT)
                      ELSE (L + 47) // 48 END AS n_chunks,
                 CASE WHEN L = 0 THEN CAST(0 AS BIGINT)
                      ELSE L - 48 * ((L + 47) // 48 - 1) END AS r
          FROM hc0)
SELECT conv_id, turn_idx, payload, n_chunks,
       CAST(CASE WHEN L = 0 THEN 5
                 ELSE (n_chunks - 1)
                        * (length(printf('%x', 48)) + 4 + 48)
                      + (length(printf('%x', r)) + 4 + r) + 5
            END AS BIGINT) AS n_bytes
FROM hc1"""

    from fluent_bit_spark.operators.layout import zorder_sql_expr

    zexpr = zorder_sql_expr("turn_idx % 128", "length(text) % 128", bits=7)
    zorder = f"""
, zk AS (SELECT {zexpr} AS zkey,
                CAST(turn_idx % 128 AS BIGINT) AS _x,
                CAST(length(text) % 128 AS BIGINT) AS _y
         FROM transcripts)
SELECT zkey >> {2 * 7 - 6} AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(_x) AS x_min, MAX(_x) AS x_max,
       MIN(_y) AS y_min, MAX(_y) AS y_max
FROM zk GROUP BY 1"""

    emb_drift = """
, edf AS (SELECT label, vec_id % 2 AS cur,
                 unnest([{'pos': i,
                          'fx': CAST(round(embedding[i]::DOUBLE * 1000000)
                                     AS BIGINT)}
                         FOR i IN range(1, len(embedding) + 1)]) AS p
          FROM embeddings)
, eds AS (SELECT label, cur, p.pos AS pos,
                 CAST(SUM(p.fx) AS BIGINT) AS s, COUNT(*) AS n
          FROM edf GROUP BY 1, 2, 3)
, edn AS (SELECT label, cur, CAST(MAX(n) AS BIGINT) AS n_vecs
          FROM eds GROUP BY 1, 2)
, edc AS (SELECT s.label, s.cur, s.pos,
                 s.s / (1000000.0 * n.n_vecs) AS c, n.n_vecs
          FROM eds s JOIN edn n USING (label, cur))
SELECT a.label,
       CAST(MAX(a.n_vecs) AS BIGINT) AS n_ref,
       CAST(MAX(b.n_vecs) AS BIGINT) AS n_cur,
       round(SUM(a.c * b.c)
             / (sqrt(SUM(a.c * a.c)) * sqrt(SUM(b.c * b.c))), 6)
         AS centroid_cos
FROM edc a JOIN edc b
  ON a.label = b.label AND a.pos = b.pos AND a.cur = 0 AND b.cur = 1
GROUP BY a.label"""

    # ip_anonymize mirror: same octet-XOR masks from md5 first bytes,
    # keyed on the preceding prefix (curation.ip_anonymize)
    def _mask(prefix_expr: str) -> str:
        return f"(('0x' || substr(md5('fbs/' || {prefix_expr}), 1, 2))::INT)"

    ip_anon = f"""
, ipa0 AS (SELECT conv_id, turn_idx,
                  CASE WHEN turn_idx % 17 = 3 THEN 'not-an-ip'
                       ELSE '10.' || CAST(turn_idx % 256 AS VARCHAR)
                            || '.' || CAST(length(text) % 256 AS VARCHAR)
                            || '.' || CAST(length(conv_id) % 256 AS VARCHAR)
                  END AS client_ip
           FROM transcripts)
, ipa1 AS (SELECT *, string_split(client_ip, '.') AS p FROM ipa0)
SELECT conv_id, turn_idx, client_ip,
       CASE WHEN len(p) = 4
             AND p[1] ~ '^[0-9]+$' AND p[1]::INT <= 255
             AND p[2] ~ '^[0-9]+$' AND p[2]::INT <= 255
             AND p[3] ~ '^[0-9]+$' AND p[3]::INT <= 255
             AND p[4] ~ '^[0-9]+$' AND p[4]::INT <= 255
       THEN CAST(xor(p[1]::INT, {_mask("''")}) AS VARCHAR)
            || '.' || CAST(xor(p[2]::INT, {_mask("p[1]")}) AS VARCHAR)
            || '.' || CAST(xor(p[3]::INT,
                               {_mask("p[1] || '.' || p[2]")}) AS VARCHAR)
            || '.' || CAST(xor(p[4]::INT,
                               {_mask("p[1] || '.' || p[2] || '.' || p[3]")})
                      AS VARCHAR)
       END AS anon_ip
FROM ipa1"""

    prometheus = r"""
, pm0 AS (SELECT role, tool, CAST(COUNT(*) AS BIGINT) AS n
          FROM transcripts GROUP BY role, tool)
SELECT role, tool, n,
       'fbs_turns_total{role="'
       || replace(replace(replace(coalesce(role, ''), '\', '\\'),
                          '"', '\"'), chr(10), '\n')
       || '",tool="'
       || replace(replace(replace(coalesce(tool, ''), '\', '\\'),
                          '"', '\"'), chr(10), '\n')
       || '"} ' || CAST(n AS VARCHAR) AS line
FROM pm0"""

    fim = """
SELECT doc_id,
       CAST(n AS INTEGER) AS n_chars,
       CASE WHEN n >= 10 THEN
         '<PRE>' || substr(t, 1, c1)
         || '<SUF>' || substr(t, c2 + 1, n - c2)
         || '<MID>' || substr(t, c1 + 1, c2 - c1)
       END AS fim
FROM (SELECT doc_id, coalesce(text, '') AS t,
             length(coalesce(text, '')) AS n,
             CAST(floor(length(coalesce(text, '')) * 40 / 100)
                  AS INTEGER) AS c1,
             CAST(floor(length(coalesce(text, '')) * 70 / 100)
                  AS INTEGER) AS c2
      FROM documents)"""

    rec_json = (
        "to_json(struct_pack(conv_id := conv_id, turn_idx := turn_idx, "
        "role := role, text := text))::VARCHAR"
    )
    cloudwatch = f"""
SELECT conv_id, turn_idx,
       to_json(struct_pack(
           "timestamp" := epoch_ms(ts),
           message := {rec_json}))::VARCHAR AS event
FROM transcripts"""
    bigquery = f"""
SELECT conv_id, turn_idx,
       '{{"kind":"bigquery#tableDataInsertAllRequest","rows":[{{"json":'
       || {rec_json} || '}}]}}' AS payload
FROM transcripts"""
    azure = f"""
SELECT conv_id, turn_idx, 'fluentbit' AS log_type,
       CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS timestamp,
       {rec_json} AS line
FROM transcripts"""

    slack = """
SELECT conv_id, turn_idx,
       '["timestamp": ' || CAST(epoch_us(ts) // 1000000 AS VARCHAR)
       || '.' || lpad(CAST((epoch_us(ts) % 1000000) * 1000 AS VARCHAR), 9, '0')
       || ', {"conv_id"=>"' || conv_id
       || '", "turn_idx"=>' || CAST(turn_idx AS VARCHAR)
       || ', "role"=>"' || role
       || '", "text"=>"' || coalesce(text, '') || '"}]' AS fragment
FROM transcripts"""
    logdna = f"""
SELECT conv_id, turn_idx, 'Fluent Bit' AS app,
       epoch_us(ts) // 1000000 AS timestamp,
       {rec_json} AS line
FROM transcripts"""
    nats = """
SELECT conv_id, turn_idx,
       CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS timestamp,
       to_json(struct_pack(conv_id := conv_id, turn_idx := turn_idx,
                           role := role, text := text,
                           tag := 'fbs.' || role))::VARCHAR AS payload
FROM transcripts"""

    kinesis = f"""
SELECT conv_id, turn_idx,
       '{{"Data":"' || to_base64(encode({rec_json}))
       || '","PartitionKey":"' || conv_id || '"}}' AS entry
FROM transcripts"""

    firehose = f"""
SELECT conv_id, turn_idx,
       '{{"Data":"' || to_base64(encode({rec_json} || chr(10)))
       || '"}}' AS entry
FROM transcripts"""

    # out_http json_lines with the injected leading iso8601 date key
    # (src/flb_pack.c:866-896,955-961): '\n' after EVERY record.
    http_body = f"""
, hb0 AS (SELECT 'fbs.' || role AS tag, conv_id, turn_idx,
                 '{{"date":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S') || '.'
                 || lpad(CAST(epoch_us(ts) % 1000000 AS VARCHAR), 6, '0')
                 || 'Z",' || substr({rec_json}, 2) AS rec
          FROM transcripts)
SELECT tag, conv_id,
       string_agg(rec || chr(10), '' ORDER BY turn_idx) AS body,
       CAST(COUNT(*) AS BIGINT) AS n_records
FROM hb0 GROUP BY tag, conv_id"""

    # out_pgsql (pgsql.c:268-328): date-keyed records -> JSON array ->
    # PQescapeLiteral-style quote doubling -> INSERT template.
    pgsql = f"""
, pg0 AS (SELECT 'fbs.' || role AS tag, conv_id, turn_idx,
                 '{{"date":' || CAST(epoch_us(ts) // 1000000 AS VARCHAR)
                 || '.' || lpad(CAST(epoch_us(ts) % 1000000 AS VARCHAR), 6, '0')
                 || ',' || substr({rec_json}, 2) AS rec
          FROM transcripts)
, pg1 AS (SELECT tag, conv_id,
                 '[' || string_agg(rec, ',' ORDER BY turn_idx) || ']' AS arr,
                 CAST(COUNT(*) AS BIGINT) AS n_records
          FROM pg0 GROUP BY tag, conv_id)
SELECT tag, conv_id,
       'INSERT INTO fluentbit SELECT ''' || tag
       || ''', to_timestamp(CAST(value->>''date'' as FLOAT)),'
       || ' * FROM json_array_elements('''
       || replace(arr, '''', '''''') || ''');' AS query,
       n_records
FROM pg1"""

    # out_es _bulk NDJSON (es_bulk.h:31 ES_BULK_INDEX_FMT_ID_WITHOUT
    # _TYPE): action line + source line per record, md5-slice _id.
    es_bulk = f"""
, eb0 AS (SELECT 'logstash-' || strftime(ts, '%Y.%m.%d') AS _index,
                 conv_id, turn_idx, {rec_json} AS rec
          FROM transcripts)
SELECT _index, conv_id,
       string_agg('{{"index":{{"_index":"' || _index || '","_id":"'
                  || substr(md5(rec), 1, 16) || '"}}}}' || chr(10)
                  || rec || chr(10), '' ORDER BY turn_idx) AS body,
       CAST(COUNT(*) AS BIGINT) AS n_records
FROM eb0 GROUP BY _index, conv_id"""

    # out_kafka_rest (kafka.c:150-232): value maps led by the
    # '@timestamp' key, iso seconds + 9-digit ns fraction.
    kafka_rest = f"""
, kr0 AS (SELECT 'fbs.' || role AS tag, conv_id, turn_idx,
                 '{{"value":{{"@timestamp":"'
                 || strftime(ts, '%Y-%m-%dT%H:%M:%S') || '.'
                 || lpad(CAST((epoch_us(ts) % 1000000) * 1000 AS VARCHAR), 9, '0')
                 || 'Z",' || substr({rec_json}, 2) || '}}' AS entry
          FROM transcripts)
SELECT tag, conv_id,
       '{{"records":[' || string_agg(entry, ',' ORDER BY turn_idx) || ']}}' AS body,
       CAST(COUNT(*) AS BIGINT) AS n_records
FROM kr0 GROUP BY tag, conv_id"""

    # out_nrlogs (newrelic.c:58-203): common/logs envelope, ms
    # timestamp first, message lifted, remaining keys as attributes.
    newrelic = """
, nr0 AS (SELECT conv_id, turn_idx,
                 to_json(struct_pack(
                     "timestamp" := epoch_ms(ts),
                     message := coalesce(text, ''),
                     attributes := struct_pack(
                         conv_id := conv_id, turn_idx := turn_idx,
                         role := role)))::VARCHAR AS entry
          FROM transcripts)
SELECT conv_id,
       '[{"common":{"attributes":{}},"logs":['
       || string_agg(entry, ',' ORDER BY turn_idx) || ']}]' AS payload,
       CAST(COUNT(*) AS BIGINT) AS n_records
FROM nr0 GROUP BY conv_id"""

    return {
        "sink_kinesis": kinesis,
        "sink_firehose": firehose,
        "sink_http": http_body,
        "sink_pgsql": pgsql,
        "sink_es_bulk": es_bulk,
        "sink_kafka_rest": kafka_rest,
        "sink_newrelic": newrelic,
        "sink_slack": slack,
        "sink_logdna": logdna,
        "sink_nats": nats,
        "sink_cloudwatch": cloudwatch,
        "sink_bigquery": bigquery,
        "sink_azure": azure,
        "best_of_n": best_of_n,
        "ks_drift": ks_drift,
        "http_chunked": http_chunked,
        "zorder_layout": zorder,
        "embedding_drift": emb_drift,
        "ip_anonymize": ip_anon,
        "sink_prometheus": prometheus,
        "fim_transform": fim,
        "maxsim_topk": """
, mv0 AS (SELECT vec_id, (vec_id % 100 = 0) AS is_q,
                 list_transform(embedding, x -> x::DOUBLE) AS e
          FROM embeddings)
, mtk AS (SELECT vec_id, is_q, i,
                 e[(i - 1) * 8 + 1 : i * 8] AS tok
          FROM mv0, unnest(generate_series(1, 8)) AS t(i))
, mp AS (SELECT q.vec_id AS query_id, d.vec_id AS vec_id, q.i AS qi,
                MAX(CAST(round(CASE
                      WHEN list_dot_product(q.tok, q.tok) > 0
                       AND list_dot_product(d.tok, d.tok) > 0
                      THEN list_dot_product(q.tok, d.tok)
                           / (sqrt(list_dot_product(q.tok, q.tok))
                              * sqrt(list_dot_product(d.tok, d.tok)))
                      ELSE -1.0 END * 1000000) AS BIGINT)) AS mx
         FROM mtk q JOIN mtk d ON q.is_q AND NOT d.is_q
         GROUP BY 1, 2, 3)
, ms AS (SELECT query_id, vec_id, CAST(SUM(mx) AS BIGINT) AS fx
         FROM mp GROUP BY 1, 2)
SELECT query_id, vec_id, round(fx / 1000000.0, 6) AS maxsim, rank
FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY fx DESC, vec_id) AS BIGINT) AS rank
      FROM ms)
WHERE rank <= 10""",
        "media_ann": """
, ma0 AS (SELECT doc_id AS media_id, coalesce(text, '') AS t
          FROM documents)
, mab AS (SELECT media_id,
                 least(15, ascii(substr(t, i, 1)) * 16 // 255) AS bin
          FROM ma0, unnest(generate_series(1, length(t))) AS u(i)
          WHERE length(t) > 0)
, magrid AS (SELECT media_id, g.bin
             FROM ma0, unnest(generate_series(0, 15)) AS g(bin))
, macnt AS (SELECT grid.media_id, grid.bin,
                   CAST(COALESCE(c.n, 0) AS DOUBLE) AS c
            FROM magrid grid
            LEFT JOIN (SELECT media_id, bin, COUNT(*) AS n
                       FROM mab GROUP BY 1, 2) c
              USING (media_id, bin))
, mav AS (SELECT media_id, list(c ORDER BY bin) AS hist
          FROM macnt GROUP BY media_id)
, map AS (SELECT q.media_id AS query_id, d.media_id AS vec_id,
                 round(CASE
                   WHEN list_dot_product(q.hist, q.hist) > 0
                    AND list_dot_product(d.hist, d.hist) > 0
                   THEN list_dot_product(q.hist, d.hist)
                        / (sqrt(list_dot_product(q.hist, q.hist))
                           * sqrt(list_dot_product(d.hist, d.hist)))
                   ELSE -1.0 END, 6) AS cosine
          FROM mav q JOIN mav d
            ON q.media_id % 50 = 0 AND d.media_id % 50 != 0)
SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS rank
      FROM map)
WHERE rank <= 5""",
        "media_decode": """
, md0 AS (SELECT doc_id AS media_id FROM documents)
, mdi AS (SELECT media_id,
                 CAST(16 + media_id % 8 AS INTEGER) AS width,
                 CAST(12 + media_id % 5 AS INTEGER) AS height
          FROM md0 WHERE media_id % 2 = 0)
, mdisum AS (SELECT m.media_id, m.width, m.height,
                    CAST(SUM((m.media_id * 31 + x.x * 7 + y.y * 13) % 256)
                         AS BIGINT) AS sample_sum
             FROM mdi m,
                  unnest(generate_series(0, m.width - 1)) AS x(x),
                  unnest(generate_series(0, m.height - 1)) AS y(y)
             GROUP BY 1, 2, 3)
, mda AS (SELECT media_id, CAST(64 + media_id % 32 AS BIGINT) AS n
          FROM md0 WHERE media_id % 2 = 1)
, mdasum AS (SELECT a.media_id, a.n,
                    CAST(SUM((a.media_id * 7 + i.i * 3) % 65536 - 32768)
                         AS BIGINT) AS sample_sum
             FROM mda a, unnest(generate_series(0, a.n - 1)) AS i(i)
             GROUP BY 1, 2)
SELECT media_id, 'image' AS kind, width, height,
       CAST(1 AS INTEGER) AS channels,
       CAST(width AS BIGINT) * height AS n_samples, sample_sum,
       CAST(NULL AS INTEGER) AS sample_rate
FROM mdisum
UNION ALL
SELECT media_id, 'audio', CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
       CAST(1 AS INTEGER), n, sample_sum, CAST(16000 AS INTEGER)
FROM mdasum""",
        "context_windows": """
, cw0 AS (SELECT conv_id,
                 CAST(row_number() OVER (PARTITION BY conv_id
                      ORDER BY turn_idx) - 1 AS BIGINT) AS rnk,
                 role || ': ' || text AS line
          FROM transcripts)
, cw1 AS (SELECT conv_id, rnk, line, w.window_no
          FROM cw0, unnest(generate_series(
                 CASE WHEN rnk < 8 THEN 0 ELSE (rnk - 8) // 4 + 1 END,
                 rnk // 4)) AS w(window_no))
SELECT conv_id, window_no,
       MIN(rnk) AS first_rank,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       string_agg(line, chr(10) ORDER BY rnk) AS text
FROM cw1 GROUP BY conv_id, window_no""",
        "incremental_dedup": """
, id0 AS (SELECT doc_id, text FROM documents)
, idnew AS (
    SELECT doc_id, text FROM id0 WHERE doc_id % 3 != 0
    UNION ALL
    SELECT doc_id + 1000000, text FROM id0 WHERE doc_id % 6 = 0
    UNION ALL
    SELECT doc_id + 2000000, text FROM id0
    WHERE doc_id % 3 != 0 AND doc_id % 5 = 1)
, idseen AS (SELECT DISTINCT md5(coalesce(text, '')) AS digest
             FROM id0 WHERE doc_id % 3 = 0)
, idfirst AS (SELECT *, row_number() OVER (
                  PARTITION BY md5(coalesce(text, ''))
                  ORDER BY doc_id) AS rn,
                  md5(coalesce(text, '')) AS digest
              FROM idnew)
SELECT digest, doc_id, text FROM idfirst
WHERE rn = 1 AND digest NOT IN (SELECT digest FROM idseen)""",
    }


# pack_greedy is a true serial recursion per shard, so its oracle is a
# recursive CTE — WITH RECURSIVE must lead the statement, hence this
# one oracle does NOT take the pipeline_ctes() prefix (it only reads
# the pre-registered `documents` view).
_PACK_GREEDY_SQL = r"""WITH RECURSIVE d AS (
  SELECT doc_id,
         source || '/' || CAST(doc_id % 16 AS VARCHAR) AS shard,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents),
r AS (SELECT d.*,
             CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id)
                  AS BIGINT) AS rn
      FROM d),
walk AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS bin, n_tokens AS fill_after
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
         CASE WHEN w.fill_after > 0 AND w.fill_after + r.n_tokens > 64
              THEN w.bin + 1 ELSE w.bin END,
         CASE WHEN w.fill_after > 0 AND w.fill_after + r.n_tokens > 64
              THEN r.n_tokens ELSE w.fill_after + r.n_tokens END
  FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1)
SELECT doc_id, shard, n_tokens, bin, fill_after FROM walk"""


def _round4_sql() -> dict[str, str]:
    """kubernetes / apm_uaparser config-filter mirrors (round 4).

    k8s_meta re-parses the engine's container tags with DuckDB's regex
    engine (kube_regex.h KUBE_TAG_TO_REGEX, groups 1/3/4/5) and joins
    the same 8-pod preload-cache dimension, so both the extraction and
    the broadcast join are independently replayed. ua_enrich maps each
    fixed UA sample to its known nine-tuple (closed form — the Spark
    side derives the fields by regex, the oracle pins the answers)."""
    kube_re = (
        r"([a-z0-9](?:[-a-z0-9]*[a-z0-9])?(?:\.[a-z0-9]([-a-z0-9]*"
        r"[a-z0-9])?)*)_([^_]+)_(.+)-([a-z0-9]{64})\.log$"
    )
    meta_vals = ", ".join(
        f"('{n}', 'web-{k}', 'uid-{n}-{k}', 'node-{k % 2}', '{k}')"
        for n in ("prod", "dev")
        for k in range(4)
    )
    k8s_meta = f"""
, k8tag AS (
    SELECT conv_id, turn_idx,
           'web-' || CAST(cid % 4 AS VARCHAR)
             || '_' || (CASE WHEN cid % 2 = 0 THEN 'prod' ELSE 'dev' END)
             || '_app-' || lower(lpad(to_hex(cid), 64, '0')) || '.log'
             AS rest
    FROM (SELECT conv_id, turn_idx,
                 CAST(substr(conv_id, 6, 8) AS BIGINT) AS cid
          FROM transcripts))
, k8parsed AS (
    SELECT conv_id, turn_idx,
           regexp_extract(rest, '{kube_re}', 1) AS pod_name,
           regexp_extract(rest, '{kube_re}', 3) AS namespace_name,
           regexp_extract(rest, '{kube_re}', 4) AS container_name,
           regexp_extract(rest, '{kube_re}', 5) AS docker_id
    FROM k8tag)
, k8meta(ns, pod, pod_id, host, tier) AS (VALUES {meta_vals})
SELECT p.conv_id, p.turn_idx, p.pod_name, p.namespace_name,
       m.pod_id, m.host, p.container_name, p.docker_id, m.tier
FROM k8parsed p
JOIN k8meta m ON m.ns = p.namespace_name AND m.pod = p.pod_name"""

    # one nine-tuple per _UA_SAMPLES entry, in cycle order
    ua_rows = [
        ("Chrome", "120.0.0.0", "Chrome 120",
         "Windows", "10.0", "Windows 10",
         "Unknown", "Unknown", "Unknown"),
        ("Firefox", "119.0", "Firefox 119",
         "Linux", "Unknown", "Linux",
         "Unknown", "Unknown", "Unknown"),
        ("Safari", "16.5", "Safari 16",
         "iOS", "16.5", "iOS 16",
         "iPhone", "Apple", "iPhone"),
        ("Edge", "120.0.2210.91", "Edge 120",
         "Windows", "10.0", "Windows 10",
         "Unknown", "Unknown", "Unknown"),
        ("curl", "8.4.0", "curl 8",
         "Unknown", "Unknown", "Unknown",
         "Unknown", "Unknown", "Unknown"),
        ("Unknown", "Unknown", "Unknown",
         "Unknown", "Unknown", "Unknown",
         "Unknown", "Unknown", "Unknown"),
    ]
    ua_vals = ", ".join(
        "(" + str(i) + ", " + ", ".join(f"'{v}'" for v in row) + ")"
        for i, row in enumerate(ua_rows)
    )
    ua_enrich = f"""
, uadim(i, browser_name, browser_version, browser, OS_name, OS_version,
        OS, device, device_brand, device_model) AS (VALUES {ua_vals})
SELECT t.conv_id, t.turn_idx,
       u.browser_name, u.browser_version, u.browser,
       u.OS_name, u.OS_version, u.OS,
       u.device, u.device_brand, u.device_model
FROM transcripts t JOIN uadim u ON u.i = t.turn_idx % 6"""
    sp_config_task = """
SELECT role, COUNT(*) AS n FROM transcripts
WHERE turn_idx >= 3 GROUP BY role"""
    # stable_order_skew: the skew-safe range-sort ranking must equal
    # the plain window row_number definition (operators/skew.py
    # stable_turn_order_skew_safe docstring)
    stable_order_skew = """
SELECT conv_id, turn_idx, role, turn_rank FROM (
    SELECT conv_id, turn_idx, role,
           CAST(row_number() OVER (
               PARTITION BY conv_id ORDER BY turn_idx, ts) AS INT)
               AS turn_rank
    FROM transcripts)
WHERE turn_rank <= 3"""
    return {
        "k8s_meta": k8s_meta,
        "ua_enrich": ua_enrich,
        "sp_config_task": sp_config_task,
        "stable_order_skew": stable_order_skew,
    }


def _round5_sql() -> dict[str, str]:
    """Stateful-streaming mirrors (round 5).

    streaming_throttle: the applyInPandasWithState token bucket
    (streaming/__init__.py throttle_stateful, mirroring
    plugins/filter_throttle/throttle.c) is fed rows exactly 1 s apart
    with burst=2 tokens and refill 0.5 token/s — every value in the
    recurrence is exact in binary floating point, so the bucket has a
    closed form per conversation: admit seq 0,1,2 (burst drain), then
    every other row once refill alternates the bucket between 0.5 and
    1.0 tokens.  The oracle re-derives that closed form from a window
    row_number, independently of the state store."""
    streaming_throttle = """
, thr AS (
    SELECT conv_id,
           CAST(row_number() OVER (
               PARTITION BY conv_id ORDER BY turn_idx) - 1 AS BIGINT)
               AS seq,
           role
    FROM transcripts)
SELECT conv_id, seq, role FROM thr
WHERE seq <= 2 OR seq % 2 = 0"""
    return {"streaming_throttle": streaming_throttle}


def oracle_queries() -> dict[str, str]:
    c = pipeline_ctes()
    d = {
        "pack_greedy": _PACK_GREEDY_SQL,
        **{k: c + v for k, v in _round3c_sql().items()},
        **{k: c + v for k, v in _container_sql().items()},
        **{k: c + v for k, v in _statsd_sql().items()},
        **{k: c + v for k, v in _sample_split_sql().items()},
        **{k: c + v for k, v in _curation_sql().items()},
        **{k: c + v for k, v in _sketch_sql().items()},
        **{k: c + v for k, v in _bpe_sql().items()},
        **{k: c + v for k, v in _kmeans_sql().items()},
        **{k: c + v for k, v in _bm25_sql().items()},
        **{k: c + v for k, v in _round3_sql().items()},
        **{k: c + v for k, v in _round3b_sql().items()},
        **{k: c + v for k, v in _dataquality_sql().items()},
        **{k: c + v for k, v in _governance_sql().items()},
        **{k: c + v for k, v in _opsaudit_sql().items()},
        **{k: c + v for k, v in _wireformat_sql().items()},
        **{k: c + v for k, v in _dqsuite_sql().items()},
        **{k: c + v for k, v in _round4_sql().items()},
        **{k: c + v for k, v in _round5_sql().items()},
        "transcripts": c + "SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts",
        "parse_fields": c + f"SELECT {PARSE_COLS} FROM unified",
        "parse_summary": c
        + """SELECT fmt, parse_ok, COUNT(*) AS n, SUM(amount_cents) AS total_cents
             FROM unified GROUP BY fmt, parse_ok""",
        "enrich_lookup": c
        + """SELECT conv_id, turn_idx, tool, category, risk_level, role, norm_role
             FROM enriched""",
        "enrich_summary": c
        + """SELECT category, risk_level, norm_role, COUNT(*) AS n
             FROM enriched GROUP BY category, risk_level, norm_role""",
        "route_tags": c + "SELECT conv_id, turn_idx, tag FROM routed",
        "route_fanout": c + "SELECT sink, COUNT(*) AS records FROM per_sink GROUP BY sink",
        "sink_flowcounter": c
        + """SELECT sink, tag, date_trunc('hour', ts) AS window_start,
                    date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                    COUNT(*) AS counts, CAST(SUM(length(text)) AS BIGINT) AS bytes
             FROM per_sink GROUP BY sink, tag, date_trunc('hour', ts)""",
        "counter_totals": c
        + "SELECT sink, COUNT(*) AS records FROM per_sink GROUP BY sink",
        "stable_order": c
        + """SELECT conv_id, COUNT(*) AS n_turns,
                    arg_min(text, turn_idx) AS first_text,
                    arg_max(text, turn_idx) AS last_text
             FROM routed GROUP BY conv_id""",
        "conv_stats": c
        + """SELECT conv_id, COUNT(*) AS turns, CAST(SUM(length(text)) AS BIGINT) AS bytes,
                    COUNT(tool) AS tool_turns
             FROM transcripts GROUP BY conv_id""",
        "grep_filter": c
        + """SELECT conv_id, turn_idx FROM transcripts
             WHERE NOT coalesce(regexp_matches(tool, '^unknown-'), FALSE)
               AND regexp_matches(text, '^(level=|\\{)')""",
        "throttle_hourly": c
        + """SELECT conv_id, turn_idx, ts FROM transcripts
             QUALIFY row_number() OVER (
               PARTITION BY date_trunc('hour', ts)
               ORDER BY ts, conv_id, turn_idx) <= 3""",
        "modify_normalize": c
        + """SELECT conv_id, turn_idx, tool AS tool_orig,
                    CASE WHEN regexp_matches(role, '^(USER|Assistant)$')
                         THEN '1' END AS flagged
             FROM transcripts""",
        "sp_select_where": c
        + """SELECT event_id, event_type, value FROM events
             WHERE value >= 100 AND event_type != 'view'""",
        "sp_tumbling": c
        + """SELECT event_type, date_trunc('hour', ts) AS window_start,
                    date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                    COUNT(*) AS n, round(SUM(value), 6) AS total
             FROM events GROUP BY event_type, date_trunc('hour', ts)""",
        "sp_hopping": c
        + """SELECT ws AS window_start, ws + INTERVAL 2 HOUR AS window_end,
                    COUNT(*) AS n
             FROM (SELECT date_trunc('hour', ts) - to_hours(k.k) AS ws
                   FROM events CROSS JOIN (VALUES (0), (1)) k(k))
             GROUP BY ws""",
        "sp_forecast": c
        + """SELECT event_type, round(regr_intercept(n, h) + regr_slope(n, h) * (MAX(h) + 1), 4) AS fc
             FROM (
               SELECT event_type,
                      CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', date_trunc('hour', ts)) AS DOUBLE) AS h,
                      CAST(COUNT(*) AS DOUBLE) AS n
               FROM events GROUP BY event_type, date_trunc('hour', ts)
             ) GROUP BY event_type""",
        "dedup_exact": c
        + DUP_DOCS_SQL
        + "SELECT min(doc_id) AS doc_id FROM all_docs GROUP BY text",
        "dedup_minhash": c + _minhash_pairs_sql(),
        "minhash_eval": c + _minhash_eval_sql(),
        "ann_pq_topk": c + _pq_sql(),
        "ann_ivfpq_topk": c + _ivfpq_sql(),
        "ann_pq_sampled": c
        + _pq_sql(
            fit_where=f"{_md5_32_sql('CAST(vec_id AS VARCHAR)')} < 2147483648"
        ),
        # inverted-index postings: per-term top-5 docs by tf, terms
        # with df >= 10, BM25-convention tokenization
        "postings_topk": c
        + """
, ip1 AS (SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(
                   trim(lower(text)), '\\s+'), x -> x <> '')) AS term
          FROM documents)
, ip2 AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
          FROM ip1 GROUP BY term, doc_id)
, ip3 AS (SELECT term, COUNT(*) AS df FROM ip2 GROUP BY term)
SELECT term, doc_id, tf, rank FROM (
  SELECT i.term, i.doc_id, i.tf,
         row_number() OVER (PARTITION BY i.term
                            ORDER BY i.tf DESC, i.doc_id) AS rank
  FROM ip2 i JOIN ip3 USING (term) WHERE df >= 10)
WHERE rank <= 5""",
        # per-tool latency percentiles: the shared grouped
        # histogram-quantile generator over the parser's latency_cents
        "tool_latency": c
        + _hist_quantiles_sql(
            "SELECT tool, latency_cents AS v FROM unified "
            "WHERE latency_cents IS NOT NULL AND tool IS NOT NULL",
            group="tool",
            prefix="tl",
        ),
        # mix manifest: mixture weights -> largest-remainder allocation
        # of 100 seats (capped at stratum size) -> hash-ordered pick
        "mix_manifest": c + _MIX_CTES
        + f"""
, mma AS (SELECT source AS stratum, n_docs AS n,
                 100 * round(fx / z, 6) AS q
          FROM mwp CROSS JOIN mwz WHERE source IS NOT NULL)
, mmr AS (SELECT stratum, n, q, CAST(floor(q) AS BIGINT) AS base,
                 q - floor(q) AS frac,
                 row_number() OVER (ORDER BY q - floor(q) DESC, stratum) AS fr
          FROM mma)
, mms AS (SELECT CAST(SUM(base) AS BIGINT) AS bs,
                 CAST(floor(SUM(CAST(round(q * 1000000) AS BIGINT))
                            / 1000000.0 + 0.5) AS BIGINT) AS tt
          FROM mmr)
, mmt AS (SELECT stratum,
                 least(base + CASE WHEN fr <= tt - bs THEN 1 ELSE 0 END, n)
                   AS take
          FROM mmr CROSS JOIN mms)
, mmk AS (SELECT source AS stratum, doc_id AS key,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_md5_32_sql('CAST(doc_id AS VARCHAR)')}, doc_id)
                   AS rk
          FROM documents)
SELECT stratum, key, rk FROM mmk JOIN mmt USING (stratum) WHERE rk <= take""",
        # clean_text: synthesized dirt (ctrl chars / curly quotes / em
        # dash), ctrl-strip + translate + whitespace collapse
        "clean_text": c
        + """
, ctd AS (SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN chr(7) || chr(1) ELSE '' END
                 || coalesce(text, '')
                 || CASE WHEN doc_id % 5 = 0
                         THEN '  “quoted” — tail' || chr(9)
                         ELSE '' END AS text
          FROM documents)
, ctc AS (SELECT doc_id, text, nc,
                 trim(regexp_replace(
                   translate(nc, '‘’“”–—', '''''""--'),
                   '\\s+', ' ', 'g')) AS cleaned
          FROM (SELECT doc_id, text,
                       regexp_replace(text,
                         '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS nc
                FROM ctd))
SELECT doc_id, cleaned AS clean_text,
       CAST(length(text) - length(nc) AS INT) AS n_ctrl_removed,
       cleaned <> text AS changed
FROM ctc""",
        # SP SNAPSHOT/FLUSH: seconds ring (within 3 days of the newest
        # buffered record, inclusive) then newest-200 limit ring; event
        # ts are unique microseconds so the cut is deterministic
        "sp_snapshot": c
        + """
, snap_src AS (SELECT event_id, event_type, value, ts FROM events
               WHERE event_type <> 'view')
, snap_ring AS (SELECT * FROM snap_src
                WHERE ts >= (SELECT max(ts) FROM snap_src)
                            - INTERVAL 259200 SECOND)
SELECT event_id, event_type, value, ts FROM snap_ring
ORDER BY ts DESC LIMIT 200""",
        # resume manifest: groups complete in (orderBy key) order, the
        # injected kill lands after the first 3, the resume does the rest
        "resume_manifest": c
        + """
, rm_c AS (SELECT role AS key, COUNT(*) AS cnt FROM transcripts GROUP BY role)
, rm_r AS (SELECT key, cnt, ROW_NUMBER() OVER (ORDER BY key) AS pos FROM rm_c)
SELECT key, 'done' AS status, CAST(cnt AS INT) AS n_rows,
       CAST(CASE WHEN pos <= 3 THEN 1 ELSE 2 END AS INT) AS run
FROM rm_r""",
        # SP CREATE STREAM chaining: the registered stream is the inner
        # filtered subquery
        "sp_chain": c
        + """SELECT event_type, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
             FROM (SELECT event_id, event_type, value FROM events
                   WHERE value >= 50)
             GROUP BY event_type""",
        # config-driven pipeline: grep(text) -> rewrite_tag(role) ->
        # record_modifier(env) over the transcripts input, per-tag agg
        "config_pipeline": c
        + """SELECT CASE WHEN coalesce(regexp_matches(role, '^(assistant|ai|bot)$'), FALSE)
                         THEN 'conv.assistant' ELSE 'conv.raw' END AS tag,
                    'prod' AS env, COUNT(*) AS n, COUNT(tool) AS tool_turns
             FROM transcripts
             WHERE coalesce(regexp_matches(text, '^(level=|\\{)'), FALSE)
             GROUP BY 1""",
        # dimension-truncation eval: overlap@10 between full-dim and
        # first-16-dim exact cosine top-10 (round-6, id tie-break)
        "dim_trunc_eval": c
        + """
, dt0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
, dtq AS (SELECT vec_id AS query_id, v FROM dt0 WHERE vec_id < 5)
, dtc AS (SELECT vec_id, v FROM dt0 WHERE vec_id >= 5)
, dtf AS (SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(c.v, q.v), 6) DESC,
                      c.vec_id) AS rnk
    FROM dtq q CROSS JOIN dtc c) WHERE rnk <= 10)
, dtt AS (SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(c.v[1:16], q.v[1:16]), 6) DESC,
                      c.vec_id) AS rnk
    FROM dtq q CROSS JOIN dtc c) WHERE rnk <= 10)
, dtn AS (SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_common
          FROM dtf f JOIN dtt t ON t.query_id = f.query_id AND t.vec_id = f.vec_id
          GROUP BY f.query_id)
SELECT q.query_id, coalesce(n.n_common, 0) AS n_common,
       round(coalesce(n.n_common, 0) / 10.0::DOUBLE, 6) AS overlap
FROM (SELECT DISTINCT query_id FROM dtq) q LEFT JOIN dtn n USING (query_id)""",
        # EWMA: truncated-renormalized dot over the trailing 8 observed
        # hourly buckets; per-term fixed-point, integer sums
        "ewma_hourly": c
        + f"""
, ewh AS (SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
          FROM events WHERE ts IS NOT NULL
          GROUP BY event_type, date_trunc('hour', ts))
, ewt AS (SELECT event_type, hour, n,
                 list(n) OVER (PARTITION BY event_type ORDER BY hour
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS tr
          FROM ewh)
SELECT event_type, hour, n,
       round(
         CAST(list_sum([CAST(round(tr[i] * pow({0.7!r}::DOUBLE, len(tr) - i)
                                    * 1000000) AS BIGINT)
                        FOR i IN range(1, len(tr) + 1)]) AS BIGINT)
         / CAST(list_sum([CAST(round(pow({0.7!r}::DOUBLE, len(tr) - i)
                                     * 1000000) AS BIGINT)
                          FOR i IN range(1, len(tr) + 1)]) AS BIGINT)::DOUBLE,
         6) AS ewma
FROM ewt""",
        # M4 downsampling: 6h buckets, first/last tie-broken on the
        # zero-padded (epoch_us, event_id) string key (arg_min/min_by
        # take one ordering argument in both engines)
        "m4_downsample": c
        + """
, m4k AS (SELECT event_type, value,
                 (epoch_us(ts)
                  - ((epoch_us(ts) % 21600000000) + 21600000000) % 21600000000)
                   // 1000000 AS bucket_start_s,
                 lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '#'
                   || lpad(CAST(event_id AS VARCHAR), 20, '0') AS ok
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
SELECT event_type, CAST(bucket_start_s AS BIGINT) AS bucket_start_s,
       COUNT(*) AS n, MIN(value) AS v_min, MAX(value) AS v_max,
       arg_min(value, ok) AS v_first, arg_max(value, ok) AS v_last
FROM m4k GROUP BY event_type, bucket_start_s""",
        # CDC: cut after position i when md5_32(3-gram ending at i) % 32
        # == 0; bounds = [0] ++ cuts ++ [n]; chunk hash = md5 of the
        # re-joined slice (window=3, divisor=32 mirror cdc_chunks)
        "cdc_chunks": c
        + f"""
, cdt AS (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '') AS tk
          FROM documents)
, cdc AS (SELECT doc_id, tk, len(tk) AS n,
                 CASE WHEN len(tk) > 1 THEN
                   list_filter([i FOR i IN range(1, len(tk))],
                     i -> {_md5_32_sql("array_to_string(tk[greatest(i - 2, 1):i], ' ')")} % 32 = 0)
                 ELSE [] END AS cuts
          FROM cdt WHERE len(tk) > 0)
, cdb AS (SELECT doc_id, tk, [0] || cuts || [n] AS bounds FROM cdc)
, cdx AS (SELECT doc_id,
                 unnest([{{'ci': j - 1,
                           'start': bounds[j],
                           'n_toks': bounds[j + 1] - bounds[j],
                           'h': md5(array_to_string(
                                  tk[bounds[j] + 1:bounds[j + 1]], ' '))}}
                         FOR j IN range(1, len(bounds))]) AS ch
          FROM cdb)
SELECT doc_id, CAST(ch.ci AS INT) AS chunk_idx,
       CAST(ch.start AS BIGINT) AS chunk_start,
       CAST(ch.n_toks AS BIGINT) AS n_chunk_tokens,
       ch.h AS chunk_hash
FROM cdx""",
        "langid_eval": c + _DOC_STATS_CTES
        + """
, lce AS (
    SELECT d.lang,
           CASE WHEN coalesce(greatest(s_de, s_en, s_es, s_fr), 0) = 0 THEN 'und'
                ELSE CASE greatest(s_de*10+0, s_en*10+1, s_es*10+2, s_fr*10+3) % 10
                     WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es' ELSE 'fr' END
           END AS lang_pred
    FROM s JOIN documents d USING (doc_id))
, lcc AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
          FROM lce GROUP BY lang, lang_pred)
SELECT lang, lang_pred, n,
       round(n / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS rate,
       lang = lang_pred AS correct
FROM lcc""",
        "flow_rollup": c
        + """SELECT coalesce(sink, '*') AS sink, coalesce(tag, '*') AS tag,
                    CAST(GROUPING(sink) AS INT) AS g_sink,
                    CAST(GROUPING(tag) AS INT) AS g_tag,
                    COUNT(*) AS records, CAST(SUM(length(text)) AS BIGINT) AS bytes
             FROM per_sink GROUP BY ROLLUP (sink, tag)""",
        "dedup_simhash": c + _simhash_pairs_sql(),
        "ann_lsh_topk": c + _lsh_topk_sql(),
        "jaccard_blocked": c
        + """, d AS (
               SELECT doc_id, source,
                      list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS tok
               FROM documents)
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                          / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))), 6) AS jaccard
             FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
             WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                   / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5""",
        "doc_stats": c + _DOC_STATS_CTES + f"""
             SELECT doc_id, n_tok AS n_tokens, round(mwl, 6) AS mean_word_len,
                    round(swr, 6) AS stopword_ratio, round(pr, 6) AS punct_ratio,
                    {_QUALITY_EXPR} AS quality,
                    CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                         ELSE CASE greatest(s_de*10+0, s_en*10+1, s_es*10+2, s_fr*10+3) % 10
                              WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es' ELSE 'fr' END
                    END AS lang_pred,
                    md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
             FROM s""",
        "ann_cosine_topk": c
        + """SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
               SELECT query_id, vec_id, cos,
                      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
               FROM (
                 SELECT q.vec_id AS query_id, c.vec_id,
                        list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS cos
                 FROM embeddings q, embeddings c
                 WHERE q.vec_id < 5 AND c.vec_id >= 5))
             WHERE rank <= 10""",
        "embed_near_dup": c + _embed_near_dup_sql(),
        "ra_template": c
        + """SELECT conv_id, turn_idx,
                    'conv=' || conv_id || ' dest=' || split_part(tag, '.', 1)
                    || ' tool=' || coalesce(tool, '') AS rendered
             FROM routed""",
        "range_enrich": c
        + """SELECT event_id,
                    CASE WHEN value >= 0 AND value < 50 THEN 'low'
                         WHEN value >= 50 AND value < 100 THEN 'mid'
                         WHEN value >= 100 AND value < 150 THEN 'high'
                         WHEN value >= 150 AND value < 1e12 THEN 'extreme'
                         ELSE 'unknown' END AS tier
             FROM events""",
        "grok_parse": c + _grok_parse_sql(),
        "asof_enrich": c
        + """, asof_markers AS (
               SELECT user_id, ts AS sts, max(value) AS signup_value
               FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
             asof_pur AS (
               SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase')
             SELECT p.event_id, p.user_id, p.ts,
                    m.signup_value, m.sts AS signup_ts
             FROM asof_pur p ASOF LEFT JOIN asof_markers m
               ON p.user_id = m.user_id AND p.ts >= m.sts""",
        "regex_table": c
        + """SELECT conv_id, turn_idx,
                    CASE WHEN regexp_matches(text, '" (5\\d\\d) ') THEN 'server_error'
                         WHEN regexp_matches(text, '" (2\\d\\d) ') THEN 'ok'
                         WHEN regexp_matches(text, '^level=error') THEN 'log_error'
                         ELSE 'other' END AS status_class
             FROM transcripts""",
        # streaming_sessions runs the SAME semantics through the
        # streaming engine's session_window state store; the closed-form
        # gap cumsum is the oracle for both
        **{
            k: c
            + """SELECT conv_id, COUNT(DISTINCT sess) AS n_sessions, COUNT(*) AS n_turns
             FROM (
               SELECT conv_id,
                      SUM(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 2 HOUR
                               THEN 1 ELSE 0 END)
                        OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS sess
               FROM (SELECT conv_id, turn_idx, ts,
                            lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
                     FROM transcripts))
             GROUP BY conv_id"""
            for k in ("sessions_per_conv", "streaming_sessions")
        },
        "topk_convs_per_tag": c
        + """SELECT tag, conv_id, turns, rank FROM (
               SELECT tag, conv_id, COUNT(*) AS turns,
                      row_number() OVER (PARTITION BY tag ORDER BY COUNT(*) DESC, conv_id) AS rank
               FROM routed GROUP BY tag, conv_id)
             WHERE rank <= 3""",
        "merge_log": c
        + """SELECT conv_id, turn_idx,
                    CAST(nullif(regexp_extract(text, '"id": (\\d+)', 1), '') AS BIGINT) AS log_id,
                    nullif(regexp_extract(text, '"word1": "([^"]*)"', 1), '') AS log_word1,
                    CAST(nullif(regexp_extract(text, '"bytes": (\\d+)', 1), '') AS BIGINT) AS log_bytes
             FROM transcripts WHERE starts_with(text, '{')""",
        "throttle_size": c
        + """SELECT conv_id, turn_idx, role FROM (
               SELECT conv_id, turn_idx, role,
                      COALESCE(SUM(length(text)) OVER (
                        PARTITION BY role, date_trunc('hour', ts)
                        ORDER BY ts, conv_id, turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS running
               FROM transcripts)
             WHERE running <= 300""",
        "dedup_clusters": c
        + DUP_DOCS_SQL
        + """SELECT doc_id AS id, MIN(doc_id) OVER (PARTITION BY text) AS cluster_id
             FROM all_docs
             QUALIFY COUNT(*) OVER (PARTITION BY text) > 1""",
        "multiline_join": c
        + """SELECT conv_id AS file, CAST(grp AS BIGINT) AS group_no,
                    MIN(turn_idx) AS first_line_no,
                    string_agg(text, chr(10) ORDER BY turn_idx) AS text
             FROM (
               SELECT conv_id, turn_idx, text,
                      SUM(CASE WHEN regexp_matches(text, '^10\\.0\\.') THEN 1 ELSE 0 END)
                        OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS UNBOUNDED PRECEDING) - 1 AS grp
               FROM transcripts)
             GROUP BY conv_id, grp""",
        "record_modifier": c
        + """SELECT conv_id, turn_idx, role, text,
                    'prod' AS env, 'core' AS team
             FROM transcripts""",
        "nest_lift": c
        + "SELECT conv_id, turn_idx, role, tool AS n_tool FROM transcripts",
        "filter_parser_chain": c
        + f"""SELECT conv_id, turn_idx, role,
                    CASE WHEN regexp_matches(text, '{_APACHE}') THEN 'apache'
                         WHEN starts_with(text, '{{') THEN 'json' END AS pfmt,
                    CASE WHEN regexp_matches(text, '{_APACHE}')
                           THEN regexp_extract(text, '{_APACHE}', 4)
                         WHEN starts_with(text, '{{')
                           THEN nullif(regexp_extract(text, '"word1": "([^"]*)"', 1), '')
                    END AS name,
                    CASE WHEN regexp_matches(text, '{_APACHE}')
                           THEN CAST(regexp_extract(text, '{_APACHE}', 6) AS BIGINT)
                         WHEN starts_with(text, '{{')
                           THEN CAST(nullif(regexp_extract(text, '"id": (\\d+)', 1), '') AS BIGINT)
                    END AS num
             FROM transcripts""",
        "sink_file_formats": c
        + """SELECT 'csv' AS fmt,
                    conv_id || ',' || CAST(turn_idx AS VARCHAR) || ',' || role || ','
                    || CASE WHEN contains(text, ',') OR contains(text, '"')
                                 OR contains(text, chr(10))
                            THEN '"' || replace(text, '"', '""') || '"'
                            ELSE text END AS value
             FROM transcripts
             UNION ALL
             SELECT 'ltsv' AS fmt,
                    'conv_id:' || conv_id || chr(9) || 'turn_idx:' || CAST(turn_idx AS VARCHAR)
                    || chr(9) || 'role:' || role AS value
             FROM transcripts
             UNION ALL
             SELECT 'template' AS fmt,
                    strftime(ts, '%Y-%m-%d %H:%M:%S') || ' ' || conv_id
                    || ' turn=' || CAST(turn_idx AS VARCHAR) AS value
             FROM transcripts""",
        "sink_es_index": c
        + """SELECT conv_id, turn_idx,
                    'logstash-' || strftime(ts, '%Y.%m.%d') AS _index
             FROM transcripts""",
        "sink_gelf": c
        + """SELECT '1.1' AS version, conv_id AS host, text AS short_message,
                    CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS timestamp,
                    1 AS level
             FROM transcripts""",
        "sink_datadog": c
        + """SELECT text AS message, epoch_ms(ts) AS timestamp,
                    'fluent-bit-spark' AS service, 'spark' AS ddsource,
                    'role:' || coalesce(role, '') || ',tool:' || coalesce(tool, '') AS ddtags
             FROM transcripts""",
        "sink_stackdriver": c + _stackdriver_sql(),
        "sink_syslog": c + _syslog_sql(),
        "sink_influx": c + _INFLUX_SQL,
        "rewrite_tag_keep": c
        + """SELECT conv_id, turn_idx, tag FROM routed
             UNION ALL
             SELECT conv_id, turn_idx, 'audit.errors' AS tag FROM routed
             WHERE tag LIKE 'errors.%'""",
        "sink_splunk": c
        + """SELECT CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS time,
                    'unknown' AS host, '_json' AS sourcetype,
                    to_json(struct_pack(conv_id := conv_id, turn_idx := turn_idx,
                                        text := text))::VARCHAR AS event
             FROM transcripts""",
        "sink_loki": c
        + """SELECT to_json(MAP(['role'], [role]))::VARCHAR AS labels_json,
                    to_json(struct_pack(conv_id := conv_id, turn_idx := turn_idx,
                                        text := text))::VARCHAR AS line
             FROM transcripts""",
        "media_features": c
        + """SELECT doc_id AS media_id,
                    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                         ELSE 'video' END AS kind,
                    CAST(length(text) AS INTEGER) AS n_bytes,
                    md5(text) AS checksum
             FROM documents""",
        "sp_scalars": c
        + """SELECT conv_id, turn_idx,
                    '2024-06-01 12:00:00' AS now_str,
                    CAST(epoch(TIMESTAMP '2024-06-01 12:00:00') AS BIGINT) AS unix_ts,
                    tag AS rtag,
                    CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS rtime
             FROM routed""",
        "expect_assert": c
        + "SELECT conv_id, turn_idx, role, text FROM transcripts",
        "alter_size_drop": c
        + """SELECT conv_id, turn_idx FROM transcripts
             QUALIFY row_number() OVER (ORDER BY conv_id, turn_idx) > 10""",
        "record_function_udf": c
        + """SELECT conv_id, turn_idx, role, upper(role) AS role_u
             FROM transcripts WHERE role != 'function'""",
        "forecast_hourly": c
        + """SELECT event_type,
                    round(regr_slope(n, h), 4) AS slope,
                    round(regr_intercept(n, h), 4) AS intercept
             FROM (
               SELECT event_type,
                      CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', date_trunc('hour', ts)) AS DOUBLE) AS h,
                      CAST(COUNT(*) AS DOUBLE) AS n
               FROM events GROUP BY event_type, date_trunc('hour', ts)
             ) GROUP BY event_type""",
    }
    # the streaming-engine enrich gate must match the batch plan
    # bit-for-bit: same oracle by construction
    d["streaming_enrich"] = d["enrich_lookup"]
    return d
