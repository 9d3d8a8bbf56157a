"""Transcript-structure operators for training-data preparation —
the payload-specific layer over the log pipeline: multi-turn
conversation tables need structural QA and pair extraction before they
become SFT/RLHF training data.

- sft_pairs: adjacent (user prompt -> assistant response) turn pairs
  under normalized roles — the standard SFT extraction.
- role_sequence_qa: per-conversation structural validation (role
  alternation, first/last role, tool-turn counts) — transcripts with
  broken turn structure are dropped before training.
- conv_fingerprints: conversation-level fingerprint of the first k
  turns — dedups near-identical conversations that share an opening
  (system prompt + first exchanges) even when later turns diverge.

Scale shapes: all three are one shuffle on conv_id (window or
groupBy); conversations are bounded (hundreds of turns), so per-key
state is small, and hot-conversation skew is handled upstream by the
salted aggregation helpers (operators/skew.py).

Role normalization mirrors the pipeline's broadcast lookup enrich
(plans/flagship.ROLE_MAP — the reference's record_modifier/lookup
analog); here it is a map literal because these operators are
standalone and the map is a dozen entries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fluent_bit_spark.plans.flagship import ROLE_MAP
from fluent_bit_spark.session import local_frame


def norm_role_col(role: Column) -> Column:
    """Normalized role ('other' on miss) as a map-literal lookup."""
    m = F.create_map(*[F.lit(x) for pair in ROLE_MAP for x in pair])
    return F.coalesce(m[role], F.lit("other"))


def sft_pairs(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Adjacent user->assistant turn pairs under normalized roles:
    (conv_id, prompt_idx, prompt, response_idx, response)."""
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    staged = df.withColumns(
        {
            "_nrole": norm_role_col(F.col(role_col)),
            "_next_role": norm_role_col(F.lead(role_col).over(w)),
            "_next_idx": F.lead(idx_col).over(w),
            "_next_text": F.lead(text_col).over(w),
        }
    )
    return staged.filter(
        (F.col("_nrole") == "user") & (F.col("_next_role") == "assistant")
    ).select(
        conv_col,
        F.col(idx_col).alias("prompt_idx"),
        F.col(text_col).alias("prompt"),
        F.col("_next_idx").alias("response_idx"),
        F.col("_next_text").alias("response"),
    )


def role_sequence_qa(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Per-conversation structural QA under normalized roles:
    n_turns, n_same_role_adjacent (consecutive turns with the same
    normalized role), first_role, last_role, n_tool_turns, and a
    structure_ok flag (no same-role runs, opens with system or user)."""
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    staged = df.withColumn("_nrole", norm_role_col(F.col(role_col))).withColumn(
        "_prev", F.lag("_nrole").over(w)
    )
    out = staged.groupBy(conv_col).agg(
        F.count("*").alias("n_turns"),
        F.sum(
            F.when(F.col("_nrole") == F.col("_prev"), 1).otherwise(0)
        ).alias("n_same_role_adjacent"),
        F.min_by("_nrole", F.col(idx_col)).alias("first_role"),
        F.max_by("_nrole", F.col(idx_col)).alias("last_role"),
        F.sum(F.when(F.col("_nrole") == "tool", 1).otherwise(0)).alias(
            "n_tool_turns"
        ),
    )
    return out.withColumn(
        "structure_ok",
        (F.col("n_same_role_adjacent") == 0)
        & F.col("first_role").isin("system", "user"),
    )


def conv_fingerprints(
    df: DataFrame,
    k: int = 3,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Conversation opening fingerprint: md5 over the first k turns'
    texts in turn order (turn_idx is 0-based consecutive, so 'first k'
    = turn_idx < k — no window needed, the filter prunes before the
    shuffle). Returns (conv_id, fp)."""
    first_k = df.filter(F.col(idx_col) < k)
    return first_k.groupBy(conv_col).agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(idx_col, text_col))
                    ),
                    lambda s: s[text_col],
                ),
                "\x1f",
            )
        ).alias("fp")
    )


def conv_dedup_by_opening(df: DataFrame, k: int = 3) -> DataFrame:
    """Keep-first conversation dedup on the opening fingerprint:
    (fp, keep_conv, n_convs) per fingerprint group."""
    fps = conv_fingerprints(df, k)
    return fps.groupBy("fp").agg(
        F.min("conv_id").alias("keep_conv"),
        F.count("*").alias("n_convs"),
    )


def tool_transitions(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    tool_col: str = "tool",
) -> DataFrame:
    """Tool-usage transition counts: for consecutive tool-bearing turns
    within a conversation, count (from_tool -> to_tool) pairs across the
    corpus — the agent-behavior analytics a transcript pipeline feeds
    into tool-routing dashboards. NULL-tool turns are transparent (the
    transition skips over them), matching how the flagship pipeline
    treats tool as optional per turn.

    One window shuffle on conv_id + one partial-agg shuffle on the
    (small) tool-pair key.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    tools = df.filter(F.col(tool_col).isNotNull()).withColumn(
        "_next_tool", F.lead(tool_col).over(w)
    )
    return (
        tools.filter(F.col("_next_tool").isNotNull())
        .groupBy(
            F.col(tool_col).alias("from_tool"),
            F.col("_next_tool").alias("to_tool"),
        )
        .agg(F.count("*").alias("n"))
    )


def context_response_pairs(
    df: DataFrame,
    max_ctx_tokens: int = 64,
    assistant_role: str = "assistant",
) -> DataFrame:
    """Training-pair assembly: for every assistant turn, the
    concatenation of ALL prior turns in the conversation truncated to
    the LAST `max_ctx_tokens` whitespace tokens (the context window a
    trainer would feed), plus the turn's text as the response. Output
    (conv_id, turn_idx, n_ctx_tokens, context, response); the opening
    assistant turn of a conversation (no prior turns) yields an empty
    context, n_ctx_tokens = 0.

    Scale shape: one window shuffle per conversation (the same
    partitioning every turn-ordered operator uses); truncation is a
    map-side array slice — the full prior-turn list is materialized
    per row, so at extreme conversation lengths pair this with a
    turn-count cap upstream (throttle/alter_size) the way any
    collect_list-over-window op must be.

    Text is coalesced to '' before the window: Spark's collect_list
    SKIPS NULLs while DuckDB's list() keeps them — coalescing makes
    both engines see the same sequence. Roles are normalized through
    ROLE_MAP first (raw transcripts carry 'ai'/'Assistant'/... forms).
    """
    from fluent_bit_spark.operators.text_analysis import tokens

    t = df.select(
        "conv_id",
        "turn_idx",
        norm_role_col(F.col("role")).alias("role"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_ctx = t.withColumn("_prior", F.collect_list("text").over(w))
    joined = with_ctx.withColumn(
        "_ctx_tk", tokens(F.array_join(F.col("_prior"), " "))
    )
    sz = F.size("_ctx_tk")
    kept = F.slice(
        F.col("_ctx_tk"),
        F.greatest(sz - max_ctx_tokens + 1, F.lit(1)),
        F.least(sz, F.lit(max_ctx_tokens)),
    )
    return (
        joined.filter(F.col("role") == assistant_role)
        .select(
            "conv_id",
            "turn_idx",
            F.least(sz, F.lit(max_ctx_tokens)).alias("n_ctx_tokens"),
            F.array_join(kept, " ").alias("context"),
            F.col("text").alias("response"),
        )
    )


def funnel_steps(df: DataFrame) -> DataFrame:
    """Per-conversation ordered funnel detection: the first user turn,
    the first tool-bearing turn strictly after it, and the first
    assistant turn strictly after that. Output (conv_id, step_user,
    step_tool, step_assist, converted) with NULL for unreached steps —
    the sequence-pattern analytics (did the user's ask lead to a tool
    call that led to an answer?) an agent-transcript pipeline feeds
    into conversion dashboards.

    Scale shape: one shuffle — turns are gathered per conversation and
    the ordered scan is a single F.aggregate fold over the sorted
    struct array (conversations are bounded, so per-key state is
    small). No per-step window passes, no iterative joins.

    The fold carries (s1, s2, s3) with -1 as the not-yet sentinel
    (ANSI-safe: no NULL arithmetic inside the lambda), converted to
    NULL on output so the closed-form chained-MIN oracle matches.
    """
    turns = df.select(
        "conv_id",
        F.struct(
            F.col("turn_idx").alias("idx"),
            norm_role_col(F.col("role")).alias("nrole"),
            F.col("tool").isNotNull().alias("has_tool"),
        ).alias("t"),
    )
    folded = turns.groupBy("conv_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list("t")),
            F.struct(
                F.lit(-1).alias("s1"), F.lit(-1).alias("s2"), F.lit(-1).alias("s3")
            ),
            lambda acc, e: F.struct(
                F.when(
                    (acc["s1"] == -1) & (e["nrole"] == "user"), e["idx"]
                ).otherwise(acc["s1"]).alias("s1"),
                # every field reads the PRE-update acc, so an element
                # that sets s1 cannot set s2 in the same step: "strictly
                # after" falls out of the fold order for free.
                F.when(
                    (acc["s1"] != -1)
                    & (acc["s2"] == -1)
                    & e["has_tool"]
                    & (e["idx"] > acc["s1"]),
                    e["idx"],
                ).otherwise(acc["s2"]).alias("s2"),
                F.when(
                    (acc["s2"] != -1)
                    & (acc["s3"] == -1)
                    & (e["nrole"] == "assistant")
                    & (e["idx"] > acc["s2"]),
                    e["idx"],
                ).otherwise(acc["s3"]).alias("s3"),
            ),
        ).alias("s")
    )

    def _step(c: Column) -> Column:
        return F.when(c != -1, c).cast("int")

    return folded.select(
        "conv_id",
        _step(F.col("s.s1")).alias("step_user"),
        _step(F.col("s.s2")).alias("step_tool"),
        _step(F.col("s.s3")).alias("step_assist"),
        (F.col("s.s3") != -1).alias("converted"),
    )


def echo_overlap(df: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Response-echo scoring over SFT pairs: the fraction of the
    response's DISTINCT whitespace tokens already present in the
    prompt. Responses that mostly parrot the prompt (overlap >=
    threshold) are flagged — the standard self-instruct/SFT echo
    filter applied before training-pair export.

    Output (conv_id, prompt_idx, response_idx, n_resp_tokens, overlap,
    is_echo); overlap is round-6, 0.0 for an empty response.

    Scale shape: rides sft_pairs' single conv_id window shuffle; the
    token/intersect math is all map-side JVM array expressions
    (array_distinct / array_intersect), no UDFs, no extra shuffle.
    """
    from fluent_bit_spark.operators.text_analysis import tokens

    pairs = sft_pairs(df)
    # coalesce before tokenizing: NULL text would propagate through
    # split/distinct into a NULL count (the oracle coalesces too)
    staged = pairs.withColumns(
        {
            "_ptk": F.array_distinct(tokens(F.coalesce(F.col("prompt"), F.lit("")))),
            "_rtk": F.array_distinct(tokens(F.coalesce(F.col("response"), F.lit("")))),
        }
    )
    n_resp = F.size("_rtk")
    overlap = F.when(n_resp > 0,
        F.round(
            F.size(F.array_intersect("_rtk", "_ptk")).cast("double") / n_resp, 6
        ),
    ).otherwise(F.lit(0.0))
    # bind overlap once: codegen does not CSE the intersect/round
    # subtree across output columns, so deriving is_echo from the
    # inline expression would run it twice per row
    return staged.withColumn("overlap", overlap).select(
        "conv_id",
        "prompt_idx",
        "response_idx",
        n_resp.alias("n_resp_tokens"),
        "overlap",
        (F.col("overlap") >= threshold).alias("is_echo"),
    )


def render_chat(df: DataFrame) -> DataFrame:
    """Render each conversation to one training string in a chat
    template: '<|role|>\\ntext' per turn, turns joined by newlines in
    (conv_id, turn_idx) order. Output (conv_id, n_turns, rendered) —
    the SFT formatting step between transcript tables and a tokenizer.

    Determinism: collect_list has no ordering guarantee, so turns are
    gathered as (turn_idx, line) structs and array_sort'ed before the
    join (the label_centroids reassembly pattern); roles normalized
    via ROLE_MAP, text coalesced to ''.
    """
    line = F.concat(
        F.lit("<|"),
        norm_role_col(F.col("role")),
        F.lit("|>\n"),
        F.coalesce(F.col("text"), F.lit("")),
    )
    return (
        df.select("conv_id", "turn_idx", line.alias("_line"))
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("turn_idx", "_line"))
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("rendered"),
        )
    )


def sft_loss_mask(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Span-form loss masks for packed SFT sequences: one row per turn
    with its whitespace-token span in the rendered conversation and
    whether the span is trainable (assistant turns train; user/system/
    tool context is masked). Output (conv_id, turn_idx, norm_role,
    seg_len, seg_start, trainable).

    At 100 TB you ship SPANS, not per-token mask arrays: a packed
    batch reconstitutes its mask as [trainable] * seg_len per span,
    and the only shuffle here is the conv_id window every transcript
    op already pays."""
    from fluent_bit_spark.operators.text_analysis import token_count

    w = (
        Window.partitionBy(conv_col)
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = df.select(
        F.col(conv_col),
        F.col(idx_col),
        norm_role_col(F.col(role_col)).alias("norm_role"),
        token_count(F.col(text_col)).cast("long").alias("seg_len"),
    )
    return staged.withColumns(
        {
            "seg_start": F.coalesce(F.sum("seg_len").over(w), F.lit(0)).cast(
                "long"
            ),
            "trainable": F.col("norm_role") == "assistant",
        }
    )


# Refusal markers (lowercase substring match, the common heuristic
# battery); list order is part of the contract only in that a turn
# matching ANY marker counts once.
REFUSAL_MARKERS: tuple[str, ...] = (
    "i cannot",
    "i can't",
    "i'm sorry",
    "i am sorry",
    "i won't",
    "as an ai",
)


def refusal_rate(
    df: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation assistant refusal rate: the fraction of
    normalized-assistant turns whose lowercased text contains any
    refusal marker. Output (conv_id, n_assistant, n_refusals,
    refusal_rate) -- the SFT-data QA signal that tells you which
    conversations train the model to refuse. One conv_id shuffle,
    marker matching is a contains() OR-chain in codegen."""
    low = F.lower(F.col(text_col))
    hit = F.lit(False)
    for m in REFUSAL_MARKERS:
        hit = hit | low.contains(m)
    is_asst = norm_role_col(F.col(role_col)) == "assistant"
    per = df.select(
        F.col(conv_col),
        is_asst.cast("long").alias("_a"),
        (is_asst & F.coalesce(hit, F.lit(False))).cast("long").alias("_r"),
    )
    agg = per.groupBy(conv_col).agg(
        F.sum("_a").alias("n_assistant"), F.sum("_r").alias("n_refusals")
    )
    return agg.withColumn(
        "refusal_rate",
        F.when(
            F.col("n_assistant") > 0,
            F.round(F.col("n_refusals") / F.col("n_assistant"), 6),
        ),
    )


def loop_detect(
    df: DataFrame,
    min_run: int = 3,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Agent-loop detection: the longest run of CONSECUTIVE turns with
    the same role and identical whitespace-normalized text per
    conversation. Output (conv_id, max_run, looping = max_run >=
    min_run) -- the QA gate that catches agents stuck repeating
    themselves (a real failure mode in tool loops).

    Run segmentation is the lag-compare + cumsum idiom (same as
    sessionize's gap cumsum): a new run starts when role or normalized
    text changes. Two conv_id windows + one groupBy, nothing else."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    staged = df.select(
        F.col(conv_col), F.col(idx_col), F.col(role_col).alias("_role"),
        norm.alias("_norm"),
    ).withColumns(
        {
            # eqNullSafe: a NULL role/text never silently extends a run
            "_new_run": F.when(
                F.lag("_norm").over(w).eqNullSafe(F.col("_norm"))
                & F.lag("_role").over(w).eqNullSafe(F.col("_role")),
                F.lit(0),
            ).otherwise(F.lit(1)),
        }
    )
    runs = staged.withColumn(
        "_run", F.sum("_new_run").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_run = runs.groupBy(conv_col, "_run").agg(F.count("*").alias("_len"))
    return per_run.groupBy(conv_col).agg(
        F.max("_len").alias("max_run"),
        (F.max("_len") >= min_run).alias("looping"),
    )


def dpo_pairs(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    text_col: str = "text",
    score_col: str = "score",
    min_margin: float = 0.0,
) -> DataFrame:
    """Preference-pair construction (the DPO / best-of-n recipe): per
    prompt, chosen = the highest-scoring candidate and rejected = the
    lowest-scoring one, emitted only when the prompt has >= 2
    candidates and chosen strictly out-scores rejected by at least
    min_margin. Ties break deterministically: chosen takes the LOWEST
    candidate id, rejected the HIGHEST (so equal-score prompts still
    resolve stably, then fall out of the strict-gap filter).

    Scale shape: one groupBy shuffle on the prompt key; both extremes
    come from a single min/max over the same (negated-score, cand_id,
    text) struct, so there is no window sort and no second pass.
    cand_col must be numeric (turn index, sample index); NULL and NaN
    scores / NULL candidate ids are excluded up front (NaN would both
    sort above every real score and sail through the NaN > 0 gap
    filter, which Spark evaluates as true).
    """
    s, cand = F.col(score_col).cast("double"), F.col(cand_col)
    staged = df.filter(
        s.isNotNull() & ~F.isnan(s) & cand.isNotNull()
    ).select(
        F.col(prompt_col).alias("prompt_id"),
        # min(struct) = max score then min cand; max(struct) = min
        # score then max cand -- one struct serves both extremes.
        F.struct(
            (-s).alias("nscore"), cand.alias("cand"), F.col(text_col).alias("text")
        ).alias("_c"),
    )
    agg = staged.groupBy("prompt_id").agg(
        F.min("_c").alias("_best"),
        F.max("_c").alias("_worst"),
        F.count("*").alias("n_cands"),
    )
    gap = F.col("_worst.nscore") - F.col("_best.nscore")
    return (
        agg.withColumn("score_gap", F.round(gap, 6))
        .filter(
            (F.col("n_cands") >= 2)
            & (F.col("score_gap") > 0)
            & (F.col("score_gap") >= F.lit(float(min_margin)))
        )
        .select(
            "prompt_id",
            F.col("_best.cand").alias("chosen_cand"),
            F.col("_best.text").alias("chosen"),
            F.col("_worst.cand").alias("rejected_cand"),
            F.col("_worst.text").alias("rejected"),
            "n_cands",
            "score_gap",
        )
    )


def tool_args_qa(
    df: DataFrame,
    spec: dict[str, tuple[list[str], list[str]]],
    tool_col: str = "tool",
    args_col: str = "args",
    keep_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Tool-call argument validation against a per-tool schema:
    spec maps tool -> (required_keys, optional_keys). Per call, emit
    is_object (args parse to a JSON object), n_missing (required keys
    absent), n_unexpected (keys outside required+optional), and
    valid = all three clean. Calls whose tool has no spec entry are
    dropped (the validator checks the tools it knows; route unknowns
    with route_tags upstream if they must be kept).

    Scale shape: the spec is a handful of rows -> broadcast inner
    join; key checks are JVM json_object_keys + array HOFs, no Python.
    The key array is let-bound so the JSON document parses once per
    row, not once per required key."""
    from fluent_bit_spark.operators.text_analysis import let_bound

    spark = df.sparkSession
    rows = [
        (tool, list(req), sorted(set(req) | set(opt)))
        for tool, (req, opt) in sorted(spec.items())
    ]
    spec_df = local_frame(
        spark, rows, "tool_key string, required array<string>, allowed array<string>"
    )
    joined = df.join(
        F.broadcast(spec_df), F.col(tool_col) == F.col("tool_key"), "inner"
    )

    def _flags(keys: Column) -> Column:
        is_obj = keys.isNotNull()
        miss = F.when(
            is_obj,
            F.size(
                F.filter(
                    F.col("required"),
                    lambda k: ~F.exists(keys, lambda x: x == k),
                )
            ),
        ).otherwise(F.size(F.col("required")))
        unexp = F.when(
            is_obj,
            F.size(
                F.filter(
                    keys, lambda k: ~F.exists(F.col("allowed"), lambda x: x == k)
                )
            ),
        ).otherwise(F.lit(0))
        return F.struct(
            is_obj.alias("is_object"),
            miss.alias("n_missing"),
            unexp.alias("n_unexpected"),
        )

    out = joined.withColumn(
        "_f", let_bound(F.json_object_keys(F.col(args_col)), _flags)
    )
    return out.select(
        *[F.col(c) for c in keep_cols],
        F.col(tool_col).alias("tool"),
        F.col("_f.is_object").alias("is_object"),
        F.col("_f.n_missing").alias("n_missing"),
        F.col("_f.n_unexpected").alias("n_unexpected"),
        (
            F.col("_f.is_object")
            & (F.col("_f.n_missing") == 0)
            & (F.col("_f.n_unexpected") == 0)
        ).alias("valid"),
    )


def tool_args_report(qa: DataFrame) -> DataFrame:
    """Per-tool roll-up of tool_args_qa: call counts, failure counts
    by class, and the valid rate. One small groupBy on tool."""
    return qa.groupBy("tool").agg(
        F.count("*").alias("n_calls"),
        F.sum((~F.col("is_object")).cast("long")).alias("n_bad_json"),
        F.sum((F.col("n_missing") > 0).cast("long")).alias("n_with_missing"),
        F.sum((F.col("n_unexpected") > 0).cast("long")).alias("n_with_unexpected"),
        F.sum(F.col("valid").cast("long")).alias("n_valid"),
        F.round(
            F.sum(F.col("valid").cast("long")) / F.count("*"), 6
        ).alias("valid_rate"),
    )


def canonical_branch(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Branch / regeneration canonicalization: real transcript stores
    accumulate multiple rows for the same (conv, turn) slot — a user
    regenerated the response, a retry double-wrote, a fork landed on
    the same index. Keep the LATEST variant per slot (max event ts,
    text as the deterministic tiebreak) and report how many branches
    the slot had, so downstream training only ever sees one timeline.

    Scale shape: a single groupBy on (conv, turn) with `max(struct)` —
    map-side partial aggregation collapses branches before the shuffle
    (a window row_number would shuffle every branch row).
    """
    agg = df.groupBy(conv_col, turn_col).agg(
        F.max(
            F.struct(F.col(ts_col).alias("ts"), F.col(text_col).alias("text"))
        ).alias("_br"),
        F.count(F.lit(1)).alias("n_branches"),
    )
    return agg.select(
        conv_col,
        turn_col,
        F.col("_br.text").alias(text_col),
        F.col("_br.ts").alias(ts_col),
        "n_branches",
    )


def reply_latency(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
) -> DataFrame:
    """Assistant response-time extraction: for every assistant turn
    that directly follows a user turn (normalized roles), emit the
    wait in exact integer microseconds. The latency distribution per
    model/fleet is the first SLO chart any serving dashboard wants,
    and the per-reply rows feed percentile/outlier ops downstream.

    Scale shape: one conv-partitioned window (bounded by conversation
    length, the same co-location every sequence op here uses); the
    output is integer µs, so any downstream aggregate is
    summation-order independent.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    staged = df.withColumns(
        {
            "_nrole": norm_role_col(F.col(role_col)),
            "_prev_role": norm_role_col(F.lag(role_col).over(w)),
            "_prev_ts": F.lag(ts_col).over(w),
        }
    )
    return staged.filter(
        (F.col("_nrole") == "assistant") & (F.col("_prev_role") == "user")
    ).select(
        conv_col,
        idx_col,
        (F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_prev_ts"))).alias(
            "wait_us"
        ),
    )


def best_of_n(
    df: DataFrame,
    score: Column | None = None,
    role: str = "assistant",
    k: int = 1,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Best-of-n response selection (RLHF-style rejection sampling):
    within each conversation the normalized-`role` turns are the
    candidate pool, ranked by `score` descending (turn index breaks
    ties deterministically), and the top `k` survive — carrying rank
    and the pool size so downstream mixing can weight by how selective
    the pick was.

    `score` defaults to text length; pass any deterministic Column
    (e.g. a reward-model score column) — keep it integral/fixed-point
    so selections replay identically across engines.

    Scale shape: one conv_id shuffle; both windows are conversation-
    bounded, no global ordering anywhere."""
    score = score if score is not None else F.length(text_col).cast("long")
    cand = (
        df.withColumn("_nrole", norm_role_col(F.col(role_col)))
        .filter(F.col("_nrole") == role)
        .withColumn("score", score)
    )
    w = Window.partitionBy(conv_col).orderBy(
        F.desc("score"), F.col(idx_col)
    )
    wc = Window.partitionBy(conv_col)
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("n_candidates", F.count(F.lit(1)).over(wc))
        .filter(F.col("rank") <= k)
        .select(
            conv_col, idx_col, "score", "rank", "n_candidates", text_col
        )
    )


def context_windows(
    df: DataFrame,
    size: int = 8,
    stride: int = 4,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Sliding turn windows per conversation for long-context
    training: window w covers turn RANKS [w*stride, w*stride + size)
    — ranks, not raw indices, so gaps in turn_idx never tear a window.
    With stride < size adjacent windows overlap (the standard
    continuity trick); tail windows are emitted partial.

    Each turn lands in its windows via a closed-form sequence (no
    self-join): lo = 0 while rank < size, else (rank - size) div
    stride + 1 — integer division on non-negative operands only, so
    Spark's truncating `div` and SQL floor division agree.

    Output (conv_id, window_no, first_rank, n_turns, text) with text =
    newline-joined `role: text` lines in rank order. Scale: one
    conv_id shuffle; the explode multiplies rows by ceil(size/stride),
    a constant."""
    if size <= 0 or stride <= 0:
        raise ValueError(f"size/stride must be positive, got {size}/{stride}")
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    ranked = df.withColumn("_rank", F.row_number().over(w) - 1)
    lo = F.when(F.col("_rank") < size, F.lit(0)).otherwise(
        F.expr(f"(_rank - {size}) div {stride} + 1")
    )
    hi = F.expr(f"_rank div {stride}")
    lines = F.concat(F.col(role_col), F.lit(": "), F.col(text_col))
    staged = (
        ranked.withColumn("window_no", F.explode(F.sequence(lo, hi)))
        .withColumn("window_no", F.col("window_no").cast("long"))
        .withColumn("_rank", F.col("_rank").cast("long"))
        .withColumn("_line", lines)
    )
    return (
        staged.groupBy(conv_col, "window_no")
        .agg(
            F.min("_rank").alias("first_rank"),
            F.count(F.lit(1)).alias("n_turns"),
            F.concat_ws(
                "\n",
                F.sort_array(
                    F.collect_list(F.struct("_rank", "_line"))
                ).getField("_line"),
            ).alias("text"),
        )
    )
