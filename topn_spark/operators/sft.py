"""SFT / conversation data preparation: chat-template rendering and
conversation QC.

The post-pretraining half of a training-data pipeline works on
CONVERSATIONS — ``array<struct<role, content>>`` message lists — and
every training stack flattens them to text with a chat template
before tokenization (the public ChatML convention popularized by
OpenAI's cookbook and HuggingFace ``apply_chat_template``:
``<|im_start|>role\\ncontent<|im_end|>`` per message). The operators
here are the Spark-side prep for that stage:

- :func:`render_chat` — flatten a message array to the training
  string under a named template, pure Catalyst (``transform`` +
  ``array_join`` over a projection-bound message array — no UDF, no
  shuffle).
- :func:`conversation_qc` — the structural validity gate SFT sets
  need before rendering (HH-RLHF-style cleanups): roles from the
  allowed set, an optional system message only at position 0,
  user/assistant strictly alternating with user first, non-empty
  content, assistant-final. Emits per-rule flags + a first-failure
  ``qc_reason`` in fixed rule order, the same observable-gate
  discipline as the quality gates.

Engine-exactness: rendering is deterministic string concatenation;
QC flags are pure boolean/array algebra — both mirror verbatim into
DuckDB list ops (z66), hash-exact.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from topn_spark.operators.textstats import (
    PII_PATTERNS,
    _byte_render,
    _unigram_viterbi,
    bpe_encode_word,
    shingles,
)
from topn_spark.operators.topn import _driver_topn
from topn_spark.plans import local_frame

__all__ = [
    "CHAT_TEMPLATES",
    "render_chat",
    "conversation_qc",
    "redact_conversation",
    "preference_pairs",
    "loss_spans",
    "token_loss_mask",
    "conversation_report",
    "dedup_conversations",
    "bpe_loss_mask",
    "render_multimodal_chat",
    "validate_conversation_assets",
    "preference_margin_report",
    "unigram_loss_mask",
    "kto_labels",
    "conversation_paths",
    "preference_length_bias",
    "truncate_conversation",
    "json_output_qc",
    "truncation_artifacts",
    "control_token_scan",
    "prompt_echo_score",
    "CONTROL_TOKENS",
    "SENTENCE_ENDERS",
]

#: Registered template names; each shape is a fixed concatenation so
#: the DuckDB oracle reproduces it verbatim (z66).
CHAT_TEMPLATES = ("chatml", "plain")


def _render_one(template: str, m: Column) -> Column:
    if template == "chatml":
        return F.concat(
            F.lit("<|im_start|>"),
            m["role"],
            F.lit("\n"),
            m["content"],
            F.lit("<|im_end|>"),
        )
    return F.concat(m["role"], F.lit(": "), m["content"])


def render_chat(
    df: DataFrame,
    messages_col: str = "messages",
    template: str = "chatml",
    out_col: str = "text",
) -> DataFrame:
    """Flatten ``array<struct<role, content>>`` message lists into
    the training text under a named template:

    - ``"chatml"``: ``<|im_start|>role\\ncontent<|im_end|>`` per
      message, newline-joined — the public ChatML shape.
    - ``"plain"``: ``role: content`` per message, newline-joined —
      the human-readable audit form.

    NULL message arrays render NULL (kept observable for QC — see
    :func:`conversation_qc`, which flags them); empty arrays render
    the empty string. Pure Catalyst: the message array is bound as a
    projected attribute, then one ``transform`` + ``array_join`` —
    map-only, no UDF, so at 100 TB this adds nothing beyond the
    scan.
    """
    if template not in CHAT_TEMPLATES:
        raise ValueError(
            f"unknown template {template!r} (have: {CHAT_TEMPLATES})"
        )
    b = df.withColumn("_rc_m", F.col(messages_col))
    rendered = F.array_join(
        F.transform(F.col("_rc_m"), lambda m: _render_one(template, m)),
        "\n",
    )
    if out_col in df.columns:
        cols = [
            rendered.alias(c) if c == out_col else F.col(c)
            for c in df.columns
        ]
    else:
        cols = [F.col(c) for c in df.columns] + [rendered.alias(out_col)]
    return b.select(*cols)


#: QC rule order — ``qc_reason`` is the FIRST failing rule.
QC_RULES = (
    "no_messages",
    "bad_role",
    "empty_content",
    "misplaced_system",
    "not_alternating",
    "assistant_last",
)


def conversation_qc(
    df: DataFrame,
    messages_col: str = "messages",
    allowed_roles: tuple[str, ...] = ("system", "user", "assistant"),
) -> DataFrame:
    """Structural QC for SFT conversations — the validity gate run
    before rendering/tokenizing an instruction-tuning set (the
    cleanup every public SFT corpus documents: malformed role tags,
    empty turns, double-sends, truncated dialogues). Appends one
    BOOLEAN flag per rule plus ``qc_reason`` (first failing rule in
    :data:`QC_RULES` order, NULL when clean) and ``n_turns``:

    - ``no_messages`` — NULL or empty message array;
    - ``bad_role`` — any role outside ``allowed_roles``;
    - ``empty_content`` — any NULL/whitespace-only content;
    - ``misplaced_system`` — a ``system`` role anywhere but
      position 0;
    - ``not_alternating`` — after the optional leading system
      message, turns must go user, assistant, user, … (user first);
    - ``assistant_last`` — the final turn must be the assistant's
      (a trailing user turn has no training signal).

    All pure array algebra over one projection-bound message array
    (``exists`` / ``filter`` / position comparisons) — map-only,
    mirrored verbatim by the DuckDB oracle (z66).
    """
    b = df.withColumn("_qc_m", F.col(messages_col))
    m = F.col("_qc_m")
    n = F.size(m)
    no_messages = m.isNull() | (n == 0)
    roles = F.transform(m, lambda x: x["role"])
    bad_role = F.exists(
        roles, lambda r: r.isNull() | ~r.isin(*allowed_roles)
    )
    empty_content = F.exists(
        m, lambda x: x["content"].isNull() | (F.trim(x["content"]) == "")
    )
    # system allowed only at position 0: any system in the tail fails
    misplaced_system = F.exists(
        F.slice(roles, 2, F.greatest(n - 1, F.lit(0))),
        lambda r: r == "system",
    )
    # strip the optional leading system, then demand user/assistant
    # strict alternation starting at user
    body = F.when(
        F.element_at(roles, 1) == "system", F.slice(roles, 2, n - 1)
    ).otherwise(roles)
    expected = F.transform(
        body,
        lambda r, i: F.when(i % 2 == 0, F.lit("user")).otherwise(
            F.lit("assistant")
        ),
    )
    not_alternating = (F.size(body) == 0) | F.exists(
        F.zip_with(body, expected, lambda a, e: a != e),
        lambda x: x,
    )
    assistant_last = F.element_at(roles, -1) != F.lit("assistant")
    flags = [
        ("no_messages", no_messages),
        ("bad_role", bad_role),
        ("empty_content", empty_content),
        ("misplaced_system", misplaced_system),
        ("not_alternating", not_alternating),
        ("assistant_last", assistant_last),
    ]
    out = b.withColumn("n_turns", F.coalesce(n, F.lit(0)).cast("bigint"))
    for name, cond in flags:
        safe = F.coalesce(cond, F.lit(True))
        # once no_messages fires, later array rules are vacuous —
        # gate them so flags stay individually meaningful
        if name != "no_messages":
            safe = F.when(
                F.coalesce(no_messages, F.lit(True)), F.lit(False)
            ).otherwise(safe)
        out = out.withColumn(name, safe)
    # first failing rule in declared order: open when-clauses yield
    # NULL when false, coalesce picks the first hit
    out = out.withColumn(
        "qc_reason",
        F.coalesce(
            *[F.when(F.col(name), F.lit(name)) for name, _ in flags]
        ),
    )
    return out.withColumn(
        "qc_pass", F.col("qc_reason").isNull()
    ).drop("_qc_m")


def redact_conversation(
    df: DataFrame,
    messages_col: str = "messages",
) -> DataFrame:
    """The PII release gate for the SFT modality: apply the engine's
    standard PII patterns (``textstats.PII_PATTERNS`` — emails, IPv4
    literals, phone numbers, to the ``|||EMAIL_ADDRESS|||``-style
    placeholders, same order/precedence as the z51 document gate) to
    EVERY message content IN PLACE, preserving roles and turn
    structure, and append per-class counts over the ORIGINAL turns
    (``pii_email``/``pii_ip``/``pii_phone``, BIGINT — counted before
    redaction so the accounting is order-independent) plus
    ``pii_total``. Redacting the rendered text instead would destroy
    the message structure every SFT trainer consumes — this keeps
    the array shape.

    Pure Catalyst: one ``transform`` rewriting each content through
    the chained ``regexp_replace``s, counts via per-turn
    ``regexp_extract_all`` sizes summed with ``aggregate`` — all
    over one projection-bound message array, map-only.
    """
    b = df.withColumn("_rp_m", F.col(messages_col))
    m = F.col("_rp_m")

    def _clean(content):
        out = content
        for _, pat, placeholder in PII_PATTERNS:
            out = F.regexp_replace(out, pat, placeholder)
        return out

    redacted = F.transform(
        m,
        lambda x: F.struct(
            x["role"].alias("role"), _clean(x["content"]).alias("content")
        ),
    )
    out = b.withColumn(messages_col, redacted)
    total = None
    for name, pat, _ in PII_PATTERNS:
        cnt = F.aggregate(
            m,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc
            + F.coalesce(
                F.size(
                    F.regexp_extract_all(x["content"], F.lit(pat), F.lit(0))
                ),
                F.lit(0),
            ).cast("bigint"),
        )
        out = out.withColumn(f"pii_{name}", F.coalesce(cnt, F.lit(0)))
        col = F.col(f"pii_{name}")
        total = col if total is None else total + col
    return out.withColumn("pii_total", total).drop("_rp_m")


def loss_spans(
    df: DataFrame,
    messages_col: str = "messages",
    template: str = "chatml",
    loss_role: str = "assistant",
    text_col: str = "text",
    spans_col: str = "loss_spans",
) -> DataFrame:
    """Loss-masking spans — the SFT trainer handoff: render the
    conversation under ``template`` (byte-identical to
    :func:`render_chat`) and emit the character offsets of every
    ``loss_role`` turn's CONTENT inside that rendered text, as
    ``spans_col``: ``array<struct<start, end>>`` (0-based, half-open,
    in turn order). Trainers compute loss only inside these spans
    (the universal instruction-tuning convention: user/system tokens
    are context, assistant tokens are supervised), so the spans must
    be derived from exactly the same template arithmetic as the text
    — computing them post-hoc by searching for the content is wrong
    the moment a user turn quotes the assistant. Also appends
    ``loss_chars`` (sum of span widths, BIGINT) and ``total_chars``
    (rendered length).

    Semantics at the edges: an empty message array yields empty
    spans over the empty string; a NULL array yields NULL text/spans
    (same as :func:`render_chat`); any NULL role or content poisons
    the offset arithmetic, so the spans are NULL for that row — run
    :func:`conversation_qc` first, which flags exactly those rows.

    Scale shape: ONE ``aggregate`` fold per row over the
    projection-bound message array carrying ``struct(offset, spans)``
    — linear in turns, map-only, no UDF, no shuffle; at 100 TB this
    adds nothing beyond the render scan.
    """
    if template not in CHAT_TEMPLATES:
        raise ValueError(
            f"unknown template {template!r} (have: {CHAT_TEMPLATES})"
        )
    b = df.withColumn("_ls_m", F.col(messages_col))
    m = F.col("_ls_m")
    # per-message layout under the template: content starts at
    # offset + prefix(role); the rendered message is
    # prefix + len(content) + suffix; the join adds 1 ('\n') between
    # messages (adding it after the last one is harmless — the
    # running offset is never read again).
    if template == "chatml":
        # "<|im_start|>" (12) + role + "\n" (1) ... "<|im_end|>" (10)
        def _prefix(x: Column) -> Column:
            return (F.lit(13) + F.length(x["role"])).cast("bigint")

        _suffix = 10
    else:
        # role + ": " (2), no suffix
        def _prefix(x: Column) -> Column:
            return (F.length(x["role"]) + F.lit(2)).cast("bigint")

        _suffix = 0

    empty_spans = F.array().cast(
        "array<struct<start:bigint,end:bigint>>"
    )
    zero = F.struct(
        F.lit(0).cast("bigint").alias("off"), empty_spans.alias("spans")
    )

    def _step(acc: Column, x: Column) -> Column:
        p = _prefix(x)
        clen = F.length(x["content"]).cast("bigint")
        start = acc["off"] + p
        span = F.struct(
            start.alias("start"), (start + clen).alias("end")
        )
        spans = F.when(
            x["role"] == loss_role,
            F.concat(acc["spans"], F.array(span)),
        ).otherwise(acc["spans"])
        return F.struct(
            (acc["off"] + p + clen + F.lit(_suffix) + F.lit(1)).alias(
                "off"
            ),
            spans.alias("spans"),
        )

    folded = F.aggregate(m, zero, _step)
    # a NULL role/content mid-fold leaves off NULL but may keep
    # already-collected spans — blank the row's spans entirely so the
    # failure is observable, not partial
    poisoned = F.exists(
        m, lambda x: x["role"].isNull() | x["content"].isNull()
    )
    spans = F.when(~F.coalesce(poisoned, F.lit(True)), folded["spans"])
    rendered = F.array_join(
        F.transform(m, lambda x: _render_one(template, x)), "\n"
    )
    # sequential withColumn + F.col references: the fold/render
    # expressions are BIG, and re-embedding them in loss_chars /
    # total_chars would tree-duplicate them per reference (the
    # url_features lesson) — downstream columns read the projected
    # attributes instead
    out = b.withColumn(text_col, rendered).withColumn(
        spans_col, spans
    )
    out = out.withColumn(
        "loss_chars",
        F.aggregate(
            F.col(spans_col),
            F.lit(0).cast("bigint"),
            lambda acc, s: acc + (s["end"] - s["start"]),
        ),
    ).withColumn(
        "total_chars", F.length(F.col(text_col)).cast("bigint")
    )
    return out.drop("_ls_m")


def token_loss_mask(
    df: DataFrame,
    text_col: str = "text",
    spans_col: str = "loss_spans",
    tokens_col: str = "tokens",
    mask_col: str = "loss_mask",
) -> DataFrame:
    """Char spans → token-level supervise mask — the last SFT prep
    step: tokenize ``text_col`` by whitespace WITH character offsets
    and mark each token supervised iff its ``[start, end)`` interval
    OVERLAPS any span in ``spans_col`` (overlap, not containment —
    under whitespace tokenization the template glues markup to the
    last content word, e.g. ``hello<|im_end|>``, and a containment
    rule would silently unsupervise every turn's final token).
    Appends ``tokens_col`` (``array<struct<tok, start, end>>``),
    ``mask_col`` (``array<boolean>``, aligned), and ``n_supervised``.

    Offsets are exact because the split pattern ``\\s`` consumes
    exactly ONE character per separator: offsets are the running sum
    of part lengths + 1, folded left to right; empty parts (runs of
    whitespace) advance the offset but emit no token. NULL text or
    NULL spans yield NULL outputs (observable — QC upstream).

    Scale shape: one ``split`` + one ``aggregate`` fold + one
    ``transform``×``exists`` per row, all over projection-bound
    arrays — map-only, no UDF, no shuffle; span count per row is
    turns-bounded, so the overlap test is effectively linear.
    """
    b = df.withColumn("_tm_t", F.col(text_col)).withColumn(
        "_tm_s", F.col(spans_col)
    )
    parts = F.split(F.col("_tm_t"), r"\s")
    zero = F.struct(
        F.lit(0).cast("bigint").alias("off"),
        F.array()
        .cast("array<struct<tok:string,start:bigint,end:bigint>>")
        .alias("toks"),
    )

    def _step(acc: Column, p: Column) -> Column:
        plen = F.length(p).cast("bigint")
        tok = F.struct(
            p.alias("tok"),
            acc["off"].alias("start"),
            (acc["off"] + plen).alias("end"),
        )
        toks = F.when(
            plen > 0, F.concat(acc["toks"], F.array(tok))
        ).otherwise(acc["toks"])
        return F.struct(
            (acc["off"] + plen + 1).alias("off"), toks.alias("toks")
        )

    toks = F.aggregate(parts, zero, _step)["toks"]
    spans = F.col("_tm_s")
    # chain on projected attributes: the offset fold is a BIG
    # expression, and building mask/n_supervised from the raw `toks`
    # expression would tree-duplicate it per reference (measured 3×
    # wall on the SFT prep chain) — tokens_col is NULL iff spans or
    # toks is NULL, so gating on it preserves the NULL semantics
    out = b.withColumn(
        tokens_col, F.when(spans.isNotNull(), toks)
    )
    tc = F.col(tokens_col)
    out = out.withColumn(
        mask_col,
        F.when(
            tc.isNotNull(),
            F.transform(
                tc,
                lambda t: F.exists(
                    spans,
                    lambda s: (t["start"] < s["end"])
                    & (t["end"] > s["start"]),
                ),
            ),
        ),
    )
    out = out.withColumn(
        "n_supervised",
        F.aggregate(
            F.col(mask_col),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc
            + F.when(x, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
        ),
    )
    return out.drop("_tm_t", "_tm_s")


def preference_pairs(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    score_col: str = "score",
    id_col: str = "sample_id",
    response_col: str = "response",
    min_gap: float = 0.0,
) -> DataFrame:
    """Preference-pair construction — the DPO/RLHF reward-data step
    (one prompt, n scored samples → a (chosen, rejected) pair):
    per prompt, ``chosen`` is the highest-score sample (ties → lowest
    ``id_col``) and ``rejected`` the lowest (ties → HIGHEST id, so a
    two-way tie never selects the same row); prompts are emitted only
    with >= 2 samples AND a strictly positive score gap of at least
    ``min_gap`` (a tied pair carries no preference signal — the
    margin filter is the standard reward-data hygiene). Rows whose
    score casts to NULL are excluded BEFORE aggregation (a scoreless
    sample carries no preference signal either way; ``n_samples``
    therefore counts validly-SCORED samples, so the exclusion is
    observable per prompt). ``id_col`` keeps its input type — the
    tiebreak compares the raw column (string ids work), it is never
    cast. Output: ``(prompt, chosen_id/score/response,
    rejected_id/score/response, score_gap, n_samples)``.

    Scale shape: ONE hash aggregate per prompt — both extremes are
    ``min``/``max`` over ``struct(-score, id, response)`` (negating
    the score instead of the id lets ONE struct ordering encode both
    tiebreaks over the raw id: min = best score then lowest id, max
    = worst score then highest id; the response rides as payload,
    never compared because ids are unique), map-side combinable, so
    a hot prompt with millions of samples still partial-aggregates.
    Contrast :func:`~topn_spark.operators.topn.topn_grouped` (z67):
    that keeps best-of-n rows; this builds the pairwise frame.
    """
    score = F.col(score_col).cast("double")
    ext = F.struct(
        (-score).alias("ns"),
        F.col(id_col).alias("i"),
        F.col(response_col).alias("r"),
    )
    agg = (
        df.where(score.isNotNull())
        .groupBy(prompt_col)
        .agg(
            F.min(ext).alias("_c"),
            F.max(ext).alias("_r"),
            F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        )
    )
    out = agg.select(
        F.col(prompt_col),
        F.col("_c.i").alias("chosen_id"),
        (-F.col("_c.ns")).alias("chosen_score"),
        F.col("_c.r").alias("chosen_response"),
        F.col("_r.i").alias("rejected_id"),
        (-F.col("_r.ns")).alias("rejected_score"),
        F.col("_r.r").alias("rejected_response"),
        (F.col("_r.ns") - F.col("_c.ns")).alias("score_gap"),
        "n_samples",
    )
    return out.where(
        (F.col("n_samples") >= 2)
        & (F.col("score_gap") > 0)
        & (F.col("score_gap") >= float(min_gap))
    )

def conversation_report(
    df: DataFrame, messages_col: str = "messages"
) -> DataFrame:
    """SFT corpus data card — the release-note aggregate for a
    conversation corpus (the sibling of
    :func:`~topn_spark.operators.pipeline.corpus_report` for the
    document corpus): ONE row of corpus-level structure —
    conversation counts (total / NULL / empty), turn totals and
    per-role splits (user / assistant / system / other, where
    'other' is any unexpected or NULL role — observable, never
    silently folded), ``max_turns``, ``mean_turns`` (over non-NULL
    conversations, ROUND 6), character totals, and
    ``assistant_char_ratio`` — the fraction of corpus characters a
    trainer would supervise, the number that catches a corpus whose
    assistant turns are one-liners under walls of user context.

    Scale shape: per-row signals are projection-bound size/filter/
    fold expressions (map-only, no UDF); the report is ONE global
    hash aggregate of sums/counts/max — all map-side combinable, so
    the shuffle carries one partial row per task. Output is
    scalar-sized by definition."""
    m = F.col(messages_col)

    def _role_n(role: str) -> Column:
        return F.when(
            m.isNotNull(),
            F.size(F.filter(m, lambda x: x["role"] == F.lit(role))),
        ).cast("bigint")

    def _chars(filtered: Column) -> Column:
        return F.when(
            m.isNotNull(),
            F.aggregate(
                filtered,
                F.lit(0).cast("bigint"),
                lambda acc, x: acc
                + F.coalesce(
                    F.length(x["content"]).cast("bigint"), F.lit(0)
                ),
            ),
        )

    sig = df.select(
        m.isNull().cast("bigint").alias("_is_null"),
        F.when(m.isNotNull(), F.size(m)).cast("bigint").alias("_nt"),
        _role_n("user").alias("_nu"),
        _role_n("assistant").alias("_na"),
        _role_n("system").alias("_ns"),
        _chars(
            F.filter(m, lambda x: x["role"] == F.lit("assistant"))
        ).alias("_ac"),
        _chars(m).alias("_tc"),
    )
    nt = F.col("_nt")
    return sig.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversations"),
        F.sum("_is_null").cast("bigint").alias("n_null"),
        F.sum((nt == 0).cast("bigint")).cast("bigint").alias("n_empty"),
        F.sum(nt).cast("bigint").alias("n_turns"),
        F.sum("_nu").cast("bigint").alias("n_user_turns"),
        F.sum("_na").cast("bigint").alias("n_assistant_turns"),
        F.sum("_ns").cast("bigint").alias("n_system_turns"),
        (
            F.sum(nt) - F.sum("_nu") - F.sum("_na") - F.sum("_ns")
        ).cast("bigint").alias("n_other_turns"),
        F.max(nt).cast("bigint").alias("max_turns"),
        F.round(F.sum(nt) / F.count(nt), 6).alias("mean_turns"),
        F.sum("_ac").cast("bigint").alias("assistant_chars"),
        F.sum("_tc").cast("bigint").alias("total_chars"),
        F.round(F.sum("_ac") / F.sum("_tc"), 6).alias(
            "assistant_char_ratio"
        ),
    )


def dedup_conversations(
    df: DataFrame,
    messages_col: str = "messages",
    id_col: str = "conv_id",
    key_role: str = "user",
) -> DataFrame:
    """Prompt-level conversation dedup — the standard instruct-set
    cleanup (the Alpaca-style recipe: many generated conversations
    share the same prompt; keeping several trains the same input
    with conflicting targets): conversations are keyed by the md5 of
    their FIRST ``key_role`` turn's NORMALIZED content (lowercased,
    whitespace runs collapsed, trimmed — so formatting variants
    collide), and one conversation per key survives, the one with
    the smallest ``id_col`` (deterministic across runs/engines).
    Conversations with NO ``key_role`` turn or NULL content have no
    prompt to compare — they always survive (observable upstream via
    :func:`conversation_qc`, never silently dropped here). Appends
    ``prompt_digest`` (NULL for keyless rows). Contrast
    :func:`preference_pairs`: that CONSUMES shared-prompt groups;
    this removes accidental ones from an SFT corpus.

    Scale shape: one map-only digest projection, one
    map-side-combinable ``min(id)`` hash agg per digest (digest
    cardinality ≤ corpus), and one equi-join back on (digest, id) —
    the exact-dedup shape (``dedup.dedup_exact``), never all-pairs;
    a viral prompt duplicated millions of times is one hot agg key,
    which partial aggregation absorbs."""
    m = F.col(messages_col)
    # F.get is NULL-safe out of bounds (element_at throws under ANSI
    # when the conversation has no key_role turn)
    first_key = F.get(
        F.filter(m, lambda x: x["role"] == F.lit(key_role)), 0
    )["content"]
    norm = F.trim(
        F.regexp_replace(F.lower(first_key), r"\s+", " ")
    )
    b = df.withColumn(
        "prompt_digest",
        F.when(m.isNotNull(), F.md5(norm)),
    )
    winners = (
        b.where(F.col("prompt_digest").isNotNull())
        .groupBy("prompt_digest")
        .agg(F.min(id_col).alias("_keep_id"))
    )
    kept = b.join(
        winners,
        (b["prompt_digest"] == winners["prompt_digest"])
        & (b[id_col] == winners["_keep_id"]),
        "left_semi",
    )
    keyless = b.where(F.col("prompt_digest").isNull())
    return kept.unionByName(keyless)


def bpe_loss_mask(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "conv_id",
    tokens_col: str = "tokens",
    mask_col: str = "loss_mask",
    mode: str = "byte",
) -> DataFrame:
    """Expand a whitespace-token supervise mask to TRAINED-TOKENIZER
    subtokens — the last alignment step before packing when the
    trainer consumes BPE ids rather than whitespace tokens: each
    whitespace token from :func:`token_loss_mask` is one pre-token
    unit (subtokens never cross it, so the expansion is exact — every
    subtoken inherits its unit's supervise bit), encoded with the
    SAME merge walk as the corpus tokenizer
    (``textstats.bpe_encode_word`` — bit-identical to ``apply_bpe``,
    so SFT and pretraining token counts reconcile). ``mode="byte"``
    renders each unit's UTF-8 bytes as latin-1 symbols JVM-side
    first (GPT-2 byte-level, zero OOV — the recommended form, and
    the only one that tokenizes template markup like ``<|im_end|>``
    compactly once those merges are trained); ``mode="char"`` merges
    codepoints directly.

    Emits ``(id, tokens, loss_mask, n_bpe_tokens, n_supervised)``
    with the OUTPUT arrays named like the inputs so the result feeds
    :func:`~topn_spark.operators.pipeline.pack_masked_sequences`
    directly. NULL or misaligned input rows yield NULL outputs
    (observable — same contract as token_loss_mask).

    Scale shape: one Arrow-batched ``mapInPandas`` pass, merge table
    as a closure (model-sized) — map-only, embarrassingly parallel,
    Python work linear in characters; there is no SQL-expressible
    merge walk, which is exactly why this is the UDF tier."""
    if mode not in ("byte", "char"):
        raise ValueError(f"unknown mode {mode!r} (byte|char)")
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    return _expand_subtoken_mask(
        df,
        lambda w: bpe_encode_word(w, ranks),
        id_col,
        tokens_col,
        mask_col,
        count_col="n_bpe_tokens",
        byte_render=mode == "byte",
    )


def _expand_subtoken_mask(
    df: DataFrame,
    encode,
    id_col: str,
    tokens_col: str,
    mask_col: str,
    count_col: str,
    byte_render: bool,
) -> DataFrame:
    """Shared Arrow pass for the subtoken mask expanders
    (:func:`bpe_loss_mask`, :func:`unigram_loss_mask`): each
    whitespace unit encodes via ``encode`` and every subtoken
    inherits its unit's supervise bit; NULL/misaligned rows yield
    NULL outputs (observable). ``byte_render`` pre-renders UTF-8
    bytes as latin-1 symbols JVM-side (the GPT-2 byte alphabet)."""
    idt = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {idt}, tokens array<string>, "
        f"loss_mask array<boolean>, {count_col} long, "
        "n_supervised long"
    )
    toks = F.col(tokens_col)
    if byte_render:
        toks = F.transform(toks, _byte_render)
    src = df.select(
        F.col(id_col), toks.alias("_w"), F.col(mask_col).alias("_m")
    )

    def _run(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            ids, t_out, m_out, nt, ns = [], [], [], [], []
            for did, words, bits in zip(
                pdf[id_col], pdf["_w"], pdf["_m"]
            ):
                ids.append(did)
                if (
                    words is None
                    or bits is None
                    or len(words) != len(bits)
                ):
                    t_out.append(None)
                    m_out.append(None)
                    nt.append(None)
                    ns.append(None)
                    continue
                subs: list = []
                sm: list = []
                for w, b in zip(words, bits):
                    enc = encode(w)
                    subs.extend(enc)
                    sm.extend([bool(b)] * len(enc))
                t_out.append(subs)
                m_out.append(sm)
                nt.append(len(subs))
                ns.append(int(sum(sm)))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "tokens": t_out,
                    "loss_mask": m_out,
                    count_col: nt,
                    "n_supervised": ns,
                }
            )

    return src.mapInPandas(_run, out_schema)


def unigram_loss_mask(
    df: DataFrame,
    pieces: list[tuple[str, float]],
    id_col: str = "conv_id",
    tokens_col: str = "tokens",
    mask_col: str = "loss_mask",
) -> DataFrame:
    """The :func:`bpe_loss_mask` sibling for the unigram-LM
    tokenizer (SentencePiece family): each whitespace unit from
    :func:`token_loss_mask` segments under the trained piece table
    with the SAME Viterbi DP and tie contract as
    ``textstats.apply_unigram_lm`` (shared ``_unigram_viterbi`` —
    longest piece wins exact float ties, OOV characters emit raw
    with the -1e9 penalty, so application stays total), every piece
    inheriting its unit's supervise bit. Emits
    ``(id, tokens, loss_mask, n_lm_tokens, n_supervised)`` — the
    same packable shape, so either trained tokenizer feeds
    :func:`~topn_spark.operators.pipeline.pack_masked_sequences`.

    Scale shape: one Arrow mapInPandas pass, piece table as a
    closure — map-only; the DP is O(chars × max_piece_len) per
    unit, the tokenizer-service cost class."""
    logp = dict(pieces)
    max_len = max((len(p) for p in logp), default=1)
    return _expand_subtoken_mask(
        df,
        lambda w: _unigram_viterbi(w, logp, max_len),
        id_col,
        tokens_col,
        mask_col,
        count_col="n_lm_tokens",
        byte_render=False,
    )


def render_multimodal_chat(
    df: DataFrame,
    messages_col: str = "messages",
    template: str = "chatml",
    image_token: str = "<|image|>",
) -> DataFrame:
    """Render INTERLEAVED multimodal conversations — the VLM-SFT
    modality (LLaVA-class pipelines: a turn is either text or an
    image reference): messages are
    ``array<struct<role, content, asset_id>>`` where an image turn
    carries ``asset_id`` with NULL ``content``; rendering emits the
    FIXED ``image_token`` placeholder in the text (trainers reserve
    one token id and splice vision embeddings at its positions) and
    the ALIGNED ``asset_ids`` sidecar (ids in placeholder order —
    the i-th placeholder is the i-th id, which is the whole
    contract) plus ``n_images``. Text turns render exactly as
    :func:`render_chat` (same template arithmetic). A turn with
    BOTH content and asset_id renders its text and still lists the
    asset (caption-style); a turn with neither renders empty —
    :func:`conversation_qc`'s empty_content rule already flags
    those upstream.

    Scale shape: pure Catalyst — one transform building a
    content-coalesced view + the render join, one filter/transform
    for the sidecar, all over the projection-bound array; map-only,
    no UDF, no shuffle."""
    if template not in CHAT_TEMPLATES:
        raise ValueError(
            f"unknown template {template!r} (have: {CHAT_TEMPLATES})"
        )
    b = df.withColumn("_rm_m", F.col(messages_col))
    m = F.col("_rm_m")
    view = F.transform(
        m,
        lambda x: F.struct(
            x["role"].alias("role"),
            F.coalesce(
                x["content"],
                F.when(
                    x["asset_id"].isNotNull(), F.lit(image_token)
                ),
            ).alias("content"),
        ),
    )
    rendered = F.array_join(
        F.transform(view, lambda x: _render_one(template, x)), "\n"
    )
    asset_ids = F.filter(
        F.transform(m, lambda x: x["asset_id"]),
        lambda a: a.isNotNull(),
    )
    out = b.withColumn("text", rendered).withColumn(
        "asset_ids", asset_ids
    )
    return out.withColumn(
        "n_images", F.size(F.col("asset_ids")).cast("bigint")
    ).drop("_rm_m")


def validate_conversation_assets(
    convs: DataFrame,
    assets: DataFrame,
    id_col: str = "conv_id",
    messages_col: str = "messages",
    asset_key: str = "asset_id",
) -> DataFrame:
    """Referential-integrity gate for multimodal conversations: every
    ``asset_id`` a conversation references must exist in the asset
    registry (the decoded-image table the vision encoder reads) —
    a dangling reference trains a placeholder against nothing, and
    the failure is silent without this gate. Appends ``n_missing``
    (dangling references) and ``assets_ok``.

    Scale shape: explode the per-conversation asset ids (rows =
    image references, not tokens), ONE anti-join against the
    registry key (broadcast when the registry is dimension-sized,
    else a shuffled equi-join on the id), one count re-agg, one
    join back — the decontamination shape with the registry as the
    gram set; conversations with no images never explode a row."""
    m = F.col(messages_col)
    refs = convs.select(
        F.col(id_col).alias("_vid"),
        F.explode(
            F.filter(
                F.transform(m, lambda x: x["asset_id"]),
                lambda a: a.isNotNull(),
            )
        ).alias("_aid"),
    )
    reg = assets.select(F.col(asset_key).alias("_aid")).distinct()
    missing = (
        refs.join(reg, "_aid", "left_anti")
        .groupBy("_vid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_missing"))
    )
    out = (
        convs.join(
            missing, convs[id_col] == missing["_vid"], "left"
        )
        .drop("_vid")
        .withColumn(
            "n_missing",
            F.coalesce(F.col("n_missing"), F.lit(0).cast("bigint")),
        )
        .withColumn("assets_ok", F.col("n_missing") == 0)
    )
    return out


def preference_margin_report(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    score_col: str = "score",
) -> DataFrame:
    """Preference-data margin report — the DPO/reward-data release
    card (the accounting that goes WITH :func:`preference_pairs`:
    that operator silently drops tied, singleton, and unscorable
    prompts by design, and this makes the drops — and the margin
    distribution the trainer's implicit-reward gap depends on —
    observable): ONE row with ``n_prompts``, the drop classes
    (``n_no_valid`` — no non-NULL score, ``n_single`` — one valid
    sample, ``n_tied`` — >= 2 samples, zero gap), ``n_paired``
    (emittable prompts), and the paired-gap distribution
    ``mean_gap`` (ROUND 6) / ``min_gap`` / ``max_gap``. A corpus
    whose mean gap hugs zero trains a weak preference signal; one
    whose n_tied dwarfs n_paired was scored by a saturated reward
    model — both are this report's findings.

    Scale shape: one map-side-combinable hash agg per prompt
    (count/min/max), then one global agg to a scalar-sized row —
    the same two-level aggregate class as every data card here."""
    score = F.col(score_col).cast("double")
    per = df.groupBy(prompt_col).agg(
        F.count(score).cast("bigint").alias("_n_valid"),
        F.max(score).alias("_mx"),
        F.min(score).alias("_mn"),
    )
    gap = F.col("_mx") - F.col("_mn")
    cls = (
        F.when(F.col("_n_valid") == 0, F.lit("no_valid"))
        .when(F.col("_n_valid") == 1, F.lit("single"))
        .when(gap == 0, F.lit("tied"))
        .otherwise(F.lit("paired"))
    )
    tagged = per.select(
        F.col("_n_valid"), gap.alias("_gap"), cls.alias("_cls")
    )
    paired_gap = F.when(F.col("_cls") == "paired", F.col("_gap"))
    n_paired = F.sum(
        (F.col("_cls") == "paired").cast("bigint")
    ).cast("bigint")
    return tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_prompts"),
        F.sum((F.col("_cls") == "no_valid").cast("bigint"))
        .cast("bigint")
        .alias("n_no_valid"),
        F.sum((F.col("_cls") == "single").cast("bigint"))
        .cast("bigint")
        .alias("n_single"),
        F.sum((F.col("_cls") == "tied").cast("bigint"))
        .cast("bigint")
        .alias("n_tied"),
        n_paired.alias("n_paired"),
        F.round(F.sum(paired_gap) / n_paired, 6).alias("mean_gap"),
        F.min(paired_gap).alias("min_gap"),
        F.max(paired_gap).alias("max_gap"),
    )


def kto_labels(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    score_col: str = "score",
    threshold: float | None = None,
) -> DataFrame:
    """KTO binary preference labels (Ethayarajh et al. 2024) — the
    unpaired sibling of :func:`preference_pairs`: KTO trains on
    independent (prompt, response, desirable?) examples, so every
    scored sample becomes a row instead of only the per-prompt
    extremes surviving. ``label`` is ``score >= reference point``;
    the reference point is the fixed ``threshold`` when given
    (corpus-calibrated rubric cut), else the per-prompt MEAN of the
    validly-scored samples (the KTO reward baseline: desirable =
    better than the policy's average draw for that prompt). Rows
    whose score casts to NULL keep ``label = NULL`` (and NULL
    ``ref_point`` under a fixed threshold) instead of being dropped —
    the unscored count stays observable and the caller decides.
    ``n_valid`` (scored samples in the prompt) rides along so a
    downstream balance check can weight desirable/undesirable counts
    the way the KTO loss expects. Rows with a NULL prompt key are
    kept too (stats joins are LEFT joins — equi-joins never match
    NULL keys, so an inner join would silently drop them): they
    keep NULL ``ref_point``/``n_valid``/``label`` in mean mode, and
    the fixed-threshold label plus NULL ``n_valid`` under a given
    ``threshold``.

    Scale shape: fixed threshold → pure map-only projection. Mean
    mode → ONE map-side-combinable hash agg per prompt (sum/count)
    plus an equi-join back on the prompt key — both sides hash-
    partition on the same key, and a hot prompt with millions of
    samples still partial-aggregates. No window, no sort.
    """
    score = F.col(score_col).cast("double")
    if threshold is not None:
        ref = F.when(
            score.isNotNull(), F.lit(float(threshold))
        ).cast("double")
        base = df.withColumn("ref_point", ref)
        # n_valid without a window: one agg + join keeps the
        # map-side-combinable shape (a window would re-sort).
        counts = df.groupBy(prompt_col).agg(
            F.sum(score.isNotNull().cast("bigint"))
            .cast("bigint")
            .alias("n_valid")
        )
        # LEFT: a NULL prompt key never equi-matches its own group
        # row — inner would silently drop the row from the output
        base = base.join(counts, prompt_col, "left")
    else:
        stats = df.groupBy(prompt_col).agg(
            F.avg(score).alias("ref_point"),
            F.sum(score.isNotNull().cast("bigint"))
            .cast("bigint")
            .alias("n_valid"),
        )
        base = df.join(stats, prompt_col, "left")
    return base.withColumn(
        "label",
        F.when(
            score.isNotNull() & F.col("ref_point").isNotNull(),
            score >= F.col("ref_point"),
        ),
    )


def conversation_paths(
    df: DataFrame,
    conv_col: str = "conv_id",
    msg_col: str = "msg_id",
    parent_col: str = "parent_id",
    role_col: str = "role",
) -> DataFrame:
    """Message-TREE flattening — the OASST-style prep step (crowd
    conversation datasets are trees: one prompt, several candidate
    replies, each with its own subtree; a trainer consumes LINEAR
    threads): emit one row per leaf with its root-to-leaf path —
    ``(conv, leaf_id, depth, path_ids, path_roles, is_complete)``.
    ``is_complete`` is False when the walk hit a dangling
    ``parent_id`` (orphaned subtree — observable, never silently
    emitted as a root) or a parent cycle; complete paths always
    start at a NULL-parent root. Leaves are messages no other
    message names as parent; a single-message conversation is one
    depth-1 path. A conversation that is a PURE parent cycle (every
    message named as a parent, so no leaf exists) still surfaces:
    one ``is_complete=False`` sentinel walk from its smallest
    msg_id, instead of the conversation vanishing from the output.

    Scale shape: ONE ``repartition`` shuffle keyed by the
    conversation id into a partition-level Arrow ``mapInPandas``
    that groups in pandas — NOT per-group ``applyInPandas``: a
    conversation tree is tens of rows, so per-group Python calls
    dominate at corpus scale (measured 34.7 s → 1.6 s at 500 k
    messages, SCALING.md) while one call per PARTITION amortizes
    them; each partition holds complete conversations by the
    repartition, and the walk itself is trivial. Contrast the
    iterative self-join a GLOBAL tree would need (depth joins over
    the full corpus): conversation data is partitionable by design,
    so the partition-local walk is the right trade.
    """
    import pandas as pd

    dtypes = dict(df.dtypes)
    out_schema = (
        f"{conv_col} {dtypes[conv_col]}, {msg_col} {dtypes[msg_col]},"
        " depth int, path_ids string, path_roles string,"
        " is_complete boolean"
    )

    def _norm(v):
        # Arrow->pandas renders nullable ints as float64: fold an
        # integral float back to int so ids compare and print stably
        if v is None or pd.isna(v):
            return None
        if isinstance(v, float) and v.is_integer():
            return int(v)
        return v

    def _walk_conv(conv, parent, role, rows):
        has_child = {p for p in parent.values() if p is not None}
        leaves = [m for m in parent if m not in has_child]
        if not leaves:
            # pure parent cycle: every message is someone's parent,
            # so no leaf exists and the conversation would vanish
            # from the output entirely — emit ONE sentinel walk from
            # the smallest msg_id (deterministic pseudo-leaf); the
            # in-walk cycle detector below marks it is_complete=False
            non_null = [m for m in parent if m is not None]
            if not non_null:
                return
            leaves = [min(non_null)]
        for leaf in leaves:
            ids, cur, seen, complete = [], leaf, set(), True
            while True:
                if cur in seen:  # parent cycle: bail, observable
                    complete = False
                    break
                seen.add(cur)
                ids.append(cur)
                p = parent.get(cur)
                if p is None:
                    break
                if p not in parent:  # dangling parent pointer
                    complete = False
                    break
                cur = p
            ids.reverse()
            rows.append(
                (
                    conv,
                    leaf,
                    len(ids),
                    ">".join(str(i) for i in ids),
                    ">".join(str(role.get(i, "")) for i in ids),
                    complete,
                )
            )

    cols = [
        conv_col, msg_col, "depth", "path_ids", "path_roles",
        "is_complete",
    ]

    def _paths(batches) -> "pd.DataFrame":
        # one call per PARTITION: concatenate the Arrow batches (a
        # conversation may straddle batch boundaries within the
        # partition), then group in pandas — per-conversation Python
        # call overhead amortizes over the whole partition
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        rows: list = []
        for conv, g in pdf.groupby(conv_col, sort=False, dropna=False):
            parent, role = {}, {}
            for mid, p, r in zip(
                g[msg_col], g[parent_col], g[role_col]
            ):
                mid = _norm(mid)
                parent[mid] = _norm(p)
                role[mid] = r
            _walk_conv(conv, parent, role, rows)
        yield pd.DataFrame(rows, columns=cols)

    return (
        df.select(conv_col, msg_col, parent_col, role_col)
        .repartition(F.col(conv_col))
        .mapInPandas(_paths, out_schema)
        .withColumnRenamed(msg_col, "leaf_id")
    )


def preference_length_bias(
    pairs: DataFrame,
    chosen_col: str = "chosen_response",
    rejected_col: str = "rejected_response",
) -> DataFrame:
    """Length-bias report for preference data — the known DPO/reward-
    model failure mode (Singhal et al. 2023: when chosen responses
    are systematically LONGER, the trained reward learns verbosity,
    not quality; every preference release needs this number next to
    z85's margin report): over a :func:`preference_pairs` frame, ONE
    scalar row — pair count, how often chosen is longer / shorter /
    tied (NULL-response pairs counted separately, never silently
    dropped), mean chosen/rejected char lengths (ROUND 6) and the
    mean length gap. ``frac_chosen_longer`` far above 0.5 is the
    red flag.

    Scale shape: map-only length projections into ONE global
    aggregate of counts/sums — all map-side combinable; output is
    one row by definition.
    """
    cl = F.length(chosen_col)
    rl = F.length(rejected_col)
    both = cl.isNotNull() & rl.isNotNull()
    n_valid = F.sum(both.cast("bigint")).cast("bigint")
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((~both).cast("bigint")).cast("bigint").alias("n_null"),
        F.sum((both & (cl > rl)).cast("bigint"))
        .cast("bigint")
        .alias("n_chosen_longer"),
        F.sum((both & (cl < rl)).cast("bigint"))
        .cast("bigint")
        .alias("n_rejected_longer"),
        F.sum((both & (cl == rl)).cast("bigint"))
        .cast("bigint")
        .alias("n_tied_len"),
        F.round(
            F.sum(F.when(both, cl)).cast("double") / n_valid, 6
        ).alias("mean_chosen_chars"),
        F.round(
            F.sum(F.when(both, rl)).cast("double") / n_valid, 6
        ).alias("mean_rejected_chars"),
        F.round(
            F.sum(F.when(both, cl - rl)).cast("double") / n_valid, 6
        ).alias("mean_len_gap"),
        F.round(
            F.sum((both & (cl > rl)).cast("bigint")).cast("double")
            / n_valid,
            6,
        ).alias("frac_chosen_longer"),
    )


def truncate_conversation(
    df: DataFrame,
    messages_col: str = "messages",
    max_chars: int = 4096,
    keep_system: bool = True,
    out_col: str = "messages_fit",
) -> DataFrame:
    """Context-budget truncation for conversations — the SFT-prep
    step for dialogues longer than the model's context: keep the
    leading system message (when ``keep_system``) plus the LONGEST
    SUFFIX of the remaining turns whose total content length fits
    ``max_chars`` — the standard sliding-context recipe (recent turns
    carry the training signal; dropping the OLDEST turns preserves
    the local exchange structure, and a suffix cut never splits a
    turn). Emits ``out_col`` (the fitted message array),
    ``n_turns_dropped``, ``chars_kept`` and ``over_budget`` (True
    when even the kept prefix — a lone system message longer than the
    whole budget — exceeds it; observable, never silently emitted as
    fitting). NULL message arrays pass through NULL with NULL
    accounting.

    Scale shape: pure Catalyst array algebra over the projection-
    bound message array — suffix sums via ``aggregate`` over
    ``slice`` per candidate cut (O(turns²) per row, turns are tens
    by construction), map-only, no UDF, no shuffle. Mirrors into
    DuckDB list ops for the oracle (z101).
    """
    if max_chars < 0:
        raise ValueError(f"max_chars must be >= 0, got {max_chars}")
    b = df.withColumn("_tc_m", F.col(messages_col))
    m = F.col("_tc_m")
    n = F.size(m)
    clen = lambda x: F.coalesce(F.length(x["content"]), F.lit(0))  # noqa: E731
    has_sys = (
        F.lit(bool(keep_system))
        & (n >= 1)
        & (F.element_at(m, 1)["role"] == "system")
    )
    sys_arr = F.when(has_sys, F.slice(m, 1, 1)).otherwise(
        F.array().cast(df.schema[messages_col].dataType)
    )
    sys_chars = F.when(
        has_sys, clen(F.element_at(m, 1))
    ).otherwise(F.lit(0))
    body = F.when(has_sys, F.slice(m, 2, F.greatest(n - 1, F.lit(0)))).otherwise(m)
    nb = F.size(body)
    budget = F.lit(int(max_chars)) - sys_chars

    def suffix_sum(i):
        return F.aggregate(
            F.slice(body, i, nb - i + 1),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + clen(x),
        )

    # suffix sums are monotone non-increasing in i, so valid cuts
    # form a suffix of 1..nb: first valid = nb + 1 - count(valid).
    # sequence(1, 0) is DESCENDING [1, 0] — guard the empty body.
    n_valid = F.when(
        nb >= 1,
        F.size(
            F.filter(
                F.sequence(F.lit(1), nb),
                lambda i: suffix_sum(i) <= budget,
            )
        ),
    ).otherwise(F.lit(0))
    cut = nb + 1 - n_valid
    kept_body = F.slice(body, cut, nb - cut + 1)
    fitted = F.concat(sys_arr, kept_body)
    chars_kept = sys_chars.cast("bigint") + suffix_sum(cut)
    out = (
        b.withColumn(
            out_col, F.when(m.isNotNull(), fitted)
        )
        .withColumn(
            "n_turns_dropped",
            F.when(m.isNotNull(), (cut - 1).cast("bigint")),
        )
        .withColumn(
            "chars_kept", F.when(m.isNotNull(), chars_kept)
        )
        .withColumn(
            "over_budget",
            F.when(m.isNotNull(), sys_chars > F.lit(int(max_chars))),
        )
        .drop("_tc_m")
    )
    return out


def json_output_qc(
    df: DataFrame,
    col: str = "response",
    required_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Structured-output QC — the validity gate for JSON-mode SFT
    data (function-calling / tool-use / extraction sets train the
    model to EMIT json; a response that does not parse, is not an
    object, or misses a contract key is a corrupt label, and public
    tool-use sets ship plenty of each): appends ``is_valid_json``
    (parses at all, Spark's JSON parser = the training-side parser),
    ``is_object``, ``missing_keys`` (the ``required_keys`` not
    present, in contract order — ALL of them when the response is
    not an object, since none are reachable) and ``qc_pass``. NULL
    responses keep NULL flags — observable, the caller decides.

    Scale shape: pure per-row JSON expressions (``try_parse_json``,
    ``json_object_keys``, array algebra) — map-only, no UDF, no
    shuffle. Parser caveat: edge dialects (trailing commas) differ
    between JSON parsers; the gate's contract is SPARK's parser.
    """
    c = F.col(col)
    keys = F.json_object_keys(c)
    is_valid = F.try_parse_json(c).isNotNull()
    is_object = keys.isNotNull()
    req = F.array(*[F.lit(k) for k in required_keys]).cast(
        "array<string>"
    )
    missing = F.when(is_object, F.array_except(req, keys)).otherwise(
        req
    )
    present = c.isNotNull()
    return (
        df.withColumn(
            "is_valid_json", F.when(present, is_valid)
        )
        .withColumn("is_object", F.when(present, is_object))
        .withColumn("missing_keys", F.when(present, missing))
        .withColumn(
            "qc_pass",
            F.when(present, is_object & (F.size(missing) == 0)),
        )
    )


#: Characters that legitimately end a completed response.
SENTENCE_ENDERS = ".!?\"')]}`"

#: ChatML-family control tokens that must never appear INSIDE
#: message content (template injection / serialization leaks).
CONTROL_TOKENS = ("<|im_start|>", "<|im_end|>", "<|endoftext|>")


def _count_occurrences(col: Column, needle: str) -> Column:
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("bigint")


def truncation_artifacts(
    df: DataFrame,
    col: str = "response",
) -> DataFrame:
    """Truncated-generation detector — the SFT label-QC rule set for
    responses that were CUT OFF rather than completed (a sampling
    window ran out mid-answer; training on them teaches the model to
    stop mid-sentence): per row, ``ends_mid_sentence`` (last
    non-whitespace char not a terminator from
    :data:`SENTENCE_ENDERS`; empty counts as unterminated),
    ``unbalanced_fence`` (odd number of \\`\\`\\` code fences),
    ``unbalanced_brackets`` (mismatched ()/[]/{} counts — the cheap
    proxy; a full parser is not the corpus-scan trade),
    ``trailing_ellipsis`` (rtrimmed text ending ``...`` or ``…``)
    and the OR-combined ``truncation_flag``. NULL text keeps NULL
    flags.

    Scale shape: pure codegen'd string expressions (length/replace/
    substring arithmetic) — map-only, no UDF, no shuffle; mirrors
    verbatim into DuckDB string ops (z103).
    """
    c = F.col(col)
    t = F.rtrim(c)
    last = F.substring(t, -1, 1)
    ends_mid = (F.length(t) == 0) | ~F.contains(
        F.lit(SENTENCE_ENDERS), last
    )
    fence = _count_occurrences(c, "```") % 2 != 0
    unbal = (
        (_count_occurrences(c, "(") != _count_occurrences(c, ")"))
        | (_count_occurrences(c, "[") != _count_occurrences(c, "]"))
        | (_count_occurrences(c, "{") != _count_occurrences(c, "}"))
    )
    ellipsis = t.endswith("...") | t.endswith("…")
    present = c.isNotNull()
    out = (
        df.withColumn(
            "ends_mid_sentence", F.when(present, ends_mid)
        )
        .withColumn("unbalanced_fence", F.when(present, fence))
        .withColumn("unbalanced_brackets", F.when(present, unbal))
        .withColumn("trailing_ellipsis", F.when(present, ellipsis))
    )
    return out.withColumn(
        "truncation_flag",
        F.when(
            present,
            ends_mid | fence | unbal | ellipsis,
        ),
    )


def control_token_scan(
    df: DataFrame,
    col: str = "response",
    tokens: tuple[str, ...] = CONTROL_TOKENS,
) -> DataFrame:
    """Template-injection scan — content that CONTAINS chat-template
    control tokens (a serialization bug upstream, a scraped chat log,
    or a prompt-injection attempt; training on it teaches the model
    to emit or obey stray control tokens): per row, one occurrence
    count per configured token (``n_<slug>``) plus
    ``n_control_tokens`` and ``control_flag``. NULL text keeps NULL
    counts.

    Scale shape: one length/replace count expression per token —
    codegen'd, map-only; mirrors verbatim into DuckDB (z104).
    """
    if not tokens:
        raise ValueError("tokens must be non-empty")
    c = F.col(col)
    present = c.isNotNull()
    out = df
    counts = []
    for tok in tokens:
        slug = "n_" + "".join(
            ch if ch.isalnum() else "_" for ch in tok
        ).strip("_")
        cnt = _count_occurrences(c, tok)
        counts.append(cnt)
        out = out.withColumn(slug, F.when(present, cnt))
    total = counts[0]
    for cnt in counts[1:]:
        total = total + cnt
    return out.withColumn(
        "n_control_tokens", F.when(present, total.cast("bigint"))
    ).withColumn("control_flag", F.when(present, total > 0))


def prompt_echo_score(
    df: DataFrame,
    prompt_col: str = "prompt",
    response_col: str = "response",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Prompt-parroting detector — the degenerate-SFT-pair rule
    (a response that mostly REPEATS the prompt carries no training
    signal and teaches echoing): ``echo_score`` = fraction of the
    response's distinct word ``n``-grams that also occur in the
    prompt (ROUND 6), ``echoed`` = score >= ``threshold``. Responses
    with no ``n``-gram (shorter than ``n`` tokens) keep a NULL score
    — too short to judge, observable. NULL either side → NULL.

    Scale shape: per-row distinct-shingle arrays +
    ``array_intersect`` — pure Catalyst array algebra, map-only, no
    shuffle (contrast z96, which needs CORPUS-wide gram frequencies;
    echo is a row-local property). Mirrors into DuckDB list ops
    (z105).
    """
    pg = shingles(prompt_col, n)
    rg = shingles(response_col, n)
    both = F.col(prompt_col).isNotNull() & F.col(
        response_col
    ).isNotNull()
    # bind the shingle arrays as PROJECTED attributes before scoring:
    # CollapseProject would otherwise re-inline the tokenizer into
    # every downstream reference (the url_features tree-duplication
    # hazard — O(tokens²) regexp work per row on long documents)
    b = df.withColumn("_pe_pg", pg).withColumn("_pe_rg", rg)
    score = F.round(
        F.size(F.array_intersect(F.col("_pe_rg"), F.col("_pe_pg")))
        .cast("double")
        / F.nullif(
            F.size(F.col("_pe_rg")).cast("double"), F.lit(0.0)
        ),
        6,
    )
    return (
        b.withColumn("echo_score", F.when(both, score))
        .withColumn(
            "echoed",
            F.when(
                both & F.col("echo_score").isNotNull(),
                F.col("echo_score") >= float(threshold),
            ),
        )
        .drop("_pe_pg", "_pe_rg")
    )


def group_zscore(
    df: DataFrame,
    group_col: str = "prompt_id",
    score_col: str = "score",
    out_col: str = "score_z",
) -> DataFrame:
    """Per-group reward normalization — the step between reward
    scoring and pairing/weighting in an RLHF pipeline (raw reward
    scales drift across prompts and reward-model versions; GRPO-
    style advantages and best-of-n weighting both want the score's
    position WITHIN its prompt's sample group, not its absolute
    value): ``(score - group mean) / group stddev`` (sample stddev),
    appended with the group ``n_valid``/``score_mean``/``score_std``
    so the normalization is auditable. Groups with fewer than 2
    valid scores or zero variance keep a NULL z (no position
    information — observable, never forged as 0). NULL scores keep
    NULL z and do not perturb the group stats. Rows with a NULL
    group key keep NULL stats and z too (the stats join is a LEFT
    join — NULL keys never equi-match, so an inner join would
    silently drop those rows).

    Scale shape: ONE map-side-combinable hash agg per group
    (count/mean/stddev) + the equi-join back on the group key —
    the kto_labels shape; no window, no sort.
    """
    score = F.col(score_col).cast("double")
    stats = df.groupBy(group_col).agg(
        F.sum(score.isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_valid"),
        F.avg(score).alias("score_mean"),
        F.stddev_samp(score).alias("score_std"),
    )
    joined = df.join(stats, group_col, "left")
    z = F.when(
        score.isNotNull()
        & (F.col("n_valid") >= 2)
        & F.col("score_std").isNotNull()
        & (F.col("score_std") > 0),
        (score - F.col("score_mean")) / F.col("score_std"),
    )
    return joined.withColumn(out_col, z)


def _best_scores(
    df: DataFrame, prompt_col: str, model_col: str, score_col: str
) -> DataFrame:
    """Best-of-n reduction: one row per (prompt ``_p``, model ``_m``)
    carrying that model's max score ``_s`` on the prompt (NULL
    scores dropped) — one map-side-combinable hash agg."""
    return (
        df.where(F.col(score_col).isNotNull())
        .groupBy(prompt_col, model_col)
        .agg(F.max(F.col(score_col).cast("double")).alias("_s"))
        .select(
            F.col(prompt_col).alias("_p"),
            F.col(model_col).alias("_m"),
            "_s",
        )
    )


def _model_pairs(best: DataFrame, *vals: str) -> DataFrame:
    """The z113 pair build over one row per (prompt ``_p``, model
    ``_m``): ONE prompt-keyed self-join to every model pair
    ``model_a < model_b`` that shares the prompt, each value column
    ``v`` carried as ``{v}a`` / ``{v}b``. The join explodes in MODELS
    (k²/2 rows per prompt), never in prompts."""

    def side(s: str) -> DataFrame:
        return best.select(
            "_p",
            F.col("_m").alias(f"model_{s}"),
            *(F.col(v).alias(f"{v}{s}") for v in vals),
        )

    return (
        side("a")
        .join(side("b"), "_p")
        .where(F.col("model_a") < F.col("model_b"))
    )


#: the win-matrix columns every Bradley–Terry fit reads
_MATRIX_COLS = ("model_a", "model_b", "wins_a", "wins_b", "ties")


def _matrix_tuples(rows) -> list[tuple]:
    """Collected win-matrix rows (Spark rows or dicts) as the
    ``(model_a, model_b, wins_a, wins_b, ties)`` tuples
    :func:`_bt_mm_core` reads, sorted by pair — the sorted read is
    the fits' bit-identical-refit contract. float(), not int(): the
    counts may be decay-WEIGHTED effective wins (the streaming
    monitor's half-life leaderboard); integer matrices pass through
    bit-identically either way."""
    return sorted(
        (
            (
                r["model_a"], r["model_b"], float(r["wins_a"]),
                float(r["wins_b"]), float(r["ties"]),
            )
            for r in rows
        ),
        key=lambda t: (t[0], t[1]),
    )


def _bt_rating(strength: float) -> float:
    """Elo-scale rating of a geometric-mean-1 BT strength: 400 points
    per decade, centred at 0."""
    return 400.0 * math.log10(strength)


def _bt_fit_rows(
    tuples: list, smoothing: float, max_iter: int = 1000,
    tol: float = 1e-12,
) -> list[dict]:
    """:func:`bradley_terry_fit`'s rows, driver-side over sorted
    matrix tuples — one dict per model (``model, strength, rating,
    wins_eff, n_games, n_iter, converged``), sorted rating-desc then
    model-asc as Spark sorts (NaN first). The streaming monitor writes
    these without a Spark job."""
    models, pi, wins, games, n_iter, converged = _bt_mm_core(
        tuples, smoothing, max_iter, tol
    )
    out = [
        {
            "model": m,
            "strength": p,
            "rating": _bt_rating(p),
            "wins_eff": w,
            "n_games": g,
            "n_iter": n_iter,
            "converged": converged,
        }
        for m, p, w, g in zip(models, pi, wins, games)
    ]
    return _driver_topn(out, "rating", len(out), ["model"])


def _bt_boot_check(caller: str, n_boot: int, smoothing: float) -> None:
    """Argument check of every bootstrap, run before any Spark job."""
    if not float(smoothing) > 0:
        raise ValueError(
            f"{caller}: smoothing must be > 0 — a bootstrap replicate "
            "can resample away all of a model's wins, and its fit "
            "must stay finite"
        )
    if int(n_boot) < 1:
        raise ValueError(
            f"{caller}: n_boot must be >= 1 — the interval bounds are "
            f"quantiles over the replicate ratings (got {n_boot})"
        )


#: the bootstraps' output columns, one row per model
_BT_CI_DDL = (
    "model string, strength double, rating double,"
    " rating_lo double, rating_hi double, n_games double, n_boot int"
)


def _bt_interval_rows(
    point: list,
    replicates,
    n_boot: int,
    smoothing: float,
    max_iter: int,
    tol: float,
    lo: float,
    hi: float,
    caller: str,
) -> list[dict]:
    """Bootstrap interval rows over sorted matrix tuples: the point fit
    on ``point``, and per model the nearest-rank ``lo``/``hi``
    quantiles of the ratings fitted on each of the ``n_boot``
    ``replicates`` (sorted; index ``floor(lo*(B-1))`` /
    ``ceil(hi*(B-1))`` — a fixed, engine-stable rule). One dict per
    model (``model, strength, rating, rating_lo, rating_hi, n_games,
    n_boot``), sorted rating-desc then model-asc."""
    models, pi, _, games, _, _ = _bt_mm_core(
        point, smoothing, max_iter, tol, caller=caller
    )
    ratings = {m: [] for m in models}
    for rep in replicates:
        bm, bpi, _, _, _, _ = _bt_mm_core(
            rep, smoothing, max_iter, tol, caller=caller
        )
        for m, p in zip(bm, bpi):
            ratings[m].append(_bt_rating(p))
    i_lo = int(math.floor(lo * (int(n_boot) - 1)))
    i_hi = int(math.ceil(hi * (int(n_boot) - 1)))
    out = []
    for m, p, g in zip(models, pi, games):
        rs = sorted(ratings[m])
        out.append(
            {
                "model": m,
                "strength": p,
                "rating": _bt_rating(p),
                "rating_lo": rs[i_lo],
                "rating_hi": rs[i_hi],
                "n_games": g,
                "n_boot": int(n_boot),
            }
        )
    return _driver_topn(out, "rating", len(out), ["model"])


def pairwise_winrate(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    model_col: str = "model",
    score_col: str = "score",
) -> DataFrame:
    """Pairwise win-rate matrix — the arena-style readout for
    multi-model preference data (k models each scored on shared
    prompts; before fitting Elo/Bradley-Terry, every release reads
    the raw head-to-head table): for every model pair (a < b
    lexicographically), over the prompts where BOTH have a scored
    sample, count a-wins / b-wins / ties and the ROUND-6
    ``win_rate_a`` (ties count half, the standard convention).
    Multiple samples of one model on one prompt are reduced to that
    model's BEST score first (per-prompt max — the best-of-n
    convention), so the comparison is one row per (prompt, model).

    Scale shape: one map-side-combinable (prompt, model) max-agg,
    ONE prompt-keyed self-join producing k²/2 rows per prompt
    (k = models, a handful by construction — the join explodes in
    MODELS, never in prompts), and one (model_a, model_b) hash agg
    to a k²-sized report.
    """
    pairs = _model_pairs(
        _best_scores(df, prompt_col, model_col, score_col), "_s"
    )
    wins_a = F.sum(
        (F.col("_sa") > F.col("_sb")).cast("bigint")
    ).cast("bigint")
    wins_b = F.sum(
        (F.col("_sa") < F.col("_sb")).cast("bigint")
    ).cast("bigint")
    ties = F.sum(
        (F.col("_sa") == F.col("_sb")).cast("bigint")
    ).cast("bigint")
    n = F.count(F.lit(1)).cast("bigint")
    return pairs.groupBy("model_a", "model_b").agg(
        n.alias("n_prompts"),
        wins_a.alias("wins_a"),
        wins_b.alias("wins_b"),
        ties.alias("ties"),
        F.round(
            (
                wins_a.cast("double")
                + ties.cast("double") / 2
            )
            / n.cast("double"),
            6,
        ).alias("win_rate_a"),
    )


def bradley_terry_fit(
    matrix: DataFrame,
    smoothing: float = 0.0,
    max_iter: int = 1000,
    tol: float = 1e-12,
) -> DataFrame:
    """Bradley–Terry strength fit over a :func:`pairwise_winrate`
    matrix — the arena-style model comparison the win-rate table is
    the sufficient statistic for (Bradley & Terry 1952; the z113
    head-to-head counts are exactly the ``w_ab`` the likelihood
    needs): model strengths ``pi`` maximizing
    ``prod p_ab^w_ab`` with ``p_ab = pi_a/(pi_a+pi_b)``, fitted with
    Hunter's (2004) MM iteration
    ``pi_i <- W_i / sum_j n_ij/(pi_i+pi_j)``. Ties count HALF a win
    to each side — the same convention as ``win_rate_a``, so the fit
    and the raw table read consistently. ``smoothing`` adds that
    many pseudo-wins to BOTH directions of every observed pair (a
    symmetric prior that keeps strengths finite when some model
    never wins; with the default 0, a model with zero effective wins
    RAISES — a -inf rating forged as a number is the silent failure
    mode).

    Deterministic anchor/tie contract: strengths start at 1, are
    re-normalized to geometric mean 1 every sweep (so ``rating =
    400*log10(strength)`` is an Elo-scale score centred at 0 — the
    familiar 400-point-per-decade convention), and the input counts
    are read in sorted (model_a, model_b) order — bit-identical
    refits on re-run. If the comparison graph is disconnected,
    cross-component ratios are unidentifiable by construction
    (within-component orderings are still exact); the deterministic
    init keeps even that case reproducible.

    Returns one row per model: ``(model, strength, rating,
    wins_eff, n_games, n_iter, converged)``.

    Scale shape: the matrix is k²-sized (k = models, a handful) —
    collected to the driver, fitted with a model-sized NumPy loop,
    returned as a local relation in rating order
    (:func:`~topn_spark.plans.local_frame`). The DATA-sized work
    already happened in :func:`pairwise_winrate`; fitting on the
    sufficient statistic is exactly why the win matrix exists.
    """
    rows = _matrix_tuples(matrix.select(*_MATRIX_COLS).collect())
    schema = (
        "model string, strength double, rating double,"
        " wins_eff double, n_games double, n_iter int,"
        " converged boolean"
    )
    # empty matrix (e.g. deploy-phase schema propagation): empty
    # ratings frame, correct schema, nothing executed
    out = _bt_fit_rows(rows, smoothing, max_iter, tol) if rows else []
    return local_frame(matrix.sparkSession, out, schema)


def _bt_mm_core(
    rows: list,
    smoothing: float,
    max_iter: int,
    tol: float,
    caller: str = "bradley_terry_fit",
):
    """Hunter-MM Bradley–Terry core shared by the point fit and the
    bootstrap: ``rows`` is a sorted list of ``(model_a, model_b,
    wins_a, wins_b, ties)`` float counts (:func:`_matrix_tuples`;
    weighted for bootstrap replicates). Returns ``(models, pi, wins,
    games, n_iter, converged)`` with the per-sweep geometric-mean-1
    anchor — the deterministic contract both callers share."""
    models = sorted({m for r in rows for m in (r[0], r[1])})
    idx = {m: i for i, m in enumerate(models)}
    k = len(models)
    # effective directed wins (ties half, symmetric smoothing)
    w = [[0.0] * k for _ in range(k)]
    for ma, mb, wa, wb, t in rows:
        i, j = idx[ma], idx[mb]
        w[i][j] += wa + t / 2.0 + float(smoothing)
        w[j][i] += wb + t / 2.0 + float(smoothing)
    wins = [sum(w[i][j] for j in range(k)) for i in range(k)]
    games = [
        sum(w[i][j] + w[j][i] for j in range(k)) for i in range(k)
    ]
    zero = [models[i] for i in range(k) if wins[i] <= 0.0]
    if zero:
        raise ValueError(
            f"{caller}: model(s) with zero effective wins "
            f"{zero} — the MLE strength is 0 (rating -inf); pass "
            "smoothing > 0 to regularize"
        )
    pi = [1.0] * k
    n_iter, converged = 0, False
    for n_iter in range(1, int(max_iter) + 1):
        new = []
        for i in range(k):
            denom = sum(
                (w[i][j] + w[j][i]) / (pi[i] + pi[j])
                for j in range(k)
                if j != i and (w[i][j] + w[j][i]) > 0
            )
            new.append(wins[i] / denom if denom > 0 else pi[i])
        # geometric-mean-1 anchor, every sweep
        log_gm = sum(math.log(p) for p in new) / k
        new = [p / math.exp(log_gm) for p in new]
        delta = max(
            abs(math.log(new[i]) - math.log(pi[i])) for i in range(k)
        )
        pi = new
        if delta < tol:
            converged = True
            break
    return models, pi, wins, games, n_iter, converged


#: cumulative Poisson(1) CDF, P(X <= k) for k = 0..6 — the inverse-CDF
#: table the deterministic bootstrap weights are drawn through (weights
#: above 7 have probability < 1e-4 and are capped). The EXACT constants
#: are part of the reproducibility contract (oracle mirrors them).
POISSON1_CDF: tuple[float, ...] = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def bradley_terry_bootstrap(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    model_col: str = "model",
    score_col: str = "score",
    n_boot: int = 100,
    smoothing: float = 0.5,
    max_iter: int = 1000,
    tol: float = 1e-12,
    lo: float = 0.025,
    hi: float = 0.975,
    salt: str = "",
) -> DataFrame:
    """Bradley–Terry ratings WITH bootstrap confidence intervals —
    the arena-leaderboard shape (a rating without its interval is
    misread the moment two models are 10 points apart on 50
    prompts): the prompt-level bootstrap standard in public arena
    methodology, run DISTRIBUTED via deterministic Poisson(1)
    resampling weights (the classic Poisson-bootstrap approximation
    of multinomial resampling — each prompt's weight in replicate b
    is an inverse-CDF draw through :data:`POISSON1_CDF` from the
    uniform ``md5(prompt‖':'‖b‖salt)``, so every run/engine
    reproduces the same replicates). Replicate ``-1`` is the
    original sample (weight 1 everywhere) and provides the point
    estimate; ``rating_lo``/``rating_hi`` are the nearest-rank
    ``lo``/``hi`` quantiles over the ``n_boot`` replicate ratings
    (sorted; index ``floor(lo*(B-1))`` / ``ceil(hi*(B-1))`` — a
    fixed, engine-stable rule). ``smoothing`` must be positive: a
    bootstrap replicate routinely resamples away a model's every
    win, and the fit on that replicate must stay finite.

    Returns ``(model, strength, rating, rating_lo, rating_hi,
    n_games, n_boot)`` sorted by rating descending.

    Scale shape: the data-sized work is one (prompt, model) max-agg
    and ONE prompt-keyed self-join exploding in MODELS (exactly
    :func:`pairwise_winrate`); the replicate explode happens on the
    already-reduced (prompt, pair) outcome rows and feeds a
    map-side-combinable hash agg, so the shuffle carries at most
    ``(n_boot+1)·k²`` rows per task — replicate matrices, never
    data. The ``n_boot+1`` driver MM fits run on k²-sized
    statistics (:func:`_bt_mm_core`, the z117 core)."""
    _bt_boot_check("bradley_terry_bootstrap", n_boot, smoothing)
    pairs = (
        _model_pairs(
            _best_scores(df, prompt_col, model_col, score_col), "_s"
        )
        .select(
            "_p",
            "model_a",
            "model_b",
            (F.col("_sa") > F.col("_sb")).cast("double").alias("_wa"),
            (F.col("_sa") < F.col("_sb")).cast("double").alias("_wb"),
            (F.col("_sa") == F.col("_sb")).cast("double").alias("_t"),
        )
    )
    rep = pairs.withColumn(
        "_b",
        F.explode(F.sequence(F.lit(-1), F.lit(int(n_boot) - 1))),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("_p").cast("string"),
                    F.lit(":"),
                    F.col("_b").cast("string"),
                    F.lit(salt),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") / F.lit(4294967296.0)
    wexpr = F.lit(len(POISSON1_CDF)).cast("double")
    for kk in range(len(POISSON1_CDF) - 1, -1, -1):
        wexpr = F.when(
            u < F.lit(POISSON1_CDF[kk]), F.lit(float(kk))
        ).otherwise(wexpr)
    weight = F.when(F.col("_b") == -1, F.lit(1.0)).otherwise(wexpr)
    mats = (
        rep.withColumn("_w", weight)
        .groupBy("_b", "model_a", "model_b")
        .agg(
            F.sum(F.col("_w") * F.col("_wa")).alias("wins_a"),
            F.sum(F.col("_w") * F.col("_wb")).alias("wins_b"),
            F.sum(F.col("_w") * F.col("_t")).alias("ties"),
        )
        .collect()
    )
    if not mats:
        # no pair ever shares a scored prompt: nothing to rate
        return local_frame(df.sparkSession, [], _BT_CI_DDL)
    by_rep: dict = {}
    for r in mats:
        by_rep.setdefault(int(r["_b"]), []).append(r)
    out = _bt_interval_rows(
        _matrix_tuples(by_rep[-1]),
        (_matrix_tuples(by_rep[bb]) for bb in range(int(n_boot))),
        n_boot, smoothing, max_iter, tol, lo, hi,
        caller="bradley_terry_bootstrap",
    )
    return local_frame(df.sparkSession, out, _BT_CI_DDL)


def bradley_terry_matrix_bootstrap(
    matrix: DataFrame,
    n_boot: int = 100,
    smoothing: float = 0.5,
    max_iter: int = 1000,
    tol: float = 1e-12,
    lo: float = 0.025,
    hi: float = 0.975,
    salt: str = "",
) -> DataFrame:
    """Bradley–Terry ratings with bootstrap CIs from an AGGREGATED
    win matrix — the streaming-monitor shape: the arena monitor's
    state is per-batch k² win matrices (deliberately — matrices,
    never samples), so the prompt-level bootstrap
    (:func:`bradley_terry_bootstrap`, which needs per-prompt
    outcome rows) cannot run over the cumulative/decayed history.
    This runs a MATCH-level Poisson bootstrap instead: resampling
    each match with an i.i.d. Poisson(1) weight makes each
    aggregated count's replicate total Poisson-distributed with
    mean equal to the count (a sum of n independent Poisson(1)
    draws is Poisson(n)), so one deterministic Poisson draw per
    ``(pair, outcome, replicate)`` — seeded from
    ``md5(pair‖replicate‖salt)``, reproducible across runs —
    replaces per-match resampling entirely. Works unchanged on
    WEIGHTED (decayed) matrices: Poisson accepts a real-valued
    mean, which is exactly the effective-count semantics of
    exponential forgetting.

    Honest-scope note (document, don't hide): a match-level
    bootstrap quantifies match-sampling noise only; prompt-level
    correlation (several models scored on the same prompt) is
    unavailable after aggregation, so these intervals can be
    narrower than :func:`bradley_terry_bootstrap`'s on the same
    data — use the prompt-level op for offline leaderboards, this
    one for uncertainty on streaming state.

    Returns ``(model, strength, rating, rating_lo, rating_hi,
    n_games, n_boot)`` sorted by rating descending; empty matrix →
    empty frame. Scale shape: the matrix is k²-sized by
    construction, so the whole computation — ``n_boot + 1`` MM
    fits (:func:`_bt_mm_core`) — is driver math on model-sized
    state; nothing data-sized anywhere."""
    _bt_boot_check("bradley_terry_matrix_bootstrap", n_boot, smoothing)
    rows = _matrix_tuples(matrix.select(*_MATRIX_COLS).collect())
    out = _bt_matrix_bootstrap_rows(
        rows, n_boot, smoothing, max_iter, tol, lo, hi, salt
    ) if rows else []
    return local_frame(matrix.sparkSession, out, _BT_CI_DDL)


def _bt_matrix_bootstrap_rows(
    rows: list,
    n_boot: int,
    smoothing: float,
    max_iter: int = 1000,
    tol: float = 1e-12,
    lo: float = 0.025,
    hi: float = 0.975,
    salt: str = "",
) -> list[dict]:
    """Driver-side core of :func:`bradley_terry_matrix_bootstrap`
    over already-collected ``(model_a, model_b, wins_a, wins_b,
    ties)`` tuples (sorted by pair) — shared with the streaming
    monitor, which holds its k²-sized matrices as plain rows and
    must not pay a Spark job per replicate table. Returns
    :func:`_bt_interval_rows` dicts; the exact replicate seeding
    contract is unchanged (the oracle mirrors it). The caller has
    run :func:`_bt_boot_check`."""
    import hashlib

    import numpy as np

    def replicate(b: int) -> list[tuple]:
        rep = []
        for ma, mb, wa, wb, t in rows:
            seed = int(
                hashlib.md5(
                    f"{ma}|{mb}:{b}{salt}".encode()
                ).hexdigest()[:16],
                16,
            )
            rng = np.random.default_rng(seed)
            rep.append(
                (
                    ma, mb,
                    float(rng.poisson(wa)),
                    float(rng.poisson(wb)),
                    float(rng.poisson(t)),
                )
            )
        return rep

    return _bt_interval_rows(
        rows,
        (replicate(b) for b in range(int(n_boot))),
        n_boot, smoothing, max_iter, tol, lo, hi,
        caller="bradley_terry_matrix_bootstrap",
    )


def save_bt_ratings(ratings: DataFrame, path: str) -> None:
    """Persist a :func:`bradley_terry_fit` frame as parquet
    (coalesced — ratings are model-sized): the release artifact an
    arena leaderboard or a reward-data weighting step loads."""
    ratings.coalesce(1).write.mode("overwrite").parquet(path)


def load_bt_ratings(spark, path: str) -> DataFrame:
    """Load a ratings artifact written by :func:`save_bt_ratings`,
    validating the geometric-mean-1 anchor still holds (a filtered
    or hand-edited artifact would silently shift every rating)."""
    df = spark.read.parquet(path)
    row = df.agg(
        F.avg(F.log("strength")).alias("m"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if row["n"] and abs(row["m"]) > 1e-6:
        raise IOError(
            f"corrupt BT ratings at {path}: mean log-strength "
            f"{row['m']:.2e} != 0 — the geometric-mean-1 anchor is "
            "broken (filtered or edited artifact)"
        )
    return df


def bt_calibration(
    matrix: DataFrame,
    ratings: DataFrame,
    n_bins: int = 10,
) -> DataFrame:
    """Calibration report for a Bradley–Terry fit — the ECE-shaped
    check that the fitted strengths actually PREDICT the observed
    head-to-head outcomes (a fit can order models correctly and
    still be miscalibrated; reward-data weighting by predicted win
    probability inherits that error): every matrix pair scored with
    ``p_pred = s_a/(s_a+s_b)``, bucketed into ``n_bins`` equal
    predicted-probability bins, and per bin: pair count, game count,
    game-weighted mean predicted probability, observed
    ties-count-half win rate, the absolute gap, and ``ece_contrib``
    (gap weighted by the bin's share of games — the report's total
    ECE is ``SUM(ece_contrib)``). All ROUND-6 of exact sums/single
    divisions.

    Scale shape: a broadcast join of the model-sized ratings onto
    the k²-sized matrix (twice, for each side), one hash agg over
    at most ``n_bins`` groups, plus a 1-row total attached by
    broadcast — nothing data-sized anywhere."""
    s = ratings.select(
        F.col("model"), F.col("strength")
    )
    j = (
        matrix.join(
            F.broadcast(
                s.select(
                    F.col("model").alias("model_a"),
                    F.col("strength").alias("_sa"),
                )
            ),
            "model_a",
        )
        .join(
            F.broadcast(
                s.select(
                    F.col("model").alias("model_b"),
                    F.col("strength").alias("_sb"),
                )
            ),
            "model_b",
        )
        .withColumn(
            "_games",
            (
                F.col("wins_a") + F.col("wins_b") + F.col("ties")
            ).cast("double"),
        )
        .withColumn(
            "_weff",
            F.col("wins_a").cast("double")
            + F.col("ties").cast("double") / 2,
        )
        .withColumn(
            "_pred", F.col("_sa") / (F.col("_sa") + F.col("_sb"))
        )
        .withColumn(
            "bin",
            F.least(
                F.lit(int(n_bins) - 1),
                F.floor(F.col("_pred") * int(n_bins)).cast("int"),
            ).cast("int"),
        )
    )
    per_bin = j.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("_games").cast("double").alias("n_games"),
        F.sum(F.col("_pred") * F.col("_games")).alias("_pw"),
        F.sum("_weff").alias("_ow"),
    )
    total = j.agg(F.sum("_games").alias("_tot"))
    pred = F.col("_pw") / F.col("n_games")
    obs = F.col("_ow") / F.col("n_games")
    return (
        per_bin.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n_pairs",
            F.round("n_games", 6).alias("n_games"),
            F.round(pred, 6).alias("mean_predicted"),
            F.round(obs, 6).alias("observed"),
            F.round(F.abs(pred - obs), 6).alias("abs_gap"),
            F.round(
                F.abs(pred - obs) * F.col("n_games") / F.col("_tot"),
                6,
            ).alias("ece_contrib"),
        )
        .orderBy("bin")
    )


def length_controlled_winrate(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    model_col: str = "model",
    score_col: str = "score",
    response_col: str = "response",
    max_iter: int = 25,
    tol: float = 1e-10,
    l2: float = 1.0,
    max_groups: int = 200_000,
) -> DataFrame:
    """Length-controlled win rate per model pair — the arena
    correction for the best-documented judge bias (longer answers
    win more regardless of quality; AlpacaEval 2 made the
    length-controlled variant the headline number): per pair, a
    two-parameter logistic fit ``P(a beats b) = sigmoid(b0 + b1·z)``
    over the pair's shared non-tied prompts, where ``z`` is the
    response-length gap SCALED by the pair's sample std (scale-only
    — not centered, so the intercept's reference point stays at a
    zero gap), reported as ``lc_winrate_a = sigmoid(b0)`` — the win
    probability AT ZERO length gap — beside the raw rate; the gap
    between them is the length bias the raw number hides, and
    ``beta_len`` is its direction/strength. Per (prompt, model) the
    best-of-n row is reduced first (max score; score ties take the
    SHORTEST response — deterministic without an id column). Tied
    pair outcomes carry no win signal for a logistic and are
    excluded (counted in ``n_ties``, observable). Pairs whose
    length gaps have zero variance keep ``beta_len = 0`` (no
    length signal exists) and fit the intercept only. The fit is
    RIDGE-regularized (``l2``, an absolute penalty ``l2·‖β‖²/2`` —
    the sklearn-default-C equivalent the public length-controlled
    evaluators use): under quasi-separation (a pair whose outcomes
    the length gap fully explains) an unpenalized MLE diverges and
    ``sigmoid(b0)`` would saturate to a meaningless 0/1; the
    penalty keeps every pair's fit finite and comparable.

    Scale shape (r14): the z113 shapes (per-(prompt, model) max-agg
    + the prompt-keyed pair self-join that explodes in MODELS)
    produce the pair rows once; then — because a 2-parameter
    logistic over a SINGLE covariate depends on the rows only
    through the multiset of ``(pair, tied, win, length_gap)`` and
    length gaps are integer-valued — ONE map-side-combinable
    grouped-count aggregate is a sufficient statistic for the whole
    fit, and every Newton sweep runs as driver NumPy over the
    (bounded) distinct-gap table: one pair-stream pass instead of
    2 + max_iter sequential jobs. ``max_groups`` bounds the driver
    state; a gap distribution with more distinct values falls back
    to the previous per-sweep distributed-aggregate loop (five
    sums per pair per sweep, coefficients broadcast back as a
    k²-sized literal frame). Convergence stays PER PAIR either way
    (``n_iter``/``converged`` are that pair's own diagnostics), and
    the step logic (ridge, 2×2 solve, ±10 damping) is identical.
    """
    best = (
        df.where(F.col(score_col).isNotNull())
        .groupBy(prompt_col, model_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col(score_col).cast("double")).alias("ns"),
                    F.length(response_col).cast("double").alias("ln"),
                )
            ).alias("_b")
        )
        .select(
            F.col(prompt_col).alias("_p"),
            F.col(model_col).alias("_m"),
            (-F.col("_b.ns")).alias("_s"),
            F.col("_b.ln").alias("_l"),
        )
    )
    pairs = _model_pairs(best, "_s", "_l").select(
        "model_a",
        "model_b",
        (F.col("_sa") > F.col("_sb")).alias("_win"),
        (F.col("_sa") == F.col("_sb")).alias("_tie"),
        (F.col("_la") - F.col("_lb")).alias("_dx"),
    )
    out_ddl = (
        "model_a string, model_b string, n_pairs bigint,"
        " n_ties bigint, raw_winrate_a double,"
        " lc_winrate_a double, beta_len double,"
        " n_iter int, converged boolean"
    )
    grouped = (
        pairs.groupBy("model_a", "model_b", "_tie", "_win", "_dx")
        .agg(F.count(F.lit(1)).alias("_c"))
        .limit(int(max_groups) + 1)
        .collect()
    )
    if len(grouped) <= int(max_groups):
        return local_frame(
            df.sparkSession,
            _lc_winrate_driver(grouped, max_iter, tol, l2),
            out_ddl,
        )

    used = pairs.where(~F.col("_tie")).persist()
    try:
        moments = used.groupBy("model_a", "model_b").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("_win").cast("bigint"))
            .cast("bigint")
            .alias("wins_a"),
            F.avg("_dx").alias("mx"),
            F.stddev_samp("_dx").alias("sx"),
        )
        ties = (
            pairs.where(F.col("_tie"))
            .groupBy("model_a", "model_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_ties"))
        )
        mrows = {
            (r["model_a"], r["model_b"]): r
            for r in moments.collect()
        }
        if not mrows:
            return local_frame(df.sparkSession, [], out_ddl)
        spark = df.sparkSession
        mdf = F.broadcast(moments.select("model_a", "model_b", "sx"))
        # scale-only standardization — NOT centered: sigmoid(b0) must
        # be the win probability at a ZERO length gap, and removing
        # the pair's mean gap would move that reference point
        z = F.when(
            F.col("sx").isNotNull() & (F.col("sx") > 0),
            F.col("_dx") / F.col("sx"),
        ).otherwise(F.lit(0.0))
        zed = used.join(mdf, ["model_a", "model_b"]).select(
            "model_a",
            "model_b",
            F.col("_win").cast("double").alias("_y"),
            z.alias("_z"),
        ).persist()
        betas = {k: (0.0, 0.0) for k in mrows}
        # per-pair convergence: a pair freezes the sweep its own
        # Newton step drops below tol (its n_iter/converged are ITS
        # diagnostics — one pathological pair must not mark every
        # pair non-converged), and frozen pairs drop out of the
        # broadcast join so later sweeps aggregate only active rows
        iters = {k: int(max_iter) for k in mrows}
        conv = {k: False for k in mrows}
        active = set(mrows)
        for sweep in range(1, int(max_iter) + 1):
            if not active:
                break
            bdf = F.broadcast(
                local_frame(
                    spark,
                    [(ka, kb, b0, b1) for (ka, kb), (b0, b1) in
                     sorted(betas.items()) if (ka, kb) in active],
                    "model_a string, model_b string,"
                    " _b0 double, _b1 double",
                )
            )
            eta = F.col("_b0") + F.col("_b1") * F.col("_z")
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
            w = p * (F.lit(1.0) - p)
            stats = (
                zed.join(bdf, ["model_a", "model_b"])
                .groupBy("model_a", "model_b")
                .agg(
                    F.sum(F.col("_y") - p).alias("g0"),
                    F.sum((F.col("_y") - p) * F.col("_z")).alias("g1"),
                    F.sum(w).alias("h00"),
                    F.sum(w * F.col("_z")).alias("h01"),
                    F.sum(w * F.col("_z") * F.col("_z")).alias("h11"),
                )
                .collect()
            )
            for r in stats:
                k = (r["model_a"], r["model_b"])
                b0, b1 = betas[k]
                # ridge: gradient -= l2*beta, Hessian += l2*I
                g0 = float(r["g0"]) - float(l2) * b0
                g1 = float(r["g1"]) - float(l2) * b1
                h00 = float(r["h00"]) + float(l2)
                h01 = float(r["h01"])
                h11 = float(r["h11"]) + float(l2)
                det = h00 * h11 - h01 * h01
                if mrows[k]["sx"] is None or not mrows[k]["sx"] > 0:
                    # zero length variance: intercept-only fit
                    d0 = g0 / h00 if h00 > 0 else 0.0
                    d1 = 0.0
                elif det > 1e-12:
                    d0 = (h11 * g0 - h01 * g1) / det
                    d1 = (h00 * g1 - h01 * g0) / det
                else:
                    d0 = g0 / h00 if h00 > 0 else 0.0
                    d1 = 0.0
                # damp huge separation steps; the fit stays finite
                d0 = max(-10.0, min(10.0, d0))
                d1 = max(-10.0, min(10.0, d1))
                betas[k] = (b0 + d0, b1 + d1)
                if max(abs(d0), abs(d1)) < tol:
                    iters[k] = sweep
                    conv[k] = True
                    active.discard(k)
        zed.unpersist()
        trows = {
            (r["model_a"], r["model_b"]): int(r["n_ties"])
            for r in ties.collect()
        }
        out = []
        for k in sorted(mrows):
            m = mrows[k]
            b0, b1 = betas[k]
            out.append(
                (
                    k[0],
                    k[1],
                    int(m["n"]),
                    trows.get(k, 0),
                    round(float(m["wins_a"]) / float(m["n"]), 6),
                    round(1.0 / (1.0 + math.exp(-b0)), 6),
                    round(b1, 6),
                    iters[k],
                    conv[k],
                )
            )
        return local_frame(spark, out, out_ddl)
    finally:
        used.unpersist()


def _lc_winrate_driver(
    grouped: list, max_iter: int, tol: float, l2: float
) -> list[tuple]:
    """Driver-side Newton fits for :func:`length_controlled_winrate`
    over collected ``(model_a, model_b, _tie, _win, _dx, _c)``
    sufficient-statistic rows — the same per-pair step logic
    (ridge, 2×2 solve, ±10 damping, per-pair convergence) as the
    distributed sweep loop, evaluated over distinct length gaps
    weighted by their counts. Pairs with only tied outcomes carry
    no win signal and drop, matching the distributed path."""
    import numpy as np

    by: dict = {}
    for r in grouped:
        by.setdefault((r["model_a"], r["model_b"]), []).append(r)
    out = []
    for k in sorted(by):
        rs = by[k]
        n_ties = sum(int(r["_c"]) for r in rs if r["_tie"])
        pts = sorted(
            (float(r["_dx"]), bool(r["_win"]), int(r["_c"]))
            for r in rs
            if not r["_tie"]
        )
        if not pts:
            continue
        cnt = np.array([c for _, _, c in pts], dtype=np.float64)
        dx = np.array([g for g, _, _ in pts], dtype=np.float64)
        y = np.array(
            [1.0 if w else 0.0 for _, w, _ in pts], dtype=np.float64
        )
        n = float(cnt.sum())
        wins = float((cnt * y).sum())
        # sample std of the gaps (None below 2 rows, like
        # stddev_samp)
        sx = None
        if n >= 2:
            mean = float((cnt * dx).sum()) / n
            sx = math.sqrt(
                float((cnt * (dx - mean) ** 2).sum()) / (n - 1.0)
            )
        has_sx = sx is not None and sx > 0
        z = dx / sx if has_sx else np.zeros_like(dx)
        b0 = b1 = 0.0
        n_iter, converged = int(max_iter), False
        for sweep in range(1, int(max_iter) + 1):
            eta = b0 + b1 * z
            with np.errstate(over="ignore"):
                p = 1.0 / (1.0 + np.exp(-eta))
            wgt = p * (1.0 - p)
            g0 = float((cnt * (y - p)).sum()) - float(l2) * b0
            g1 = (
                float((cnt * ((y - p) * z)).sum()) - float(l2) * b1
            )
            h00 = float((cnt * wgt).sum()) + float(l2)
            h01 = float((cnt * (wgt * z)).sum())
            h11 = float((cnt * (wgt * z * z)).sum()) + float(l2)
            det = h00 * h11 - h01 * h01
            if not has_sx:
                d0 = g0 / h00 if h00 > 0 else 0.0
                d1 = 0.0
            elif det > 1e-12:
                d0 = (h11 * g0 - h01 * g1) / det
                d1 = (h00 * g1 - h01 * g0) / det
            else:
                d0 = g0 / h00 if h00 > 0 else 0.0
                d1 = 0.0
            d0 = max(-10.0, min(10.0, d0))
            d1 = max(-10.0, min(10.0, d1))
            b0, b1 = b0 + d0, b1 + d1
            if max(abs(d0), abs(d1)) < tol:
                n_iter, converged = sweep, True
                break
        out.append(
            (
                k[0],
                k[1],
                int(n),
                n_ties,
                round(wins / n, 6),
                round(1.0 / (1.0 + math.exp(-b0)), 6),
                round(b1, 6),
                n_iter,
                converged,
            )
        )
    return out
