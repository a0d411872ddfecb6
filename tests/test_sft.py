"""SFT conversation prep (operators/sft.py): chat-template rendering
shapes and the structural QC rule set with first-failure reasons."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from topn_spark.operators.sft import (
    CHAT_TEMPLATES,
    conversation_qc,
    render_chat,
)

_SCHEMA = (
    "conv_id bigint, messages array<struct<role:string,content:string>>"
)


def _conv(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_render_chatml_and_plain(spark):
    df = _conv(
        spark,
        [(1, [("system", "be helpful"), ("user", "hi"),
              ("assistant", "hello")])],
    )
    chatml = render_chat(df).collect()[0].text
    assert chatml == (
        "<|im_start|>system\nbe helpful<|im_end|>\n"
        "<|im_start|>user\nhi<|im_end|>\n"
        "<|im_start|>assistant\nhello<|im_end|>"
    )
    plain = render_chat(df, template="plain").collect()[0].text
    assert plain == "system: be helpful\nuser: hi\nassistant: hello"
    assert set(CHAT_TEMPLATES) == {"chatml", "plain"}
    with pytest.raises(ValueError, match="unknown template"):
        render_chat(df, template="llama")


def test_render_edges_and_out_col(spark):
    df = _conv(spark, [(1, []), (2, None)])
    rows = {r.conv_id: r.text for r in render_chat(df).collect()}
    assert rows[1] == "" and rows[2] is None
    # overwrite an existing column in place
    df2 = _conv(
        spark, [(1, [("user", "hi"), ("assistant", "yo")])]
    ).withColumn("text", F.lit("old"))
    out = render_chat(df2).collect()[0]
    assert out.text.startswith("<|im_start|>user")
    assert out.conv_id == 1


@pytest.mark.parametrize(
    "messages,reason",
    [
        ([("system", "s"), ("user", "q"), ("assistant", "a")], None),
        ([("user", "q"), ("assistant", "a"), ("user", "q2"),
          ("assistant", "a2")], None),
        ([], "no_messages"),
        (None, "no_messages"),
        ([("user", "q"), ("tool", "t"), ("assistant", "a")], "bad_role"),
        ([("user", "q"), ("assistant", "   ")], "empty_content"),
        ([("user", "q"), ("system", "late"), ("assistant", "a")],
         "misplaced_system"),
        ([("user", "q"), ("user", "q2"), ("assistant", "a")],
         "not_alternating"),
        ([("assistant", "a"), ("user", "q")], "not_alternating"),
        ([("system", "only")], "not_alternating"),
        ([("user", "q"), ("assistant", "a"), ("user", "tail")],
         "assistant_last"),
    ],
)
def test_conversation_qc_reasons(spark, messages, reason):
    row = conversation_qc(_conv(spark, [(1, messages)])).collect()[0]
    assert row.qc_reason == reason
    assert row.qc_pass is (reason is None)
    assert row.n_turns == (len(messages) if messages else 0)


def test_conversation_qc_rule_order_and_roles(spark):
    # multiple failures: reason is the FIRST rule in declared order
    row = conversation_qc(
        _conv(spark, [(1, [("tool", "   "), ("user", "q")])])
    ).collect()[0]
    assert row.bad_role and row.empty_content and row.assistant_last
    assert row.qc_reason == "bad_role"
    # custom allowed_roles admits the tool turn (alternation still
    # judges it as a non-user/assistant body turn)
    row2 = conversation_qc(
        _conv(spark, [(1, [("user", "q"), ("tool", "t"),
                           ("assistant", "a")])]),
        allowed_roles=("system", "user", "assistant", "tool"),
    ).collect()[0]
    assert not row2.bad_role
    assert row2.qc_reason == "not_alternating"


def test_redact_conversation_in_place(spark):
    from topn_spark.operators.sft import redact_conversation

    df = _conv(
        spark,
        [
            (1, [("user", "mail bob@x.org or 10.0.0.1"),
                 ("assistant", "call (555) 123-4567 ok")]),
            (2, [("user", "clean"), ("assistant", "also clean")]),
            (3, None),
        ],
    )
    rows = {r.conv_id: r for r in redact_conversation(df).collect()}
    c1 = [m.content for m in rows[1].messages]
    assert c1[0] == "mail |||EMAIL_ADDRESS||| or |||IP_ADDRESS|||"
    assert c1[1] == "call |||PHONE_NUMBER||| ok"
    assert [m.role for m in rows[1].messages] == ["user", "assistant"]
    assert (rows[1].pii_email, rows[1].pii_ip, rows[1].pii_phone,
            rows[1].pii_total) == (1, 1, 1, 3)
    assert rows[2].pii_total == 0
    assert rows[2].messages[0].content == "clean"
    assert rows[3].messages is None and rows[3].pii_total == 0


def test_loss_spans_extracts_assistant_content(spark):
    from topn_spark.operators.sft import loss_spans

    df = _conv(
        spark,
        [
            (1, [("system", "be helpful"), ("user", "hi"),
                 ("assistant", "hello")]),
            (2, [("user", "q1"), ("assistant", "a1"),
                 ("user", "quote: a1"), ("assistant", "a2!")]),
            (3, []),
            (4, None),
            (5, [("user", None), ("assistant", "x")]),
        ],
    )
    for template in ("chatml", "plain"):
        rows = {
            r.conv_id: r
            for r in loss_spans(df, template=template).collect()
        }
        # every span extracts exactly the assistant content, even
        # when a user turn quotes it (conv 2)
        for cid, contents in ((1, ["hello"]), (2, ["a1", "a2!"])):
            r = rows[cid]
            got = [r.text[s.start:s.end] for s in r.loss_spans]
            assert got == contents
            assert r.loss_chars == sum(len(c) for c in contents)
            assert r.total_chars == len(r.text)
        assert list(rows[3].loss_spans) == []
        assert rows[3].loss_chars == 0 and rows[3].total_chars == 0
        assert rows[4].loss_spans is None and rows[4].text is None
        # NULL content poisons the offsets -> spans NULL, observable
        assert rows[5].loss_spans is None
    with pytest.raises(ValueError, match="unknown template"):
        loss_spans(df, template="llama")


def test_preference_pairs_tiebreaks_and_margin(spark):
    from topn_spark.operators.sft import preference_pairs

    df = spark.createDataFrame(
        [
            # prompt 1: clear ordering
            (1, 0, 1.0, "worst"), (1, 1, 9.0, "best"), (1, 2, 5.0, "mid"),
            # prompt 2: all tied -> no positive gap -> dropped
            (2, 0, 3.0, "a"), (2, 1, 3.0, "b"),
            # prompt 3: tie at the top (ids 0,1) and bottom (ids 2,3)
            (3, 0, 8.0, "t0"), (3, 1, 8.0, "t1"),
            (3, 2, 2.0, "b2"), (3, 3, 2.0, "b3"),
            # prompt 4: single sample -> dropped
            (4, 0, 5.0, "only"),
            # prompt 5: gap below margin -> dropped at min_gap=2
            (5, 0, 5.0, "lo"), (5, 1, 6.0, "hi"),
        ],
        "prompt_id long, sample_id long, score double, response string",
    )
    rows = {r.prompt_id: r for r in preference_pairs(df).collect()}
    assert sorted(rows) == [1, 3, 5]
    assert (rows[1].chosen_id, rows[1].rejected_id) == (1, 0)
    assert rows[1].chosen_response == "best"
    assert rows[1].score_gap == 8.0 and rows[1].n_samples == 3
    # top tie -> lowest id; bottom tie -> highest id
    assert (rows[3].chosen_id, rows[3].rejected_id) == (0, 3)
    margin = {r.prompt_id for r in preference_pairs(df, min_gap=2.0).collect()}
    assert margin == {1, 3}


def test_token_loss_mask_offsets_and_overlap(spark):
    from topn_spark.operators.sft import token_loss_mask

    span_t = "array<struct<start:bigint,end:bigint>>"
    df = spark.createDataFrame(
        [
            # ChatML-ish: span covers 'reply 42' whose final token is
            # markup-glued ('42<|im_end|>') -> overlap must supervise it
            (1, "ask q\nreply 42<|im_end|> tail", [(6, 14)]),
            # multi-space + trailing runs: offsets skip empty parts
            (2, "x   y z  ", [(4, 5)]),
            (3, None, [(0, 2)]),          # NULL text
            (4, "words here", None),      # NULL spans
            (5, "", []),                  # empty text + empty spans
            (6, "abc def", []),           # no spans -> all false
        ],
        f"conv_id long, text string, loss_spans {span_t}",
    )
    rows = {r.conv_id: r for r in token_loss_mask(df).collect()}

    r1 = rows[1]
    toks = [(t.tok, t.start, t.end) for t in r1.tokens]
    assert toks == [
        ("ask", 0, 3), ("q", 4, 5), ("reply", 6, 11),
        ("42<|im_end|>", 12, 24), ("tail", 25, 29),
    ]
    # every token's offsets round-trip through the text
    assert all(r1.text[t.start:t.end] == t.tok for t in r1.tokens)
    assert list(r1.loss_mask) == [False, False, True, True, False]
    assert r1.n_supervised == 2

    r2 = rows[2]
    assert [(t.tok, t.start, t.end) for t in r2.tokens] == [
        ("x", 0, 1), ("y", 4, 5), ("z", 6, 7)
    ]
    assert list(r2.loss_mask) == [False, True, False]

    # NULL text / NULL spans -> NULL outputs, observable
    for cid in (3, 4):
        r = rows[cid]
        assert r.tokens is None and r.loss_mask is None
        assert r.n_supervised is None
    # empty text -> zero tokens, zero supervised (not NULL)
    assert list(rows[5].tokens) == [] and rows[5].n_supervised == 0
    # empty span list -> all-false mask
    assert list(rows[6].loss_mask) == [False, False]
    assert rows[6].n_supervised == 0


def test_preference_pairs_null_scores_and_string_ids(spark):
    from topn_spark.operators.sft import preference_pairs

    df = spark.createDataFrame(
        [
            # string ids: tiebreaks compare the raw column
            (1, "s0", 8.0, "t0"), (1, "s1", 8.0, "t1"),
            (1, "s2", 2.0, "b2"), (1, "s3", 2.0, "b3"),
            # NULL scores are excluded BEFORE aggregation: prompt 2
            # still pairs from its two scored samples
            (2, "a", None, "null1"), (2, "b", 1.0, "lo"),
            (2, "c", 4.0, "hi"), (2, "d", None, "null2"),
            # all-NULL prompt -> dropped entirely
            (3, "x", None, "n"), (3, "y", None, "n"),
            # one valid score -> n_samples < 2 -> dropped
            (4, "x", None, "n"), (4, "y", 5.0, "only"),
        ],
        "prompt_id long, sample_id string, score double, response string",
    )
    rows = {r.prompt_id: r for r in preference_pairs(df).collect()}
    assert sorted(rows) == [1, 2]
    # top tie -> lowest id; bottom tie -> highest id; ids stay strings
    assert (rows[1].chosen_id, rows[1].rejected_id) == ("s0", "s3")
    r2 = rows[2]
    assert (r2.chosen_id, r2.rejected_id) == ("c", "b")
    assert r2.n_samples == 2 and r2.score_gap == 3.0
    assert r2.chosen_response == "hi" and r2.rejected_response == "lo"


def test_dedup_conversations_prompt_keyed(spark):
    """dedup_conversations: formatting variants of the same prompt
    collide after normalization, the smallest id survives, and
    keyless/NULL conversations always pass through."""
    from topn_spark.operators.sft import dedup_conversations

    df = _conv(
        spark,
        [
            (5, [("user", "What is   Spark?"), ("assistant", "a")]),
            (2, [("user", "  what is spark? "), ("assistant", "b")]),
            (9, [("user", "what is spark?"), ("assistant", "c")]),
            (3, [("user", "unique prompt"), ("assistant", "d")]),
            (4, [("assistant", "no user turn")]),
            (6, None),
        ],
    )
    out = {r.conv_id: r for r in dedup_conversations(df).collect()}
    # 2 < 5 < 9 share the normalized prompt; keyless 4 and NULL 6 stay
    assert sorted(out) == [2, 3, 4, 6]
    assert out[2].prompt_digest == out[2].prompt_digest
    assert out[4].prompt_digest is None
    assert out[6].prompt_digest is None
    assert out[3].prompt_digest != out[2].prompt_digest


def test_bpe_loss_mask_expands_and_packs(spark):
    """bpe_loss_mask: subtokens inherit their whitespace unit's bit
    (counts reconcile with apply_bpe on the same text), NULL masks
    stay observable, and the output feeds pack_masked_sequences
    directly — the fully tokenizer-aligned SFT chain."""
    from topn_spark.operators.pipeline import pack_masked_sequences
    from topn_spark.operators.sft import bpe_loss_mask

    merges = [("l", "l"), ("h", "e"), ("he", "ll"), ("o", "k")]
    df = spark.createDataFrame(
        [
            (1, ["hello", "ok"], [True, False]),
            (2, ["hell", "no"], [False, True]),
            (3, ["x"], None),
        ],
        "conv_id long, tokens array<string>, loss_mask array<boolean>",
    )
    out = {r.conv_id: r for r in bpe_loss_mask(df, merges).collect()}
    # hello -> hell|o (supervised), ok -> ok (not)
    assert list(out[1].tokens) == ["hell", "o", "ok"]
    assert list(out[1].loss_mask) == [True, True, False]
    assert out[1].n_bpe_tokens == 3 and out[1].n_supervised == 2
    assert list(out[2].tokens) == ["hell", "n", "o"]
    assert list(out[2].loss_mask) == [False, True, True]
    assert out[3].tokens is None and out[3].n_supervised is None

    packed = pack_masked_sequences(
        bpe_loss_mask(df.where(F.col("loss_mask").isNotNull()), merges),
        id_col="conv_id", order_col="conv_id", seq_len=4,
    ).collect()
    assert sum(r.n_tokens for r in packed) == 6
    assert sum(r.n_supervised for r in packed) == 4

    with pytest.raises(ValueError, match="mode"):
        bpe_loss_mask(df, merges, mode="word")


def test_render_multimodal_chat_and_asset_gate(spark):
    """render_multimodal_chat: image turns render the fixed
    placeholder with the aligned asset sidecar in order; the asset
    gate counts dangling references; text-only conversations are
    untouched passthroughs."""
    from topn_spark.operators.sft import (
        render_multimodal_chat,
        validate_conversation_assets,
    )

    df = spark.createDataFrame(
        [
            (1, [("user", None, 10), ("user", "describe", None),
                 ("assistant", "a cat", None)]),
            (2, [("user", "caption: dog", 11),
                 ("assistant", "ok", None)]),
            (3, [("user", "plain", None),
                 ("assistant", "text", None)]),
            (4, [("user", None, 10), ("user", None, 999),
                 ("assistant", "two", None)]),
        ],
        "conv_id long, messages array<struct<"
        "role:string,content:string,asset_id:bigint>>",
    )
    assets = spark.createDataFrame(
        [(10,), (11,), (12,)], "asset_id long"
    )
    out = {
        r.conv_id: r
        for r in validate_conversation_assets(
            render_multimodal_chat(df), assets
        ).collect()
    }
    r1 = out[1]
    assert r1.text.split("\n")[1] == "<|image|><|im_end|>"
    assert list(r1.asset_ids) == [10] and r1.n_images == 1
    assert r1.assets_ok
    # caption turn: text renders, asset still listed
    assert "caption: dog" in out[2].text
    assert list(out[2].asset_ids) == [11]
    assert out[3].n_images == 0 and out[3].assets_ok
    # the dangling 999 counts; placeholder order preserved
    assert list(out[4].asset_ids) == [10, 999]
    assert out[4].n_missing == 1 and not out[4].assets_ok


def test_preference_margin_report_classes(spark):
    from topn_spark.operators.sft import preference_margin_report

    df = spark.createDataFrame(
        [
            (1, 1.0), (1, 9.0), (1, 5.0),        # paired, gap 8
            (2, 3.0), (2, 3.0),                  # tied
            (3, 5.0),                            # single
            (4, None), (4, None),                # no valid score
            (5, None), (5, 2.0), (5, 4.0),       # paired, gap 2
        ],
        "prompt_id long, score double",
    )
    r = preference_margin_report(df).collect()[0]
    assert r.n_prompts == 5
    assert (r.n_no_valid, r.n_single, r.n_tied, r.n_paired) == (
        1, 1, 1, 2,
    )
    assert r.mean_gap == 5.0
    assert (r.min_gap, r.max_gap) == (2.0, 8.0)


def test_unigram_loss_mask_segments_and_ties(spark):
    """unigram_loss_mask: pieces inherit their unit's bit, the tie
    contract picks the longest piece, OOV characters emit raw, and
    the output packs like the BPE path."""
    from topn_spark.operators.sft import unigram_loss_mask

    pieces = [("a", -2.0), ("b", -2.0), ("ab", -4.0), ("c", -1.0)]
    df = spark.createDataFrame(
        [
            # 'ab' as one piece (-4.0) TIES 'a'+'b' (-4.0): longest wins
            (1, ["ab", "cc"], [True, False]),
            (2, ["aZc"], [True]),    # Z is OOV -> raw char
            (3, ["ab"], None),       # NULL mask -> NULL outputs
        ],
        "conv_id long, tokens array<string>, loss_mask array<boolean>",
    )
    out = {r.conv_id: r for r in unigram_loss_mask(df, pieces).collect()}
    assert list(out[1].tokens) == ["ab", "c", "c"]
    assert list(out[1].loss_mask) == [True, False, False]
    assert out[1].n_lm_tokens == 3 and out[1].n_supervised == 1
    assert list(out[2].tokens) == ["a", "Z", "c"]
    assert list(out[2].loss_mask) == [True, True, True]
    assert out[3].tokens is None and out[3].n_supervised is None


# ---------------------------------------------------------------- kto


def _kto_rows(spark, rows):
    return spark.createDataFrame(
        rows, "prompt_id bigint, sample_id bigint, score double"
    )


def test_kto_labels_prompt_mean(spark):
    df = _kto_rows(
        spark,
        [
            (1, 10, 1.0), (1, 11, 3.0), (1, 12, 5.0),
            (2, 20, 4.0), (2, 21, None),
            (3, 30, None), (3, 31, None),
        ],
    )
    from topn_spark.operators.sft import kto_labels

    out = {
        r.sample_id: r
        for r in kto_labels(df).collect()
    }
    # prompt 1: mean 3.0 -> 1.0 undesirable, 3.0/5.0 desirable (>=)
    assert out[10].label is False
    assert out[11].label is True
    assert out[12].label is True
    assert out[10].ref_point == 3.0 and out[10].n_valid == 3
    # prompt 2: single valid score == its own mean -> desirable;
    # the NULL-scored sibling keeps label NULL, never dropped
    assert out[20].label is True
    assert out[21].label is None and out[21].n_valid == 1
    # prompt 3: no valid scores -> NULL ref_point, NULL labels
    assert out[30].label is None and out[30].ref_point is None
    assert out[30].n_valid == 0


def test_kto_labels_fixed_threshold(spark):
    df = _kto_rows(
        spark, [(1, 10, 2.0), (1, 11, 7.0), (1, 12, None)]
    )
    from topn_spark.operators.sft import kto_labels

    out = {
        r.sample_id: r
        for r in kto_labels(df, threshold=5.0).collect()
    }
    assert out[10].label is False and out[10].ref_point == 5.0
    assert out[11].label is True
    # unscored: NULL label AND NULL ref_point under a fixed cut
    assert out[12].label is None and out[12].ref_point is None
    assert all(out[k].n_valid == 2 for k in (10, 11, 12))


def test_kto_labels_null_prompt_key_kept(spark):
    # a NULL prompt key never equi-matches its stats row: the join
    # is LEFT so the row stays observable instead of vanishing
    df = _kto_rows(
        spark, [(1, 10, 2.0), (None, 11, 9.0), (None, 12, None)]
    )
    from topn_spark.operators.sft import kto_labels

    out = {r.sample_id: r for r in kto_labels(df).collect()}
    assert set(out) == {10, 11, 12}
    assert out[11].ref_point is None and out[11].label is None
    assert out[11].n_valid is None

    fixed = {
        r.sample_id: r for r in kto_labels(df, threshold=5.0).collect()
    }
    assert set(fixed) == {10, 11, 12}
    # fixed cut still labels the scored NULL-key row; n_valid is the
    # only joined column and stays NULL
    assert fixed[11].label is True and fixed[11].n_valid is None


# -------------------------------------------- conversation_paths


def test_conversation_paths_tree_and_edge_cases(spark):
    from topn_spark.operators.sft import conversation_paths

    rows = [
        # conv 1: root 10 -> 11 -> 12, branch 10 -> 13
        (1, 10, None, "prompter"),
        (1, 11, 10, "assistant"),
        (1, 12, 11, "prompter"),
        (1, 13, 10, "assistant"),
        # conv 2: single message
        (2, 20, None, "prompter"),
        # conv 3: orphan — parent 99 does not exist
        (3, 30, 99, "assistant"),
        # conv 4: 2-cycle
        (4, 40, 41, "prompter"),
        (4, 41, 40, "assistant"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id bigint, msg_id bigint, parent_id bigint, role string",
    )
    out = {r.leaf_id: r for r in conversation_paths(df).collect()}
    assert out[12].path_ids == "10>11>12" and out[12].depth == 3
    assert out[12].path_roles == "prompter>assistant>prompter"
    assert out[13].path_ids == "10>13" and out[13].is_complete
    assert out[20].depth == 1 and out[20].is_complete
    # orphan: partial path, flagged incomplete
    assert out[30].is_complete is False and out[30].path_ids == "30"
    # pure cycle: no leaf exists, but the conversation must not
    # vanish — ONE incomplete sentinel walk from the smallest msg_id
    assert out[40].conv_id == 4 and out[40].is_complete is False
    assert out[40].path_ids == "41>40" and out[40].depth == 2
    assert set(out) == {12, 13, 20, 30, 40}


def test_conversation_paths_depth_matches_sql_walk(spark):
    from topn_spark.operators.sft import conversation_paths

    # a pure chain of 6: exactly one leaf at depth 6
    rows = [(7, i, None if i == 0 else i - 1, "r") for i in range(6)]
    df = spark.createDataFrame(
        rows,
        "conv_id bigint, msg_id bigint, parent_id bigint, role string",
    )
    got = conversation_paths(df).collect()
    assert len(got) == 1
    assert got[0].depth == 6
    assert got[0].path_ids == "0>1>2>3>4>5"


# ---------------------------------------- preference_length_bias


def test_preference_length_bias_counts(spark):
    from topn_spark.operators.sft import preference_length_bias

    pairs = spark.createDataFrame(
        [
            (1, "long-chosen-response", "short"),
            (2, "tiny", "a-longer-rejected"),
            (3, "same", "size"),
            (4, None, "present"),
        ],
        "prompt_id bigint, chosen_response string,"
        " rejected_response string",
    )
    [r] = preference_length_bias(pairs).collect()
    assert r.n_pairs == 4 and r.n_null == 1
    assert r.n_chosen_longer == 1
    assert r.n_rejected_longer == 1
    assert r.n_tied_len == 1
    # means over the 3 valid pairs only
    assert r.mean_chosen_chars == round((20 + 4 + 4) / 3, 6)
    assert r.frac_chosen_longer == round(1 / 3, 6)


# ----------------------------------------- truncate_conversation


def test_truncate_conversation_suffix_and_system(spark):
    from topn_spark.operators.sft import truncate_conversation

    df = _conv(
        spark,
        [
            (1, [("system", "sys12345"), ("user", "aaaa"),
                 ("assistant", "bbbb"), ("user", "cccc")]),
            (2, [("user", "xxxxxxxxxx"), ("assistant", "yy")]),
            (3, None),
            (4, [("system", "s" * 50)]),
            (5, []),
        ],
    )
    out = {
        r.conv_id: r
        for r in truncate_conversation(df, max_chars=17).collect()
    }
    # budget 17: system (8) kept, suffix [bbbb, cccc] (8) fits,
    # adding aaaa (12) would not -> oldest body turn dropped
    r1 = out[1]
    assert [m.role for m in r1.messages_fit] == [
        "system", "assistant", "user",
    ]
    assert r1.n_turns_dropped == 1 and r1.chars_kept == 16
    assert r1.over_budget is False
    # no system: plain suffix fit
    assert out[2].n_turns_dropped == 0 and out[2].chars_kept == 12
    # NULL conversation passes through NULL accounting
    assert out[3].messages_fit is None
    assert out[3].n_turns_dropped is None
    # system alone exceeding the budget: kept but flagged
    assert out[4].over_budget is True and out[4].chars_kept == 50
    assert out[5].messages_fit == [] and out[5].chars_kept == 0


def test_truncate_conversation_keep_system_false_and_validation(spark):
    import pytest

    from topn_spark.operators.sft import truncate_conversation

    df = _conv(
        spark,
        [(1, [("system", "ssssssss"), ("user", "aa")])],
    )
    [r] = truncate_conversation(
        df, max_chars=5, keep_system=False
    ).collect()
    # system not pinned: it is just an oldest turn, dropped to fit
    assert [m.role for m in r.messages_fit] == ["user"]
    assert r.n_turns_dropped == 1 and r.over_budget is False
    with pytest.raises(ValueError, match="max_chars"):
        truncate_conversation(df, max_chars=-1)


# ------------------------------------------------ json_output_qc


def test_json_output_qc_flags(spark):
    from topn_spark.operators.sft import json_output_qc

    df = spark.createDataFrame(
        [
            (1, '{"answer": "y", "confidence": 1.0}'),
            (2, '{"confidence": 0.5}'),
            (3, "nope {"),
            (4, "[1,2]"),
            (5, None),
        ],
        "id bigint, response string",
    )
    out = {
        r.id: r
        for r in json_output_qc(
            df, required_keys=("answer", "confidence")
        ).collect()
    }
    assert out[1].qc_pass and out[1].missing_keys == []
    assert out[2].is_object and out[2].missing_keys == ["answer"]
    assert not out[2].qc_pass
    assert out[3].is_valid_json is False
    assert out[3].missing_keys == ["answer", "confidence"]
    # a JSON array parses but is not an object: keys unreachable
    assert out[4].is_valid_json is True and out[4].is_object is False
    assert not out[4].qc_pass
    # NULL response: all flags NULL, observable
    assert out[5].is_valid_json is None and out[5].qc_pass is None


# --------------------------------------- SFT label-quality triad


def test_truncation_artifacts_flags(spark):
    from topn_spark.operators.sft import truncation_artifacts

    df = spark.createDataFrame(
        [
            (1, "All done here."),
            (2, "cut off mid wor"),
            (3, "```python\nprint(1)\n```"),   # balanced fences
            (4, "```js\nbroken"),              # odd fence
            (5, "mismatched (paren."),
            (6, "and so on..."),
            (7, ""),                            # empty: unterminated
            (8, None),
        ],
        "id bigint, response string",
    )
    out = {r.id: r for r in truncation_artifacts(df).collect()}
    assert out[1].truncation_flag is False
    assert out[2].ends_mid_sentence and out[2].truncation_flag
    assert out[3].unbalanced_fence is False
    assert out[4].unbalanced_fence is True
    assert out[5].unbalanced_brackets is True
    assert out[6].trailing_ellipsis is True
    assert out[7].ends_mid_sentence is True
    assert out[8].truncation_flag is None  # NULL observable


def test_control_token_scan_counts(spark):
    import pytest

    from topn_spark.operators.sft import control_token_scan

    df = spark.createDataFrame(
        [
            (1, "clean"),
            (2, "<|im_start|>user x<|im_end|> <|im_start|>"),
            (3, None),
        ],
        "id bigint, response string",
    )
    out = {r.id: r for r in control_token_scan(df).collect()}
    assert out[1].n_control_tokens == 0 and out[1].control_flag is False
    assert out[2].n_im_start == 2 and out[2].n_im_end == 1
    assert out[2].n_control_tokens == 3 and out[2].control_flag
    assert out[3].control_flag is None
    with pytest.raises(ValueError, match="non-empty"):
        control_token_scan(df, tokens=())


def test_prompt_echo_score(spark):
    from topn_spark.operators.sft import prompt_echo_score

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "the quick brown fox jumps"),
            (2, "the quick brown fox jumps", "completely different words here today"),
            (3, "the quick brown fox jumps", "ok"),
            (4, None, "something"),
        ],
        "id bigint, prompt string, response string",
    )
    out = {r.id: r for r in prompt_echo_score(df).collect()}
    assert out[1].echo_score == 1.0 and out[1].echoed
    assert out[2].echo_score == 0.0 and out[2].echoed is False
    # sub-n response: NULL score, observable
    assert out[3].echo_score is None and out[3].echoed is None
    assert out[4].echo_score is None


# ------------------------------------------------- group_zscore


def test_group_zscore_normalizes_within_prompt(spark):
    import math

    from topn_spark.operators.sft import group_zscore

    df = _kto_rows(
        spark,
        [
            (1, 10, 1.0), (1, 11, 2.0), (1, 12, 3.0),
            (2, 20, 5.0), (2, 21, 5.0),   # zero variance
            (3, 30, 7.0),                  # singleton
            (4, 40, None), (4, 41, 1.0), (4, 42, 3.0),
        ],
    )
    out = {r.sample_id: r for r in group_zscore(df).collect()}
    # prompt 1: mean 2, std 1 -> z = -1, 0, 1
    assert out[10].score_z == -1.0 and out[12].score_z == 1.0
    assert out[11].score_z == 0.0
    # zero variance / singleton: NULL z, never forged as 0
    assert out[20].score_z is None and out[30].score_z is None
    # NULL score keeps NULL z but does not perturb the group stats
    assert out[40].score_z is None
    assert math.isclose(out[41].score_mean, 2.0)
    assert out[41].n_valid == 2


def test_group_zscore_null_group_key_kept(spark):
    from topn_spark.operators.sft import group_zscore

    df = _kto_rows(
        spark, [(1, 10, 1.0), (1, 11, 3.0), (None, 12, 7.0)]
    )
    out = {r.sample_id: r for r in group_zscore(df).collect()}
    # the NULL-key row survives (LEFT stats join) with NULL stats/z
    assert set(out) == {10, 11, 12}
    assert out[12].score_z is None and out[12].n_valid is None
    assert out[12].score_mean is None


# --------------------------------------------- pairwise_winrate


def test_pairwise_winrate_matrix(spark):
    from topn_spark.operators.sft import pairwise_winrate

    rows = [
        # prompt 1: a=5 (best of 3,5), b=4, c=NULL
        (1, "a", 0, 3.0), (1, "a", 1, 5.0),
        (1, "b", 2, 4.0), (1, "c", 3, None),
        # prompt 2: a=2, b=2 (tie), c=9
        (2, "a", 4, 2.0), (2, "b", 5, 2.0), (2, "c", 6, 9.0),
    ]
    df = spark.createDataFrame(
        rows,
        "prompt_id bigint, model string, sample_id bigint,"
        " score double",
    )
    out = {
        (r.model_a, r.model_b): r
        for r in pairwise_winrate(df).collect()
    }
    ab = out[("a", "b")]
    # prompt 1: a wins (best-of-n 5 > 4); prompt 2: tie
    assert ab.n_prompts == 2 and ab.wins_a == 1 and ab.ties == 1
    assert ab.win_rate_a == 0.75  # 1 win + half a tie over 2
    # c only scored on prompt 2: shared-prompt count drops
    ac = out[("a", "c")]
    assert ac.n_prompts == 1 and ac.wins_b == 1
    assert ac.win_rate_a == 0.0


# --------------------------------------------- bradley_terry_fit


def _arena_samples(spark):
    # 3 models on 40 shared prompts; m0 strictly strongest, m2 weakest
    rows = []
    for p in range(40):
        rows.append((p, "m0", p * 3 + 0, float((p * 7) % 11) + 6.0))
        rows.append((p, "m1", p * 3 + 1, float((p * 5) % 11) + 3.0))
        rows.append((p, "m2", p * 3 + 2, float((p * 3) % 11)))
    return spark.createDataFrame(
        rows,
        "prompt_id bigint, model string, sample_id bigint,"
        " score double",
    )


def test_bradley_terry_dominance_and_anchor(spark):
    import math

    from topn_spark.operators.sft import (
        bradley_terry_fit,
        pairwise_winrate,
    )

    m = pairwise_winrate(_arena_samples(spark))
    out = bradley_terry_fit(m, smoothing=0.5).collect()
    assert [r.model for r in out] == ["m0", "m1", "m2"]
    assert out[0].rating > out[1].rating > out[2].rating
    assert all(r.converged for r in out)
    # geometric-mean-1 anchor <=> ratings sum to ~0
    assert abs(sum(math.log(r.strength) for r in out)) < 1e-9
    assert abs(sum(r.rating for r in out)) < 1e-6


def test_bradley_terry_matches_independent_mm_mirror(spark):
    import math

    from topn_spark.operators.sft import (
        bradley_terry_fit,
        pairwise_winrate,
    )

    m = pairwise_winrate(_arena_samples(spark))
    got = {
        r.model: r.strength
        for r in bradley_terry_fit(m, smoothing=0.5).collect()
    }
    # independent mirror: dict-keyed MM, different accumulation order
    w = {}
    for r in m.collect():
        w[(r.model_a, r.model_b)] = (
            w.get((r.model_a, r.model_b), 0.0)
            + r.wins_a + r.ties / 2 + 0.5
        )
        w[(r.model_b, r.model_a)] = (
            w.get((r.model_b, r.model_a), 0.0)
            + r.wins_b + r.ties / 2 + 0.5
        )
    models = sorted({a for a, _ in w})
    pi = {mm: 1.0 for mm in models}
    for _ in range(2000):
        new = {}
        for i in models:
            wi = sum(w[(i, j)] for j in models if (i, j) in w)
            den = sum(
                (w[(i, j)] + w[(j, i)]) / (pi[i] + pi[j])
                for j in models
                if (i, j) in w
            )
            new[i] = wi / den
        gm = math.exp(
            sum(math.log(v) for v in new.values()) / len(models)
        )
        new = {kk: v / gm for kk, v in new.items()}
        if max(
            abs(math.log(new[kk]) - math.log(pi[kk])) for kk in models
        ) < 1e-13:
            pi = new
            break
        pi = new
    for mm in models:
        assert abs(got[mm] - pi[mm]) < 1e-9


def test_bradley_terry_zero_win_raises_without_smoothing(spark):
    import pytest as _pytest

    from topn_spark.operators.sft import bradley_terry_fit

    # c never wins anything
    m = spark.createDataFrame(
        [("a", "b", 15, 10, 5, 0), ("a", "c", 10, 10, 0, 0),
         ("b", "c", 10, 10, 0, 0)],
        "model_a string, model_b string, n_prompts bigint,"
        " wins_a bigint, wins_b bigint, ties bigint",
    )
    with _pytest.raises(ValueError, match="zero effective wins"):
        bradley_terry_fit(m)
    out = {
        r.model: r for r in bradley_terry_fit(m, smoothing=0.5).collect()
    }
    assert out["c"].rating < out["b"].rating < out["a"].rating


def test_bt_ratings_artifact_round_trip_and_anchor_check(
    spark, tmp_path
):
    import pytest as _pytest

    from topn_spark.operators.sft import (
        bradley_terry_fit,
        load_bt_ratings,
        pairwise_winrate,
        save_bt_ratings,
    )

    fit = bradley_terry_fit(
        pairwise_winrate(_arena_samples(spark)), smoothing=0.5
    )
    p = str(tmp_path / "bt")
    save_bt_ratings(fit, p)
    back = load_bt_ratings(spark, p)
    assert {r.model for r in back.collect()} == {"m0", "m1", "m2"}
    # a filtered artifact breaks the geometric-mean anchor -> loud
    p2 = str(tmp_path / "bt_bad")
    fit.where("model <> 'm0'").coalesce(1).write.parquet(p2)
    with _pytest.raises(IOError, match="anchor"):
        load_bt_ratings(spark, p2)


def test_bt_calibration_bins_and_ece(spark):
    from topn_spark.operators.sft import (
        bradley_terry_fit,
        bt_calibration,
        pairwise_winrate,
    )

    m = pairwise_winrate(_arena_samples(spark))
    fit = bradley_terry_fit(m, smoothing=0.5)
    cal = bt_calibration(m, fit, n_bins=4).collect()
    assert all(0 <= r.bin < 4 for r in cal)
    # every matrix pair lands in exactly one bin
    assert sum(r.n_pairs for r in cal) == m.count()
    for r in cal:
        assert 0.0 <= r.mean_predicted <= 1.0
        assert 0.0 <= r.observed <= 1.0
        assert abs(r.abs_gap - abs(r.mean_predicted - r.observed)) < 2e-6
    # ECE = sum of contribs, bounded by the worst bin gap
    ece = sum(r.ece_contrib for r in cal)
    assert 0.0 <= ece <= max(r.abs_gap for r in cal) + 1e-9


def test_bradley_terry_bootstrap_cis_and_determinism(spark):
    import pytest as _pytest

    from topn_spark.operators.sft import (
        bradley_terry_bootstrap,
        bradley_terry_fit,
        pairwise_winrate,
    )

    df = _arena_samples(spark)
    out = bradley_terry_bootstrap(df, n_boot=50).collect()
    by = {r.model: r for r in out}
    fit = {
        r.model: r.rating
        for r in bradley_terry_fit(
            pairwise_winrate(df), smoothing=0.5
        ).collect()
    }
    for m, r in by.items():
        # point estimate IS the plain fit on the original sample
        assert abs(r.rating - fit[m]) < 1e-9
        assert r.rating_lo <= r.rating <= r.rating_hi
        assert r.n_boot == 50
    # strong separation: the dominant model's LOWER bound clears the
    # runner-up's UPPER bound
    assert by["m0"].rating_lo > by["m1"].rating_hi
    assert by["m1"].rating_lo > by["m2"].rating_hi
    # deterministic resampling: bit-identical re-run
    again = {
        r.model: r
        for r in bradley_terry_bootstrap(df, n_boot=50).collect()
    }
    for m in by:
        assert again[m].rating_lo == by[m].rating_lo
        assert again[m].rating_hi == by[m].rating_hi
    # a different salt draws different replicates
    salted = {
        r.model: r
        for r in bradley_terry_bootstrap(
            df, n_boot=50, salt="x"
        ).collect()
    }
    assert any(
        salted[m].rating_lo != by[m].rating_lo for m in by
    )
    with _pytest.raises(ValueError, match="smoothing must be > 0"):
        bradley_terry_bootstrap(df, smoothing=0.0)


def test_length_controlled_winrate_separates_bias_from_quality(spark):
    from topn_spark.operators.sft import length_controlled_winrate

    # equal true quality, mA longer, judge rewards length: the raw
    # rate shows an edge, the length-controlled rate must not
    rows = []
    for p in range(200):
        la = 200 + (p * 37) % 300
        lb = 150 + (p * 53) % 200
        sa = 0.004 * la + ((p * 13) % 11) * 0.3
        sb = 0.004 * lb + ((p * 29) % 11) * 0.3
        rows.append((p, "mA", sa, "x" * la))
        rows.append((p, "mB", sb, "x" * lb))
    df = spark.createDataFrame(
        rows,
        "prompt_id long, model string, score double, response string",
    )
    [r] = length_controlled_winrate(df).collect()
    assert r.raw_winrate_a > 0.55
    assert abs(r.lc_winrate_a - 0.5) < 0.05
    assert r.beta_len > 0 and r.converged
    # genuinely better AND longer: lc stays clearly above 0.5
    rows2 = []
    for p in range(200):
        la = 250 + (p * 37) % 200
        lb = 150 + (p * 53) % 200
        sa = 2.0 + 0.004 * la + ((p * 13) % 11) * 0.3
        sb = 0.004 * lb + ((p * 29) % 11) * 0.3
        rows2.append((p, "mA", sa, "x" * la))
        rows2.append((p, "mB", sb, "x" * lb))
    [r2] = length_controlled_winrate(
        spark.createDataFrame(
            rows2,
            "prompt_id long, model string, score double,"
            " response string",
        )
    ).collect()
    assert r2.lc_winrate_a > 0.75
    assert r2.lc_winrate_a < r2.raw_winrate_a


def test_length_controlled_winrate_edge_contracts(spark):
    from topn_spark.operators.sft import length_controlled_winrate

    # all outcomes tied -> excluded; zero length variance -> beta 0
    rows = [
        (p, m, 5.0 if p < 3 else float(p % 2 + (m == "a")), "xxxx")
        for p in range(10)
        for m in ("a", "b")
    ]
    df = spark.createDataFrame(
        rows,
        "prompt_id long, model string, score double, response string",
    )
    [r] = length_controlled_winrate(df).collect()
    assert r.n_ties == 3 and r.n_pairs == 7
    assert r.beta_len == 0.0  # constant length: no length signal
    # empty input -> empty frame with the right schema
    empty = length_controlled_winrate(df.where("score IS NULL"))
    assert empty.count() == 0
    assert "lc_winrate_a" in empty.columns


def test_length_controlled_winrate_fast_path_matches_fallback(spark):
    """The r14 sufficient-statistics fast path (grouped length-gap
    counts + driver Newton) equals the distributed per-sweep loop
    (forced via max_groups=0) row for row — the outputs are rounded
    to 6 decimals, so equality is exact."""
    from topn_spark.operators.sft import length_controlled_winrate

    rows = []
    for p in range(60):
        for m, base in (("mA", 200), ("mB", 160), ("mC", 120)):
            ln = base + (p * 37) % 90
            sc = 0.01 * ln + ((p * 13 + len(m)) % 7) * 0.5
            rows.append((p, m, sc, "x" * ln))
    df = spark.createDataFrame(
        rows,
        "prompt_id long, model string, score double, response string",
    )
    fast = [tuple(r) for r in length_controlled_winrate(df).collect()]
    slow = [
        tuple(r)
        for r in length_controlled_winrate(df, max_groups=0).collect()
    ]
    assert len(fast) == len(slow) == 3
    for fr, sr in zip(fast, slow):
        # pair keys + integer counts exact
        assert fr[:4] == sr[:4]
        # rates/beta: identical math, float-sum-order noise only
        # (rounded to 6 decimals, so a boundary straddle is <= 1e-6)
        assert all(
            abs(a - b) <= 1.1e-6 for a, b in zip(fr[4:7], sr[4:7])
        )
        assert fr[8] == sr[8]  # converged flag


def test_length_controlled_winrate_per_pair_convergence(spark):
    """Convergence is per pair: a balanced zero-variance pair
    freezes at sweep 1 (its first Newton step is exactly zero)
    even when another pair is still iterating at max_iter — one
    slow pair must not mark every pair non-converged."""
    from topn_spark.operators.sft import length_controlled_winrate

    rows = []
    # pair (a, b): constant length, perfectly balanced outcomes
    for p in range(10):
        rows.append((p, "a", float(5 + p % 2), "xxxx"))
        rows.append((p, "b", float(5 + (p + 1) % 2), "xxxx"))
    # pair (c, d): strong length signal — needs several sweeps
    for p in range(100, 300):
        la = 200 + (p * 37) % 300
        lb = 150 + (p * 53) % 200
        rows.append((p, "c", 0.004 * la + (p * 13) % 11 * 0.3, "x" * la))
        rows.append((p, "d", 0.004 * lb + (p * 29) % 11 * 0.3, "x" * lb))
    df = spark.createDataFrame(
        rows,
        "prompt_id long, model string, score double, response string",
    )
    got = {
        (r.model_a, r.model_b): r
        for r in length_controlled_winrate(df, max_iter=2).collect()
    }
    ab, cd = got[("a", "b")], got[("c", "d")]
    assert ab.converged and ab.n_iter == 1
    assert not cd.converged and cd.n_iter == 2
    # and with enough sweeps, the slow pair converges on its own
    got2 = {
        (r.model_a, r.model_b): r
        for r in length_controlled_winrate(df).collect()
    }
    assert got2[("c", "d")].converged
    assert got2[("a", "b")].n_iter == 1  # frozen early, unchanged
    # fits are identical whether or not the other pair kept going
    assert abs(got2[("a", "b")].lc_winrate_a - ab.lc_winrate_a) < 1e-12


def test_bt_matrix_bootstrap_shapes_and_determinism(spark):
    """Match-level Poisson bootstrap over an aggregated win matrix:
    point rating inside the interval, more games -> tighter
    interval, weighted (decayed) counts accepted, identical calls
    reproduce identical intervals, smoothing=0 refused."""
    import pytest

    from topn_spark.operators.sft import (
        bradley_terry_matrix_bootstrap,
    )

    def mat(scale):
        return spark.createDataFrame(
            [
                ("a", "b", 30.0 * scale, 10.0 * scale, 2.0 * scale),
                ("a", "c", 25.0 * scale, 15.0 * scale, 0.0),
                ("b", "c", 18.0 * scale, 18.0 * scale, 4.0 * scale),
            ],
            "model_a string, model_b string, wins_a double,"
            " wins_b double, ties double",
        )

    small = bradley_terry_matrix_bootstrap(
        mat(1.0), n_boot=60
    ).collect()
    assert [r.model for r in small][0] == "a"  # a dominates
    for r in small:
        assert r.rating_lo <= r.rating <= r.rating_hi
        assert r.n_boot == 60
    big = bradley_terry_matrix_bootstrap(
        mat(20.0), n_boot=60
    ).collect()
    w_small = {
        r.model: r.rating_hi - r.rating_lo for r in small
    }
    w_big = {r.model: r.rating_hi - r.rating_lo for r in big}
    assert all(w_big[m] < w_small[m] for m in w_small)
    again = bradley_terry_matrix_bootstrap(
        mat(1.0), n_boot=60
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, small))
    # fractional (decayed) counts work directly
    frac = bradley_terry_matrix_bootstrap(
        mat(0.37), n_boot=20
    ).collect()
    assert len(frac) == 3
    with pytest.raises(Exception, match="smoothing"):
        bradley_terry_matrix_bootstrap(mat(1.0), smoothing=0.0)
    # empty matrix -> empty frame, correct schema
    empty = bradley_terry_matrix_bootstrap(mat(1.0).limit(0))
    assert empty.count() == 0 and "rating_lo" in empty.columns


def _arena_frame(spark, prompts):
    """Scored samples of four models, built from pandas (Arrow, no
    Python-RDD pass per job): ties, a second sample of one model on
    one prompt (best-of-n), a NULL score, and m3 absent from every
    fifth prompt."""
    import pandas as pd

    rows = []
    for p in prompts:
        for i in range(4):
            if i == 3 and p % 5 == 0:
                continue
            score = float((p * (3 + 2 * i) + 5 * i) % 7)
            if (p, i) == (1, 2):
                score = None
            rows.append((p, f"m{i}", score, "x" * (20 + (p * 13 + i * 7) % 40)))
    rows.append((prompts[0], "m1", -1.0, "short"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["prompt_id", "model", "score", "response"]),
        "prompt_id long, model string, score double, response string",
    )


def _rows_md5(columns, rows):
    """md5 of a result's canonical form: its column names in output
    order, then its rows sorted by their JSON text."""
    import hashlib
    import json

    body = sorted(json.dumps(list(r)) for r in rows)
    return hashlib.md5(json.dumps([list(columns), body]).encode()).hexdigest()


def _frame_md5(df):
    return _rows_md5(df.columns, df.collect())


def test_arena_chain_pinned(spark, tmp_path):
    """Row-level pins of the arena chain: the win matrix, the
    Bradley–Terry fit at smoothing 0 and 0.5, both bootstraps, the
    length-controlled win rate, the calibration report, and every
    partition the streaming monitor writes over two batches."""
    import pyarrow.parquet as pq

    from topn_spark.operators.sft import (
        bradley_terry_bootstrap,
        bradley_terry_fit,
        bradley_terry_matrix_bootstrap,
        bt_calibration,
        length_controlled_winrate,
        pairwise_winrate,
    )
    from topn_spark.streaming.ingest import arena_monitor_batch

    df = _arena_frame(spark, range(24))
    matrix = pairwise_winrate(df)
    fit = bradley_terry_fit(matrix, smoothing=0.5)
    got = {
        "winrate": _frame_md5(matrix),
        "fit_0": _frame_md5(bradley_terry_fit(matrix)),
        "fit_05": _frame_md5(fit),
        "bootstrap": _frame_md5(bradley_terry_bootstrap(df, n_boot=12)),
        "matrix_bootstrap": _frame_md5(
            bradley_terry_matrix_bootstrap(matrix, n_boot=12)
        ),
        "lc": _frame_md5(length_controlled_winrate(df)),
        "calibration": _frame_md5(bt_calibration(matrix, fit, n_bins=4)),
    }
    out = str(tmp_path / "arena")
    for b, prompts in enumerate((range(12), range(12, 24))):
        arena_monitor_batch(
            _arena_frame(spark, prompts), out, b,
            half_life_batches=1.0, bootstrap=8,
        )
    for sub in (
        "ratings", "matrix", "cumulative", "decayed",
        "cumulative_ci", "decayed_ci",
    ):
        for b in (0, 1):
            t = pq.read_table(f"{out}/{sub}/batch_id={b}")
            got[f"{sub}_{b}"] = _rows_md5(
                t.column_names, [r.values() for r in t.to_pylist()]
            )
    assert got == {
        "winrate": "1f4615a6787de9fe3d16b891d960fc9f",
        "fit_0": "942fa9082ea7c997a80fdb06d7f929cc",
        "fit_05": "b3e67166ea6f6829aefe64707445faeb",
        "bootstrap": "d30f54eada88e18da65b9bb151af2fa3",
        "matrix_bootstrap": "6c44aaaf38337a3e8deb89c37e4e16fc",
        "lc": "d293e427c1e0e72fd6dd69b2c6f2eb35",
        "calibration": "3012007bdb7c29fedca652fe7833717f",
        "ratings_0": "bc41bbe1eab8fb42c57a5334a67beb99",
        "ratings_1": "bb5fb3ef4a195a3d5a366481543a840e",
        "matrix_0": "ceaff426e63548b4bc07d8a50db761ae",
        "matrix_1": "167d3c8b7b1afec95927f6de9ad32a41",
        "cumulative_0": "e614f5d2e5417ddbbc3c24c48d333b17",
        "cumulative_1": "6f009c2020398de7ce9403a26e877901",
        "decayed_0": "bc41bbe1eab8fb42c57a5334a67beb99",
        "decayed_1": "eb71b09f2cc866885498662b7d28e748",
        "cumulative_ci_0": "64f162cd90ce9a3fc2f49c4926fe4f1e",
        "cumulative_ci_1": "0356c45c97684e5831136684825df384",
        "decayed_ci_0": "64f162cd90ce9a3fc2f49c4926fe4f1e",
        "decayed_ci_1": "0e4d81a1e677c3ce93350d77f51fb7e8",
    }


def test_bootstraps_reject_n_boot_below_one(spark):
    """``n_boot < 1`` leaves no replicate to take an interval over:
    both bootstraps refuse it at entry, before any Spark action,
    instead of failing on an empty quantile list after the job."""
    from topn_spark.operators.sft import (
        bradley_terry_bootstrap,
        bradley_terry_matrix_bootstrap,
        pairwise_winrate,
    )

    df = _arena_frame(spark, range(6))
    # the session's concrete DataFrame class: it overrides collect,
    # so patching the pyspark.sql.DataFrame base would see no call
    cls = type(df)
    calls = []
    orig = cls.collect
    cls.collect = lambda self: (calls.append(1), orig(self))[1]
    try:
        for n_boot in (0, -1):
            with pytest.raises(ValueError, match="n_boot must be >= 1"):
                bradley_terry_bootstrap(df, n_boot=n_boot)
            with pytest.raises(ValueError, match="n_boot must be >= 1"):
                bradley_terry_matrix_bootstrap(
                    pairwise_winrate(df), n_boot=n_boot
                )
    finally:
        cls.collect = orig
    assert calls == []


def test_arena_decisions_live_once():
    """The Elo scale and the bootstrap argument check live once in
    ``operators/sft.py`` (``queries_ext.py`` keeps its exact mirrors,
    the oracle's reference); the streaming monitor defines no fit,
    tuple or interval helper of its own; the partition-count and
    Hadoop FileSystem lookups live once; and ``ingest.py`` imports
    textstats only at module top."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "topn_spark"
    every = [
        p.read_text() for p in pkg.rglob("*.py") if p.name != "queries_ext.py"
    ]
    for needle in (
        "400.0 * math.log10(",
        "smoothing must be > 0",
        ".getNumPartitions()",
        ".hadoopConfiguration()",
    ):
        assert sum(s.count(needle) for s in every) == 1, needle
    ingest = ast.parse((pkg / "streaming" / "ingest.py").read_text())
    defined = {
        n.name for n in ast.walk(ingest) if isinstance(n, ast.FunctionDef)
    }
    assert not defined & {"_tuples", "_fit", "_ci_rows"}
    for fn in ast.walk(ingest):
        if isinstance(fn, ast.FunctionDef):
            assert not [
                n for n in ast.walk(fn)
                if isinstance(n, ast.ImportFrom)
                and n.module == "topn_spark.operators.textstats"
            ], fn.name
