"""Trainer-native binary shard export (operators/binshard.py):
vocab build/artifact, id encoding, .bin/.idx/.msk round trip with
bit-exact loss masks, byte-level verify, and the loud-failure
contract for misaligned masks / OOV tokens / dtype overflow."""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F

from topn_spark.operators.binfs import LocalBinaryStore
from topn_spark.operators.binshard import (
    encode_token_ids,
    export_bin_shards,
    load_vocab,
    read_bin_shards,
    save_vocab,
    token_vocab,
    verify_bin_shards,
)


def _tok_docs(spark, n=40):
    rows = [
        (
            i,
            [f"w{j % 7}" for j in range(3 + i % 9)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, tokens array<string>"
    ).withColumn(
        "loss_mask",
        F.transform("tokens", lambda t: F.length(t) >= 2),
    )


# ------------------------------------------------------------- vocab


def test_token_vocab_specials_and_order(spark):
    df = spark.createDataFrame(
        [(1, ["b", "a", "b", "c", "b", "a"])],
        "doc_id bigint, tokens array<string>",
    )
    v = {
        r.token: (r.token_id, r.n)
        for r in token_vocab(df, specials=("<pad>", "</s>")).collect()
    }
    # specials first in given order, count 0 when unseen
    assert v["<pad>"] == (0, 0) and v["</s>"] == (1, 0)
    # then by count desc, token asc: b(3), a(2), c(1)
    assert v["b"][0] == 2 and v["a"][0] == 3 and v["c"][0] == 4
    assert v["b"][1] == 3 and v["c"][1] == 1


def test_token_vocab_special_seen_in_corpus_keeps_one_id(spark):
    df = spark.createDataFrame(
        [(1, ["</s>", "x", "</s>", "</s>"])],
        "doc_id bigint, tokens array<string>",
    )
    out = token_vocab(df, specials=("</s>",)).collect()
    by_tok = {r.token: r for r in out}
    assert len(out) == 2  # no duplicate id for the special
    assert by_tok["</s>"].token_id == 0 and by_tok["</s>"].n == 3
    assert by_tok["x"].token_id == 1


def test_vocab_artifact_round_trip_and_corruption(spark, tmp_path):
    df = _tok_docs(spark)
    p = str(tmp_path / "vocab")
    save_vocab(token_vocab(df, specials=("<pad>",)), p)
    d = load_vocab(spark, p)
    assert d["<pad>"] == 0 and sorted(d.values()) == list(
        range(len(d))
    )
    # gapped ids -> loud corruption error
    bad = spark.createDataFrame(
        [("a", 0, 1), ("b", 2, 1)], "token string, token_id bigint, n bigint"
    )
    p2 = str(tmp_path / "vocab_bad")
    bad.write.parquet(p2)
    with pytest.raises(IOError, match="not contiguous"):
        load_vocab(spark, p2)


def test_encode_token_ids_and_oov(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, None)],
        "doc_id bigint, tokens array<string>",
    )
    out = {
        r.doc_id: r.tokens
        for r in encode_token_ids(df, {"a": 3, "b": 5}).collect()
    }
    assert out[1] == [3, 5] and out[2] is None
    with pytest.raises(Exception, match="not in the vocabulary"):
        encode_token_ids(df, {"a": 3}).collect()


# ------------------------------------------------- export round trip


def _packed(spark, seq_len=16):
    from topn_spark.operators.pipeline import pack_masked_sequences

    docs = _tok_docs(spark)
    vocab = {
        r.token: r.token_id
        for r in token_vocab(docs, specials=("<pad>", "</s>")).collect()
    }
    enc = encode_token_ids(docs, vocab)
    return pack_masked_sequences(
        enc,
        id_col="doc_id",
        order_col="doc_id",
        seq_len=seq_len,
        sep_token=vocab["</s>"],
        sep_supervised=True,
    ).persist()


def test_bin_round_trip_masks_bit_exact(spark, tmp_path):
    out = str(tmp_path / "shards")
    packed = _packed(spark)
    man = export_bin_shards(packed, out, 4).collect()
    # manifest accounting: totals equal the packed frame's totals
    tot = packed.agg(
        F.sum("n_tokens").alias("t"), F.sum("n_supervised").alias("s")
    ).collect()[0]
    assert sum(r.n_tokens for r in man) == tot["t"]
    assert sum(r.n_supervised for r in man) == tot["s"]
    back = read_bin_shards(spark, out)
    cols = ["seq_id", "n_tokens", "n_supervised", "tokens", "loss_mask"]
    a, b = packed.select(*cols), back.select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    ok = verify_bin_shards(spark, out)
    assert all(r.ok for r in ok.collect())
    # deterministic re-export: byte-identical files
    import hashlib

    def digest():
        h = hashlib.md5()
        for f in sorted(os.listdir(out)):
            if f.startswith("shard_"):
                h.update(open(os.path.join(out, f), "rb").read())
        return h.hexdigest()

    d1 = digest()
    export_bin_shards(packed, out, 4)
    assert digest() == d1


def test_bin_export_no_mask_mode(spark, tmp_path):
    out = str(tmp_path / "shards_nomask")
    packed = _packed(spark)
    man = export_bin_shards(packed, out, 2, mask_col=None).collect()
    assert all(r.n_supervised == 0 and r.msk_bytes == 0 for r in man)
    assert not any(
        f.endswith(".msk") for f in os.listdir(out)
    )
    back = read_bin_shards(spark, out)
    assert back.where(F.col("loss_mask").isNotNull()).count() == 0
    assert all(r.ok for r in verify_bin_shards(spark, out).collect())


def test_bin_torn_export_detected(spark, tmp_path):
    out = str(tmp_path / "shards_torn")
    packed = _packed(spark)
    export_bin_shards(packed, out, 2)
    # truncate one .bin -> that shard (and only it) fails verify
    victim = os.path.join(out, "shard_00001.bin")
    raw = open(victim, "rb").read()
    open(victim, "wb").write(raw[:-4])
    flags = {
        r.shard: r.ok for r in verify_bin_shards(spark, out).collect()
    }
    assert flags[1] is False and flags[0] is True
    # a missing index -> ok False with NULL actuals, not a crash
    os.remove(os.path.join(out, "shard_00000.idx"))
    rows = {
        r.shard: r for r in verify_bin_shards(spark, out).collect()
    }
    assert rows[0].ok is False and rows[0].n_seqs_actual is None


def test_bin_dtype_selection_and_overflow(spark, tmp_path):
    big = spark.createDataFrame(
        [(1, [70000, 2], [True, False])],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    out = str(tmp_path / "s32")
    man = export_bin_shards(big, out, 1).collect()
    assert man[0].dtype == "uint32"
    # forcing uint16 must raise, not wrap
    with pytest.raises(ValueError, match="exceeds"):
        export_bin_shards(big, str(tmp_path / "s16"), 1, dtype="uint16")
    neg = spark.createDataFrame(
        [(1, [-1], [True])],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    with pytest.raises(ValueError, match="negative"):
        export_bin_shards(neg, str(tmp_path / "sneg"), 1)
    # string tokens -> told to encode first
    s = spark.createDataFrame(
        [(1, ["a"], [True])],
        "seq_id bigint, tokens array<string>, loss_mask array<boolean>",
    )
    with pytest.raises(ValueError, match="encode_token_ids"):
        export_bin_shards(s, str(tmp_path / "sstr"), 1)


def test_bin_misaligned_mask_raises_with_id(spark, tmp_path):
    df = spark.createDataFrame(
        [(7, [1, 2, 3], [True])],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    with pytest.raises(Exception, match="misaligned"):
        export_bin_shards(df, str(tmp_path / "sbad"), 1)


def test_bin_stale_files_removed_and_reader_uses_manifest(
    spark, tmp_path
):
    out = str(tmp_path / "shards_shrink")
    packed = _packed(spark)
    export_bin_shards(packed, out, 4)
    # re-export with FEWER shards: the old shard_00003.* must not
    # survive on disk nor leak into reads
    export_bin_shards(packed, out, 2)
    assert not os.path.exists(
        os.path.join(out, "shard_00003.bin")
    )
    back = read_bin_shards(spark, out)
    assert back.select("shard").distinct().count() == 2
    cols = ["seq_id", "tokens", "loss_mask"]
    assert packed.select(*cols).exceptAll(
        back.select(*cols)
    ).count() == 0


def test_idx_header_layout(spark, tmp_path):
    # the header is a contract: magic/version/dtype/has_mask/n_seqs
    out = str(tmp_path / "shards_hdr")
    packed = _packed(spark)
    export_bin_shards(packed, out, 1)
    raw = open(os.path.join(out, "shard_00000.idx"), "rb").read()
    assert raw[:8] == b"TNSPBIN1"
    version, code, has_mask = struct.unpack_from("<III", raw, 8)
    (n,) = struct.unpack_from("<Q", raw, 20)
    assert version == 1 and code == 2 and has_mask == 1
    assert n == packed.count()


# ------------------------------------------------- epoch ordering


def test_epoch_order_permutation_and_determinism(spark, tmp_path):
    from topn_spark.operators.binshard import (
        export_epoch_order,
        read_epoch_order,
    )

    out = str(tmp_path / "shards_ep")
    packed = _packed(spark)
    export_bin_shards(packed, out, 3)
    man = {
        r.shard: r
        for r in export_epoch_order(spark, out, epoch=0).collect()
    }
    # every shard gets a position; positions are a permutation
    assert sorted(r.shard_pos for r in man.values()) == list(
        range(len(man))
    )
    back = read_epoch_order(spark, out, epoch=0)
    rows = back.collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for k, rs in by_shard.items():
        # a true permutation of 0..n_seqs-1
        assert sorted(x.seq_index for x in rs) == list(range(len(rs)))
        assert man[k].n_seqs == len(rs)
        # and NOT the identity order (shuffled), for non-tiny shards
        if len(rs) > 4:
            ordered = [
                x.seq_index
                for x in sorted(rs, key=lambda y: y.position)
            ]
            assert ordered != sorted(ordered)
    # every epoch-order position dereferences a real sequence
    seqs = read_bin_shards(spark, out).select(
        "shard", F.col("seq_index").alias("si")
    )
    joined = back.join(
        seqs,
        (back.shard == seqs.shard) & (back.seq_index == seqs.si),
    )
    assert joined.count() == len(rows)
    # deterministic re-export: identical bytes
    import os as _os

    f = _os.path.join(out, "shard_00000.ep0000")
    b1 = open(f, "rb").read()
    export_epoch_order(spark, out, epoch=0)
    assert open(f, "rb").read() == b1
    # a different epoch is a different permutation
    export_epoch_order(spark, out, epoch=1)
    b2 = open(_os.path.join(out, "shard_00000.ep0001"), "rb").read()
    assert b2 != b1


def test_bin_negative_id_raises(spark, tmp_path):
    # a negative id would silently wrap to a huge uint64 in the
    # .idx seq_ids field, severing the parquet audit link
    df = spark.createDataFrame(
        [(-5, [1, 2], [True, False])],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    with pytest.raises(Exception, match="negative id -5"):
        export_bin_shards(df, str(tmp_path / "sneg"), 1)


def test_bin_writes_are_atomic_no_temp_leftovers(spark, tmp_path):
    # every file lands via temp-name + rename: no .inprogress-*
    # residue after a clean export, and the final names are complete
    out = str(tmp_path / "shards_atomic")
    export_bin_shards(_packed(spark), out, 2)
    import glob as _glob

    assert _glob.glob(os.path.join(out, "*.inprogress-*")) == []


# ----------------------------------------- multimodal .ast sidecar


def _mm_frame(spark, n=30):
    return spark.createDataFrame(
        [
            (
                i,
                list(range(1, 4 + i % 3)),
                [bool(j % 2) for j in range(3 + i % 3)],
                [i * 2, i * 2 + 1] if i % 3 == 0
                else ([i * 2] if i % 3 == 2 else []),
            )
            for i in range(n)
        ],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>, asset_ids array<bigint>",
    )


def test_ast_round_trip_hash_exact(spark, tmp_path):
    out = str(tmp_path / "ast")
    df = _mm_frame(spark)
    man = export_bin_shards(df, out, 4, assets_col="asset_ids")
    rows = man.collect()
    assert sum(r.n_assets for r in rows) == sum(
        len(r.asset_ids) for r in df.collect()
    )
    assert all(r.ast_bytes > 0 for r in rows)
    back = read_bin_shards(spark, out)
    cols = ["seq_id", "tokens", "loss_mask", "asset_ids"]
    assert df.select(*cols).exceptAll(back.select(*cols)).count() == 0
    assert back.count() == df.count()
    # no-asset export keeps the legacy read schema (no asset_ids)
    out2 = str(tmp_path / "noast")
    export_bin_shards(df.drop("asset_ids"), out2, 2)
    assert "asset_ids" not in read_bin_shards(spark, out2).columns


def test_ast_torn_file_detected(spark, tmp_path):
    from topn_spark.operators.binshard import verify_bin_shards

    out = str(tmp_path / "ast_torn")
    export_bin_shards(_mm_frame(spark), out, 3, assets_col="asset_ids")
    v0 = verify_bin_shards(spark, out)
    assert all(r.ok for r in v0.collect())
    # flip one byte in one .ast payload: that shard, and only that
    # shard, must report ok=False
    victim = os.path.join(out, "shard_00001.ast")
    raw = bytearray(open(victim, "rb").read())
    raw[-1] ^= 0xFF
    open(victim, "wb").write(bytes(raw))
    v = {r.shard: r for r in verify_bin_shards(spark, out).collect()}
    assert v[1].ok is False and v[1].ast_crc32_actual != v[1].ast_crc32
    assert all(r.ok for s, r in v.items() if s != 1)


def test_ast_null_array_and_negative_ref_raise(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, [1, 2], [True, False], None)],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>, asset_ids array<bigint>",
    )
    with pytest.raises(Exception, match="NULL asset array"):
        export_bin_shards(
            df, str(tmp_path / "a1"), 1, assets_col="asset_ids"
        )
    df2 = spark.createDataFrame(
        [(1, [1, 2], [True, False], [-3])],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>, asset_ids array<bigint>",
    )
    with pytest.raises(Exception, match="negative asset ref"):
        export_bin_shards(
            df2, str(tmp_path / "a2"), 1, assets_col="asset_ids"
        )


# ----------------------------------------------- incremental export


def _corpus(spark, change=(), drop=()):
    rows = []
    for i in range(40):
        if i in drop:
            continue
        toks = list(range(1, 4 + i % 5))
        if i in change:
            toks = [99] + toks
        rows.append(
            (i, toks, [bool(j % 2) for j in range(len(toks))])
        )
    return spark.createDataFrame(
        rows,
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )


def _file_hashes(out):
    import glob as _glob
    import hashlib

    return {
        os.path.basename(p): hashlib.md5(
            open(p, "rb").read()
        ).hexdigest()
        for p in _glob.glob(os.path.join(out, "shard_*"))
    }


def test_incremental_noop_writes_nothing(spark, tmp_path):
    from topn_spark.operators.binshard import (
        _read_meta,
        export_epoch_order,
    )

    out = str(tmp_path / "incr")
    export_bin_shards(_corpus(spark), out, 6, salt="i")
    export_epoch_order(spark, out, 0)
    before = _file_hashes(out)
    man = export_bin_shards(
        _corpus(spark), out, 6, salt="i", incremental=True
    )
    assert all(not r.rewritten for r in man.collect())
    assert _file_hashes(out) == before  # incl. epoch files intact
    assert any(".ep" in k for k in before)
    assert _read_meta(spark, out)["export_version"] == 1


def test_incremental_delta_rewrites_only_affected_shard(
    spark, tmp_path
):
    from topn_spark.operators.binshard import (
        _read_meta,
        export_epoch_order,
        verify_bin_shards,
    )

    out = str(tmp_path / "incr2")
    export_bin_shards(_corpus(spark), out, 6, salt="i")
    export_epoch_order(spark, out, 0)
    before = _file_hashes(out)
    man = export_bin_shards(
        _corpus(spark, change={7}), out, 6, salt="i",
        incremental=True,
    )
    rewritten = {r.shard for r in man.collect() if r.rewritten}
    assert len(rewritten) == 1
    (k,) = rewritten
    after = _file_hashes(out)
    # epoch artifacts are views of the previous dataset version
    assert not any(".ep" in f for f in after)
    changed = {
        f for f in before
        if ".ep" not in f and after.get(f) != before[f]
    }
    assert changed and all(
        f.startswith(f"shard_{k:05d}") for f in changed
    )
    # byte-identical to a full re-export of the same corpus
    full = str(tmp_path / "full")
    export_bin_shards(_corpus(spark, change={7}), full, 6, salt="i")
    assert _file_hashes(full) == after
    assert all(r.ok for r in verify_bin_shards(spark, out).collect())
    assert _read_meta(spark, out)["export_version"] == 2


def test_incremental_orphan_shard_deleted(spark, tmp_path):
    out = str(tmp_path / "incr3")
    export_bin_shards(_corpus(spark), out, 40, salt="o")
    # keep only ids that land in a few shards: every other shard is
    # an orphan and must disappear from disk and manifest
    kept = _corpus(spark).limit(3)
    man = export_bin_shards(
        kept, out, 40, salt="o", incremental=True
    )
    shards = {r.shard for r in man.collect()}
    assert len(shards) <= 3
    files = _file_hashes(out)
    assert {
        int(f.split("_")[1].split(".")[0])
        for f in files if f.endswith(".bin")
    } == shards
    back = read_bin_shards(spark, out)
    assert back.count() == 3


def test_incremental_param_mismatch_and_missing_prior_raise(
    spark, tmp_path
):
    out = str(tmp_path / "incr4")
    with pytest.raises(Exception, match="needs a prior export"):
        export_bin_shards(
            _corpus(spark), out, 4, incremental=True
        )
    export_bin_shards(_corpus(spark), out, 4, salt="x")
    with pytest.raises(Exception, match="parameters differ"):
        export_bin_shards(
            _corpus(spark), out, 8, salt="x", incremental=True
        )
    with pytest.raises(Exception, match="parameters differ"):
        export_bin_shards(
            _corpus(spark), out, 4, salt="y", incremental=True
        )
    with pytest.raises(Exception, match="parameters differ"):
        export_bin_shards(
            _corpus(spark), out, 4, salt="x", mask_col=None,
            incremental=True,
        )


# ------------------------------------------- windowed resume read


def _win_setup(spark, tmp_path):
    from topn_spark.operators.binshard import export_epoch_order

    out = str(tmp_path / "win")
    df = spark.createDataFrame(
        [
            (
                i,
                list(range(i % 7 + 1)),
                [bool(j % 2) for j in range(i % 7 + 1)],
            )
            for i in range(50)
        ],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    export_bin_shards(df, out, 5, salt="w")
    export_epoch_order(spark, out, 3, salt="w")
    return out


def test_window_read_equals_full_order_slice(spark, tmp_path):
    from topn_spark.operators.binshard import (
        read_bin_window,
        read_epoch_order,
    )

    out = _win_setup(spark, tmp_path)
    full = (
        read_epoch_order(spark, out, 3)
        .join(read_bin_shards(spark, out), ["shard", "seq_index"])
        .orderBy("shard_pos", "position")
        .collect()
    )
    win = (
        read_bin_window(spark, out, 3, 17, 36)
        .orderBy("global_pos")
        .collect()
    )
    assert [r.global_pos for r in win] == list(range(17, 36))
    for g, r in zip(range(17, 36), win):
        f = full[g]
        assert (f.seq_id, f.tokens, f.loss_mask) == (
            r.seq_id, r.tokens, r.loss_mask,
        )
    # empty window is legal; out-of-range is not
    from topn_spark.operators.binshard import read_bin_window as rbw

    assert rbw(spark, out, 3, 10, 10).count() == 0
    with pytest.raises(Exception, match="out of range"):
        rbw(spark, out, 3, 0, 51).collect()


def test_window_read_touches_only_window_bytes(spark, tmp_path):
    """Seek-don't-scan, proven destructively: zero out the token
    bytes of every sequence OUTSIDE the window (in every shard) —
    the window read is unaffected, while a full read changes."""
    import struct as _struct

    from topn_spark.operators.binshard import (
        _parse_idx,
        read_bin_window,
        read_epoch_order,
    )

    out = _win_setup(spark, tmp_path)
    start, stop = 20, 28
    win_before = (
        read_bin_window(spark, out, 3, start, stop)
        .orderBy("global_pos")
        .collect()
    )
    inside = {(r.shard, r.seq_index) for r in win_before}
    # epoch macro order -> which (shard, seq_index) are in-window
    for p in sorted(
        __import__("glob").glob(os.path.join(out, "shard_*.idx"))
    ):
        shard = int(os.path.basename(p).split("_")[1].split(".")[0])
        code, _, lens, _, _, tok_ptrs, _ = _parse_idx(LocalBinaryStore(), p)
        item = 2 if code == 2 else 4
        binp = p[:-4] + ".bin"
        raw = bytearray(open(binp, "rb").read())
        for i in range(len(lens)):
            if (shard, i) not in inside:
                o = int(tok_ptrs[i])
                raw[o : o + int(lens[i]) * item] = bytes(
                    int(lens[i]) * item
                )
        open(binp, "wb").write(bytes(raw))
    win_after = (
        read_bin_window(spark, out, 3, start, stop)
        .orderBy("global_pos")
        .collect()
    )
    assert [
        (r.seq_id, r.tokens, r.loss_mask) for r in win_before
    ] == [(r.seq_id, r.tokens, r.loss_mask) for r in win_after]
    # sanity: the destruction was real — a full read differs now
    full_toks = {
        r.seq_id: r.tokens
        for r in read_bin_shards(spark, out).collect()
    }
    assert any(
        all(t == 0 for t in v) and len(v) > 0
        for v in full_toks.values()
    )


# ------------------------------------------- preference shards


def _pair_frame(spark, n=30):
    return spark.createDataFrame(
        [
            (
                p,
                list(range(1, 3 + p % 4)),
                [False] + [True] * (1 + p % 4),
                list(range(5, 6 + p % 3)),
                [False] + [True] * (p % 3),
            )
            for p in range(n)
        ],
        "pair_id bigint, chosen_tokens array<bigint>,"
        " chosen_mask array<boolean>,"
        " rejected_tokens array<bigint>,"
        " rejected_mask array<boolean>",
    )


def test_preference_round_trip_and_adjacency(spark, tmp_path):
    from topn_spark.operators.binshard import (
        _parse_idx,
        export_preference_shards,
        read_preference_shards,
        verify_preference_shards,
    )

    out = str(tmp_path / "pref")
    pairs = _pair_frame(spark)
    export_preference_shards(pairs, out, 4, salt="p")
    back = read_preference_shards(spark, out)
    cols = [
        "pair_id", "chosen_tokens", "chosen_mask",
        "rejected_tokens", "rejected_mask",
    ]
    assert pairs.select(*cols).exceptAll(
        back.select(*cols)
    ).count() == 0
    assert back.count() == pairs.count()
    v = verify_preference_shards(spark, out)
    assert all(r.ok and r.pairing_ok for r in v.collect())
    # the paired index IS physical adjacency: even ids at even
    # positions, partner immediately after, in every shard
    import glob as _glob

    for p in _glob.glob(os.path.join(out, "shard_*.idx")):
        _, _, _, ids, _, _, _ = _parse_idx(LocalBinaryStore(), p)
        assert len(ids) % 2 == 0
        for i in range(0, len(ids), 2):
            assert ids[i] % 2 == 0 and ids[i + 1] == ids[i] + 1


def test_preference_pairing_violation_detected(spark, tmp_path):
    from topn_spark.operators.binshard import (
        export_preference_shards,
        read_preference_shards,
        verify_preference_shards,
    )

    # a plain export (odd ids only) is NOT a preference directory:
    # verify flags pairing_ok=False, read raises
    out = str(tmp_path / "pref_bad")
    plain = spark.createDataFrame(
        [(i, [1, 2], [True, False]) for i in range(1, 9, 2)],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    export_bin_shards(plain, out, 1)
    assert not any(
        r.pairing_ok
        for r in verify_preference_shards(spark, out).collect()
    )
    with pytest.raises(Exception, match="pairing invariant|odd"):
        read_preference_shards(spark, out).collect()
    # mask columns must be both-or-neither
    with pytest.raises(Exception, match="both"):
        export_preference_shards(
            _pair_frame(spark), str(tmp_path / "x"), 2,
            chosen_mask_col=None,
        )


def test_preference_incremental_delta(spark, tmp_path):
    from topn_spark.operators.binshard import (
        export_preference_shards,
    )

    out = str(tmp_path / "pref_incr")
    export_preference_shards(_pair_frame(spark), out, 5, salt="q")
    before = _file_hashes(out)
    # change ONE pair's rejected side: only its shard rewrites
    changed = _pair_frame(spark).withColumn(
        "rejected_tokens",
        F.when(
            F.col("pair_id") == 11, F.array(F.lit(77), F.lit(78))
        ).otherwise(F.col("rejected_tokens")),
    ).withColumn(
        "rejected_mask",
        F.when(
            F.col("pair_id") == 11,
            F.array(F.lit(True), F.lit(True)),
        ).otherwise(F.col("rejected_mask")),
    )
    man = export_preference_shards(
        changed, out, 5, salt="q", incremental=True
    )
    rw = {r.shard for r in man.collect() if r.rewritten}
    assert len(rw) == 1
    after = _file_hashes(out)
    diff = {f for f in before if after.get(f) != before[f]}
    (k,) = rw
    assert diff and all(f.startswith(f"shard_{k:05d}") for f in diff)


# ------------------------------------------------------ data card


def test_bin_shard_data_card(spark, tmp_path):
    from topn_spark.operators.binshard import (
        bin_shard_data_card,
        export_epoch_order,
    )

    out = str(tmp_path / "card")
    df = _corpus(spark)
    export_bin_shards(df, out, 4, salt="c")
    export_epoch_order(spark, out, 0, salt="c")
    export_epoch_order(spark, out, 1, salt="c")
    [card] = bin_shard_data_card(spark, out).collect()
    rows = df.collect()
    n_tok = sum(len(r.tokens) for r in rows)
    assert card.n_shards == 4 and card.n_seqs == 40
    assert card.n_tokens == n_tok
    assert card.n_supervised == sum(
        sum(r.loss_mask) for r in rows
    )
    assert card.bin_bytes == 2 * n_tok  # uint16
    assert card.min_seq_len == min(len(r.tokens) for r in rows)
    assert card.max_seq_len == max(len(r.tokens) for r in rows)
    assert card.epochs_exported == [0, 1]
    assert card.dtype == "uint16" and card.has_mask
    # a partially exported epoch is not coverage
    os.remove(os.path.join(out, "shard_00002.ep0001"))
    [card2] = bin_shard_data_card(spark, out).collect()
    assert card2.epochs_exported == [0]


def test_pair_epoch_order_and_preference_window(spark, tmp_path):
    """Pair-unit epochs permute PAIRS (a sequence-level permutation
    would tear every chosen/rejected pair apart); the preference
    window equals the same slice of the full pair order; unit
    mismatches and odd shards are refused loudly."""
    from topn_spark.operators.binshard import (
        export_epoch_order,
        export_preference_shards,
        read_bin_window,
        read_epoch_order,
        read_preference_shards,
        read_preference_window,
    )

    out = str(tmp_path / "pw")
    export_preference_shards(_pair_frame(spark, 40), out, 4, salt="w")
    man = export_epoch_order(spark, out, 1, salt="w", unit="pair")
    assert all(
        r.unit == "pair" and r.n_units * 2 == r.n_seqs
        for r in man.collect()
    )
    full = (
        read_epoch_order(spark, out, 1)
        .join(
            read_preference_shards(spark, out).withColumnRenamed(
                "pair_index", "seq_index"
            ),
            ["shard", "seq_index"],
        )
        .orderBy("shard_pos", "position")
        .collect()
    )
    win = (
        read_preference_window(spark, out, 1, 11, 29)
        .orderBy("global_pos")
        .collect()
    )
    assert [r.global_pos for r in win] == list(range(11, 29))
    for g, r in zip(range(11, 29), win):
        f = full[g]
        assert (
            f.pair_id, f.chosen_tokens, f.chosen_mask,
            f.rejected_tokens, f.rejected_mask,
        ) == (
            r.pair_id, r.chosen_tokens, r.chosen_mask,
            r.rejected_tokens, r.rejected_mask,
        )
    # unit cross-checks: each window reader refuses the other's unit
    with pytest.raises(Exception, match="read_preference_window"):
        read_bin_window(spark, out, 1, 0, 5)
    # a preference (layout='pair') set refuses a seq-unit epoch
    # outright — it would tear pairs at consumption time
    with pytest.raises(Exception, match="unit='pair'"):
        export_epoch_order(spark, out, 2, salt="w")
    # ... and a seq-unit epoch on a PLAIN even-count set is refused
    # by the pairwise window reader
    out3 = str(tmp_path / "pw_seq")
    plain_even = spark.createDataFrame(
        [(0, [1, 2], [True, False]), (1, [3, 4], [False, True])],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    export_bin_shards(plain_even, out3, 1)
    export_epoch_order(spark, out3, 2)
    with pytest.raises(Exception, match="unit='pair'"):
        read_preference_window(spark, out3, 2, 0, 1)
    # an odd-count (non-preference) shard set cannot take pair unit
    out2 = str(tmp_path / "pw_odd")
    plain = spark.createDataFrame(
        [(1, [1, 2], [True, False])],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    export_bin_shards(plain, out2, 1)
    with pytest.raises(Exception, match="even"):
        export_epoch_order(spark, out2, 0, unit="pair")


def test_window_read_carries_asset_refs(spark, tmp_path):
    from topn_spark.operators.binshard import (
        export_epoch_order,
        read_bin_window,
    )

    out = str(tmp_path / "win_ast")
    df = _mm_frame(spark)
    export_bin_shards(df, out, 3, assets_col="asset_ids")
    export_epoch_order(spark, out, 0)
    win = read_bin_window(spark, out, 0, 5, 25).collect()
    assert len(win) == 20
    want = {r.seq_id: r.asset_ids for r in df.collect()}
    for r in win:
        assert r.asset_ids == want[r.seq_id]


# ------------------------------------------- loud-failure hardening


def test_duplicate_id_raises(spark, tmp_path):
    """id_col uniqueness is a hard contract: content_sig's
    multiset-XOR is blind to {A,A} -> {B,B} and .idx seq_ids are
    the audit link — a duplicate must raise, not export."""
    df = spark.createDataFrame(
        [(7, [1, 2], [True, False]), (7, [3, 4], [False, True]),
         (8, [5], [True])],
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>",
    )
    with pytest.raises(Exception, match="duplicate.*7"):
        export_bin_shards(df, str(tmp_path / "dup"), 1)


def test_verify_truncated_idx_reports_not_raises(spark, tmp_path):
    """A corrupt .idx that np.frombuffer rejects (ValueError, not
    OSError) must still land as ok=False with NULL actuals — the
    verify job itself never fails."""
    out = str(tmp_path / "trunc")
    export_bin_shards(_corpus(spark), out, 2, salt="t")
    victim = os.path.join(out, "shard_00000.idx")
    raw = open(victim, "rb").read()
    open(victim, "wb").write(raw[: len(raw) // 3])  # torn mid-array
    rows = {r.shard: r for r in verify_bin_shards(spark, out).collect()}
    assert rows[0].ok is False and rows[0].n_seqs_actual is None
    assert rows[1].ok is True


def test_incremental_sweeps_orphaned_temp_files(spark, tmp_path):
    """Failed/killed task attempts leave shard_*.inprogress-* temp
    files; a long-lived incremental out_dir must not accumulate
    them (they are never referenced by any manifest)."""
    out = str(tmp_path / "sweep")
    export_bin_shards(_corpus(spark), out, 3, salt="s")
    orphan = os.path.join(out, "shard_00001.bin.inprogress-dead")
    open(orphan, "wb").write(b"partial attempt")
    man = export_bin_shards(
        _corpus(spark), out, 3, salt="s", incremental=True
    )
    assert all(not r.rewritten for r in man.collect())  # still no-op
    assert not os.path.exists(orphan)


# ------------------------------------------- storage backend seam


def _stores(tmp_path):
    from topn_spark.operators.binfs import ObjectStoreBinaryStore

    return [
        ("posix", LocalBinaryStore()),
        ("object", ObjectStoreBinaryStore(str(tmp_path / "bucket"))),
    ]


def test_backend_round_trip_export_verify_read(spark, tmp_path):
    """The z116-shape round trip through BOTH storage backends: the
    shard layer must never rely on POSIX-only behavior (rename,
    append, seek-write) — the object backend exposes only PUT /
    ranged-GET / list / delete, and executor tasks talk to it
    directly (the store object ships inside the write closure)."""
    packed = _packed(spark)
    want = sorted(
        (r.seq_id, r.tokens, r.loss_mask)
        for r in packed.select(
            "seq_id", "tokens", "loss_mask"
        ).collect()
    )
    for name, st in _stores(tmp_path):
        out = str(tmp_path / f"rt_{name}")
        man = export_bin_shards(packed, out, 4, store=st).collect()
        assert sum(r.n_seqs for r in man) == len(want)
        assert all(
            r.ok
            for r in verify_bin_shards(spark, out, store=st).collect()
        )
        got = sorted(
            (r.seq_id, r.tokens, r.loss_mask)
            for r in read_bin_shards(spark, out, store=st).collect()
        )
        assert got == want, name


def test_backend_window_and_epoch_read(spark, tmp_path):
    """Window read over the object backend: seek maps to ranged
    GETs, and the window equals the same slice of the full epoch
    order — the seek-don't-scan property survives object storage."""
    from topn_spark.operators.binshard import (
        export_epoch_order,
        read_bin_window,
        read_epoch_order,
    )

    packed = _packed(spark)
    slices = {}
    for name, st in _stores(tmp_path):
        out = str(tmp_path / f"win_{name}")
        export_bin_shards(packed, out, 3, salt="b", store=st)
        export_epoch_order(spark, out, 1, salt="e", store=st)
        order = read_epoch_order(
            spark, out, 1, store=st
        ).orderBy("shard", "position").collect()
        assert {r.unit for r in order} == {"seq"}
        win = read_bin_window(
            spark, out, 1, 7, 19, store=st
        ).orderBy("global_pos").collect()
        assert [r.global_pos for r in win] == list(range(7, 19))
        slices[name] = [
            (r.seq_id, r.tokens, r.loss_mask) for r in win
        ]
    # both backends serve byte-identical content
    assert slices["posix"] == slices["object"]


def test_backend_preference_and_incremental(spark, tmp_path):
    """Preference export + incremental delta through the object
    backend: the signature diff, shard rewrite, and manifest
    carry-forward all run on object-store verbs only."""
    from topn_spark.operators.binshard import (
        export_preference_shards,
        read_preference_shards,
        verify_preference_shards,
    )
    from topn_spark.operators.binfs import ObjectStoreBinaryStore

    st = ObjectStoreBinaryStore(str(tmp_path / "bucket2"))
    out = str(tmp_path / "pref_obj")
    export_preference_shards(_pair_frame(spark, 30), out, 3, store=st)
    assert all(
        r.ok
        for r in verify_preference_shards(
            spark, out, store=st
        ).collect()
    )
    n0 = read_preference_shards(spark, out, store=st).count()
    assert n0 == 30
    # incremental: one pair changes -> only its shard rewrites
    changed = _pair_frame(spark, 30).withColumn(
        "chosen_tokens",
        F.when(
            F.col("pair_id") == 5,
            F.array(F.lit(42).cast("bigint")),
        ).otherwise(F.col("chosen_tokens")),
    ).withColumn(
        "chosen_mask",
        F.when(
            F.col("pair_id") == 5, F.array(F.lit(True))
        ).otherwise(F.col("chosen_mask")),
    )
    man = export_preference_shards(
        changed, out, 3, incremental=True, store=st
    ).collect()
    assert sum(1 for r in man if r.rewritten) == 1
    got = {
        r.pair_id: r.chosen_tokens
        for r in read_preference_shards(spark, out, store=st).collect()
    }
    assert got[5] == [42] and len(got) == 30


# ------------------------------------- input-pass (scan) contracts


def test_export_family_input_pass_counts(spark, tmp_path):
    """Pin the export family's scan shape with an instrumented
    source: a counting mapInPandas stage rides between the corpus
    and the exporter, so an accumulator totals rows-read × passes.
    The r12 export-path regressions (a second stats scan; per-write
    job overhead) were caught by bench numbers — this pins the
    contract structurally: since the r14 persist of the assigned
    projection, EVERY export mode reads the source exactly ONCE
    (the stats pass materializes the cache; the write pass — and
    the incremental-delta filter — consume the cache, never the
    source again)."""
    from topn_spark.operators.binshard import _read_meta

    acc = spark.sparkContext.accumulator(0)
    ddl = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    n = 40
    base = _corpus(spark)
    df = base.mapInPandas(counting, ddl)
    out = str(tmp_path / "passes")

    export_bin_shards(df, out, 6, salt="p")
    assert acc.value == n  # ONE source pass: stats fills the cache

    man = export_bin_shards(df, out, 6, salt="p", incremental=True)
    assert all(not r.rewritten for r in man.collect())
    assert acc.value == 2 * n  # no-op adds exactly ONE pass
    assert _read_meta(spark, out)["export_version"] == 1

    changed = _corpus(spark, change=(3,)).mapInPandas(counting, ddl)
    man = export_bin_shards(
        changed, out, 6, salt="p", incremental=True
    )
    assert sum(1 for r in man.collect() if r.rewritten) == 1
    assert acc.value == 3 * n  # delta adds ONE pass (cache-fed write)


def test_delta_export_batch_sized_stats_and_cross_check(
    spark, tmp_path
):
    """export_bin_shards_delta's signature fold reads ONLY the
    batch (accumulator-proven), produces bytes identical to a
    from-scratch export, and its post-write cross-check RAISES when
    the batch is not a pure append (an update in place breaks the
    XOR fold's soundness)."""
    import glob as _glob
    import hashlib

    from topn_spark.operators.binshard import (
        export_bin_shards_delta,
    )
    from topn_spark.operators.pipeline import shard_assignment

    ddl = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, [1 + i % 6, 9], [True, bool(i % 2)])
             for i in range(lo, hi)],
            ddl,
        )

    out = str(tmp_path / "delta")
    export_bin_shards(mk(0, 50), out, 5, salt="d")

    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    batch = mk(50, 56).mapInPandas(counting, ddl)
    store_df = shard_assignment(mk(0, 56), 5, "seq_id", "d")
    man = export_bin_shards_delta(
        batch, store_df, out, 5, salt="d"
    ).collect()
    # the batch was scanned once for the fold and once inside
    # store_df's rewrite? no — store_df is a separate frame; the
    # BATCH frame is read exactly once (the fold aggregate)
    assert acc.value == 6
    touched = {r.shard for r in man if r.rewritten}
    assert touched == {
        r.shard
        for r in shard_assignment(mk(50, 56), 5, "seq_id", "d")
        .select("shard").distinct().collect()
    }
    clean = str(tmp_path / "delta_clean")
    export_bin_shards(mk(0, 56), clean, 5, salt="d")

    def hashes(d):
        return {
            os.path.basename(p): hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
            for p in _glob.glob(os.path.join(d, "shard_*"))
        }

    assert hashes(out) == hashes(clean)
    # non-append batch (updates an EXISTING id in place in the
    # store): the fold predicts a grown shard, the rewrite finds
    # the same count -> loud cross-check, never silent divergence
    upd = spark.createDataFrame([(3, [42], [True])], ddl)
    store2 = shard_assignment(
        mk(0, 56), 5, "seq_id", "d"
    ).withColumn(
        "tokens",
        F.when(
            F.col("seq_id") == 3, F.array(F.lit(42).cast("bigint"))
        ).otherwise(F.col("tokens")),
    ).withColumn(
        "loss_mask",
        F.when(
            F.col("seq_id") == 3, F.array(F.lit(True))
        ).otherwise(F.col("loss_mask")),
    )
    with pytest.raises(Exception, match="not a pure append"):
        export_bin_shards_delta(upd, store2, out, 5, salt="d")


def test_delta_export_requires_a_store(spark, tmp_path):
    """Without ``store_df`` or ``store_reader`` the delta has nothing
    to rewrite the touched shards from: it must refuse at entry with
    a ValueError, before it deletes any shard file."""
    from topn_spark.operators.binshard import export_bin_shards_delta
    from topn_spark.operators.pipeline import shard_assignment

    ddl = "seq_id bigint, tokens array<bigint>, loss_mask array<boolean>"
    out = str(tmp_path / "nostore")
    export_bin_shards(
        spark.createDataFrame([(1, [5], [True])], ddl), out, 2, salt="n"
    )
    batch = shard_assignment(
        spark.createDataFrame([(2, [6], [True])], ddl), 2, "seq_id", "n"
    )
    with pytest.raises(
        ValueError, match="store_df is required when store_reader is None"
    ):
        export_bin_shards_delta(batch, None, out, 2, salt="n")
    assert [r.seq_id for r in read_bin_shards(spark, out).collect()] == [1]
    assert all(r.ok for r in verify_bin_shards(spark, out).collect())


def test_range_sharding_round_trip_and_scheme_guard(spark, tmp_path):
    """Range sharding (shard = id // seqs_per_shard): contiguous
    bounded shards, full round trip, and the scheme is a hard
    incremental contract — re-exporting under a different scheme
    (or hash) raises instead of silently moving every row."""
    from topn_spark.operators.binshard import _read_meta

    ddl = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )
    df = spark.createDataFrame(
        [(i, [1 + i % 6], [True]) for i in range(47)], ddl
    )
    out = str(tmp_path / "range")
    man = export_bin_shards(df, out, 0, seqs_per_shard=10).collect()
    assert [r.shard for r in man] == [0, 1, 2, 3, 4]
    assert [r.n_seqs for r in man] == [10, 10, 10, 10, 7]
    assert _read_meta(spark, out)["shard_scheme"] == "range:10"
    back = read_bin_shards(spark, out)
    assert back.count() == 47
    # each shard holds exactly its contiguous id range
    got = {
        (r.shard, r.seq_id) for r in back.select("shard", "seq_id").collect()
    }
    assert got == {(i // 10, i) for i in range(47)}
    with pytest.raises(Exception, match="shard_scheme"):
        export_bin_shards(
            df, out, 0, seqs_per_shard=20, incremental=True
        )
    with pytest.raises(Exception, match="shard_scheme"):
        export_bin_shards(df, out, 5, incremental=True)
    with pytest.raises(Exception, match="positive"):
        export_bin_shards(df, str(tmp_path / "r0"), 0)


# --------------------------------------------- trainer resume cursor


def test_resume_cursor_windows_rollover_and_version_guard(
    spark, tmp_path
):
    """resume_bin_window serves consecutive windows across commits,
    rolls to the next epoch's order at exhaustion, dispatches pair
    layouts to the pairwise reader, and refuses a cursor minted at
    an older export_version."""
    from topn_spark.operators.binshard import (
        commit_trainer_cursor,
        export_epoch_order,
        export_preference_shards,
        read_bin_window,
        resume_bin_window,
    )

    ddl = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )

    def mk(n, mark=None):
        return spark.createDataFrame(
            [
                (i, [99] if i == mark else [1 + i % 6], [True])
                for i in range(n)
            ],
            ddl,
        )

    out = str(tmp_path / "cur")
    export_bin_shards(mk(30), out, 3, salt="c")
    export_epoch_order(spark, out, 0, salt="c0")
    export_epoch_order(spark, out, 1, salt="c1")
    served = []
    cur = None
    for _ in range(4):  # 12 + 12 + 6(rollover clamp) + 12
        frame, cur = resume_bin_window(spark, out, 12)
        served.append(frame.orderBy("global_pos").collect())
        commit_trainer_cursor(out, cur)
    assert [len(w) for w in served] == [12, 12, 6, 12]
    # windows 1-3 tile epoch 0 exactly
    e0 = read_bin_window(spark, out, 0, 0, 30).orderBy(
        "global_pos"
    ).collect()
    flat = [r.seq_id for w in served[:3] for r in w]
    assert flat == [r.seq_id for r in e0]
    # window 4 is epoch 1's head
    assert cur["epoch"] == 1 and cur["next_pos"] == 12
    e1 = read_bin_window(spark, out, 1, 0, 12).orderBy(
        "global_pos"
    ).collect()
    assert [r.seq_id for r in served[3]] == [r.seq_id for r in e1]
    # corpus version bump -> committed cursor refused loudly
    export_bin_shards(
        mk(30, mark=7), out, 3, salt="c", incremental=True
    )
    export_epoch_order(spark, out, 0, salt="c0")
    with pytest.raises(Exception, match="export_version"):
        resume_bin_window(spark, out, 12)
    # pair layout dispatches to the pairwise reader
    pout = str(tmp_path / "cur_pairs")
    export_preference_shards(
        _pair_frame(spark, 10), pout, 2, salt="p"
    )
    export_epoch_order(spark, pout, 0, salt="p0", unit="pair")
    frame, cur = resume_bin_window(spark, pout, 4)
    rows = frame.collect()
    assert len(rows) == 4 and "chosen_tokens" in frame.columns
    assert cur == {"epoch": 0, "next_pos": 4, "export_version": 1}


# ------------------------------------------------ pinned shard bytes


def _rows_md5(df, order):
    import hashlib
    import json

    rows = [list(r) for r in df.orderBy(*order).collect()]
    return hashlib.md5(json.dumps(rows).encode()).hexdigest()


def test_shard_bytes_pinned(spark, tmp_path):
    """Byte-level pins across code versions: every ``shard_*`` file
    and every reader's rows after a full export, a batch delta, an
    incremental rewrite of one changed shard and an epoch order
    (seq layout with mask and assets), and after a preference
    export plus a pair-unit epoch (pair layout, uint32 tokens).
    The other round-trip tests only compare a re-export with
    itself; these digests fail when the layout drifts."""
    from topn_spark.operators.binshard import (
        export_bin_shards_delta,
        export_epoch_order,
        export_preference_shards,
        read_bin_window,
        read_preference_shards,
        read_preference_window,
    )
    from topn_spark.operators.pipeline import shard_assignment

    ddl = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>, assets array<bigint>"
    )

    def seqs(ids, changed=None):
        rows = []
        for i in ids:
            toks = [(i * 7 + j) % 50 + 1 for j in range(i % 5)]
            if i == changed:
                toks = [49] + toks
            rows.append(
                (
                    i, toks, [j % 2 == 0 for j in range(len(toks))],
                    [i * 10 + a for a in range(i % 3)],
                )
            )
        return spark.createDataFrame(rows, ddl)

    kw = dict(salt="pin", assets_col="assets")
    out = str(tmp_path / "pin_seq")
    seq_order = ["shard", "seq_index"]

    export_bin_shards(seqs(range(9)), out, 2, **kw)
    assert _file_hashes(out) == {
        "shard_00000.ast": "f5313e833dc7f2501f7959dd85bbf43b",
        "shard_00000.bin": "72e82d3404edfd5548ca9f7d7b6d1616",
        "shard_00000.idx": "3a41bc3ff0849f08337c2b142ec86437",
        "shard_00000.msk": "e3b99cbc875fba06408671e5468efa0c",
        "shard_00001.ast": "c52a69f19b9619b7995009fbfad3379d",
        "shard_00001.bin": "465ac4c26388e06018bbca73aae8f5e1",
        "shard_00001.idx": "c9ac48b2be8220e744314d322a4f412b",
        "shard_00001.msk": "249ba6277758050695e8f5909bacd6d3",
    }
    assert _rows_md5(read_bin_shards(spark, out), seq_order) == (
        "c7285f507a64c705f481b10f1ddac6b3"
    )

    export_bin_shards_delta(
        seqs(range(9, 12)),
        shard_assignment(seqs(range(12)), 2, "seq_id", "pin"),
        out, 2, **kw,
    )
    assert _file_hashes(out) == {
        "shard_00000.ast": "25845f4d2352863ba908d299930e2214",
        "shard_00000.bin": "d564896218be27f51f35914fac345e6e",
        "shard_00000.idx": "ea605e695101adac3bfdab1f5527e6dd",
        "shard_00000.msk": "b6a35748fdc63f8d52bdfdd2a6281062",
        "shard_00001.ast": "197c48cd925e2135994123bd0605a0be",
        "shard_00001.bin": "c2ebb6f17471bd5334d9107c90bbcdcb",
        "shard_00001.idx": "7cfd4ae24c74d63ec5bb9eff2a83dce6",
        "shard_00001.msk": "39849e2cbf0a783ca59593c685053a24",
    }
    assert _rows_md5(read_bin_shards(spark, out), seq_order) == (
        "5067d855bd4181bb84f0bb76b582cfc3"
    )

    man = export_bin_shards(
        seqs(range(12), changed=4), out, 2, incremental=True, **kw
    ).collect()
    assert sum(r.rewritten for r in man) == 1
    assert _file_hashes(out) == {
        "shard_00000.ast": "25845f4d2352863ba908d299930e2214",
        "shard_00000.bin": "085ad4f7c2f98e3f920725f18e389549",
        "shard_00000.idx": "31a67f84dbc1b8cba0a6358d3cf77ac5",
        "shard_00000.msk": "0fefbbe4e0e5746d75815215afc04bc6",
        "shard_00001.ast": "197c48cd925e2135994123bd0605a0be",
        "shard_00001.bin": "c2ebb6f17471bd5334d9107c90bbcdcb",
        "shard_00001.idx": "7cfd4ae24c74d63ec5bb9eff2a83dce6",
        "shard_00001.msk": "39849e2cbf0a783ca59593c685053a24",
    }
    assert _rows_md5(read_bin_shards(spark, out), seq_order) == (
        "d055d444dc542257a3962b9360e26647"
    )

    export_epoch_order(spark, out, 0, salt="pin")
    assert _file_hashes(out) == {
        "shard_00000.ast": "25845f4d2352863ba908d299930e2214",
        "shard_00000.bin": "085ad4f7c2f98e3f920725f18e389549",
        "shard_00000.ep0000": "536ba254655d2ce5b5b7c962e5e522c7",
        "shard_00000.idx": "31a67f84dbc1b8cba0a6358d3cf77ac5",
        "shard_00000.msk": "0fefbbe4e0e5746d75815215afc04bc6",
        "shard_00001.ast": "197c48cd925e2135994123bd0605a0be",
        "shard_00001.bin": "c2ebb6f17471bd5334d9107c90bbcdcb",
        "shard_00001.ep0000": "23e8278e2b69a3a75fa59b23c49ed6ad",
        "shard_00001.idx": "7cfd4ae24c74d63ec5bb9eff2a83dce6",
        "shard_00001.msk": "39849e2cbf0a783ca59593c685053a24",
    }
    assert _rows_md5(
        read_bin_window(spark, out, 0, 2, 10), ["global_pos"]
    ) == "95dfae205fd2ce6e319322443528bedd"

    pairs = spark.createDataFrame(
        [
            (
                p,
                [70000 + p + j for j in range(1 + p % 3)],
                [j > 0 for j in range(1 + p % 3)],
                [5 + j for j in range(p % 4)],
                [True] * (p % 4),
            )
            for p in range(10)
        ],
        "pair_id bigint, chosen_tokens array<bigint>,"
        " chosen_mask array<boolean>,"
        " rejected_tokens array<bigint>,"
        " rejected_mask array<boolean>",
    )
    pout = str(tmp_path / "pin_pair")
    export_preference_shards(pairs, pout, 2, salt="pin")
    assert _file_hashes(pout) == {
        "shard_00000.bin": "acb60cf4974e73af75139b25dae8f049",
        "shard_00000.idx": "011d67bebfbc920f234f79ba29df9d44",
        "shard_00000.msk": "684ec645c338d0a109c862af8f3102e0",
        "shard_00001.bin": "8a86dd8c374a85aa8a301481497a56c1",
        "shard_00001.idx": "e2618e9cc66e01346a5875cab429c7b4",
        "shard_00001.msk": "39914c93d132942aa841da77e7253018",
    }
    assert _rows_md5(
        read_preference_shards(spark, pout), ["shard", "pair_index"]
    ) == "97b8751d8c70a2c591cd69a8276019ae"
    export_epoch_order(spark, pout, 1, salt="pin", unit="pair")
    assert _rows_md5(
        read_preference_window(spark, pout, 1, 1, 9), ["global_pos"]
    ) == "e9c0f8c444c5308aa5f56555bcece184"


def test_delta_export_accepts_all_empty_token_batch(spark, tmp_path):
    """A batch whose token arrays are all empty has no token-id range.
    The full export resolves that like id 0; the delta must too: the
    batch folds, its shards rewrite, and the rows read back as
    zero-length sequences, byte-identical to a full export."""
    from topn_spark.operators.binshard import export_bin_shards_delta
    from topn_spark.operators.pipeline import shard_assignment

    ddl = "seq_id bigint, tokens array<bigint>, loss_mask array<boolean>"
    base = [(i, [1 + i, 2], [True, False]) for i in range(6)]
    empty = [(i, [], []) for i in range(6, 9)]
    out = str(tmp_path / "empty_delta")
    export_bin_shards(spark.createDataFrame(base, ddl), out, 2, salt="e")
    man = export_bin_shards_delta(
        spark.createDataFrame(empty, ddl),
        shard_assignment(
            spark.createDataFrame(base + empty, ddl), 2, "seq_id", "e"
        ),
        out, 2, salt="e",
    ).collect()
    assert any(r.rewritten for r in man)
    back = {
        r.seq_id: (r.n_tokens, r.tokens, r.loss_mask)
        for r in read_bin_shards(spark, out).collect()
    }
    assert back == {
        **{i: (2, [1 + i, 2], [True, False]) for i in range(6)},
        **{i: (0, [], []) for i in range(6, 9)},
    }
    assert all(r.ok for r in verify_bin_shards(spark, out).collect())
    full = str(tmp_path / "empty_full")
    export_bin_shards(
        spark.createDataFrame(base + empty, ddl), full, 2, salt="e"
    )
    assert _file_hashes(full) == _file_hashes(out)


def test_one_shard_writer_and_one_sequence_decoder():
    """The binary shard layer is single-sourced: one writer packs the
    loss masks and one decoder unpacks them, and the removed private
    plumbing stays gone. Pinned structurally so a re-grown copy turns
    the suite red."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "topn_spark"
    binshard = (pkg / "operators" / "binshard.py").read_text()
    assert binshard.count("np.packbits(") == 1
    assert binshard.count("np.unpackbits(") == 1
    sources = {p: p.read_text() for p in sorted(pkg.rglob("*.py"))}
    for gone in (
        "_topn_manifest_rows", "_NullCtx", "export_preference_shards_delta",
    ):
        holders = [str(p) for p, text in sources.items() if gone in text]
        assert not holders, (gone, holders)


# ------------------------------------------ byte-sized writer spread


def _spread_seqs(spark, ids, bump=()):
    """Pandas-built (Arrow) sequences: a list-built frame is a Python
    RDD whose every job first runs a Python pass per partition."""
    import pandas as pd

    ids = list(ids)
    toks = [
        [(i * 7 + j) % 50 + 1 + (i in bump) for j in range(1 + i % 5)]
        for i in ids
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "seq_id": ids,
                "tokens": toks,
                "loss_mask": [[j % 2 == 0 for j in t] for t in toks],
            }
        ),
        "seq_id bigint, tokens array<bigint>, loss_mask array<boolean>",
    )


def _write_job(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    ``(n_stages, n_tasks)`` of the group's last job — the writer's
    ``collect``. A repartition would put its shuffle-map stage in
    that job too (run as a separate AQE job, listed as skipped)."""
    import uuid

    sc = spark.sparkContext
    tr = sc.statusTracker()
    group = f"spread-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stages = tr.getJobInfo(max(tr.getJobIdsForGroup(group))).stageIds
    return out, (len(stages), tr.getStageInfo(max(stages)).numTasks)


def test_small_delta_writes_in_one_task_without_exchange(spark, tmp_path):
    """A commit far below one writer task's bytes writes all of
    its touched shards in ONE task: the writer's job is one stage,
    with no exchange ahead of it."""
    from topn_spark.operators.binshard import export_bin_shards_delta
    from topn_spark.operators.pipeline import shard_assignment

    out = str(tmp_path / "small_delta")
    export_bin_shards(_spread_seqs(spark, range(40)), out, 4, salt="sp")
    man, job = _write_job(
        spark,
        lambda: export_bin_shards_delta(
            _spread_seqs(spark, range(40, 46)),
            shard_assignment(
                _spread_seqs(spark, range(46)), 4, "seq_id", "sp"
            ),
            out, 4, salt="sp",
        ),
    )
    assert sum(r.rewritten for r in man.collect()) > 1
    assert job == (1, 1)


def test_forced_spread_writes_the_same_bytes(spark, tmp_path):
    """With the advisory partition size set to a few bytes, the full,
    incremental and delta writers spread to one task per written
    shard, and every shard file equals the one-task write's."""
    from topn_spark.operators.binshard import export_bin_shards_delta
    from topn_spark.operators.pipeline import shard_assignment

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

    def steps(out):
        jobs = []
        _, job = _write_job(
            spark,
            lambda: export_bin_shards(
                _spread_seqs(spark, range(30)), out, 5, salt="f"
            ),
        )
        jobs.append(job)
        man, job = _write_job(
            spark,
            lambda: export_bin_shards(
                _spread_seqs(spark, range(30), bump=(3, 4)), out, 5,
                salt="f", incremental=True,
            ),
        )
        jobs.append((job, sum(r.rewritten for r in man.collect())))
        man, job = _write_job(
            spark,
            lambda: export_bin_shards_delta(
                _spread_seqs(spark, range(30, 36)),
                shard_assignment(
                    _spread_seqs(spark, range(36), bump=(3, 4)), 5,
                    "seq_id", "f",
                ),
                out, 5, salt="f",
            ),
        )
        jobs.append((job, sum(r.rewritten for r in man.collect())))
        return jobs, _file_hashes(out)

    one_jobs, one = steps(str(tmp_path / "one"))
    spark.conf.set(key, "8b")
    try:
        wide_jobs, wide = steps(str(tmp_path / "wide"))
    finally:
        spark.conf.unset(key)
    assert one == wide
    assert one_jobs[0] == (1, 1)
    assert all(job == (1, 1) for job, _ in one_jobs[1:])
    # spread: shuffle-map stage + one write task per written shard
    assert wide_jobs[0] == (2, 5)
    for (stages, tasks), n_written in wide_jobs[1:]:
        assert n_written > 1
        assert (stages, tasks) == (2, n_written)


def test_writer_task_bytes_caps_the_advisory_size(
    spark, tmp_path, monkeypatch
):
    """The writer's own per-task size caps the session's advisory
    partition size: at the default advisory size, a write over that
    cap spreads to one task per written shard."""
    from topn_spark.operators import binshard

    monkeypatch.setattr(binshard, "_WRITER_TASK_BYTES", 8)
    _, job = _write_job(
        spark,
        lambda: export_bin_shards(
            _spread_seqs(spark, range(30)), str(tmp_path / "cap"), 5,
            salt="f",
        ),
    )
    assert job == (2, 5)


def test_incremental_one_changed_shard_writes_in_one_task(
    spark, tmp_path
):
    """An ``incremental=True`` export that changes one of 8 shards
    sizes its writer from that shard alone: one task, one stage."""
    out = str(tmp_path / "inc_one")
    export_bin_shards(_spread_seqs(spark, range(48)), out, 8, salt="i")
    man, job = _write_job(
        spark,
        lambda: export_bin_shards(
            _spread_seqs(spark, range(48), bump=(5,)), out, 8,
            salt="i", incremental=True,
        ),
    )
    assert sum(r.rewritten for r in man.collect()) == 1
    assert job == (1, 1)


def test_manifest_collect_starts_no_python_worker(spark, tmp_path):
    """The returned manifest is a local relation: its executed plan
    scans no Python RDD, and collecting it runs no Spark job."""
    out = str(tmp_path / "man_local")
    for man in (
        export_bin_shards(_spread_seqs(spark, range(20)), out, 3),
        export_bin_shards(
            _spread_seqs(spark, range(20), bump=(2,)), out, 3,
            incremental=True,
        ),
    ):
        sc = spark.sparkContext
        sc.setJobGroup("manifest-collect", "manifest-collect")
        try:
            rows = man.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        plan = man._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
        assert not sc.statusTracker().getJobIdsForGroup("manifest-collect")
        assert [r.shard for r in rows] == [0, 1, 2]
