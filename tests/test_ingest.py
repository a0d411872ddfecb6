"""Incremental corpus ingestion: streaming dedup against the full
fingerprint history must equal batch exact-dedup over the union of all
data ever ingested — across multiple stream runs (restarts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from topn_spark.streaming.ingest import ingest_batch, start_batches


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").repartition(
        2
    ).write.mode("append").parquet(path)


def test_incremental_ingest_dedups_across_runs(spark, tmp_path):
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    # run 1: 4 docs, one in-batch duplicate pair (1,2)
    _write_docs(
        spark,
        src,
        [(1, "alpha text"), (2, "alpha text"), (3, "beta text"),
         (4, "gamma text")],
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_batches(stream, lambda b, _i: ingest_batch(b, store, out), ck)
    q.awaitTermination(120)

    got1 = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {(1, "alpha text"), (3, "beta text"), (4, "gamma text")}

    # run 2 (restart): re-sends an old text under a new id + new docs
    _write_docs(
        spark,
        src,
        [(5, "alpha text"), (6, "delta text"), (7, "delta text")],
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_batches(stream, lambda b, _i: ingest_batch(b, store, out), ck)
    q.awaitTermination(120)

    got2 = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    }
    # 5 rejected (alpha seen in run 1); only one of (6,7) kept
    assert got2 == got1 | {(6, "delta text")}
    # store holds exactly the distinct fingerprints
    assert spark.read.parquet(store).distinct().count() == 4


def test_continuous_rollup_equals_batch_rollup(spark, tmp_path):
    """Replaying events through the continuous-rollup sink in three
    micro-batches must answer identically to a one-shot batch rollup
    over all data: algebraic columns exactly, HLL NDV within
    tolerance of exact."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from topn_spark.catalog import load_table
    from topn_spark.operators.rollup import (
        BUCKET_COL,
        RollupSpec,
        finalize,
        rollup,
    )
    from topn_spark.streaming.rollup import continuous_rollup_sink, read_rollup

    spec = RollupSpec(
        keys=("event_type",),
        sum_cols=("value_dec",),
        minmax_cols=("value",),
        distinct_cols=("user_id",),
    )
    ev = (
        load_table(spark, SF_SMALL, "events")
        .withColumn("value_dec", F.col("value").cast("decimal(18,2)"))
        .select("event_id", "ts", "user_id", "event_type", "value", "value_dec")
    )
    src = str(tmp_path / "src")
    # 3 chunks that interleave time buckets (split by event_id mod, not
    # ts, so batches genuinely collide on the same buckets)
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).write.mode("overwrite").parquet(
            f"{src}/chunk={i}"
        )
    store = str(tmp_path / "store")
    for i in range(3):
        stream = spark.readStream.schema(ev.schema).parquet(f"{src}/chunk={i}")
        q = continuous_rollup_sink(
            stream, store, str(tmp_path / f"ckpt{i}"), "ts", "hour", spec
        )
        q.awaitTermination(120)

    got = finalize(read_rollup(spark, store), spec)
    want = finalize(rollup(ev, "ts", "hour", spec), spec)
    key = lambda r: (r[BUCKET_COL], r["event_type"])
    g = {key(r): r for r in got.collect()}
    w = {key(r): r for r in want.collect()}
    assert g.keys() == w.keys() and len(w) > 3
    for k, wr in w.items():
        gr = g[k]
        assert (gr["cnt"], gr["sum_value_dec"], gr["min_value"], gr["max_value"]) == (
            wr["cnt"], wr["sum_value_dec"], wr["min_value"], wr["max_value"]
        ), k
        # sketches merged across batches vs built in one shot: both
        # estimate the same exact NDV within HLL error
        assert abs(gr["approx_ndv_user_id"] - wr["approx_ndv_user_id"]) <= max(
            2, 0.1 * wr["approx_ndv_user_id"]
        ), k


def test_rollup_sink_replay_is_idempotent(spark, tmp_path):
    """Re-applying an epoch id that already merged must be a no-op
    (the checkpoint-scoped ledger guards at-least-once foreachBatch
    delivery); a NEW epoch id with the same rows merges again."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from topn_spark.catalog import load_table
    from topn_spark.operators.rollup import RollupSpec
    from topn_spark.streaming.rollup import apply_batch, read_rollup

    spec = RollupSpec(keys=("event_type",))
    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "event_type"
    ).limit(500)
    store, ledger = str(tmp_path / "store"), str(tmp_path / "ledger")

    def total():
        return read_rollup(spark, store).agg(F.sum("cnt")).collect()[0][0]

    apply_batch(ev, 0, store, ledger, "ts", "hour", spec)
    assert total() == 500
    apply_batch(ev, 0, store, ledger, "ts", "hour", spec)  # replayed epoch
    assert total() == 500
    apply_batch(ev, 1, store, ledger, "ts", "hour", spec)  # genuinely new
    assert total() == 1000


def test_neardup_ingest_gates_on_similarity_across_runs(spark, tmp_path):
    from topn_spark.streaming.ingest import (
        neardup_ingest_batch,
        start_batches,
    )

    src = str(tmp_path / "nsrc")
    store = str(tmp_path / "nstore")
    out = str(tmp_path / "nout")
    ck = str(tmp_path / "nck")

    def gate(batch, _batch_id):
        neardup_ingest_batch(batch, store, out, threshold=0.5)

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles carry heavy stones across a narrow wooden "
        "bridge during the long summer afternoon rain"
    )
    near1 = base.replace("rain", "storm")       # ~3 shingles differ
    near2 = base.replace("afternoon", "morning")
    other = (
        "completely different content about database engines columnar "
        "scans vectorized execution and shuffle partitioning with no "
        "overlap at all in any trigram of this text whatsoever"
    )
    third = (
        "yet another unrelated document describing mountain weather "
        "patterns alpine flora and the migration habits of swallows "
        "observed across several european valleys each spring"
    )

    # run 1: base admitted; its in-batch near-dup dropped; other kept
    _write_docs(spark, src, [(1, base), (2, near1), (3, other)])
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_batches(stream, gate, ck)
    q.awaitTermination(180)
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 3}

    # run 2 (restart): near-dup of the STORED doc rejected, novel kept
    _write_docs(spark, src, [(4, near2), (5, third)])
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_batches(stream, gate, ck)
    q.awaitTermination(180)
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 3, 5}
    # the index holds exactly the admitted ids
    assert {
        r["doc_id"] for r in spark.read.parquet(f"{store}/sigs").collect()
    } == {1, 3, 5}


def test_cdc_snapshot_sink_classifies_and_maintains_snapshot(
    spark, tmp_path
):
    """The snapshot lives in the manifest-committed versioned store —
    reads go through read_cdc_snapshot, never a direct parquet read of
    the store root (the root holds v<seq>/ dirs plus _MANIFEST)."""
    import os

    from topn_spark.streaming.ingest import (
        cdc_batch,
        read_cdc_snapshot,
        start_batches,
    )

    src = str(tmp_path / "cdc_src")
    snap = str(tmp_path / "cdc_snap")
    chg = str(tmp_path / "cdc_chg")
    ck = str(tmp_path / "cdc_ck")

    def upserts(rows):
        spark.createDataFrame(
            rows, "k long, v string"
        ).repartition(2).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema("k long, v string").parquet(src)
        q = start_batches(
            stream,
            lambda b, i: cdc_batch(b, snap, chg, ["k"], ["v"], i),
            ck,
        )
        q.awaitTermination(120)

    # run 1: first-ever batch -> all added (incl. a within-batch dup
    # of key 1 that must collapse to one deterministic row)
    upserts([(1, "a"), (1, "a"), (2, "b")])
    run()
    log1 = {
        (r.k, r.status, r.epoch)
        for r in spark.read.parquet(chg).collect()
    }
    assert log1 == {(1, "added", 0), (2, "added", 0)}
    snap1 = {(r.k, r.v) for r in read_cdc_snapshot(spark, snap).collect()}
    assert snap1 == {(1, "a"), (2, "b")}
    # store layout: versioned dirs + manifest pointer, no flat data
    names = set(os.listdir(snap))
    assert "_MANIFEST" in names
    assert any(n.startswith("v") and n[1:].isdigit() for n in names)

    # run 2 (restart): change 1, repeat 2 unchanged, add 3; key 4
    # never mentioned -> no 'removed' rows in an upsert stream
    upserts([(1, "A2"), (2, "b"), (3, "c")])
    run()
    statuses = sorted(
        (r.k, r.status)
        for r in spark.read.parquet(chg).collect()
    )
    assert statuses.count((1, "changed")) == 1
    assert statuses.count((2, "unchanged")) == 1
    assert statuses.count((3, "added")) == 1
    snap2 = {(r.k, r.v) for r in read_cdc_snapshot(spark, snap).collect()}
    assert snap2 == {(1, "A2"), (2, "b"), (3, "c")}


def test_cdc_replayed_epoch_dedups_on_read(spark, tmp_path):
    """A replayed foreachBatch epoch re-appends its change rows (the
    snapshot commit is replay-safe, the log append is not);
    read_cdc_changes collapses the duplicates and supports
    incremental since_epoch reads."""
    from topn_spark.streaming.ingest import (
        cdc_batch,
        read_cdc_changes,
        read_cdc_snapshot,
    )

    snap = str(tmp_path / "snap")
    chg = str(tmp_path / "chg")
    b1 = spark.createDataFrame([(1, "a")], "k long, v string")
    cdc_batch(b1, snap, chg, ["k"], ["v"], batch_id=0)
    # replay of epoch 0 after a checkpoint rollback
    cdc_batch(b1, snap, chg, ["k"], ["v"], batch_id=0)
    b2 = spark.createDataFrame([(1, "a2")], "k long, v string")
    cdc_batch(b2, snap, chg, ["k"], ["v"], batch_id=1)
    raw = spark.read.parquet(chg).collect()
    assert len(raw) == 3  # the duplicate append is physically there
    clean = {
        (r.k, r.status, r.epoch)
        for r in read_cdc_changes(spark, chg).collect()
    }
    assert clean == {(1, "added", 0), (1, "changed", 1)}
    inc = read_cdc_changes(spark, chg, since_epoch=0).collect()
    assert [(r.k, r.status, r.epoch) for r in inc] == [
        (1, "changed", 1)
    ]
    # snapshot stayed correct through the replay
    got = {(r.k, r.v) for r in read_cdc_snapshot(spark, snap).collect()}
    assert got == {(1, "a2")}


def test_corrupt_fingerprint_store_raises_not_readmits(spark, tmp_path):
    """A store-read failure that is NOT missing-path must raise: the
    old broad `except Exception` treated a corrupt store as 'first
    batch' and silently re-admitted every duplicate."""
    import pytest

    from topn_spark.streaming.ingest import ingest_batch

    store = tmp_path / "bad_store"
    store.mkdir()
    (store / "junk.parquet").write_bytes(b"definitely not parquet \x00\x01")
    batch = spark.createDataFrame(
        [(1, "alpha")], "doc_id long, text string"
    )
    with pytest.raises(Exception) as ei:
        ingest_batch(batch, str(store), str(tmp_path / "out"))
    # the raise came from the store read, not from a downstream write
    assert "parquet" in str(ei.value).lower() or "footer" in str(
        ei.value
    ).lower()


def test_inconsistent_lsh_store_raises(spark, tmp_path):
    """sigs present + buckets missing is a corrupt index, not a first
    batch — admitting against half an index would re-admit near-dups."""
    import pytest

    from topn_spark.streaming.ingest import neardup_ingest_batch

    store = str(tmp_path / "half_store")
    spark.createDataFrame(
        [(1, [1, 2, 3])], "doc_id long, sig array<int>"
    ).write.parquet(f"{store}/sigs")
    batch = spark.createDataFrame(
        [(2, "some text here")], "doc_id long, text string"
    )
    with pytest.raises(IOError, match="inconsistent"):
        neardup_ingest_batch(batch, store, str(tmp_path / "nout"))


def test_cdc_snapshot_commit_leaves_no_staging_dir(spark, tmp_path):
    """Each batch commits an immutable store version via staging +
    rename; after a successful batch no staging dir remains, the
    manifest resolves the fully merged snapshot, and the previous
    version is retained for in-flight readers (keep=1)."""
    import os

    from topn_spark.streaming.ingest import cdc_batch, read_cdc_snapshot

    snap = str(tmp_path / "snap")
    chg = str(tmp_path / "chg")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    cdc_batch(b1, snap, chg, ["k"], ["v"], batch_id=0)
    b2 = spark.createDataFrame([(1, "A2"), (3, "c")], "k long, v string")
    cdc_batch(b2, snap, chg, ["k"], ["v"], batch_id=1)
    got = {(r.k, r.v) for r in read_cdc_snapshot(spark, snap).collect()}
    assert got == {(1, "A2"), (2, "b"), (3, "c")}
    names = os.listdir(snap)
    assert [n for n in names if n.startswith(".staging")] == []
    versions = sorted(n for n in names if n.startswith("v"))
    assert len(versions) == 2  # current + keep=1 predecessor
    with open(os.path.join(snap, "_MANIFEST")) as fh:
        assert fh.readline().strip() == versions[-1]


def test_quality_corpus_sink_gates_and_dead_letters(spark, tmp_path):
    """Rules + saved-LM perplexity cut over a stream: admissions land
    in the corpus, every rejection lands in the dead-letter log with
    its reason (gopher / unscored / perplexity)."""
    from topn_spark.operators.lm import save_bigram_lm, train_bigram_lm
    from topn_spark.streaming.ingest import quality_corpus_sink

    clean = (
        "the quick brown fox jumps over the lazy dog and then "
        "the dog jumps over the quick brown fox again today " * 3
    ).strip()
    train = spark.createDataFrame(
        [(i, clean) for i in range(30)], "doc_id long, text string"
    )
    uni, bi = train_bigram_lm(train)
    model = str(tmp_path / "gate_lm")
    save_bigram_lm(uni, bi, model)

    # 72 alpha words with stopwords: passes every Gopher rule but is
    # entirely out-of-model, so only the perplexity cut can reject it
    gibberish = (
        "the zorb and vex of snerd that have with blim golp trun " * 6
    ).strip()
    bullet_spam = "• item in a list\n" * 60
    src = str(tmp_path / "qsrc")
    spark.createDataFrame(
        [
            (1, clean),
            (2, gibberish),
            (3, bullet_spam),
            (4, "solo"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        src
    )
    out = str(tmp_path / "qout")
    rej = str(tmp_path / "qrej")
    q = quality_corpus_sink(
        stream,
        out,
        rej,
        str(tmp_path / "qck"),
        model_path=model,
        max_ppl=100.0,
    )
    q.awaitTermination(120)
    kept = spark.read.parquet(out).collect()
    assert [r.doc_id for r in kept] == [1]
    rejects = {
        r.doc_id: r.reason for r in spark.read.parquet(rej).collect()
    }
    # gibberish scores off-model; bullet spam fails the rule suite
    # (rules run FIRST, so its reason is gopher even if also high-ppl);
    # the one-word doc has no bigrams to score
    assert rejects == {2: "perplexity", 3: "gopher", 4: "gopher"}


def test_quality_gate_rules_only_keeps_ppl_out_of_reasons(
    spark, tmp_path
):
    from topn_spark.streaming.ingest import quality_gate_batch

    batch = spark.createDataFrame(
        [
            (1, ("the data teams have built many solid tools with "
                 "care and that work well " * 4).strip()),
            (2, None),
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "ro_out")
    rej = str(tmp_path / "ro_rej")
    quality_gate_batch(batch, out, rej)
    assert [r.doc_id for r in spark.read.parquet(out).collect()] == [1]
    r = spark.read.parquet(rej).collect()[0]
    assert r.doc_id == 2 and r.reason == "gopher" and r.ppl is None


def test_gate_report_accounts_admissions_and_reasons(spark, tmp_path):
    from topn_spark.streaming.ingest import (
        gate_report,
        quality_gate_batch,
    )

    batch = spark.createDataFrame(
        [
            (1, ("the data teams have built many solid tools with "
                 "care and that work well " * 4).strip()),
            (2, None),
            (3, "tiny"),
        ],
        "doc_id long, text string",
    )
    out, rej = str(tmp_path / "gr_out"), str(tmp_path / "gr_rej")
    # report is safe before anything ran
    pre = gate_report(spark, out, rej).collect()
    assert [(r.status, r.n) for r in pre] == [("admitted", 0)]
    quality_gate_batch(batch, out, rej)
    got = {
        (r.status, r.reason): r.n
        for r in gate_report(spark, out, rej).collect()
    }
    assert got == {("admitted", None): 1, ("rejected", "gopher"): 2}


def test_quality_gate_batch_scans_source_once(spark, tmp_path):
    """The micro-batch is persisted for the call, so the (possibly
    expensive) upstream source materializes ONCE even though both the
    rule projection and the admission/rejection writes derive from
    it — pinned with an accumulator that counts source-row
    computations."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import StringType

    from topn_spark.streaming.ingest import quality_gate_batch

    acc = spark.sparkContext.accumulator(0)

    def _tick(t):
        acc.add(1)
        return t

    tick = udf(_tick, StringType())
    good = (
        "the data teams have built many solid tools with care "
        "and that work well " * 4
    ).strip()
    base = spark.createDataFrame(
        [(1, good), (2, "tiny")], "doc_id long, text string"
    )
    batch = base.select("doc_id", tick("text").alias("text"))
    out = str(tmp_path / "ss_out")
    rej = str(tmp_path / "ss_rej")
    quality_gate_batch(batch, out, rej, batch_id=0)
    assert [r.doc_id for r in spark.read.parquet(out).collect()] == [1]
    assert acc.value == 2  # each source row computed exactly once


def test_quality_gate_batch_replay_is_idempotent(spark, tmp_path):
    """A checkpointed foreachBatch replay re-runs the SAME batch_id;
    with per-batch partition overwrite the rerun rewrites its own
    output instead of appending duplicates, while distinct batch ids
    accumulate side by side."""
    from topn_spark.streaming.ingest import quality_gate_batch

    good = (
        "the data teams have built many solid tools with care "
        "and that work well " * 4
    ).strip()
    b0 = spark.createDataFrame(
        [(1, good), (2, "tiny")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(3, good)], "doc_id long, text string"
    )
    out = str(tmp_path / "rp_out")
    rej = str(tmp_path / "rp_rej")
    quality_gate_batch(b0, out, rej, batch_id=0)
    quality_gate_batch(b0, out, rej, batch_id=0)  # crash-replay
    quality_gate_batch(b1, out, rej, batch_id=1)
    kept = spark.read.parquet(out).collect()
    assert sorted(r.doc_id for r in kept) == [1, 3]  # no duplicates
    assert {(r.doc_id, r.batch_id) for r in kept} == {(1, 0), (3, 1)}
    rejects = spark.read.parquet(rej).collect()
    assert [(r.doc_id, r.reason) for r in rejects] == [(2, "gopher")]


def test_quality_sink_langid_routing_and_pii_redaction(spark, tmp_path):
    """The streaming twin of the batch Dolma path: saved-langid
    routing rejects off-language docs FIRST (reason 'language'),
    rules run next, and admissions are PII-redacted in place so raw
    addresses never land in the corpus."""
    from topn_spark.operators.langid import save_langid, train_langid
    from topn_spark.streaming.ingest import (
        gate_report,
        quality_corpus_sink,
    )

    seeds = spark.createDataFrame(
        [
            ("en", "the quick brown fox jumps over the lazy dog and"
             " the children read their books in the quiet library"),
            ("de", "der schnelle braune fuchs springt ueber den"
             " faulen hund und die kinder lesen ihre buecher in der"
             " stillen bibliothek"),
        ],
        "lang string, text string",
    )
    lang_model = str(tmp_path / "lang_model")
    save_langid(*train_langid(seeds), lang_model)

    clean = (
        "the quick brown fox jumps over the lazy dog and then "
        "the dog jumps over the quick brown fox again today " * 3
    ).strip()
    with_pii = clean + " contact bob@mail-example.com for details"
    german = (
        "der schnelle braune fuchs springt ueber den faulen hund "
        "und die kinder lesen ihre buecher in der bibliothek " * 3
    ).strip()
    src = str(tmp_path / "lsrc")
    spark.createDataFrame(
        [(1, clean), (2, with_pii), (3, german), (4, "• spam\n" * 60)],
        "doc_id long, text string",
    ).write.parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)
    out = str(tmp_path / "lout")
    rej = str(tmp_path / "lrej")
    q = quality_corpus_sink(
        stream,
        out,
        rej,
        str(tmp_path / "lck"),
        langid_path=lang_model,
        keep_lang="en",
        redact=True,
    )
    q.awaitTermination(120)
    kept = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert sorted(kept) == [1, 2]
    assert "bob@" not in kept[2]
    assert "|||EMAIL_ADDRESS|||" in kept[2]
    rejects = {
        r.doc_id: r.reason for r in spark.read.parquet(rej).collect()
    }
    # language routing OUTRANKS the rule suite; the spam doc is
    # English-scored? no — char-grams of bullet spam are off-model
    # for both languages; whatever langid says, it must carry ONE of
    # the two reasons deterministically recorded here
    assert rejects[3] == "language"
    assert rejects[4] in ("language", "gopher")
    report = {
        (r.status, r.reason): r.n
        for r in gate_report(spark, out, rej).collect()
    }
    assert report[("admitted", None)] == 2


def test_routed_corpus_sink_per_language_gates(spark, tmp_path):
    """The per-language streaming Dolma gate: langid classifies,
    each language gates on ITS route (German compound prose passes
    only the widened German band), per-language LM perplexity cuts
    apply, off-mix languages dead-letter as 'unrouted', and
    admissions are PII-redacted with the predicted language
    attached. Replays overwrite their own batch partition."""
    from topn_spark.operators.langid import save_langid, train_langid
    from topn_spark.operators.lm import save_bigram_lm, train_bigram_lm
    from topn_spark.streaming.ingest import routed_corpus_sink

    seeds = spark.createDataFrame(
        [
            ("en", "the quick brown fox jumps over the lazy dog and"
             " the children read their books in the quiet library"),
            ("de", "der schnelle braune fuchs springt ueber den"
             " faulen hund und die kinder lesen ihre buecher in der"
             " stillen bibliothek"),
        ],
        "lang string, text string",
    )
    lang_model = str(tmp_path / "rl_lang")
    save_langid(*train_langid(seeds), lang_model)

    clean_en = (
        "the quick brown fox jumps over the lazy dog and then "
        "the dog jumps over the quick brown fox again today " * 3
    ).strip()
    pii_en = clean_en + " contact bob@mail-example.com for details"
    german = (
        "der schnelle braune fuchs springt ueber den faulen hund "
        "und die kinder lesen ihre buecher in der bibliothek " * 3
    ).strip()
    gibberish_en = (
        clean_en + " " + "zzq vvk wwx qqj kkp " * 12
    ).strip()
    en_lm = str(tmp_path / "rl_enlm")
    save_bigram_lm(
        *train_bigram_lm(
            spark.createDataFrame(
                [(1, clean_en)], "doc_id long, text string"
            )
        ),
        en_lm,
    )

    src = str(tmp_path / "rl_src")
    spark.createDataFrame(
        [
            (1, clean_en),
            (2, pii_en),
            (3, german),
            (4, gibberish_en),
            (5, "une petite phrase francaise sans importance ici"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)

    routes = {
        "en": {"min_sentences": None, "max_ppl": 5.0},
        "de": {
            "min_sentences": None,
            "min_stop_hits": 3,
            "stopwords": ["der", "die", "das", "und", "mit", "von"],
        },
    }
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)
    out = str(tmp_path / "rl_out")
    rej = str(tmp_path / "rl_rej")
    q = routed_corpus_sink(
        stream,
        out,
        rej,
        str(tmp_path / "rl_ck"),
        routes,
        langid_path=lang_model,
        lm_paths={"en": en_lm},
        redact=True,
    )
    q.awaitTermination(120)
    kept = {
        r.doc_id: (r.text, r.gate_lang)
        for r in spark.read.parquet(out).collect()
    }
    assert sorted(kept) == [1, 2, 3]
    assert kept[1][1] == "en" and kept[3][1] == "de"
    assert "bob@" not in kept[2][0]
    assert "|||EMAIL_ADDRESS|||" in kept[2][0]
    rejects = {
        r.doc_id: (r.reason, r.gate_lang)
        for r in spark.read.parquet(rej).collect()
    }
    assert rejects[4][0] == "perplexity"
    # the French doc classifies as SOMETHING outside the en/de mix
    # or (worst case under a 2-class model) as a routed language
    # whose thresholds it then fails — either way it is rejected
    # with a deterministic recorded reason
    assert 5 in rejects and rejects[5][0] is not None

    # a route with max_ppl but no LM fails at wiring time
    import pytest

    with pytest.raises(ValueError, match="max_ppl but no LM"):
        routed_corpus_sink(
            spark.readStream.schema(
                "doc_id long, text string"
            ).parquet(src),
            out, rej, str(tmp_path / "rl_ck2"),
            {"en": {"max_ppl": 5.0}},
            langid_path=lang_model,
        )


def test_decontam_gate_streaming(spark, tmp_path):
    """decontam_corpus_sink: ingest-time benchmark decontamination —
    quoting docs dead-letter with gram counts, clean docs admit, and
    a restarted stream keeps gating new batches against the same
    persisted gram set."""
    from topn_spark.streaming.ingest import decontam_corpus_sink

    quote = (
        "the quick brown fox jumps over the lazy dog near the"
        " river bank"
    )
    ev_path = str(tmp_path / "bench")
    spark.createDataFrame(
        [(1, quote + " today indeed")], "qid long, text string"
    ).write.parquet(ev_path)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    rej = str(tmp_path / "rej")
    ck = str(tmp_path / "ck")
    _write_docs(
        spark,
        src,
        [
            (1, "intro " + quote + " outro with words"),
            (2, "a perfectly clean document about nothing much"),
        ],
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    decontam_corpus_sink(
        stream, ev_path, out, rej, ck
    ).awaitTermination(120)
    assert [r.doc_id for r in spark.read.parquet(out).collect()] == [2]
    rejected = spark.read.parquet(rej).collect()
    assert [(r.doc_id, r.reason) for r in rejected] == [
        (1, "contaminated")
    ]
    assert rejected[0].n_contam_grams >= 1

    # restart: a new batch gates against the same benchmark
    _write_docs(
        spark,
        src,
        [(3, "more clean text that matches no benchmark gram"),
         (4, "again " + quote + " quoted verbatim here")],
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    decontam_corpus_sink(
        stream, ev_path, out, rej, ck
    ).awaitTermination(120)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [2, 3]
    assert sorted(
        r.doc_id for r in spark.read.parquet(rej).collect()
    ) == [1, 4]


def test_attributes_sink_streams_sidecar(spark, tmp_path):
    """attributes_sink: the sidecar accumulates across restarted
    streams, equals from-scratch tagging, and feeds apply_mixer."""
    from topn_spark.operators.attributes import apply_mixer, tag_attributes
    from topn_spark.streaming.ingest import attributes_sink

    src = str(tmp_path / "src")
    attrs = str(tmp_path / "attrs")
    ck = str(tmp_path / "ck")
    _write_docs(
        spark,
        src,
        [(1, "the data of that value runs here"), (2, "9 9 9 9")],
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    attributes_sink(
        stream, attrs, ck, taggers=["word_count", "stop_hits"]
    ).awaitTermination(120)

    _write_docs(spark, src, [(3, "the end of the story here now")])
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    attributes_sink(
        stream, attrs, ck, taggers=["word_count", "stop_hits"]
    ).awaitTermination(120)

    sidecar = spark.read.parquet(attrs)
    docs = spark.read.parquet(src)
    scratch = tag_attributes(docs, ["word_count", "stop_hits"])
    assert sorted(
        map(tuple, sidecar.select("doc_id", "word_count", "stop_hits").collect())
    ) == sorted(map(tuple, scratch.collect()))
    kept = apply_mixer(
        docs,
        sidecar.drop("batch_id"),
        {"include": [[["stop_hits", ">=", 2]]]},
    )
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]


def test_sft_corpus_sink_lands_trainable_conversations(spark, tmp_path):
    """Streaming SFT gate: malformed conversations dead-letter with
    their first-failing QC rule; admissions land PII-redacted AND
    trainable — rendered text with aligned tokens/loss_mask/
    n_supervised ready for PackMasked; a replay overwrites its own
    batch partition."""
    from topn_spark.streaming.ingest import sft_gate_batch, start_batches

    src = str(tmp_path / "sftsrc")
    spark.createDataFrame(
        [
            (1, [("user", "mail me at bob@x.org"),
                 ("assistant", "will do")]),
            (2, [("user", "broken"), ("user", "double send"),
                 ("assistant", "ok")]),
            (3, [("user", "hi"), ("assistant", "   ")]),
            (4, [("system", "be terse"), ("user", "2+2?"),
                 ("assistant", "4")]),
        ],
        "conv_id long, "
        "messages array<struct<role:string,content:string>>",
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "conv_id long, "
        "messages array<struct<role:string,content:string>>"
    ).parquet(src)
    out = str(tmp_path / "sftout")
    rej = str(tmp_path / "sftrej")
    q = start_batches(
        stream,
        lambda b, i: sft_gate_batch(b, out, rej, redact=True, batch_id=i),
        str(tmp_path / "sftck"),
    )
    q.awaitTermination(120)
    kept = {r.conv_id: r for r in spark.read.parquet(out).collect()}
    assert sorted(kept) == [1, 4]
    r1 = kept[1]
    # redaction happened in the landed messages AND the rendered text
    assert "bob@x.org" not in r1.text
    assert "|||EMAIL_ADDRESS|||" in r1.messages[0].content
    for r in kept.values():
        assert len(r.tokens) == len(r.loss_mask)
        assert 0 < r.n_supervised < len(r.tokens)
        # the supervised tokens are exactly the assistant span's
        sup = [t for t, m in zip(r.tokens, r.loss_mask) if m]
        assert sup, r
    rejects = {
        r.conv_id: r.reason for r in spark.read.parquet(rej).collect()
    }
    assert rejects == {2: "not_alternating", 3: "empty_content"}


def test_drift_monitor_sink_detects_shift(spark, tmp_path):
    """Streaming drift monitor: an in-distribution batch logs a low
    JS divergence, a shifted batch crosses the threshold; one row
    per batch_id partition, replay-idempotent by construction."""
    import math

    from topn_spark.streaming.ingest import (
        drift_monitor_batch,
        start_batches,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "drift")
    ck = str(tmp_path / "ck")

    # reference distribution: the accepted corpus vocabulary
    reference = {"alpha": 40, "beta": 30, "gamma": 30}

    def monitor(batch, batch_id):
        drift_monitor_batch(batch, reference, out, batch_id, max_js=0.3)

    # batch 1: same distribution as the reference
    _write_docs(
        spark, src,
        [(1, "alpha beta gamma alpha"), (2, "alpha beta gamma alpha")],
    )
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)
    q = start_batches(stream, monitor, ck)
    q.awaitTermination(120)

    # batch 2: a shifted feed — disjoint vocabulary
    _write_docs(
        spark, src,
        [(3, "zeta eta theta iota"), (4, "zeta eta theta kappa")],
    )
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)
    q = start_batches(stream, monitor, ck)
    q.awaitTermination(120)

    rows = {
        r.batch_id: r for r in spark.read.parquet(out).collect()
    }
    assert len(rows) == 2
    b1, b2 = rows[min(rows)], rows[max(rows)]
    assert b1.drifted is False and b1.js_divergence < 0.05
    assert b1.vocab_shared == 3 and b1.n_tokens == 8
    # disjoint vocab: JS == ln 2, flagged
    assert b2.drifted is True
    assert abs(b2.js_divergence - math.log(2)) < 1e-9
    assert b2.vocab_shared == 0


def test_arena_monitor_sink_tracks_ratings(spark, tmp_path):
    """Streaming arena monitor: per-batch win matrices and BT
    ratings under batch_id partitions; a regressed model shows up
    in the rating history; replay after restart stays idempotent."""
    from topn_spark.streaming.ingest import (
        arena_monitor_batch,
        start_batches,
    )

    src = str(tmp_path / "arena_src")
    out = str(tmp_path / "arena")
    ck = str(tmp_path / "arena_ck")

    def write_batch(rows):
        spark.createDataFrame(
            rows,
            "prompt_id long, model string, score double",
        ).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(
            "prompt_id long, model string, score double"
        ).parquet(src)
        q = start_batches(
            stream, lambda b, i: arena_monitor_batch(b, out, i), ck
        )
        q.awaitTermination(120)

    # batch 1: mA dominates mB on every shared prompt
    write_batch(
        [(p, "mA", 9.0) for p in range(10)]
        + [(p, "mB", 1.0) for p in range(10)]
    )
    run()
    # batch 2: mB now wins everything — the regression signal
    write_batch(
        [(p, "mA", 1.0) for p in range(100, 110)]
        + [(p, "mB", 9.0) for p in range(100, 110)]
    )
    run()

    hist = spark.read.parquet(f"{out}/ratings").collect()
    by = {(r.batch_id, r.model): r for r in hist}
    b1, b2 = min(r.batch_id for r in hist), max(
        r.batch_id for r in hist
    )
    assert by[(b1, "mA")].rating > by[(b1, "mB")].rating
    assert by[(b2, "mB")].rating > by[(b2, "mA")].rating
    assert all(r.converged for r in hist)
    mat = spark.read.parquet(f"{out}/matrix").collect()
    m1 = [r for r in mat if r.batch_id == b1][0]
    assert (m1.model_a, m1.wins_a, m1.wins_b) == ("mA", 10, 0)
    # restart with the same checkpoint and no new data: no dupes
    run()
    assert len(spark.read.parquet(f"{out}/ratings").collect()) == len(
        hist
    )


def test_arena_monitor_no_shared_prompt_batch_writes_nothing(
    spark, tmp_path
):
    """A batch whose samples share no prompt across two models has
    no win signal: the monitor must append NOTHING — the missing
    batch_id partition is the documented observable — and the next
    comparable batch still rates normally."""
    import os

    from topn_spark.streaming.ingest import (
        arena_monitor_batch,
        start_batches,
    )

    src = str(tmp_path / "arena_src2")
    out = str(tmp_path / "arena2")
    ck = str(tmp_path / "arena_ck2")

    def run():
        stream = spark.readStream.schema(
            "prompt_id long, model string, score double"
        ).parquet(src)
        q = start_batches(
            stream, lambda b, i: arena_monitor_batch(b, out, i), ck
        )
        q.awaitTermination(120)

    # batch 0: disjoint prompts per model -> empty win matrix
    spark.createDataFrame(
        [(p, "mA", 5.0) for p in range(5)]
        + [(p, "mB", 5.0) for p in range(100, 105)],
        "prompt_id long, model string, score double",
    ).write.mode("append").parquet(src)
    run()
    assert not os.path.exists(os.path.join(out, "ratings"))
    # batch 1: shared prompts -> rated
    spark.createDataFrame(
        [(p, "mA", 9.0) for p in range(5)]
        + [(p, "mB", 1.0) for p in range(5)],
        "prompt_id long, model string, score double",
    ).write.mode("append").parquet(src)
    run()
    rows = spark.read.parquet(f"{out}/ratings").collect()
    assert {r.batch_id for r in rows} == {1}


def _arena_batch(spark, wins_b, n=10, base=0):
    """n shared prompts; mB wins the first `wins_b`, mA the rest."""
    rows = []
    for p in range(n):
        pid = base + p
        rows.append((pid, "mA", 1.0 if p < wins_b else 9.0))
        rows.append((pid, "mB", 9.0 if p < wins_b else 1.0))
    return spark.createDataFrame(
        rows, "prompt_id long, model string, score double"
    )


def test_arena_monitor_runs_one_action_per_batch(spark, tmp_path):
    """Every fit, history read, bootstrap and write of the monitor is
    driver work on the collected k² matrix: one call runs exactly one
    Spark action (the matrix collect), also with the history, the
    decayed leaderboard and the intervals on."""
    import os

    import pandas as pd

    from topn_spark.streaming.ingest import arena_monitor_batch

    def batch(base):
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    (base + p, m, float((p * (i + 2)) % 5))
                    for p in range(8)
                    for i, m in enumerate(("mA", "mB", "mC"))
                ],
                columns=["prompt_id", "model", "score"],
            ),
            "prompt_id long, model string, score double",
        )

    out = str(tmp_path / "arena_jobs")
    # the session's concrete DataFrame class: it overrides collect and
    # count, so patching the pyspark.sql.DataFrame base sees no call
    cls = type(batch(0))
    calls = []
    orig = {name: getattr(cls, name) for name in ("collect", "count")}

    def counted(name):
        return lambda self: (calls.append(name), orig[name](self))[1]

    for name in orig:
        setattr(cls, name, counted(name))
    try:
        for b in range(2):
            frame = batch(100 * b)
            calls.clear()
            arena_monitor_batch(
                frame, out, b, half_life_batches=1.0, bootstrap=4
            )
            assert calls == ["collect"], (b, calls)
    finally:
        for name, fn in orig.items():
            setattr(cls, name, fn)
    assert os.path.isdir(f"{out}/decayed_ci/batch_id=1")


def test_arena_cumulative_drift_accumulates(spark, tmp_path):
    """A slow regression invisible per batch crosses the cumulative
    signal: batch 0 is balanced, every later batch gives mB a 6-4
    edge — each batch's own fit is a noisy constant, while the
    cumulative drift (rating vs the first batch's fit) grows from 0
    as evidence accumulates. Replaying a batch recomputes the
    cumulative partition identically (pure function of partitions
    <= N)."""
    from topn_spark.streaming.ingest import arena_monitor_batch

    out = str(tmp_path / "arena_cum")
    arena_monitor_batch(_arena_batch(spark, 5), out, 0)
    for b in range(1, 5):
        arena_monitor_batch(
            _arena_batch(spark, 6, base=1000 * b), out, b
        )
    cum = {
        (r.batch_id, r.model): r
        for r in spark.read.parquet(f"{out}/cumulative").collect()
    }
    # first batch: cumulative == baseline, drift exactly 0
    assert cum[(0, "mB")].drift == 0.0
    # the drift grows with accumulating evidence...
    drifts = [cum[(b, "mB")].drift for b in range(5)]
    assert drifts[4] > drifts[1] > drifts[0]
    assert drifts[4] > 20.0  # Elo-scale: clearly alertable
    # ...while each batch's own fit is flat (no growing signal)
    per = {
        (r.batch_id, r.model): r.rating
        for r in spark.read.parquet(f"{out}/ratings").collect()
    }
    gaps = [per[(b, "mB")] - per[(b, "mA")] for b in range(1, 5)]
    assert max(gaps) - min(gaps) < 1e-6  # identical per-batch fits
    # replay idempotency: re-running batch 3 rewrites its
    # cumulative partition byte-identically
    before = sorted(
        (r.model, r.rating, r.drift)
        for r in spark.read.parquet(
            f"{out}/cumulative/batch_id=3"
        ).collect()
    )
    arena_monitor_batch(_arena_batch(spark, 6, base=3000), out, 3)
    after = sorted(
        (r.model, r.rating, r.drift)
        for r in spark.read.parquet(
            f"{out}/cumulative/batch_id=3"
        ).collect()
    )
    assert before == after


def test_arena_decayed_ratings_forget(spark, tmp_path):
    """Exponential forgetting: after three pro-mA batches and one
    strongly pro-mB batch, the half-life-1 leaderboard flips to mB
    while the cumulative fit still has mA on top — the production
    model-swap signal."""
    from topn_spark.streaming.ingest import arena_monitor_batch

    out = str(tmp_path / "arena_dec")
    for b in range(3):
        arena_monitor_batch(
            _arena_batch(spark, 2, base=1000 * b), out, b,
            half_life_batches=1.0,
        )
    arena_monitor_batch(
        _arena_batch(spark, 10, base=9000), out, 3,
        half_life_batches=1.0,
    )
    dec = {
        r.model: r.rating
        for r in spark.read.parquet(
            f"{out}/decayed/batch_id=3"
        ).collect()
    }
    cum = {
        r.model: r.rating
        for r in spark.read.parquet(
            f"{out}/cumulative/batch_id=3"
        ).collect()
    }
    assert dec["mB"] > dec["mA"]  # recent sweep dominates
    assert cum["mA"] > cum["mB"]  # history still dominates


def test_bin_export_sink_maintains_shards_incrementally(
    spark, tmp_path
):
    """Streaming maintenance of a trainer binary shard set: each
    micro-batch lands in the corpus store and the export re-runs
    INCREMENTALLY — after every commit the shards read back as the
    full store, only shards the batch touched rewrite, and a
    restart with no new data changes nothing."""
    import glob
    import hashlib
    import os

    from topn_spark.operators.binshard import (
        _read_meta,
        read_bin_shards,
        verify_bin_shards,
    )
    from topn_spark.streaming.ingest import bin_export_batch, start_batches

    src = str(tmp_path / "bin_src")
    corpus = str(tmp_path / "bin_store")
    out = str(tmp_path / "bin_out")
    ck = str(tmp_path / "bin_ck")

    def rows(lo, hi):
        return [
            (i, list(range(1, 3 + i % 4)),
             [bool(j % 2) for j in range(2 + i % 4)])
            for i in range(lo, hi)
        ]

    schema = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_batches(
            stream,
            lambda b, i: bin_export_batch(b, corpus, out, i, 6, salt="bs"),
            ck,
        )
        q.awaitTermination(180)

    def hashes():
        return {
            os.path.basename(p): hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
            for p in glob.glob(os.path.join(out, "shard_*"))
        }

    spark.createDataFrame(rows(0, 10), schema).write.mode(
        "append"
    ).parquet(src)
    run()
    assert read_bin_shards(spark, out).count() == 10
    assert _read_meta(spark, out)["export_version"] == 1
    h1 = hashes()

    spark.createDataFrame(rows(10, 15), schema).write.mode(
        "append"
    ).parquet(src)
    run()
    back = read_bin_shards(spark, out)
    assert back.count() == 15
    full = spark.createDataFrame(rows(0, 15), schema)
    cols = ["seq_id", "tokens", "loss_mask"]
    assert full.select(*cols).exceptAll(
        back.select(*cols)
    ).count() == 0
    assert all(r.ok for r in verify_bin_shards(spark, out).collect())
    assert _read_meta(spark, out)["export_version"] == 2
    h2 = hashes()
    # shards untouched by batch 2 kept their exact bytes
    same = [f for f in h1 if h2.get(f) == h1[f]]
    assert same, "at least one shard should be untouched"
    # restart with no new data: nothing changes at all
    run()
    assert hashes() == h2
    assert _read_meta(spark, out)["export_version"] == 2


def test_bin_export_batch_reads_only_touched_partitions(
    spark, tmp_path
):
    """The batch-proportional contract, proven destructively: after
    batch 1 lands, every corpus-store partition of a shard NOT
    touched by batch 2 is POISONED (parquet bytes replaced with
    garbage, so any read of them throws). Batch 2's commit must
    still succeed — the signature fold reads only the batch and the
    rewrite partition-prunes to touched shards — and the resulting
    shard files must be byte-identical to a from-scratch export of
    the full corpus."""
    import glob
    import hashlib
    import os

    from topn_spark.operators.binshard import (
        export_bin_shards,
        read_bin_shards,
        verify_bin_shards,
    )
    from topn_spark.operators.pipeline import shard_assignment
    from topn_spark.streaming.ingest import bin_export_batch

    corpus = str(tmp_path / "pp_store")
    out = str(tmp_path / "pp_out")

    def rows(lo, hi):
        return [
            (i, list(range(1, 3 + i % 5)),
             [bool(j % 2) for j in range(2 + i % 5)])
            for i in range(lo, hi)
        ]

    schema = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )
    b1 = spark.createDataFrame(rows(0, 60), schema)
    b2 = spark.createDataFrame(rows(60, 66), schema)
    bin_export_batch(b1, corpus, out, 0, 8, salt="pp")
    touched = {
        r.shard
        for r in shard_assignment(b2, 8, "seq_id", "pp")
        .select("shard").distinct().collect()
    }
    assert 0 < len(touched) < 8  # the test needs untouched shards
    poisoned = 0
    for d in glob.glob(os.path.join(corpus, "shard=*")):
        k = int(d.split("=")[-1])
        if k in touched:
            continue
        for f in glob.glob(os.path.join(d, "**", "*.parquet"),
                           recursive=True):
            open(f, "wb").write(b"POISONED NOT PARQUET")
            poisoned += 1
    assert poisoned  # the trap is actually armed
    man = bin_export_batch(b2, corpus, out, 1, 8, salt="pp")
    assert {r.shard for r in man.collect() if r.rewritten} == touched
    # binary read-back equals the full corpus (untouched shards'
    # BINARY files are intact; only the parquet store was poisoned)
    back = sorted(
        (r.seq_id, r.tokens, r.loss_mask)
        for r in read_bin_shards(spark, out).collect()
    )
    assert back == sorted(rows(0, 66))
    assert all(r.ok for r in verify_bin_shards(spark, out).collect())
    # byte-identical vs a from-scratch export of the same corpus
    clean = str(tmp_path / "pp_clean")
    export_bin_shards(
        spark.createDataFrame(rows(0, 66), schema), clean, 8,
        salt="pp",
    )

    def hashes(d):
        return {
            os.path.basename(p): hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
            for p in glob.glob(os.path.join(d, "shard_*"))
        }

    assert hashes(out) == hashes(clean)


def test_bin_export_batch_single_batch_input_pass(spark, tmp_path):
    """The streaming wrapper consumes its micro-batch input exactly
    ONCE per commit (r14): the corpus-store land is the only action
    on the batch lineage; the delta's signature fold reads the
    batch's rows back from the store partitions the land just wrote
    (pruned to batch_id=N). Previously the fold re-ran the batch
    lineage — in a foreachBatch sink, a second read of the
    micro-batch source per commit, doubling the input-pass cost the
    batch-proportional contract bounds. Pinned with an accumulator
    riding the batch source."""
    from topn_spark.streaming.ingest import bin_export_batch

    ddl = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )
    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, [1 + i % 4, 7], [True, bool(i % 2)])
             for i in range(lo, hi)],
            ddl,
        ).mapInPandas(counting, ddl)

    corpus = str(tmp_path / "one_pass_store")
    out = str(tmp_path / "one_pass_out")
    # Exact accumulator equality is valid in deterministic local mode
    # (this suite); under task retries or speculative execution Spark
    # accumulators over-count, so a cluster port of this test should
    # assert per-pass upper bounds instead.
    bin_export_batch(mk(0, 30), corpus, out, 0, 4, salt="op")
    assert acc.value == 30  # first/full export: one source pass
    bin_export_batch(mk(30, 36), corpus, out, 1, 4, salt="op")
    # steady-state delta: store land + signature fold = ONE pass
    assert acc.value == 36


def test_bin_export_batch_listing_proportional_to_touched(
    spark, tmp_path
):
    """Steady-state commits never PLAN a read over the corpus-store
    ROOT (r15): the batch read-back names its landed partition dirs
    and the rewrite's store input is built over exactly the touched
    shards' dirs (explicit paths + basePath), so the driver's
    file-index listing per commit is proportional to the touched
    shards — at millions of accumulated (shard, batch_id) partitions
    a root read is corpus-sized metadata work per commit even though
    partition pruning keeps untouched files closed. Pinned
    structurally by recording every path handed to
    DataFrameReader.parquet during the commit."""
    import re

    from pyspark.sql.readwriter import DataFrameReader

    from topn_spark.streaming.ingest import bin_export_batch

    ddl = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, [1 + i % 4, 7], [True, bool(i % 2)])
             for i in range(lo, hi)],
            ddl,
        )

    corpus = str(tmp_path / "lst_store")
    out = str(tmp_path / "lst_out")
    bin_export_batch(mk(0, 40), corpus, out, 0, 8, salt="ls")

    seen: list[str] = []
    orig = DataFrameReader.parquet

    def recording(self, *paths):
        seen.extend(str(p) for p in paths)
        return orig(self, *paths)

    DataFrameReader.parquet = recording
    try:
        man = bin_export_batch(mk(40, 46), corpus, out, 1, 8, salt="ls")
    finally:
        DataFrameReader.parquet = orig
    touched = {int(r.shard) for r in man.collect() if r.rewritten}
    assert touched  # the delta really rewrote something
    store_reads = [
        p.rstrip("/") for p in seen if corpus in p
    ]
    assert store_reads  # the commit did read the store
    for p in store_reads:
        rel = p.split(corpus, 1)[1].lstrip("/")
        # every store read is an explicit partition dir of a touched
        # shard — never the root, never an untouched shard
        m = re.fullmatch(r"shard=(-?\d+)(/batch_id=1)?", rel)
        assert m, f"store read not partition-scoped: {p!r}"
        assert int(m.group(1)) in touched, f"untouched shard read: {p!r}"


def test_bin_export_batch_replay_converges(spark, tmp_path):
    """A replayed batch_id (restart re-delivering the last batch)
    replaces its own partitions and falls back to the full-store
    diff — converging to the same bytes with no double-fold."""
    import glob
    import hashlib
    import os

    from topn_spark.operators.binshard import _read_meta
    from topn_spark.streaming.ingest import bin_export_batch

    corpus = str(tmp_path / "rp_store")
    out = str(tmp_path / "rp_out")
    schema = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, [1 + i % 7, 2], [True, False])
             for i in range(lo, hi)],
            schema,
        )

    bin_export_batch(mk(0, 20), corpus, out, 0, 4, salt="r")
    bin_export_batch(mk(20, 25), corpus, out, 1, 4, salt="r")
    v2 = _read_meta(spark, out)["export_version"]

    def hashes():
        return {
            os.path.basename(p): hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
            for p in glob.glob(os.path.join(out, "shard_*"))
        }

    h = hashes()
    # replay batch 1: partitions replaced, full-store diff, no-op
    bin_export_batch(mk(20, 25), corpus, out, 1, 4, salt="r")
    assert hashes() == h
    assert _read_meta(spark, out)["export_version"] == v2


def test_bin_export_batch_epoch_rederivation(spark, tmp_path):
    """With epochs=, each content-changing commit re-derives the
    listed epoch orders at the NEW export_version — the trainer's
    read_bin_window finds a current order after every settle
    instead of a version-mismatch raise."""
    from topn_spark.operators.binshard import read_bin_window
    from topn_spark.streaming.ingest import bin_export_batch

    corpus = str(tmp_path / "ep_store")
    out = str(tmp_path / "ep_out")
    schema = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, [i % 5, 3], [True, True]) for i in range(lo, hi)],
            schema,
        )

    bin_export_batch(
        mk(0, 12), corpus, out, 0, 3, salt="e", epochs=(0,)
    )
    assert read_bin_window(spark, out, 0, 0, 12).count() == 12
    bin_export_batch(
        mk(12, 17), corpus, out, 1, 3, salt="e", epochs=(0,)
    )
    # the re-derived order covers the grown corpus, version-current
    win = read_bin_window(spark, out, 0, 0, 17).collect()
    assert sorted(r.seq_id for r in win) == list(range(17))


def test_arena_monitor_bootstrap_cis_stream(spark, tmp_path):
    """bootstrap=n lands deterministic match-level CIs beside the
    cumulative and decayed leaderboards every commit: the point
    rating sits inside its interval, a lopsided pair separates with
    non-overlapping intervals, and a replayed batch rewrites the CI
    partition byte-identically (deterministic replicates)."""
    from topn_spark.streaming.ingest import (
        arena_monitor_batch,
        start_batches,
    )

    src = str(tmp_path / "ci_src")
    out = str(tmp_path / "ci")
    ck = str(tmp_path / "ci_ck")
    schema = "prompt_id long, model string, score double"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_batches(
            stream,
            lambda b, i: arena_monitor_batch(
                b, out, i, half_life_batches=2.0, bootstrap=40
            ),
            ck,
        )
        q.awaitTermination(180)

    # mA beats mB on 30 prompts -> a separation the CI should hold
    write_batch(
        [(p, "mA", 9.0) for p in range(30)]
        + [(p, "mB", 1.0) for p in range(30)]
    )
    run()
    write_batch(
        [(p, "mA", 9.0) for p in range(100, 125)]
        + [(p, "mB", 1.0) for p in range(100, 125)]
    )
    run()

    for path in (f"{out}/cumulative_ci", f"{out}/decayed_ci"):
        ci = spark.read.parquet(path).collect()
        assert {r.batch_id for r in ci} == {0, 1}
        for r in ci:
            assert r.rating_lo <= r.rating <= r.rating_hi
            assert r.n_boot == 40
        last = {r.model: r for r in ci if r.batch_id == 1}
        # 55 one-sided wins: intervals must not overlap
        assert last["mA"].rating_lo > last["mB"].rating_hi
    before = sorted(
        map(tuple, spark.read.parquet(f"{out}/decayed_ci").collect())
    )
    # restart with no new data: nothing changes (replay determinism)
    run()
    after = sorted(
        map(tuple, spark.read.parquet(f"{out}/decayed_ci").collect())
    )
    assert before == after


def test_bin_export_batch_range_sharding_touches_only_tail(
    spark, tmp_path
):
    """The flat-per-commit shape: under range sharding, a batch of
    monotonically increasing ids touches ONLY the tail shard(s) —
    proven by poisoning every non-tail store partition before the
    commit; per-commit work is O(batch + seqs_per_shard) no matter
    how large the store grows."""
    import glob
    import os

    from topn_spark.operators.binshard import read_bin_shards
    from topn_spark.streaming.ingest import bin_export_batch

    corpus = str(tmp_path / "rg_store")
    out = str(tmp_path / "rg_out")
    schema = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, [1 + i % 7], [True]) for i in range(lo, hi)],
            schema,
        )

    bin_export_batch(
        mk(0, 95), corpus, out, 0, 0, salt="", seqs_per_shard=20
    )
    # batch 2: ids 95..104 -> touches shards 4 (tail) and 5 (new)
    for d in glob.glob(os.path.join(corpus, "shard=*")):
        if int(d.split("=")[-1]) < 4:
            for f in glob.glob(
                os.path.join(d, "**", "*.parquet"), recursive=True
            ):
                open(f, "wb").write(b"POISON")
    man = bin_export_batch(
        mk(95, 105), corpus, out, 1, 0, salt="", seqs_per_shard=20
    )
    assert {r.shard for r in man.collect() if r.rewritten} == {4, 5}
    back = read_bin_shards(spark, out)
    assert back.count() == 105
    assert sorted(
        r.seq_id for r in back.select("seq_id").collect()
    ) == list(range(105))


def test_preference_bin_export_sink_streaming_pairs(
    spark, tmp_path
):
    """Streaming DPO shard maintenance: pairs accumulate across
    micro-batches at batch-proportional cost, adjacency survives
    every delta (verify_preference_shards recounts it), pair-unit
    epoch orders re-derive per commit, and the resume window serves
    the grown pair set."""
    from topn_spark.operators.binshard import (
        read_preference_shards,
        read_preference_window,
        verify_preference_shards,
    )
    from topn_spark.streaming.ingest import (
        preference_bin_export_batch,
        start_batches,
    )

    src = str(tmp_path / "pp_src")
    corpus = str(tmp_path / "pp_store")
    out = str(tmp_path / "pp_out")
    ck = str(tmp_path / "pp_ck")
    schema = (
        "pair_id bigint, chosen_tokens array<bigint>,"
        " chosen_mask array<boolean>,"
        " rejected_tokens array<bigint>,"
        " rejected_mask array<boolean>"
    )

    def rows(lo, hi):
        return [
            (p, [1 + p % 5, 2], [False, True],
             [3, 4, 5], [False, True, True])
            for p in range(lo, hi)
        ]

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_batches(
            stream,
            lambda b, i: preference_bin_export_batch(
                b, corpus, out, i, 0,
                seqs_per_shard=8, epochs=(0,), epoch_salt="e",
            ),
            ck,
        )
        q.awaitTermination(180)

    spark.createDataFrame(rows(0, 20), schema).write.mode(
        "append"
    ).parquet(src)
    run()
    assert read_preference_shards(spark, out).count() == 20
    spark.createDataFrame(rows(20, 31), schema).write.mode(
        "append"
    ).parquet(src)
    run()
    back = {
        r.pair_id: (r.chosen_tokens, r.rejected_mask)
        for r in read_preference_shards(spark, out).collect()
    }
    assert len(back) == 31
    assert back[25] == ([1 + 25 % 5, 2], [False, True, True])
    v = verify_preference_shards(spark, out).collect()
    assert all(r.ok and r.pairing_ok for r in v)
    # the re-derived pair-unit epoch covers all 31 pairs
    win = read_preference_window(spark, out, 0, 0, 31).collect()
    assert sorted(r.pair_id for r in win) == list(range(31))
    # restart with no new data: nothing changes
    import glob
    import hashlib
    import os

    h = {
        os.path.basename(p): hashlib.md5(open(p, "rb").read()).hexdigest()
        for p in glob.glob(os.path.join(out, "shard_*"))
    }
    run()
    h2 = {
        os.path.basename(p): hashlib.md5(open(p, "rb").read()).hexdigest()
        for p in glob.glob(os.path.join(out, "shard_*"))
    }
    assert h == h2


def test_bin_export_batch_multimodal_assets_delta(spark, tmp_path):
    """Streaming maintenance with the .ast multimodal sidecar: the
    asset-ref binding rides the delta path — folded signatures
    include the asset arrays, the sidecar rewrites with its shard,
    and the final set is byte-identical to a from-scratch
    multimodal export."""
    import glob
    import hashlib
    import os

    from topn_spark.operators.binshard import (
        export_bin_shards,
        read_bin_shards,
        verify_bin_shards,
    )
    from topn_spark.streaming.ingest import bin_export_batch

    schema = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>, asset_ids array<bigint>"
    )

    def rows(lo, hi):
        return [
            (
                i, [9999, 1 + i % 4], [False, True],
                [100 + i] if i % 3 else [],
            )
            for i in range(lo, hi)
        ]

    corpus = str(tmp_path / "mm_store")
    out = str(tmp_path / "mm_out")
    for b, (lo, hi) in enumerate([(0, 15), (15, 24)]):
        bin_export_batch(
            spark.createDataFrame(rows(lo, hi), schema),
            corpus, out, b, 3, salt="mm", assets_col="asset_ids",
        )
    back = {
        r.seq_id: r.asset_ids
        for r in read_bin_shards(spark, out).collect()
    }
    assert back == {
        i: ([100 + i] if i % 3 else []) for i in range(24)
    }
    assert all(r.ok for r in verify_bin_shards(spark, out).collect())
    clean = str(tmp_path / "mm_clean")
    export_bin_shards(
        spark.createDataFrame(rows(0, 24), schema), clean, 3,
        salt="mm", assets_col="asset_ids",
    )

    def hashes(d):
        return {
            os.path.basename(p): hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
            for p in glob.glob(os.path.join(d, "shard_*"))
        }

    assert hashes(out) == hashes(clean)


def test_bin_export_sink_object_store_backend(spark, tmp_path):
    """The streaming sink writes the BINARY layer through the
    object-store backend (corpus store stays a Spark parquet
    dataset): commits fold and prune as usual, and the shard set
    verifies and reads back through object verbs only."""
    from topn_spark.operators.binfs import ObjectStoreBinaryStore
    from topn_spark.operators.binshard import (
        read_bin_shards,
        verify_bin_shards,
    )
    from topn_spark.streaming.ingest import bin_export_batch, start_batches

    src = str(tmp_path / "ob_src")
    corpus = str(tmp_path / "ob_store")
    ck = str(tmp_path / "ob_ck")
    st = ObjectStoreBinaryStore(str(tmp_path / "ob_bucket"))
    out = "trainer/corpus"
    schema = (
        "seq_id bigint, tokens array<bigint>,"
        " loss_mask array<boolean>"
    )

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_batches(
            stream,
            lambda b, i: bin_export_batch(
                b, corpus, out, i, 4, salt="ob", store=st
            ),
            ck,
        )
        q.awaitTermination(180)

    for lo, hi in [(0, 12), (12, 20)]:
        spark.createDataFrame(
            [(i, [1 + i % 5], [True]) for i in range(lo, hi)],
            schema,
        ).write.mode("append").parquet(src)
        run()
    back = read_bin_shards(spark, out, store=st)
    assert sorted(
        r.seq_id for r in back.select("seq_id").collect()
    ) == list(range(20))
    assert all(
        r.ok for r in verify_bin_shards(spark, out, store=st).collect()
    )


def test_bin_export_batch_rejects_glob_corpus_dir(spark, tmp_path):
    """Replay detection matches this batch's landed partitions with a
    Hadoop glob built from ``corpus_dir``, so a glob metacharacter in
    it would match the wrong directories (or none). It is rejected at
    entry, before anything lands."""
    import pytest

    from topn_spark.streaming.ingest import bin_export_batch

    batch = spark.createDataFrame(
        [(0, [1, 2]), (1, [3])], "seq_id bigint, tokens array<bigint>"
    )
    for meta in "{[?*":
        corpus = str(tmp_path / f"store{meta}x")
        with pytest.raises(ValueError, match="glob metacharacter"):
            bin_export_batch(
                batch, corpus, str(tmp_path / "out"), 0, 2, mask_col=None
            )
    assert not list(tmp_path.iterdir())
