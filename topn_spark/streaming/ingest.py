"""Continuous corpus ingestion: streaming dedup against ALL history.

``dropDuplicatesWithinWatermark`` (streaming/joins.py) bounds its
state by a time horizon — correct for replayed events, wrong for a
training corpus where a document seen last month must still be
rejected today. This sink keeps the full fingerprint history in a
parquet store and anti-joins every micro-batch against it: the
``foreachBatch`` pattern for state that must outlive any watermark.

At 100 TB of accumulated corpus the fingerprint store is still tiny
relative to the text (16-byte digests), and the per-batch anti-join
broadcasts the BATCH side against the store scan (the batch is the
small side); a production deployment would put a table format
(Delta/Iceberg) or a key-value store under the same shape for
transactional appends — the join logic is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topn_spark.operators.dedup import dedup_exact
from topn_spark.operators.textstats import (
    ROUTE_DEFAULTS,
    gopher_rules,
    redact_pii,
    routed_quality,
    tokens,
)
from topn_spark.plans import local_frame


def _error_condition(e) -> str:
    """Structured error class of a PySpark exception ('' if the
    running version exposes none). ``getCondition`` is the Spark 4
    name; ``getErrorClass`` its deprecated 3.4+ alias."""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if fn is not None:
            try:
                cond = fn()
            except Exception:
                continue
            if cond:
                return cond
    return ""


def start_batches(stream: DataFrame, process, checkpoint_dir: str):
    """Start ``stream`` with ``process(batch, batch_id)`` run on every
    micro-batch via ``foreachBatch``; returns the ``StreamingQuery``.
    The one way a per-batch step attaches to a stream, e.g.
    ``start_batches(stream, lambda b, i: bin_export_batch(b, corpus,
    out, i, 6), ck)``. Pass the epoch id on as the step's
    ``batch_id`` where it takes one, so a replayed epoch overwrites
    its own partition.

    The one place that sets the checkpoint and trigger policy: the
    checkpoint at ``checkpoint_dir`` makes batch ids replay-stable,
    and the availableNow trigger drains what the source holds now and
    stops, so callers re-start the query to drain a growing source."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _read_store(spark, path: str) -> DataFrame | None:
    """Read a parquet state store; ``None`` when it does not exist yet
    (the legitimate first-batch case).

    Only the missing-path / nothing-written-yet ``AnalysisException``
    conditions are swallowed — matched on the STRUCTURED error class,
    not message text, so a reworded message on another Spark version
    cannot misclassify (message substring is only the fallback when
    the running version predates error classes). Any OTHER failure —
    corruption, a permission break, a half-deleted directory — must
    raise loudly: treating it as "first batch" would silently
    re-admit duplicates (dedup gates) or destroy accumulated snapshot
    state (CDC).
    """
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = _error_condition(e)
        missing = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}
        if cond in missing:
            return None
        if not cond:  # pre-error-class Spark: message heuristics
            msg = str(e)
            if any(m in msg for m in missing) or "Path does not exist" in msg:
                return None
        raise


def ingest_batch(
    batch: DataFrame,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Process one micro-batch: drop rows whose content fingerprint is
    already in ``store_dir`` (or duplicated within the batch —
    min-``id_col`` row wins), append survivors to ``out_dir`` and
    their fingerprints to the store. Parquet appends are not
    transactional, so documents append FIRST: a crash between the two
    writes strands a document without its fingerprint, never a
    fingerprint without its document (which would drop data)."""
    spark = batch.sparkSession
    deduped = dedup_exact(batch, subset=[text_col], tiebreak=[id_col])
    fp = deduped.withColumn("_fp", F.md5(F.col(text_col)))
    seen = _read_store(spark, store_dir)
    fresh = (
        fp.join(seen.select("_fp"), "_fp", "left_anti")
        if seen is not None
        else fp  # first batch: no store yet
    )
    # persist: the survivors feed two writes; without it the
    # anti-join + dedup would re-run for the fingerprint append
    fresh = fresh.persist()
    try:
        fresh.drop("_fp").write.mode("append").parquet(out_dir)
        fresh.select("_fp").write.mode("append").parquet(store_dir)
    finally:
        fresh.unpersist()


def neardup_ingest_batch(
    batch: DataFrame,
    store_dir: str,
    out_dir: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Near-dup admission for one micro-batch: reject documents whose
    MinHash-estimated Jaccard vs any ALREADY-ADMITTED document reaches
    ``threshold``; admit the rest and index them.

    The store is the LSH index itself, persisted: ``store_dir/sigs``
    holds ``(id, sig)``, ``store_dir/buckets`` the banded keys
    ``(id, band, bhash)``. Each batch (1) computes signatures once,
    (2) probes its band keys against the stored buckets — an
    equi-join on (band, bhash), never batch x corpus — (3) verifies
    candidates by signature agreement, (4) applies the same rule
    within the batch (drop the larger id of any qualifying pair),
    then appends survivors' docs, sigs, and bucket rows — documents
    first, so a crash strands at most an unindexed admitted doc.

    Admission semantics are GREEDY-VS-SURVIVORS, the operational
    contract of an ingest gate: a new doc is compared against the
    admitted corpus, not against previously rejected docs — so a
    chain a~b~c (a<b<c, no a~c) admits a and c. Batch near-dup
    CLUSTERING (x31) answers the other question.

    Scale: the store grows with the admitted corpus but holds only
    signatures and 16-byte band keys (constant bytes/doc, ~1000x
    smaller than text); the probe shuffles on band keys with batch-
    side broadcast when small. Hot buckets (boilerplate) are join
    skew — cap or AQE-split as in lsh_candidate_pairs.
    """
    from topn_spark.operators.dedup import (
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    spark = batch.sparkSession
    batch = dedup_exact(batch, subset=[text_col], tiebreak=[id_col])
    sigs = minhash_signatures(
        batch, id_col, text_col, num_hashes, shingle_size
    ).persist()
    buckets = lsh_band_buckets(sigs, id_col, bands, rows_per_band)

    def est_sim(sig_a, sig_b):
        agree = F.size(
            F.filter(
                F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                lambda v: v,
            )
        )
        return agree / F.lit(float(num_hashes))

    rejected = None
    old_buckets = _read_store(spark, f"{store_dir}/buckets")
    old_sigs = _read_store(spark, f"{store_dir}/sigs")
    if (old_buckets is None) != (old_sigs is None):
        # one half of the index vanished — a corrupt store, not a
        # first batch; admitting against it would re-admit near-dups
        raise IOError(
            f"LSH index store {store_dir} is inconsistent: "
            f"buckets={'present' if old_buckets is not None else 'missing'}, "
            f"sigs={'present' if old_sigs is not None else 'missing'}"
        )
    if old_buckets is not None:
        cand = (
            buckets.join(
                old_buckets.select(
                    F.col(id_col).alias("_old_id"), "band", "bhash"
                ),
                ["band", "bhash"],
            )
            .select(id_col, "_old_id")
            .distinct()
        )
        verified = (
            cand.join(sigs, id_col)
            .join(
                old_sigs.select(
                    F.col(id_col).alias("_old_id"),
                    F.col("sig").alias("_old_sig"),
                ),
                "_old_id",
            )
            .where(
                est_sim(F.col("sig"), F.col("_old_sig"))
                >= F.lit(float(threshold))
            )
        )
        rejected = verified.select(id_col).distinct()
    survivors = (
        batch.join(rejected, id_col, "left_anti") if rejected is not None
        else batch
    )
    # within-batch pass over the remaining docs: same verify, drop the
    # larger id of any qualifying pair
    s_sigs = sigs.join(survivors.select(id_col), id_col)
    pairs = lsh_candidate_pairs(s_sigs, id_col, bands, rows_per_band)
    dup_b = (
        pairs.join(
            s_sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_sa")),
            "id_a",
        )
        .join(
            s_sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_sb")),
            "id_b",
        )
        .where(
            est_sim(F.col("_sa"), F.col("_sb"))
            >= F.lit(float(threshold))
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    admitted = survivors.join(dup_b, id_col, "left_anti").persist()
    try:
        admitted.write.mode("append").parquet(out_dir)
        adm_sigs = sigs.join(admitted.select(id_col), id_col).persist()
        try:
            adm_sigs.write.mode("append").parquet(f"{store_dir}/sigs")
            lsh_band_buckets(adm_sigs, id_col, bands, rows_per_band).write.mode(
                "append"
            ).parquet(f"{store_dir}/buckets")
        finally:
            adm_sigs.unpersist()
    finally:
        admitted.unpersist()
        sigs.unpersist()


def cdc_batch(
    batch: DataFrame,
    snapshot_dir: str,
    changes_dir: str,
    key_cols: list[str],
    compare_cols: list[str],
    batch_id: int = 0,
) -> None:
    """Classify one upsert micro-batch against the maintained
    snapshot and emit a change-data-capture log: each incoming row
    becomes ``added`` (key unseen), ``changed`` (digest differs) or
    ``unchanged``; the snapshot is then merge-upserted. Within-batch
    duplicates collapse to ONE row per key — the MIN-md5-digest row
    wins ("last write" is meaningless inside an unordered distributed
    batch; the digest rule is deterministic under replay and
    repartitioning).

    The change log (``changes_dir``) gains (keys, status, epoch) rows
    per batch — downstream incremental refresh reads only epochs it
    has not applied. Scale shape mirrors ``table_diff``: both sides
    reduce to (key, digest) before the one diff join ('removed' rows
    — snapshot keys the batch didn't mention — are dropped, since an
    upsert stream cannot observe deletes without tombstones).

    The snapshot itself is kept in a manifest-committed versioned
    store (:mod:`topn_spark.streaming.statestore`): each batch writes
    an immutable ``v<seq>`` dir (sequence = max existing + 1, NOT the
    batch id — checkpoint resets restart batch ids at 0 and must not
    reorder versions) and atomically advances a manifest pointer, so
    concurrent readers get snapshot isolation and a crash at ANY point
    leaves the previous version readable — read it back with
    :func:`read_cdc_snapshot`.
    """
    from topn_spark.operators.pipeline import table_diff
    from topn_spark.streaming.statestore import (
        commit_snapshot,
        read_snapshot,
    )

    spark = batch.sparkSession
    dig = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in compare_cols
            ],
        )
    )
    one = (
        batch.select(*key_cols, *compare_cols, dig.alias("_dg"))
        .groupBy(*key_cols)
        .agg(*[F.min_by(c, "_dg").alias(c) for c in compare_cols])
    )
    snap = read_snapshot(spark, snapshot_dir)
    have_snap = snap is not None
    if have_snap:
        diff = table_diff(snap, one, key_cols, compare_cols)
        # CDC semantics: the stream carries upserts only — a key
        # absent from this batch is NOT removed, so 'removed' rows
        # (snapshot keys the batch didn't mention) are dropped.
        status = diff.where(F.col("status") != "removed")
    else:
        status = one.select(
            *key_cols, F.lit("added").alias("status")
        )
    status = status.withColumn("epoch", F.lit(batch_id)).persist()
    try:
        status.write.mode("append").parquet(changes_dir)
        if have_snap:
            from topn_spark.operators.pipeline import merge_upsert

            merged = merge_upsert(snap, one, key_cols)
        else:
            merged = one
        # versioned write + manifest advance: the previous snapshot
        # dir is never touched while the merge plan reads it, and a
        # concurrent reader always resolves a complete version
        commit_snapshot(spark, snapshot_dir, merged, epoch=batch_id)
    finally:
        status.unpersist()


def read_cdc_snapshot(spark, snapshot_dir: str) -> DataFrame | None:
    """Current committed CDC snapshot (resolved through the store
    manifest), or ``None`` before the first batch."""
    from topn_spark.streaming.statestore import read_snapshot

    return read_snapshot(spark, snapshot_dir)


def read_cdc_changes(
    spark, changes_dir: str, since_epoch: int | None = None
) -> DataFrame:
    """Change-log reader for downstream incremental refresh. The log
    is append-only, so a replayed foreachBatch epoch (checkpoint
    rollback after the batch ran) appends a second classification for
    every key — and because the first attempt already advanced the
    snapshot, the replay sees its own batch as applied and records
    ``unchanged`` where the true classification was ``added`` or
    ``changed``. Reconciliation rule, exact by case analysis: within
    one (keys, epoch) group a non-``unchanged`` status wins (a replay
    of an identical batch against the post-commit snapshot can only
    produce ``unchanged`` — it can never flip added→changed or
    unchanged→changed), identical duplicates collapse, and the result
    is one row per key per epoch. ``since_epoch`` filters to epochs a
    consumer has not applied. One hash-agg over (keys, epoch) — the
    same shuffle shape as the diff that wrote the log."""
    df = spark.read.parquet(changes_dir)
    if since_epoch is not None:
        df = df.where(F.col("epoch") > since_epoch)
    cols = df.columns
    group = [c for c in cols if c != "status"]
    pr = F.when(F.col("status") == "unchanged", 1).otherwise(0)
    return df.groupBy(*group).agg(
        F.min_by(
            "status", F.struct(pr.alias("p"), F.col("status"))
        ).alias("status")
    ).select(*cols)


def _batch_targets(
    out_dir: str, reject_dir: str, batch_id: int | None
) -> tuple[str, str, str]:
    """``(out_target, reject_target, write_mode)`` of a gate batch: no
    ``batch_id`` appends flat to both dirs (the caller owns replay
    semantics); with one, each side overwrites its own
    ``batch_id=<N>`` partition, so a checkpointed replay rewrites in
    place."""
    if batch_id is None:
        return out_dir, reject_dir, "append"
    return (
        f"{out_dir}/batch_id={int(batch_id)}",
        f"{reject_dir}/batch_id={int(batch_id)}",
        "overwrite",
    )


def quality_gate_batch(
    batch: DataFrame,
    out_dir: str,
    reject_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_gopher: bool = True,
    lm: tuple | None = None,
    max_ppl: float | None = None,
    smoothing: str = "wb",
    k: float = 1.0,
    batch_id: int | None = None,
    langid: tuple | None = None,
    keep_lang: str | None = None,
    redact: bool = False,
) -> None:
    """Model-based quality gate for one micro-batch: admit documents
    that (when a langid model is supplied) classify as ``keep_lang``,
    pass the Gopher rule suite, AND (when an LM is supplied)
    score at most ``max_ppl`` under the saved bigram model; write
    admissions to ``out_dir`` (PII-redacted in place when
    ``redact`` — the release-gate form, so raw addresses never land
    in the corpus) and every rejection to ``reject_dir``
    as ``(id, reason, ppl)`` — a DEAD-LETTER log with WHY, so filter
    regressions are observable instead of silent corpus shrinkage.

    ``langid`` is ``(model, meta)`` from
    ``operators.langid.load_langid`` — like the LM, loaded ONCE by
    the sink; classification is one broadcast-join pass per batch.

    ``lm`` is ``(unigrams, bigrams, meta)`` from
    ``operators.lm.load_bigram_lm`` — loaded ONCE by the sink and
    reused across batches (train offline, gate forever; the CCNet
    deployment shape); the artifact meta supplies ``vocab_size`` AND
    ``total_tokens``, so scoring schedules no model-sized count jobs
    per batch. Reasons, first match wins — the Dolma stage order:
    ``language`` (lang_pred != keep_lang, incl. empty docs scoring
    ``und``), ``gopher`` (rule suite), ``unscored`` (< 2 tokens — no
    model opinion, rejected when a ppl cut is active), ``perplexity``
    (> max_ppl).

    Idempotence: with a ``batch_id`` (foreachBatch always has one),
    each side writes ``mode("overwrite")`` into its own
    ``batch_id=<N>`` partition directory, so a checkpointed REPLAY of
    a batch that crashed mid-write rewrites that batch's output in
    place instead of re-appending duplicates — exactly-once output
    from an at-least-once replay contract. Readers see one
    partitioned dataset (``spark.read.parquet(out_dir)`` with a
    ``batch_id`` partition column). Without a ``batch_id`` (ad-hoc
    batch use) both writes are flat appends and the caller owns
    replay semantics — AT-LEAST-ONCE: a re-run re-appends, so dedup
    downstream by the id column if re-runs are possible.

    The micro-batch source is persisted for the scope of the call:
    both the rule projection and the LM scoring derive from it, and
    without the cache the single materialization of the flagged
    frame would scan the (possibly expensive) upstream source twice.
    """
    batch = batch.persist()
    try:
        _quality_gate_writes(
            batch, out_dir, reject_dir, text_col, id_col,
            use_gopher, lm, max_ppl, smoothing, k, batch_id,
            langid, keep_lang, redact,
        )
    finally:
        batch.unpersist()


def _quality_gate_writes(
    batch, out_dir, reject_dir, text_col, id_col, use_gopher, lm,
    max_ppl, smoothing, k, batch_id,
    langid=None, keep_lang=None, redact=False,
) -> None:
    if use_gopher:
        enriched = gopher_rules(batch, text_col).select(
            *batch.columns, "gopher_keep"
        )
    else:
        enriched = batch.withColumn("gopher_keep", F.lit(True))
    if lm is not None and max_ppl is not None:
        from topn_spark.operators.lm import perplexity_score

        unigrams, bigrams, meta = lm
        scored = perplexity_score(
            batch,
            unigrams,
            bigrams,
            vocab_size=meta["vocab_size"],
            k=k,
            id_col=id_col,
            text_col=text_col,
            mode=meta["token_mode"],
            smoothing=smoothing,
            total_tokens=meta.get("total_tokens"),
        ).select(id_col, "ppl")
        enriched = enriched.join(scored, id_col, "left")
        reason = (
            F.when(~F.col("gopher_keep"), F.lit("gopher"))
            .when(F.col("ppl").isNull(), F.lit("unscored"))
            .when(F.col("ppl") > F.lit(float(max_ppl)), F.lit("perplexity"))
        )
    else:
        enriched = enriched.withColumn(
            "ppl", F.lit(None).cast("double")
        )
        reason = F.when(~F.col("gopher_keep"), F.lit("gopher"))
    if langid is not None and keep_lang is not None:
        from topn_spark.operators.langid import langid_score

        model, lmeta = langid
        lang = langid_score(
            batch, model, lmeta, id_col=id_col, text_col=text_col,
            n_lo=lmeta["n_lo"], n_hi=lmeta["n_hi"],
            keep_scores=False,
        ).select(id_col, "lang_pred")
        enriched = enriched.join(lang, id_col, "left")
        reason = F.when(
            F.coalesce(F.col("lang_pred"), F.lit("und"))
            != F.lit(keep_lang),
            F.lit("language"),
        ).otherwise(reason)
    out_target, rej_target, write_mode = _batch_targets(
        out_dir, reject_dir, batch_id
    )
    flagged = enriched.withColumn("_reason", reason).persist()
    try:
        admitted = flagged.where(F.col("_reason").isNull())
        if redact:
            admitted = redact_pii(admitted, text_col).withColumn(
                text_col, F.col("clean_text")
            )
        admitted.select(
            *batch.columns
        ).write.mode(write_mode).parquet(out_target)
        flagged.where(F.col("_reason").isNotNull()).select(
            F.col(id_col),
            F.col("_reason").alias("reason"),
            F.col("ppl"),
        ).write.mode(write_mode).parquet(rej_target)
    finally:
        flagged.unpersist()


def quality_corpus_sink(
    stream: DataFrame,
    out_dir: str,
    reject_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_gopher: bool = True,
    model_path: str | None = None,
    max_ppl: float | None = None,
    smoothing: str = "wb",
    k: float = 1.0,
    langid_path: str | None = None,
    keep_lang: str | None = None,
    redact: bool = False,
):
    """Wire a document stream into :func:`quality_gate_batch` via
    ``foreachBatch`` (availableNow-compatible) — the quality sibling
    of the dedup ingest gates: optional saved-langid routing
    (``langid_path`` + ``keep_lang``), rules + saved-LM perplexity
    cut, optional in-place PII redaction of admissions (``redact``),
    with a dead-letter reject log — the streaming twin of the batch
    Dolma path in ``examples/pretrain_corpus_pipeline.json``. The LM
    and langid artifacts are loaded and persisted
    ONCE here (model-sized count tables), not per batch. The stream's
    epoch id is threaded through as the gate's ``batch_id``, so the
    output is per-batch partition directories and a checkpointed
    replay after a crash OVERWRITES its own batch instead of
    duplicating it (idempotent sink — see
    :func:`quality_gate_batch`). Returns the started
    ``StreamingQuery``."""
    lm = None
    if model_path is not None:
        from topn_spark.operators.lm import load_bigram_lm

        unigrams, bigrams, meta = load_bigram_lm(
            stream.sparkSession, model_path
        )
        lm = (unigrams.persist(), bigrams.persist(), meta)
    lang_model = None
    if langid_path is not None:
        from topn_spark.operators.langid import load_langid

        model, lmeta = load_langid(stream.sparkSession, langid_path)
        lang_model = (model.persist(), lmeta)

    def _process(batch: DataFrame, batch_id: int) -> None:
        quality_gate_batch(
            batch,
            out_dir,
            reject_dir,
            text_col=text_col,
            id_col=id_col,
            use_gopher=use_gopher,
            lm=lm,
            max_ppl=max_ppl,
            smoothing=smoothing,
            k=k,
            batch_id=batch_id,
            langid=lang_model,
            keep_lang=keep_lang,
            redact=redact,
        )

    return start_batches(stream, _process, checkpoint_dir)


def routed_gate_batch(
    batch: DataFrame,
    out_dir: str,
    reject_dir: str,
    routes: dict[str, dict],
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = None,
    langid: tuple | None = None,
    lms: dict[str, tuple] | None = None,
    smoothing: str = "wb",
    batch_id: int | None = None,
    redact: bool = False,
) -> None:
    """PER-LANGUAGE routed quality gate for one micro-batch — the
    streaming form of
    :func:`~topn_spark.operators.textstats.routed_quality`, and the
    multilingual generalization of :func:`quality_gate_batch` (which
    admits ONE language under ONE parameter set): classify each
    document's language under the saved NB model (``langid`` from
    ``operators.langid.load_langid``; or trust an existing
    ``lang_col``), gate it on ITS language's Gopher/C4/LM route, and
    write admissions to ``out_dir`` (PII-redacted in place when
    ``redact``) with the predicted language attached, rejections to
    ``reject_dir`` as ``(id, reason, lang)`` — route_reason IS the
    dead-letter reason (``unrouted`` covers off-mix languages, so
    nothing is silently dropped).

    Same idempotence contract as :func:`quality_gate_batch`: with a
    ``batch_id``, both sides overwrite their own ``batch_id=<N>``
    partition directory, so checkpointed replays are exactly-once;
    without one, flat appends (caller owns replay semantics). The
    micro-batch is persisted for the scope of the call — signals,
    per-language LM scoring, and both writes all derive from it."""
    if (lang_col is None) == (langid is None):
        raise ValueError(
            "pass exactly one of lang_col (trusted column) or "
            "langid (saved model)"
        )
    batch = batch.persist()
    try:
        if langid is not None:
            from topn_spark.operators.langid import langid_score

            model, lmeta = langid
            lang = langid_score(
                batch, model, lmeta, id_col=id_col,
                text_col=text_col, n_lo=lmeta["n_lo"],
                n_hi=lmeta["n_hi"], keep_scores=False,
            ).select(id_col, "lang_pred")
            src = batch.join(lang, id_col, "left").withColumn(
                "lang_pred",
                F.coalesce(F.col("lang_pred"), F.lit("und")),
            )
            lang_column = "lang_pred"
        else:
            src = batch
            lang_column = lang_col
        routed = routed_quality(
            src,
            routes,
            lang_col=lang_column,
            text_col=text_col,
            id_col=id_col,
            lms=lms,
            smoothing=smoothing,
        )
        out_target, rej_target, mode = _batch_targets(
            out_dir, reject_dir, batch_id
        )
        routed = routed.persist()
        try:
            admitted = routed.where(F.col("routed_keep"))
            if redact:
                admitted = redact_pii(admitted, text_col).withColumn(
                    text_col, F.col("clean_text")
                )
            admitted.select(
                *batch.columns,
                F.col(lang_column).alias("gate_lang"),
            ).write.mode(mode).parquet(out_target)
            routed.where(~F.col("routed_keep")).select(
                F.col(id_col),
                F.col("route_reason").alias("reason"),
                F.col(lang_column).alias("gate_lang"),
            ).write.mode(mode).parquet(rej_target)
        finally:
            routed.unpersist()
    finally:
        batch.unpersist()


def routed_corpus_sink(
    stream: DataFrame,
    out_dir: str,
    reject_dir: str,
    checkpoint_dir: str,
    routes: dict[str, dict],
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = None,
    langid_path: str | None = None,
    lm_paths: dict[str, str] | None = None,
    smoothing: str = "wb",
    redact: bool = False,
):
    """Wire a document stream into :func:`routed_gate_batch` via
    ``foreachBatch`` (availableNow-compatible) — the per-language
    streaming Dolma gate: langid + per-language thresholds +
    per-language perplexity models + optional PII redaction, with
    route_reason dead-letters. All artifacts (the NB language model,
    one bigram LM per routed language) are loaded and persisted
    ONCE here, never per batch; a route that sets ``max_ppl`` with
    no model in ``lm_paths`` fails at wiring time (the
    :func:`~topn_spark.operators.textstats.routed_quality`
    validation), not mid-stream. Epoch ids thread through as
    ``batch_id`` for the exactly-once partition contract. Returns
    the started ``StreamingQuery``."""
    for g, cfg in routes.items():
        if {**ROUTE_DEFAULTS, **cfg}["max_ppl"] is not None and (
            not lm_paths or g not in lm_paths
        ):
            raise ValueError(
                f"route {g!r} sets max_ppl but no LM was supplied "
                "for it (pass lm_paths={lang: artifact_path})"
            )
    lang_model = None
    if langid_path is not None:
        from topn_spark.operators.langid import load_langid

        model, lmeta = load_langid(stream.sparkSession, langid_path)
        lang_model = (model.persist(), lmeta)
    lms = None
    if lm_paths:
        from topn_spark.operators.lm import load_bigram_lm

        lms = {}
        for g, path in lm_paths.items():
            unigrams, bigrams, meta = load_bigram_lm(
                stream.sparkSession, path
            )
            lms[g] = (unigrams.persist(), bigrams.persist(), meta)

    def _process(batch: DataFrame, batch_id: int) -> None:
        routed_gate_batch(
            batch,
            out_dir,
            reject_dir,
            routes,
            text_col=text_col,
            id_col=id_col,
            lang_col=lang_col,
            langid=lang_model,
            lms=lms,
            smoothing=smoothing,
            batch_id=batch_id,
            redact=redact,
        )

    return start_batches(stream, _process, checkpoint_dir)


def gate_report(spark, out_dir: str, reject_dir: str) -> DataFrame:
    """Admission accounting over a :func:`quality_corpus_sink` run:
    ``(status, reason, n)`` — one ``admitted`` row plus one
    ``rejected`` row per dead-letter reason. Reads only the gate's
    own outputs (two count aggs over model-thin columns); a dir that
    does not exist yet (nothing admitted / nothing rejected) counts
    as zero rows rather than failing, so the report is safe to poll
    while the stream runs. Rows come back ordered by status, then
    reason (nulls first)."""
    adm = _read_store(spark, out_dir)
    rows = [("admitted", None, adm.count() if adm is not None else 0)]
    rej = _read_store(spark, reject_dir)
    if rej is not None:
        rows += sorted(
            (
                ("rejected", r["reason"], int(r["n"]))
                for r in rej.groupBy("reason")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ),
            key=lambda r: (r[1] is not None, r[1]),
        )
    return local_frame(spark, rows, "status string, reason string, n long")


def decontam_gate_batch(
    batch: DataFrame,
    out_dir: str,
    reject_dir: str,
    eval_grams: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    mode: str = "ascii",
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> None:
    """Benchmark-decontamination gate for one micro-batch: admit
    documents sharing fewer than ``min_hits`` word-``n``-gram
    instances with the eval benchmark (the GPT-3 Appendix C recipe,
    applied at INGEST time — new crawl data is checked against the
    eval suite before it ever lands in the corpus, instead of one
    giant decontamination pass before each training run). Admissions
    keep the input schema in ``out_dir``; every rejection dead-letters
    to ``reject_dir`` as ``(id, reason='contaminated',
    n_contam_grams)`` so benchmark collisions are observable.

    ``eval_grams`` is the precomputed
    :func:`~topn_spark.operators.dedup.eval_gram_digests` frame —
    loaded and persisted ONCE by :func:`decontam_corpus_sink`
    (benchmark-sized, broadcast into the per-batch join), never
    rebuilt per batch.

    Same idempotence contract as :func:`quality_gate_batch`: with a
    ``batch_id``, each side overwrites its own ``batch_id=<N>``
    partition directory, so checkpointed replays rewrite in place
    (exactly-once output from at-least-once replays); without one,
    flat appends and the caller owns replay semantics.
    """
    from topn_spark.operators.dedup import ngram_decontaminate

    flagged = ngram_decontaminate(
        batch, None, n=n, text_col=text_col, id_col=id_col,
        min_hits=min_hits, mode=mode, eval_grams=eval_grams,
    ).persist()
    out_target, rej_target, write_mode = _batch_targets(
        out_dir, reject_dir, batch_id
    )
    try:
        flagged.where(~F.col("contaminated")).select(
            *batch.columns
        ).write.mode(write_mode).parquet(out_target)
        flagged.where(F.col("contaminated")).select(
            F.col(id_col),
            F.lit("contaminated").alias("reason"),
            F.col("n_contam_grams"),
        ).write.mode(write_mode).parquet(rej_target)
    finally:
        flagged.unpersist()


def decontam_corpus_sink(
    stream: DataFrame,
    eval_path: str,
    out_dir: str,
    reject_dir: str,
    checkpoint_dir: str,
    n: int = 13,
    min_hits: int = 1,
    mode: str = "ascii",
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
):
    """Wire a document stream into :func:`decontam_gate_batch` via
    ``foreachBatch`` (availableNow-compatible) — the ingest-time
    twin of the batch ``Decontaminate`` pipeline stage: the eval
    benchmark at ``eval_path`` (parquet) reduces ONCE here to its
    distinct md5'd gram set (benchmark-sized, persisted), and every
    micro-batch pays only its own gram explode + broadcast join.
    The stream's epoch id becomes the gate's ``batch_id``
    (per-batch overwrite partitions — idempotent under checkpointed
    replay). Returns the started ``StreamingQuery``."""
    from topn_spark.operators.dedup import eval_gram_digests

    eval_df = stream.sparkSession.read.parquet(eval_path)
    ev_grams = eval_gram_digests(
        eval_df, n, text_col=eval_text_col or text_col, mode=mode
    ).persist()

    def _process(batch: DataFrame, batch_id: int) -> None:
        decontam_gate_batch(
            batch,
            out_dir,
            reject_dir,
            ev_grams,
            n=n,
            min_hits=min_hits,
            mode=mode,
            text_col=text_col,
            id_col=id_col,
            batch_id=batch_id,
        )

    return start_batches(stream, _process, checkpoint_dir)


def attributes_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    taggers: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Tag each micro-batch with the doc-level tagger registry and
    grow the attribute SIDECAR as the corpus streams in — the
    streaming twin of the ``TagAttributes`` pipeline stage and the
    incremental complement of
    ``operators.attributes.tag_attributes_incremental``: signals are
    deterministic per document, so tagging at ingest means no
    re-tagging pass ever runs over history, and every future mix
    (``apply_mixer`` / the ``Mixer`` stage) reads the accumulated
    sidecar as ONE partitioned dataset.

    Each batch writes ``mode("overwrite")`` into its own
    ``batch_id=<N>`` partition directory — the same exactly-once
    replay contract as the quality gates (a checkpointed replay
    rewrites its batch in place). Tagging is map-only, so the sink
    adds no shuffle to the ingest path. Returns the started
    ``StreamingQuery``."""
    from topn_spark.operators.attributes import tag_attributes

    def _process(batch: DataFrame, batch_id: int) -> None:
        tag_attributes(
            batch, taggers, id_col=id_col, text_col=text_col
        ).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={int(batch_id)}"
        )

    return start_batches(stream, _process, checkpoint_dir)


def sft_gate_batch(
    batch: DataFrame,
    out_dir: str,
    reject_dir: str,
    messages_col: str = "messages",
    id_col: str = "conv_id",
    template: str = "chatml",
    redact: bool = False,
    batch_id: int | None = None,
) -> None:
    """Structural SFT ingest gate for one micro-batch — the
    conversation-modality sibling of :func:`quality_gate_batch`:
    admit conversations that pass
    :func:`~topn_spark.operators.sft.conversation_qc` (roles,
    alternation, content, assistant-final), optionally PII-redact
    the message arrays in place
    (:func:`~topn_spark.operators.sft.redact_conversation` — the
    release-gate form), then land them TRAINABLE: rendered ``text``
    plus aligned ``tokens`` / ``loss_mask`` / ``n_supervised`` from
    the loss_spans → token_loss_mask chain, ready for PackMasked.
    Every rejection goes to ``reject_dir`` as ``(id, reason)`` with
    the first-failing QC rule — the dead-letter log that makes a
    malformed-upstream regression observable instead of silent
    corpus shrinkage.

    Idempotence contract of the gate family: with a ``batch_id``
    each side overwrites its own ``batch_id=<N>`` partition
    directory (exactly-once output from at-least-once replays);
    without one, flat appends and the caller owns replay semantics.

    Scale: QC/redact/render/mask are all projection-bound map-only
    array algebra (no shuffle, no UDF) — per batch this is one scan
    of the micro-batch; the batch is persisted for the scope of the
    call because both writes derive from the same QC projection."""
    from topn_spark.operators.sft import (
        conversation_qc,
        loss_spans,
        redact_conversation,
        token_loss_mask,
    )

    flagged = conversation_qc(batch, messages_col).persist()
    try:
        out_target, rej_target, mode = _batch_targets(
            out_dir, reject_dir, batch_id
        )
        kept = flagged.where(F.col("qc_pass")).select(*batch.columns)
        if redact:
            kept = redact_conversation(kept, messages_col).select(
                *batch.columns
            )
        masked = token_loss_mask(
            loss_spans(kept, messages_col, template=template)
        )
        trainable = masked.select(
            *batch.columns,
            "text",
            F.transform("tokens", lambda t: t["tok"]).alias("tokens"),
            "loss_mask",
            "n_supervised",
        )
        trainable.write.mode(mode).parquet(out_target)
        flagged.where(~F.col("qc_pass")).select(
            F.col(id_col),
            F.col("qc_reason").alias("reason"),
        ).write.mode(mode).parquet(rej_target)
    finally:
        flagged.unpersist()


def drift_monitor_batch(
    batch: DataFrame,
    reference: dict[str, int],
    out_dir: str,
    batch_id: int,
    text_col: str = "text",
    mode: str = "ascii",
    max_js: float | None = None,
) -> None:
    """Distribution-drift check for one micro-batch — the streaming
    twin of :func:`~topn_spark.operators.textstats.corpus_divergence`
    (a batch whose unigram distribution lurches away from the
    accepted reference corpus usually means an upstream feed change:
    a new crawler locale, a source swap, a parser regression; the
    time to notice is AT INGEST, not after the shards ship): compute
    the Jensen–Shannon divergence between the batch's unigram
    distribution and a driver-held ``reference`` count dict (built
    once from the accepted corpus — model-sized, broadcast into the
    join), and append one ``(batch_id, n_tokens, vocab,
    vocab_shared, js_divergence, drifted)`` row to the monitor log
    under its own ``batch_id=<N>`` partition — the same exactly-once
    replay contract as the other gates. ``drifted`` is NULL when no
    ``max_js`` threshold is configured (monitor-only mode).

    Scale shape: one map-side-combinable unigram agg over the batch
    + a broadcast join against the reference vocabulary — per-batch
    cost, nothing data-sized on the driver.
    """
    spark = batch.sparkSession
    n_ref = sum(reference.values())
    ref_df = F.broadcast(
        local_frame(spark, list(reference.items()), "w string, rc long")
    )
    # persist: the total-token collect below and the full-outer join
    # would otherwise each recompute the unigram agg from the raw
    # batch — one scan, vocabulary-sized cache, freed after the write
    counts = (
        batch.select(F.explode(tokens(text_col, mode)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    nb = counts.agg(F.sum("c")).collect()[0][0] or 0
    j = counts.join(ref_df, "w", "full_outer")
    p = F.coalesce("c", F.lit(0)).cast("double") / F.lit(
        float(max(nb, 1))
    )
    q = F.coalesce("rc", F.lit(0)).cast("double") / F.lit(
        float(max(n_ref, 1))
    )
    m = (p + q) / 2
    contrib = F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    row = j.agg(
        F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
        F.lit(int(nb)).cast("bigint").alias("n_tokens"),
        F.sum(F.col("c").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("vocab"),
        F.sum(
            (F.col("c").isNotNull() & F.col("rc").isNotNull()).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("vocab_shared"),
        F.sum(contrib).alias("js_divergence"),
    ).withColumn(
        "drifted",
        F.lit(None).cast("boolean")
        if max_js is None
        else F.col("js_divergence") > float(max_js),
    )
    row.write.mode("overwrite").parquet(
        f"{out_dir}/batch_id={int(batch_id)}"
    )
    counts.unpersist()


def arena_monitor_batch(
    batch: DataFrame,
    out_dir: str,
    batch_id: int,
    prompt_col: str = "prompt_id",
    model_col: str = "model",
    score_col: str = "score",
    smoothing: float = 0.5,
    cumulative: bool = True,
    half_life_batches: float | None = None,
    bootstrap: int | None = None,
    store=None,
) -> None:
    """Arena-rating monitor for one micro-batch of scored samples —
    the streaming readout of the z113→z117 chain (an evaluation
    service streams (prompt, model, score) rows; the time to notice
    a model regressing — or a scorer drifting — is AT INGEST, per
    batch, not at the next weekly leaderboard build): compute the
    batch's pairwise win-rate matrix and its Bradley–Terry fit
    (``smoothing`` keeps every per-batch fit finite) and append one
    row per model — ``(batch_id, model, strength, rating, wins_eff,
    n_games, converged)`` — plus the matrix itself under
    ``batch_id=<N>`` partitions: the same exactly-once replay
    contract as the other gates (a replayed epoch overwrites its own
    partition, never duplicates). Batches whose samples share no
    prompt across two models append nothing — observable as a
    missing batch partition, never a fabricated rating.

    ``cumulative=True`` additionally fits the SUMMED win matrix
    over every committed batch ``<= batch_id`` (the matrix
    partitions ARE the state — k²-sized rows, no second statestore
    to reconcile) and writes it under ``cumulative/batch_id=<N>``
    with a per-model ``drift`` column: the cumulative rating minus
    the same model's rating fitted on the FIRST committed batch
    alone (NULL for models the first batch never rated). A slow
    per-batch regression that each batch's own noisy fit hides
    accumulates in ``drift`` — that is the monitor's alerting
    signal. Because the cumulative fit is a pure function of the
    partitions ``<= batch_id``, a replayed batch recomputes and
    overwrites byte-identically: restart-idempotent by
    construction, no decayed/incremental state to corrupt.

    ``half_life_batches`` also writes ``decayed/batch_id=<N>``:
    the production leaderboard shape — batch *b*'s matrix weighted
    ``0.5^((N-b)/half_life)`` (exponential forgetting, so a model
    swap shows up in the ratings within ~a half-life instead of
    being diluted by months of stale wins), fitted over the
    weighted effective counts (the BT likelihood accepts weighted
    sufficient statistics directly).

    ``bootstrap=n`` adds UNCERTAINTY to both online leaderboards —
    the signal a production pager actually needs (a 10-point drift
    between two models on 50 prompts is noise; the same drift
    outside the interval is an incident): the match-level Poisson
    bootstrap over the aggregated matrices
    (:func:`~topn_spark.operators.sft.
    bradley_terry_matrix_bootstrap` — deterministic replicates, so
    a replayed batch rewrites byte-identically) lands
    ``(model, strength, rating, rating_lo, rating_hi, n_games,
    n_boot)`` under ``cumulative_ci/batch_id=<N>`` and
    ``decayed_ci/batch_id=<N>``, beside (not inside) the point
    leaderboards so their schemas stay stable.

    Scale shape (r14): per batch, ONE Spark job — the z113 shapes
    (max-agg + model-keyed self-join + k²-agg) collected as the
    k²-sized win matrix — then every fit, the cumulative/decayed
    sums, the bootstrap replicates and ALL accounting reads/writes
    are driver math + driver-side pyarrow parquet through the
    :mod:`~topn_spark.operators.binfs` backend (``store``), exactly
    like the binary layer's accounting tables: the previous shape
    paid ~10 scheduler-overhead-bound Spark jobs per commit on
    k²-sized frames (measured ~2.5 s/commit of pure fixed cost at
    local[32]; the same fixed cost rides every commit at 100 TB).
    The cumulative/decayed reads scan only (batches × k²) matrix
    rows, never samples. ``out_dir`` holds model-sized accounting
    state on driver-reachable storage (shared filesystem, or an
    object-store backend via ``store``)."""
    from topn_spark.operators.binfs import LocalBinaryStore
    from topn_spark.operators.sft import (
        _bt_boot_check,
        _bt_fit_rows,
        _bt_matrix_bootstrap_rows,
        _matrix_tuples,
        pairwise_winrate,
    )

    st = store or LocalBinaryStore()
    mdf = pairwise_winrate(
        batch, prompt_col=prompt_col, model_col=model_col,
        score_col=score_col,
    )
    mtype = mdf.schema["model_a"].dataType.simpleString()
    mrows = sorted(
        (r.asDict() for r in mdf.collect()),
        key=lambda r: (r["model_a"], r["model_b"]),
    )
    if not mrows:
        # no prompt shared across two models: nothing to rate —
        # skip the writes entirely so the missing batch_id
        # partition stays the documented observable signal
        # (an empty partition would read as a fitted-but-empty
        # batch)
        return
    matrix_ddl = (
        f"model_a {mtype}, model_b {mtype}, n_prompts bigint,"
        " wins_a bigint, wins_b bigint, ties bigint,"
        " win_rate_a double"
    )
    ratings_ddl = (
        f"model {mtype}, strength double, rating double,"
        " wins_eff double, n_games double, converged boolean"
    )
    ci_ddl = (
        f"model {mtype}, strength double, rating double,"
        " rating_lo double, rating_hi double, n_games double,"
        " n_boot int"
    )

    def _part(sub):
        return (
            f"{out_dir}/{sub}/batch_id={int(batch_id)}"
        )

    st.makedirs(f"{out_dir}/ratings")
    st.write_parquet(
        _part("ratings"), _bt_fit_rows(_matrix_tuples(mrows), smoothing),
        ratings_ddl,
    )
    st.makedirs(f"{out_dir}/matrix")
    st.write_parquet(_part("matrix"), mrows, matrix_ddl)
    if cumulative or half_life_batches is not None:
        if bootstrap:
            # the intervals are bradley_terry_matrix_bootstrap's
            _bt_boot_check(
                "bradley_terry_matrix_bootstrap", bootstrap, smoothing
            )
        # model-sized history: every committed matrix partition
        # <= batch_id, read driver-side through the backend
        hist: dict[int, list[dict]] = {}
        for name in st.list(f"{out_dir}/matrix", "batch_id=*"):
            b = int(name.split("=", 1)[1])
            if b <= int(batch_id):
                hist[b] = (
                    st.read_parquet_rows(
                        f"{out_dir}/matrix/{name}"
                    )
                    or []
                )

        def _summed(weight_of):
            acc: dict = {}
            for b in sorted(hist):
                w = weight_of(b)
                for r in hist[b]:
                    k = (r["model_a"], r["model_b"])
                    wa, wb, t = acc.get(k, (0.0, 0.0, 0.0))
                    acc[k] = (
                        wa + w * float(r["wins_a"]),
                        wb + w * float(r["wins_b"]),
                        t + w * float(r["ties"]),
                    )
            return [
                (ka, kb, wa, wb, t)
                for (ka, kb), (wa, wb, t) in sorted(acc.items())
            ]

        if cumulative:
            cum_t = _summed(lambda b: 1.0)
            cum_rows = _bt_fit_rows(cum_t, smoothing)
            base = {
                r["model"]: r["rating"]
                for r in _bt_fit_rows(
                    _matrix_tuples(hist[min(hist)]), smoothing
                )
            }
            for r in cum_rows:
                r0 = base.get(r["model"])
                r["drift"] = (
                    r["rating"] - r0 if r0 is not None else None
                )
            st.makedirs(f"{out_dir}/cumulative")
            st.write_parquet(
                _part("cumulative"), cum_rows,
                ratings_ddl + ", drift double",
            )
            if bootstrap:
                st.makedirs(f"{out_dir}/cumulative_ci")
                st.write_parquet(
                    _part("cumulative_ci"),
                    _bt_matrix_bootstrap_rows(cum_t, bootstrap, smoothing),
                    ci_ddl,
                )
        if half_life_batches is not None:
            dec_t = _summed(
                lambda b: 0.5
                ** (
                    (int(batch_id) - b)
                    / float(half_life_batches)
                )
            )
            st.makedirs(f"{out_dir}/decayed")
            st.write_parquet(
                _part("decayed"), _bt_fit_rows(dec_t, smoothing),
                ratings_ddl,
            )
            if bootstrap:
                st.makedirs(f"{out_dir}/decayed_ci")
                st.write_parquet(
                    _part("decayed_ci"),
                    _bt_matrix_bootstrap_rows(dec_t, bootstrap, smoothing),
                    ci_ddl,
                )


def bin_export_batch(
    batch: DataFrame,
    corpus_dir: str,
    out_dir: str,
    batch_id: int,
    n_shards: int,
    tokens_col: str = "tokens",
    mask_col: str | None = "loss_mask",
    id_col: str = "seq_id",
    dtype: str = "auto",
    salt: str = "",
    assets_col: str | None = None,
    store=None,
    epochs: tuple[int, ...] = (),
    epoch_salt: str = "",
    seqs_per_shard: int | None = None,
    _shard_key_col: str | None = None,
    _layout: str = "seq",
) -> DataFrame:
    """Keep a trainer-native binary shard set CURRENT from one
    micro-batch of packed sequences — streaming maintenance for
    :func:`~topn_spark.operators.binshard.export_bin_shards`, at
    BATCH-PROPORTIONAL cost (the round-12 shape re-ran the full
    store's signature scan AND rewrite read per commit — 200 TB of
    input per 1 GB micro-batch at the design point; input passes
    ARE the cost model):

    1. The batch lands in the corpus store partitioned by
       ``(shard, batch_id)`` — ``shard`` is the SAME deterministic
       ``md5(id||salt) mod n_shards`` the exporter uses
       (:func:`~topn_spark.operators.pipeline.shard_assignment`),
       computed at land time, so the store's physical layout IS the
       export's shard layout and the rewrite can partition-prune.
    2. Steady state (a batch id never seen before): the
       batch-proportional
       :func:`~topn_spark.operators.binshard.export_bin_shards_delta`
       — per-shard signatures FOLD against the stored manifest from
       ONE batch-sized read of the freshly landed ``batch_id=N``
       partitions (zero extra batch-lineage input, zero pre-existing
       store input), and the rewrite reads ONLY the touched shards'
       partitions, with the file index built over exactly those
       partition directories (listing ∝ touched, not ∝ store).
       Per-commit input AND per-commit listing = batch + touched
       shards, independent of corpus size. Post-land, the store is
       authoritative for the batch's content: the fold and the
       rewrite both read the landed partitions, and the delta's
       cross-check guards the append-only/unique-id contract (a
       partial land surfaces as a missing-shard or signature
       mismatch on the NEXT commit's fold, not silently).
    3. Replay (this ``batch_id``'s partitions already exist — a
       restarted ``foreachBatch`` re-delivering its last batch):
       the previously landed partitions are replaced and the export
       falls back to the full-store signature diff
       (``incremental=True``), which converges to byte-identical
       shards no matter where the failed attempt stopped — the
       batch-side fold would double-count replayed rows, so replay
       correctness deliberately buys the full scan (rare) rather
       than a ledger.
    4. First batch (no ``_manifest_meta``): full export.

    ``id_col`` must be corpus-unique across batches and batches
    must be pure APPENDS (the .idx audit link + the signature
    fold's soundness; the writer raises on duplicates and the delta
    cross-checks its fold against the written shards). With
    ``epochs``, the listed epoch orders are (re)derived after any
    commit that changed shard content — closing the version-bump
    resume story: a trainer's ``read_bin_window`` keeps finding a
    current-version epoch order once ingest settles. Whether a
    commit changed content is read from ``_manifest_meta``: on all
    three paths ``export_version`` is new or bumped exactly when a
    shard was rewritten, so the check costs no Spark job. Epoch
    orders run over the layout's unit (pairs for
    :func:`preference_bin_export_batch`). Returns the manifest.

    Scale shape per commit: one batch write (shuffle-free append),
    one batch-sized aggregate, one rewrite over touched shards' rows
    only, spread by the bytes it writes (a small commit writes in
    one task with no exchange); epoch
    re-derivation is index-sized. The
    corpus store stays a Spark-managed parquet dataset (any
    cluster filesystem); ``store`` routes only the BINARY layer's
    I/O (:mod:`topn_spark.operators.binfs`).

    **Use ``seqs_per_shard`` (range sharding) for high-cadence
    maintenance.** Streaming ids arrive roughly increasing, so
    under ``shard = id // seqs_per_shard`` each commit touches
    only the TAIL shard(s) — per-commit cost is
    O(batch + seqs_per_shard) FLAT no matter how large the store
    grows, and shard count grows with the corpus (the 100 TB
    shape). Under the default hash scheme a batch's rows scatter
    across shards whose individual size grows with the store, so
    per-commit cost creeps back toward corpus-proportional even
    though untouched partitions are never read. Epoch orders
    shuffle across and within shards either way, so training-order
    randomness is unaffected by the layout scheme.

    ``corpus_dir`` must be a literal path: replay detection builds a
    Hadoop glob from it, so a glob metacharacter (``{ [ ? *``) is
    rejected up front with a ``ValueError``."""
    import os

    bad = sorted({c for c in "{[?*" if c in corpus_dir})
    if bad:
        raise ValueError(
            f"bin_export_batch: corpus_dir {corpus_dir!r} contains glob "
            f"metacharacter(s) {' '.join(bad)}; replay detection "
            "matches its partitions with a Hadoop glob, so the path "
            "must be literal"
        )
    from topn_spark.operators.binshard import (
        _assign_shards,
        _read_meta,
        export_bin_shards,
        export_bin_shards_delta,
        export_epoch_order,
    )
    from topn_spark.streaming.statestore import _hadoop

    spark = batch.sparkSession
    assigned = _assign_shards(
        batch, n_shards, _shard_key_col or id_col, salt,
        seqs_per_shard,
    )
    # All corpus-store directory work goes through the Hadoop FS of
    # corpus_dir itself (r15): a POSIX glob/rmtree silently matches
    # nothing on any non-local URI (s3a://, hdfs://, ...), so replay
    # detection would miss re-delivered partitions on exactly the
    # stores that need it. globStatus is ONE directory-level pattern
    # walk (shard dirs × one child probe), never a full-store leaf
    # listing; under a missing corpus_dir it matches nothing.
    # ``pat`` matches this batch_id's landed ``shard=k/batch_id=N``
    # partition directories
    fs, pat = _hadoop(
        spark,
        os.path.join(corpus_dir, "shard=*", f"batch_id={int(batch_id)}"),
    )
    replayed = fs.globStatus(pat) or []
    for hit in replayed:
        # replace the failed/duplicate delivery wholesale — the
        # replay contract of the other streaming gates
        fs.delete(hit.getPath(), True)
    assigned.withColumn(
        "batch_id", F.lit(int(batch_id))
    ).write.mode("append").partitionBy("shard", "batch_id").parquet(
        corpus_dir
    )
    prior = _read_meta(spark, out_dir, store)
    # read the store with the KNOWN schema (the batch's own fields
    # + the partition columns): schema inference would read parquet
    # footers from arbitrary store files at planning time — at
    # 100 TB that is a pointless listing+footer storm, and it
    # breaks the partition-pruning guarantee the delta path rests
    # on (planning must not open untouched shards' files either)
    from pyspark.sql import types as T

    store_schema = T.StructType(
        list(assigned.schema.fields)
        + [T.StructField("batch_id", T.LongType())]
    )

    def _store_frame(paths: list[str]) -> DataFrame:
        """Reader over explicit partition-directory paths with
        ``basePath``: the file index lists ONLY these directories,
        so per-commit listing work is ∝ the named partitions — the
        full-store root read walks every ``shard=*/batch_id=*``
        directory at plan time, which at millions of partitions is
        corpus-sized metadata work per commit even though pruning
        keeps untouched files closed (guide §6 file listing)."""
        if not paths:
            return local_frame(spark, [], store_schema)
        return (
            spark.read.schema(store_schema)
            .option("basePath", corpus_dir)
            .parquet(*paths)
        )

    if prior is None or replayed:
        man = export_bin_shards(
            spark.read.schema(store_schema)
            .parquet(corpus_dir)
            .drop("batch_id", "shard"),
            out_dir,
            n_shards,
            tokens_col=tokens_col,
            mask_col=mask_col,
            id_col=id_col,
            dtype=dtype,
            salt=salt,
            assets_col=assets_col,
            incremental=prior is not None,
            store=store,
            seqs_per_shard=seqs_per_shard,
            shard_key_col=_shard_key_col,
            layout=_layout,
        )
    else:
        # ONE batch input pass per commit (r14): the signature fold
        # consumes the batch's rows read BACK from the store
        # partitions the write above just landed (pruned to
        # batch_id=N — exactly the batch, batch-sized bytes, local
        # columnar read), instead of re-running the batch's upstream
        # lineage. In a foreachBatch sink every action on the batch
        # frame re-reads the micro-batch source, so the previous
        # shape paid 2× source reads per commit — the very
        # input-pass cost this wrapper exists to bound. (A persist
        # of the assigned frame was measured ~7% SLOWER at sf0.1:
        # cache fill + unpersist round-trips on batch-sized frames
        # cost more than the re-read they save; the store read-back
        # is overhead-free and holds no executor memory.)
        #
        # Listing ∝ touched, never ∝ store (r15): the batch read-back
        # names its landed partition dirs explicitly (one directory-
        # level glob), and the rewrite's store input is built by the
        # delta's store_reader seam over exactly the touched shards'
        # dirs — no corpus_dir root read is ever PLANNED on this
        # path, so per-commit file-index work stays batch-sized no
        # matter how many (shard, batch_id) partitions the store has
        # accumulated.
        landed = _store_frame(
            [str(hit.getPath()) for hit in fs.globStatus(pat) or []]
        ).drop("batch_id")

        def _touched_shards_reader(touched):
            return _store_frame(
                [
                    os.path.join(corpus_dir, f"shard={int(k)}")
                    for k in touched
                ]
            ).drop("batch_id")

        man = export_bin_shards_delta(
            landed,
            None,
            out_dir,
            n_shards,
            tokens_col=tokens_col,
            mask_col=mask_col,
            id_col=id_col,
            salt=salt,
            assets_col=assets_col,
            store=store,
            seqs_per_shard=seqs_per_shard,
            shard_key_col=_shard_key_col,
            layout=_layout,
            store_reader=_touched_shards_reader,
        )
    if epochs:
        from topn_spark.operators.binfs import LocalBinaryStore

        st = store or LocalBinaryStore()
        # each path bumps (or first writes) export_version exactly
        # when it rewrote a shard, so the version says whether the
        # epoch orders are views of a stale dataset version
        changed = prior is None or (
            _read_meta(spark, out_dir, st)["export_version"]
            != prior["export_version"]
        )
        for e in epochs:
            if changed or not st.exists(
                os.path.join(out_dir, f"_epoch_{int(e):04d}")
            ):
                export_epoch_order(
                    spark, out_dir, e, salt=epoch_salt, store=st,
                    unit=_layout,
                )
    return man


def preference_bin_export_batch(
    batch: DataFrame,
    corpus_dir: str,
    out_dir: str,
    batch_id: int,
    n_shards: int,
    pair_id_col: str = "pair_id",
    chosen_tokens_col: str = "chosen_tokens",
    rejected_tokens_col: str = "rejected_tokens",
    chosen_mask_col: str | None = "chosen_mask",
    rejected_mask_col: str | None = "rejected_mask",
    dtype: str = "auto",
    salt: str = "",
    store=None,
    epochs: tuple[int, ...] = (),
    epoch_salt: str = "",
    seqs_per_shard: int | None = None,
) -> DataFrame:
    """:func:`bin_export_batch` for PREFERENCE pairs — streaming
    maintenance of a DPO/KTO trainer shard set: each micro-batch of
    (chosen, rejected) pairs stacks into the ``2·pair + stream``
    sequence encoding (the one :func:`~topn_spark.operators.
    binshard._stack_pairs` definition the batch exporter uses too),
    lands in the corpus store partitioned by the PAIR-keyed shard id
    + ``batch_id``, and the shard set re-exports at
    batch-proportional cost through the same fold / partition-prune /
    cross-check / replay machinery. Both halves of every pair stay
    physically adjacent across any number of deltas (the export
    re-sorts each touched shard by seq_id), so
    ``read_preference_shards`` / ``read_preference_window`` keep
    working and ``verify_preference_shards`` keeps recounting the
    pairing invariant. ``epochs`` re-derives PAIR-unit epoch orders
    after content-changing commits; ``seqs_per_shard`` (in PAIRS)
    selects range sharding for flat per-commit cost under roughly
    increasing pair ids. Pair ids must be append-only unique."""
    from topn_spark.operators.binshard import _stack_pairs

    stacked, has_mask = _stack_pairs(
        batch, pair_id_col, chosen_tokens_col, rejected_tokens_col,
        chosen_mask_col, rejected_mask_col,
        caller="preference_bin_export_batch",
    )
    return bin_export_batch(
        stacked,
        corpus_dir,
        out_dir,
        batch_id,
        n_shards,
        tokens_col="tokens",
        mask_col="loss_mask" if has_mask else None,
        id_col="seq_id",
        dtype=dtype,
        salt=salt,
        store=store,
        epochs=epochs,
        epoch_salt=epoch_salt,
        seqs_per_shard=seqs_per_shard,
        _shard_key_col="pair_id",
        _layout="pair",
    )
