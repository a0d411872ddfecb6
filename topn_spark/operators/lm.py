"""n-gram language-model training, perplexity scoring, and importance
resampling — the model-based corpus-filtering stages (CCNet, DSIR).

The published pipelines these re-express:

- CCNet (Wenzek et al. 2020, arXiv:1911.00359) trains an LM on a
  clean reference corpus (Wikipedia), scores every web document by
  perplexity, and keeps the low-perplexity "head" bucket (head /
  middle / tail split at the 1/3 and 2/3 percentiles). Here the LM is
  a bigram model with pluggable smoothing — add-k, Witten–Bell, or
  interpolated Kneser–Ney (what their KenLM actually runs, at order
  2 instead of 5) — the distributed shape (count tables + a
  gram-keyed scoring join) is what matters; the n-gram order is the
  remaining fidelity gap, and raising it only widens the gram key.
- DSIR (Xie et al. 2023, arXiv:2302.03169) selects pretraining data
  by importance resampling: hashed n-gram bag-of-words models for a
  target (quality) corpus and the raw corpus, and per-document
  importance log-weights  sum_f c_f(x) * (log p_target(f) -
  log p_raw(f)).

Scale shape, both families: model TRAINING is the word-count hash agg
(map-side combined, keyed by the gram — sublinear output in corpus
size, zipf-truncatable with ``min_count``); SCORING is one explode to
the per-doc gram stream, an equi-join against the count table on the
gram key, and a per-doc re-agg. Never all-pairs, no driver-side state
beyond two scalars (vocab size / total count). Gram frequency is
zipf-heavy, so the scoring join's hot keys ("of the") are the skew
story at 100 TB: AQE skew-join handles the probe side, and the count
table is broadcastable after ``min_count`` pruning. The DSIR model is
even smaller — ``n_buckets`` rows forever, by construction.

Engine-exactness: counts are exact ints; log-probabilities are one
IEEE division + one libm ``log`` per gram and a float sum, so scores
are mirror-checked under relative tolerance (sum order is
plan-dependent), never hash-compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topn_spark.operators.textstats import ngrams_from_tokens, tokens
from topn_spark.plans import local_frame

__all__ = [
    "train_bigram_lm",
    "perplexity_score",
    "ccnet_buckets",
    "dsir_logweights",
    "save_bigram_lm",
    "load_bigram_lm",
    "update_bigram_lm",
]


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    mode: str = "ascii",
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Train a bigram LM: returns ``(unigrams, bigrams)`` count
    tables — ``unigrams (w, c)`` exact, ``bigrams (bg, c)`` with
    ``c >= min_count`` (space-joined gram key).

    ``min_count`` prunes the zipf tail of the bigram table only; the
    unigram table is never pruned because it is the conditional's
    denominator — pruning it would silently inflate P(w2|w1) for rare
    contexts. Pruned bigram mass is absorbed by add-k smoothing at
    scoring time (the standard count-pruning trade).

    Both tables are ONE map-side-combined hash agg over the token /
    gram stream — the classic word-count shape; output cardinality is
    the vocabulary, sublinear in corpus size.
    """
    toks = df.select(tokens(text_col, mode).alias("_toks"))
    unigrams = (
        toks.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = (
        toks.select(F.explode(ngrams_from_tokens("_toks", 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= int(min_count))
    )
    return unigrams, bigrams


def perplexity_score(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    vocab_size: int | None = None,
    k: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "ascii",
    smoothing: str = "addk",
    total_tokens: int | None = None,
    discount: float = 0.75,
    n_bigram_types: int | None = None,
) -> DataFrame:
    """Score documents under a smoothed bigram LM:
    ``(id, n_bigrams, logprob, ppl)``.

    ``smoothing="addk"`` (default):  ``P(w2|w1) = (c(w1,w2) + k) /
    (c(w1) + k*V)`` with ``V = |train vocab| + 1`` (the +1 is the OOV
    bucket; unseen ``w1`` has ``c(w1) = 0`` and the same formula
    applies — add-k needs no special case).

    ``smoothing="wb"`` — Witten–Bell INTERPOLATED bigram (Witten &
    Bell 1991; what real perplexity filters run, since add-k wildly
    over-penalizes unseen continuations of frequent words):
    ``P(w2|w1) = lam * c12/c1 + (1-lam) * P_uni(w2)`` with
    ``lam = c1 / (c1 + N1+(w1))`` (``N1+`` = distinct continuation
    types of ``w1``, derived from the bigram table at no extra
    training pass) and ``P_uni(w2) = (c2 + 1) / (T + V)`` (Laplace so
    OOV ``w2`` stays finite). Unseen-``w1`` or no-continuation grams
    back off entirely to the unigram term (``lam = 0``). Note
    ``min_count`` pruning removes continuation types, shifting mass
    toward the unigram term — prune the model OR use wb fidelity,
    the standard trade.

    ``smoothing="kn"`` — INTERPOLATED Kneser–Ney bigram (Kneser &
    Ney 1995; Chen & Goodman 1999 eq. 4.26 — the smoothing KenLM and
    hence the actual CCNet pipeline use; wb/addk are the cheaper
    plug-ins):  ``P(w2|w1) = max(c12 - D, 0)/c1b +
    (D * N1+(w1,·)/c1b) * P_cont(w2)``  with absolute discount
    ``D = discount`` (default 0.75, the textbook value; pass the
    count-of-counts estimate ``n1/(n1+2*n2)`` if you have it) and the
    CONTINUATION probability ``P_cont(w2) = (N1+(·,w2) + 1) /
    (N_bb + V)`` — Laplace over left-context type counts so OOV
    ``w2`` stays finite (same deviation-for-finiteness as the wb
    path's Laplace unigram; ``N_bb`` = distinct bigram types). The
    denominator ``c1b = sum_w2 c(w1,w2)`` is derived from the BIGRAM
    table (not the unigram table) so the discounted mass and the
    backoff weight are consistent by construction; unseen-``w1``
    grams back off entirely to ``P_cont``. Both context tables
    (``c1b``/``N1+(w1,·)`` and ``N1+(·,w2)``) come from the bigram
    counts at no extra training pass. ``min_count`` pruning removes
    continuation types AND discounted mass — prune the model OR use
    kn fidelity, same trade as wb. ``n_bigram_types`` may be passed
    to skip the one model-sized count action (artifact-backed
    callers scoring every micro-batch).

    ``logprob`` is the sum of ``ln P`` over the document's bigrams;
    ``ppl = exp(-logprob / n_bigrams)``. Documents with < 2 tokens
    have no bigrams and are dropped (no model opinion).

    ``vocab_size`` may be passed to skip the one model-sized count
    action (e.g. when scoring many corpora under one model);
    ``total_tokens`` likewise skips the wb path's unigram-sum action
    — both are persisted in a :func:`save_bigram_lm` artifact's meta,
    so an artifact-backed caller (the streaming quality gate scoring
    every micro-batch) schedules ZERO model-sized jobs per call.

    Plan: explode to the per-doc bigram stream, LEFT join the bigram
    and unigram count tables on their gram keys (AQE broadcasts them
    when ``min_count`` pruning makes them small; skew-splits the
    zipf-hot probe keys otherwise), one per-doc re-agg. wb adds two
    more model-sized LEFT joins (w2 unigram, w1 continuation
    counts) — same shape, no new data-sized shuffle. The scalars
    (V, T) are the only driver state.
    """
    if smoothing not in ("addk", "wb", "kn"):
        raise ValueError(
            f"unknown smoothing {smoothing!r} (addk|wb|kn)"
        )
    if smoothing == "kn" and not (0.0 <= float(discount) < 1.0):
        raise ValueError(
            f"kn discount must be in [0, 1), got {discount!r}"
        )
    if vocab_size is None:
        vocab_size = unigrams.count() + 1
    v = float(vocab_size)
    kf = float(k)
    grams = (
        docs.select(
            F.col(id_col).alias("_id"),
            tokens(text_col, mode).alias("_toks"),
        )
        .select(
            "_id",
            F.explode(ngrams_from_tokens("_toks", 2)).alias("bg"),
        )
        .withColumn("w", F.substring_index("bg", " ", 1))
    )
    c12 = bigrams.select("bg", F.col("c").alias("_c12"))
    c1 = unigrams.select("w", F.col("c").alias("_c1"))
    joined = grams.join(c12, "bg", "left").join(c1, "w", "left")
    if smoothing == "addk":
        logp = F.log(
            (F.coalesce("_c12", F.lit(0)) + F.lit(kf))
            / (F.coalesce("_c1", F.lit(0)) + F.lit(kf * v))
        )
    elif smoothing == "kn":
        if n_bigram_types is None:
            n_bigram_types = bigrams.count()
        d = float(discount)
        nbb_v = float(n_bigram_types) + v
        # both context tables derive from the bigram counts: one
        # grouped agg each, model-sized output, no extra corpus pass
        ctx = (
            bigrams.select(
                F.substring_index("bg", " ", 1).alias("w"), "c"
            )
            .groupBy("w")
            .agg(
                F.sum("c").alias("_c1b"),
                F.count(F.lit(1)).alias("_n1p"),
            )
        )
        rcont = (
            bigrams.select(
                F.substring_index("bg", " ", -1).alias("_w2")
            )
            .groupBy("_w2")
            .agg(F.count(F.lit(1)).alias("_r1p"))
        )
        joined = (
            joined.withColumn(
                "_w2c", F.substring_index("bg", " ", -1)
            )
            .join(ctx, "w", "left")
            .join(rcont, F.col("_w2c") == F.col("_w2"), "left")
        )
        c1b = F.coalesce("_c1b", F.lit(0)).cast("double")
        n1p = F.coalesce("_n1p", F.lit(0)).cast("double")
        c12d = F.coalesce("_c12", F.lit(0)).cast("double")
        p_cont = (
            F.coalesce("_r1p", F.lit(0)) + F.lit(1.0)
        ) / F.lit(nbb_v)
        # expression shapes mirror the oracle verbatim — do not
        # algebraically simplify (max(c12-D,0)/c1b, D*n1p/c1b)
        p_kn = F.when(
            c1b > 0,
            F.greatest(c12d - F.lit(d), F.lit(0.0)) / c1b
            + (F.lit(d) * n1p / c1b) * p_cont,
        ).otherwise(p_cont)
        logp = F.log(p_kn)
    else:
        if total_tokens is None:
            total_tokens = (
                unigrams.agg(F.sum("c")).collect()[0][0] or 0
            )
        t = float(total_tokens)
        cont = (
            bigrams.select(
                F.substring_index("bg", " ", 1).alias("w")
            )
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("_n1p"))
        )
        c2 = unigrams.select(
            F.col("w").alias("_w2"), F.col("c").alias("_c2")
        )
        joined = (
            joined.withColumn(
                "_w2c", F.substring_index("bg", " ", -1)
            )
            .join(cont, "w", "left")
            .join(c2, F.col("_w2c") == F.col("_w2"), "left")
        )
        c1c = F.coalesce("_c1", F.lit(0)).cast("double")
        n1p = F.coalesce("_n1p", F.lit(0)).cast("double")
        lam = F.when(
            (c1c > 0) & (n1p > 0), c1c / (c1c + n1p)
        ).otherwise(F.lit(0.0))
        p_ml = F.when(
            c1c > 0,
            F.coalesce("_c12", F.lit(0)).cast("double") / c1c,
        ).otherwise(F.lit(0.0))
        p_uni = (
            F.coalesce("_c2", F.lit(0)) + F.lit(1.0)
        ) / F.lit(t + v)
        logp = F.log(lam * p_ml + (F.lit(1.0) - lam) * p_uni)
    return (
        joined.select("_id", logp.alias("_lp"))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_lp").alias("logprob"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_bigrams",
            "logprob",
            F.exp(-F.col("logprob") / F.col("n_bigrams")).alias("ppl"),
        )
    )


def save_bigram_lm(
    unigrams: DataFrame,
    bigrams: DataFrame,
    path: str,
    mode: str = "ascii",
) -> None:
    """Persist a trained bigram LM as a reusable artifact:
    ``path/unigrams``, ``path/bigrams`` parquet + ``path/meta``
    (vocab_size, total_tokens, token mode) — train once on the
    reference corpus, score any number of corpora/streams without
    re-counting (the CCNet deployment shape; same artifact
    discipline as save_bpe_merges)."""
    spark = unigrams.sparkSession
    unigrams.write.mode("overwrite").parquet(f"{path}/unigrams")
    bigrams.write.mode("overwrite").parquet(f"{path}/bigrams")
    uni = spark.read.parquet(f"{path}/unigrams")
    stats = uni.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("t")
    ).collect()[0]
    local_frame(
        spark,
        [(int(stats["n"]) + 1, int(stats["t"] or 0), mode)],
        "vocab_size long, total_tokens long, token_mode string",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_bigram_lm(
    spark, path: str
) -> tuple[DataFrame, DataFrame, dict]:
    """Load a :func:`save_bigram_lm` artifact →
    ``(unigrams, bigrams, meta)``; validates the expected columns so
    a wrong path fails loudly, not with a join of garbage."""
    unigrams = spark.read.parquet(f"{path}/unigrams")
    bigrams = spark.read.parquet(f"{path}/bigrams")
    meta_rows = spark.read.parquet(f"{path}/meta").collect()
    if (
        set(unigrams.columns) != {"w", "c"}
        or set(bigrams.columns) != {"bg", "c"}
        or len(meta_rows) != 1
    ):
        raise ValueError(
            f"{path} is not a bigram-LM artifact "
            f"(unigrams={unigrams.columns}, bigrams={bigrams.columns})"
        )
    m = meta_rows[0]
    meta = {
        "vocab_size": int(m["vocab_size"]),
        "total_tokens": int(m["total_tokens"]),
        "token_mode": m["token_mode"],
    }
    return unigrams, bigrams, meta


def ccnet_buckets(
    scored: DataFrame,
    ppl_col: str = "ppl",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet head/middle/tail bucket assignment: exact percentile
    thresholds of the perplexity distribution at ``cuts`` (linear
    interpolation, Spark ``percentile``), then a map-only CASE —
    ``bucket = head`` (lowest perplexity, cleanest) for
    ``ppl <= t1``, ``middle`` for ``ppl <= t2``, else ``tail``.

    The thresholds are TWO doubles collected to the driver (exact
    percentile is a sort-based agg over the score column only — at
    100 TB switch to ``approx_percentile`` with a tight accuracy; the
    CCNet split tolerates threshold error by design since the buckets
    are a heuristic quality tiering). The assignment pass itself is
    map-only against literal thresholds — no second shuffle."""
    t1, t2 = scored.agg(
        F.percentile(
            ppl_col, F.array(F.lit(cuts[0]), F.lit(cuts[1]))
        ).alias("t")
    ).collect()[0]["t"]
    bucket = (
        F.when(F.col(ppl_col) <= F.lit(t1), F.lit("head"))
        .when(F.col(ppl_col) <= F.lit(t2), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.withColumn("bucket", bucket)


def _bucket(col, n_buckets: int):
    """Portable md5 feature-hash bucket (same convention as
    textstats.hashed_features): engine-exact vs SQL/Python mirrors,
    unlike xxhash64."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % int(n_buckets)
    ).cast("int")


def dsir_logweights(
    docs: DataFrame,
    target: DataFrame,
    raw: DataFrame,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "ascii",
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023): hashed unigram
    bag-of-words models for the ``target`` (quality) and ``raw``
    corpora, then per document  ``logweight = sum_b c_b(doc) *
    (ln p_target(b) - ln p_raw(b))``  with Laplace-smoothed bucket
    probabilities  ``p(b) = (c_b + 1) / (total + B)``.
    Returns ``(id, n_tokens, logweight)``; empty docs are dropped.
    High logweight = looks like the target distribution; resample the
    corpus proportionally to ``exp(logweight)`` (or take the top
    fraction) to shift the pretraining mixture toward the target.

    The model is ``n_buckets`` rows FOREVER — the hashing trick makes
    model size independent of corpus size, which is the point at
    100 TB (no vocabulary to build or broadcast-version). Three hash
    aggs (target counts, raw counts, per-doc-bucket counts) + one
    broadcast-sized join on the bucket id.
    """
    b = int(n_buckets)

    def _counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(text_col, mode)).alias("term"))
            .select(_bucket(F.col("term"), b).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    tc = _counts(target, "_tc")
    rc = _counts(raw, "_rc")
    # model-sized totals (two longs on the driver)
    tt = tc.agg(F.sum("_tc")).collect()[0][0] or 0
    rt = rc.agg(F.sum("_rc")).collect()[0][0] or 0
    # complete bucket spine so buckets unseen in BOTH corpora still
    # carry their (smoothed) log-ratio — an inner join on a partial
    # model would silently drop those doc tokens from the sum
    spine = docs.sparkSession.range(b).select(
        F.col("id").cast("int").alias("bucket")
    )
    model = (
        spine.join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("_tc", F.lit(0)) + F.lit(1.0))
                    / F.lit(float(tt + b))
                )
                - F.log(
                    (F.coalesce("_rc", F.lit(0)) + F.lit(1.0))
                    / F.lit(float(rt + b))
                )
            ).alias("_lr"),
        )
    )
    doc_counts = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(tokens(text_col, mode)).alias("term"),
        )
        .select("_id", _bucket(F.col("term"), b).alias("bucket"))
        .groupBy("_id", "bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        doc_counts.join(F.broadcast(model), "bucket")
        .groupBy("_id")
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.sum(F.col("_c") * F.col("_lr")).alias("logweight"),
        )
        .select(F.col("_id").alias(id_col), "n_tokens", "logweight")
    )


def update_bigram_lm(
    spark,
    path: str,
    new_docs: DataFrame,
    out_path: str,
    text_col: str = "text",
) -> None:
    """Incrementally fold a new corpus slice into a saved LM artifact:
    count tables are ADDITIVE, so (train A) ⊕ (train B) ==
    train(A ∪ B) exactly — the monthly-crawl update path that never
    re-reads history. Loads ``path``, counts ``new_docs`` under the
    artifact's own token mode, outer-join-sums both tables, and
    writes a fresh artifact at ``out_path`` (never in place: the old
    artifact stays readable until the new one is complete — the same
    immutable-versions discipline as the streaming state store).

    Exactness caveat, by design: additivity holds for UNPRUNED
    tables. A ``min_count``-pruned bigram table has already dropped
    tail mass, so fold increments into the unpruned artifact and
    prune at SCORING time (``perplexity_score`` joins absorb any
    filter) — pruning before merging loses counts that a later slice
    might have pushed over the threshold.
    """
    import os

    if os.path.normpath(os.path.abspath(out_path)) == os.path.normpath(
        os.path.abspath(path)
    ):
        raise ValueError(
            f"out_path {out_path!r} is the source artifact itself: "
            "save_bigram_lm's overwrite would clobber path/unigrams "
            "while the merged plan still lazily reads it. Write to a "
            "fresh path (immutable-versions discipline)."
        )
    unigrams, bigrams, meta = load_bigram_lm(spark, path)
    new_uni, new_bi = train_bigram_lm(
        new_docs, text_col=text_col, mode=meta["token_mode"]
    )

    def _merge(a, b, key):
        return (
            a.select(key, F.col("c").alias("_a"))
            .join(
                b.select(key, F.col("c").alias("_b")), key, "full"
            )
            .select(
                key,
                (
                    F.coalesce("_a", F.lit(0))
                    + F.coalesce("_b", F.lit(0))
                ).alias("c"),
            )
        )

    save_bigram_lm(
        _merge(unigrams, new_uni, "w"),
        _merge(bigrams, new_bi, "bg"),
        out_path,
        mode=meta["token_mode"],
    )


def perplexity_contrast(
    docs: DataFrame,
    domain: tuple[DataFrame, DataFrame],
    general: tuple[DataFrame, DataFrame],
    k: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "ascii",
    domain_vocab_size: int | None = None,
    general_vocab_size: int | None = None,
    max_log_ratio: float = 0.0,
) -> DataFrame:
    """Two-model perplexity CONTRAST filter — the domain-targeting
    selection rule behind DSIR-style and RHO-style curation (score a
    document under a DOMAIN LM and a GENERAL LM; what matters is the
    DIFFERENCE, not either absolute perplexity, because document
    length and vocabulary burstiness cancel between the two models):
    ``log_ratio = ln(ppl_domain / ppl_general)`` — the per-token
    cross-entropy difference in nats — and ``keep = log_ratio <=
    max_log_ratio`` (0.0 keeps documents at least as likely under
    the domain model). Both models are add-k bigram LMs as trained
    by :func:`train_bigram_lm`; ``domain`` / ``general`` are their
    ``(unigrams, bigrams)`` pairs.

    Scale shape: ONE corpus explode to the per-doc bigram stream
    (NOT one per model — the whole point of fusing the two scorings),
    four model-sized LEFT joins (each model's bigram + unigram count
    tables; AQE broadcasts pruned models, skew-splits the zipf-hot
    probe keys otherwise), one per-doc re-agg computing both logprob
    sums in the same pass. The vocab-size scalars are the only
    driver state; pass them explicitly to schedule zero model-sized
    jobs per call (artifact-backed callers).
    """
    du, db = domain
    gu, gb = general
    if domain_vocab_size is None:
        domain_vocab_size = du.count() + 1
    if general_vocab_size is None:
        general_vocab_size = gu.count() + 1
    vd, vg, kf = (
        float(domain_vocab_size),
        float(general_vocab_size),
        float(k),
    )
    grams = (
        docs.select(
            F.col(id_col).alias("_id"),
            tokens(text_col, mode).alias("_toks"),
        )
        .select(
            "_id",
            F.explode(ngrams_from_tokens("_toks", 2)).alias("bg"),
        )
        .withColumn("w", F.substring_index("bg", " ", 1))
    )
    joined = (
        grams.join(
            db.select("bg", F.col("c").alias("_dc12")), "bg", "left"
        )
        .join(
            du.select("w", F.col("c").alias("_dc1")), "w", "left"
        )
        .join(
            gb.select("bg", F.col("c").alias("_gc12")), "bg", "left"
        )
        .join(
            gu.select("w", F.col("c").alias("_gc1")), "w", "left"
        )
    )

    def _addk(c12, c1, v):
        return F.log(
            (F.coalesce(c12, F.lit(0)) + F.lit(kf))
            / (F.coalesce(c1, F.lit(0)) + F.lit(kf * v))
        )

    agg = (
        joined.select(
            "_id",
            _addk(F.col("_dc12"), F.col("_dc1"), vd).alias("_dlp"),
            _addk(F.col("_gc12"), F.col("_gc1"), vg).alias("_glp"),
        )
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_dlp").alias("_dsum"),
            F.sum("_glp").alias("_gsum"),
        )
    )
    n = F.col("n_bigrams")
    log_ratio = (F.col("_gsum") - F.col("_dsum")) / n
    return agg.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        F.exp(-F.col("_dsum") / n).alias("ppl_domain"),
        F.exp(-F.col("_gsum") / n).alias("ppl_general"),
        log_ratio.alias("log_ratio"),
        (log_ratio <= F.lit(float(max_log_ratio))).alias("keep"),
    )
