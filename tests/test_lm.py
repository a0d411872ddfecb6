"""n-gram LM / CCNet / DSIR operator tests (operators/lm.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from topn_spark.operators.lm import (
    ccnet_buckets,
    dsir_logweights,
    perplexity_score,
    train_bigram_lm,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_train_bigram_lm_counts(spark):
    df = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    uni, bi = train_bigram_lm(df)
    u = {r.w: r.c for r in uni.collect()}
    b = {r.bg: r.c for r in bi.collect()}
    assert u == {"a": 3, "b": 3, "c": 1}
    # doc1: a b, b a, a b ; doc2: a b, b c
    assert b == {"a b": 3, "b a": 1, "b c": 1}


def test_train_min_count_prunes_bigrams_not_unigrams(spark):
    df = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    uni, bi = train_bigram_lm(df, min_count=2)
    assert {r.bg for r in bi.collect()} == {"a b"}
    # the denominator table is never pruned
    assert {r.w for r in uni.collect()} == {"a", "b", "c"}


def test_perplexity_matches_hand_formula(spark):
    train = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    uni, bi = train_bigram_lm(train)
    scored = perplexity_score(
        _docs(spark, [(10, "a b x")]), uni, bi, k=1.0
    ).collect()
    assert len(scored) == 1
    r = scored[0]
    v = 3 + 1  # vocab {a,b,c} + OOV
    exp_lp = math.log((3 + 1) / (3 + v)) + math.log(
        (0 + 1) / (3 + v)
    )  # 'a b' seen 3x, 'b x' unseen; c(a)=c(b)=3
    assert r.n_bigrams == 2
    assert abs(r.logprob - exp_lp) < 1e-12
    assert abs(r.ppl - math.exp(-exp_lp / 2)) < 1e-12


def test_perplexity_drops_short_and_null_docs(spark):
    train = _docs(spark, [(1, "a b")])
    uni, bi = train_bigram_lm(train)
    scored = perplexity_score(
        _docs(spark, [(10, "a b"), (11, "solo"), (12, None), (13, "")]),
        uni,
        bi,
    )
    assert [r.doc_id for r in scored.collect()] == [10]


def test_spark_percentile_is_linear_interpolation(spark):
    """The z30 mirror assumes Spark's exact percentile interpolates at
    rank p*(n-1); pin that here so a semantics change can't silently
    skew the mirror."""
    df = spark.createDataFrame([(1.0,), (2.0,), (4.0,)], "x double")
    got = df.agg(
        F.percentile("x", F.array(F.lit(0.5), F.lit(1.0 / 3.0)))
    ).collect()[0][0]
    assert abs(got[0] - 2.0) < 1e-12
    assert abs(got[1] - (1.0 * (1 / 3) + 2.0 * (2 / 3))) < 1e-12


def test_ccnet_buckets_tiering(spark):
    scored = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 1, 1, 5, 5, 5, 50, 50, 50])],
        "doc_id long, ppl double",
    )
    out = {r.doc_id: r.bucket for r in ccnet_buckets(scored).collect()}
    assert [out[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )


def test_dsir_zero_when_target_equals_raw(spark):
    docs = _docs(spark, [(1, "alpha beta gamma"), (2, "beta beta delta")])
    out = dsir_logweights(docs, target=docs, raw=docs, n_buckets=16)
    rows = out.collect()
    assert len(rows) == 2
    # identical models: every per-bucket log-ratio is exactly 0.0
    assert all(r.logweight == 0.0 for r in rows)
    assert {r.doc_id: r.n_tokens for r in rows} == {1: 3, 2: 3}


def test_dsir_prefers_target_like_docs(spark):
    target = _docs(spark, [(100 + i, "quality prose words") for i in range(5)])
    raw = _docs(
        spark,
        [(200 + i, "spam junk noise") for i in range(5)]
        + [(300 + i, "quality prose words") for i in range(5)],
    )
    docs = _docs(spark, [(1, "quality prose words"), (2, "spam junk noise")])
    out = {
        r.doc_id: r.logweight
        for r in dsir_logweights(
            docs, target=target, raw=raw, n_buckets=64
        ).collect()
    }
    assert out[1] > out[2]
    assert out[1] > 0.0 > out[2]


def test_dsir_unseen_bucket_tokens_still_counted(spark):
    """A doc token hashing to a bucket empty in BOTH corpora must not
    be dropped by the model join (the bucket spine guarantees a
    complete model)."""
    corpus = _docs(spark, [(1, "alpha")])
    docs = _docs(spark, [(9, "zzz qqq www rrr vvv")])
    rows = dsir_logweights(
        docs, target=corpus, raw=corpus, n_buckets=8
    ).collect()
    assert rows[0].n_tokens == 5
    assert rows[0].logweight == 0.0  # identical models again


def test_wb_perplexity_matches_hand_formula(spark):
    train = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    uni, bi = train_bigram_lm(train)
    r = perplexity_score(
        _docs(spark, [(10, "a b x")]), uni, bi, smoothing="wb"
    ).collect()[0]
    # model: c(a)=c(b)=3, c(c)=1, T=7, V=4; bigrams a b:3, b a:1, b c:1
    # 'a b': lam=3/(3+1), p_ml=3/3, p_uni=(3+1)/(7+4)
    # 'b x': lam=3/(3+2), p_ml=0,   p_uni=(0+1)/(7+4)
    lam1, lam2 = 3 / 4, 3 / 5
    p1 = lam1 * 1.0 + (1 - lam1) * (4 / 11)
    p2 = lam2 * 0.0 + (1 - lam2) * (1 / 11)
    exp_lp = math.log(p1) + math.log(p2)
    assert r.n_bigrams == 2
    assert abs(r.logprob - exp_lp) < 1e-12


def test_wb_unseen_context_backs_off_to_unigram(spark):
    train = _docs(spark, [(1, "a b")])
    uni, bi = train_bigram_lm(train)
    r = perplexity_score(
        _docs(spark, [(10, "zz a")]), uni, bi, smoothing="wb"
    ).collect()[0]
    # c(zz)=0 -> lam=0 -> pure Laplace unigram on 'a': (1+1)/(2+3)
    assert abs(r.logprob - math.log(2 / 5)) < 1e-12


def test_smoothing_rejects_unknown(spark):
    import pytest

    train = _docs(spark, [(1, "a b")])
    uni, bi = train_bigram_lm(train)
    with pytest.raises(ValueError, match="smoothing"):
        perplexity_score(
            _docs(spark, [(10, "a b")]), uni, bi, smoothing="gt"
        )


def test_smoothing_accepts_kn(spark):
    train = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    uni, bi = train_bigram_lm(train)
    r = perplexity_score(
        _docs(spark, [(10, "a b")]), uni, bi, smoothing="kn"
    ).collect()[0]
    assert r.n_bigrams == 1
    assert r.logprob < 0.0


def test_save_load_bigram_lm_roundtrip(spark, tmp_path):
    from topn_spark.operators.lm import (
        load_bigram_lm,
        save_bigram_lm,
    )

    train = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    uni, bi = train_bigram_lm(train)
    path = str(tmp_path / "lm")
    save_bigram_lm(uni, bi, path)
    uni2, bi2, meta = load_bigram_lm(spark, path)
    assert meta == {
        "vocab_size": 4,
        "total_tokens": 7,
        "token_mode": "ascii",
    }
    # scoring under the loaded artifact == scoring under the live model
    docs = _docs(spark, [(10, "a b x")])
    a = perplexity_score(docs, uni, bi).collect()[0]
    b = perplexity_score(
        docs, uni2, bi2, vocab_size=meta["vocab_size"]
    ).collect()[0]
    assert a.logprob == b.logprob


def test_load_bigram_lm_rejects_garbage(spark, tmp_path):
    import pytest

    base = str(tmp_path / "notlm")
    df = _docs(spark, [(1, "a")])
    df.write.parquet(f"{base}/unigrams")
    df.write.parquet(f"{base}/bigrams")
    df.write.parquet(f"{base}/meta")
    with pytest.raises(ValueError, match="artifact"):
        from topn_spark.operators.lm import load_bigram_lm

        load_bigram_lm(spark, base)


def test_update_bigram_lm_equals_retrain_on_union(spark, tmp_path):
    from topn_spark.operators.lm import (
        load_bigram_lm,
        save_bigram_lm,
        update_bigram_lm,
    )

    a = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    b = _docs(spark, [(3, "c c b a"), (4, "d a b")])
    uni_a, bi_a = train_bigram_lm(a)
    p0, p1 = str(tmp_path / "lm0"), str(tmp_path / "lm1")
    save_bigram_lm(uni_a, bi_a, p0)
    update_bigram_lm(spark, p0, b, p1)
    uni_m, bi_m, meta_m = load_bigram_lm(spark, p1)
    uni_u, bi_u = train_bigram_lm(a.unionByName(b))
    assert {(r.w, r.c) for r in uni_m.collect()} == {
        (r.w, r.c) for r in uni_u.collect()
    }
    assert {(r.bg, r.c) for r in bi_m.collect()} == {
        (r.bg, r.c) for r in bi_u.collect()
    }
    # meta recomputed from the merged table
    assert meta_m["total_tokens"] == 7 + 7
    # the original artifact is untouched
    assert load_bigram_lm(spark, p0)[2]["total_tokens"] == 7


def test_update_bigram_lm_refuses_in_place_overwrite(spark, tmp_path):
    """out_path == path would clobber path/unigrams while the merged
    plan still lazily reads it — the guard must fire BEFORE any
    write, leaving the artifact intact."""
    import pytest

    from topn_spark.operators.lm import (
        load_bigram_lm,
        save_bigram_lm,
        update_bigram_lm,
    )

    a = _docs(spark, [(1, "a b a b")])
    uni, bi = train_bigram_lm(a)
    p = str(tmp_path / "lm_inplace")
    save_bigram_lm(uni, bi, p)
    with pytest.raises(ValueError, match="fresh path"):
        update_bigram_lm(
            spark, p, _docs(spark, [(2, "c d")]),
            str(tmp_path / "x/../lm_inplace"),  # normalizes to p
        )
    # artifact still loads and is unchanged
    assert load_bigram_lm(spark, p)[2]["total_tokens"] == 4


def test_perplexity_score_meta_scalars_schedule_no_jobs(spark):
    """With vocab_size AND total_tokens supplied (the saved-artifact
    meta path), building the wb scoring plan must run ZERO eager
    actions — pinned by counting DataFrame.collect calls during plan
    construction (the only eager sites in perplexity_score are the
    two scalar derivations)."""
    from topn_spark.operators.lm import perplexity_score

    docs = _docs(spark, [(1, "a b a"), (2, "b c")])
    uni, bi = train_bigram_lm(docs)
    calls = []
    # the session's concrete DataFrame class: it overrides collect, so
    # patching the pyspark.sql.DataFrame base sees no call
    DataFrame = type(docs)
    orig = DataFrame.collect
    DataFrame.collect = lambda self: (calls.append(1), orig(self))[1]
    try:
        plan = perplexity_score(
            docs, uni, bi, vocab_size=4, total_tokens=5,
            smoothing="wb",
        )
        assert calls == []  # no eager action during construction
        # and the supplied scalars are actually used in the result
        rows = plan.collect()
    finally:
        DataFrame.collect = orig
    assert {r.doc_id for r in rows} == {1, 2}
    # cross-check: the threaded scalars reproduce the self-derived run
    auto = perplexity_score(docs, uni, bi, smoothing="wb").collect()
    got = {r.doc_id: r.ppl for r in rows}
    for r in auto:
        assert abs(got[r.doc_id] - r.ppl) <= 1e-12 * abs(r.ppl)


def test_perplexity_contrast_prefers_domain_docs(spark):
    from topn_spark.operators.lm import (
        perplexity_contrast,
        perplexity_score,
        train_bigram_lm,
    )

    # domain vocab kept comparable to the general vocab (doc 2 is
    # filler breadth): add-k gives unseen grams probability 1/V, so
    # a tiny domain vocabulary would INFLATE out-of-domain docs —
    # the known add-k artifact the contrast only cancels when both
    # models see realistic vocabularies
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta alpha beta"),
            (2, "alpha beta gamma delta epsilon mu nu xi"),
            (3, "zeta eta theta iota kappa"),
            (4, "zeta eta zeta eta theta"),
        ],
        "doc_id bigint, text string",
    )
    domain = train_bigram_lm(corpus.where("doc_id <= 2"))
    general = train_bigram_lm(corpus)
    out = {
        r.doc_id: r
        for r in perplexity_contrast(
            corpus, domain, general
        ).collect()
    }
    # domain-slice docs score better under the domain model
    assert out[1].keep and out[1].log_ratio < 0
    assert not out[4].keep and out[4].log_ratio > 0
    # the fused pass equals two single-model scorings exactly
    import math

    d = {
        r.doc_id: r
        for r in perplexity_score(corpus, *domain).collect()
    }
    g = {
        r.doc_id: r
        for r in perplexity_score(corpus, *general).collect()
    }
    for k in out:
        assert math.isclose(
            out[k].ppl_domain, d[k].ppl, rel_tol=1e-12
        )
        assert math.isclose(
            out[k].ppl_general, g[k].ppl, rel_tol=1e-12
        )
        assert math.isclose(
            out[k].log_ratio,
            math.log(out[k].ppl_domain / out[k].ppl_general),
            rel_tol=1e-9,
        )


def test_perplexity_contrast_threshold_and_short_docs(spark):
    from topn_spark.operators.lm import (
        perplexity_contrast,
        train_bigram_lm,
    )

    corpus = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d"), (3, "single")],
        "doc_id bigint, text string",
    )
    lm = train_bigram_lm(corpus)
    out = perplexity_contrast(
        corpus, lm, lm, max_log_ratio=0.5
    ).collect()
    got = {r.doc_id: r for r in out}
    # same model both sides -> log_ratio exactly 0, under the cut
    assert all(r.log_ratio == 0.0 and r.keep for r in out)
    # <2 tokens -> no bigrams -> dropped (no model opinion)
    assert set(got) == {1, 2}
