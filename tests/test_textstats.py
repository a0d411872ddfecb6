"""Text-analysis operator tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from topn_spark.operators.textstats import (
    add_quality,
    add_token_stats,
    fingerprint,
    language_id,
    rolling_hashes,
)


def test_token_stats(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the hat!"), (2, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in add_token_stats(df).collect()}
    assert out[1].n_tokens == 5
    assert out[1].n_uniq_tokens == 4  # 'the' twice (lowercased)
    assert out[2].n_tokens == 0 and out[2].ttr is None


def test_quality_flags(spark):
    good = "this is a perfectly reasonable sentence with enough words in it"
    bad = "!!! ??? ### $$$ %%%"
    df = spark.createDataFrame(
        [(1, good), (2, bad)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in add_quality(df).collect()}
    assert out[1].quality_keep is True
    assert out[2].quality_keep is False
    assert 0.0 <= out[1].alpha_ratio <= 1.0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is a friend of the dog and the bird"),
            (2, "der Hund ist ein Freund und die Katze ist da"),
            (3, "le chat et la souris est les amis des oiseaux"),
            (4, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr"
    assert out[4] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = df.select("doc_id", fingerprint("text").alias("fp")).collect()
    fps = {r.doc_id: r.fp for r in out}
    assert fps[1] == fps[2] != fps[3]


def test_rolling_hashes(spark):
    text = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = df.select(rolling_hashes("text", window=8, every=4).alias("rh")).first()
    # 20 tokens, window 8 → starts 1,5,9,13 → 4 fingerprints
    assert len(out.rh) == 4
    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert short.select(rolling_hashes("text").alias("rh")).first().rh == []


def test_repetition_signals_count_runs(spark):
    from topn_spark.operators.textstats import add_repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),  # 'spam ham' 2-gram x3
            (2, "all words here are fully distinct"),
            (3, "one"),  # < 2 tokens → no slots
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["top_ngram_cnt"], r["ngram_slots"])
        for r in add_repetition_signals(df).collect()
    }
    assert out[1] == (3, 5)  # 'spam ham' at positions 1,3,5
    assert out[2] == (1, 5)
    assert out[3] == (0, 0)


def test_tfidf_ranks_group_specific_terms(spark):
    from topn_spark.operators.textstats import tfidf_top_terms

    rows = [
        (1, "alpha", "zebra zebra zebra common common"),
        (2, "alpha", "zebra common"),
        (3, "beta", "yak yak common common"),
        (4, "beta", "yak common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = tfidf_top_terms(df, "source", "text", "doc_id", k=1).collect()
    top = {r["group"]: r["term"] for r in out}
    # 'common' is in every doc → idf = ln(1) = 0; the group-specific
    # term must win despite lower counts.
    assert top == {"alpha": "zebra", "beta": "yak"}


def test_js_divergence_bounds_and_extremes(spark):
    import math

    from pyspark.sql import functions as F

    from topn_spark.operators.textstats import (
        js_divergence_matrix,
        token_distribution,
    )

    rows = [
        ("a", "alpha beta gamma alpha"),
        ("b", "alpha beta gamma alpha"),   # identical to a → JS = 0
        ("c", "delta epsilon zeta delta"), # disjoint vocab → JS = ln 2
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    js = {
        (r.s1, r.s2): r.js
        for r in js_divergence_matrix(token_distribution(df)).collect()
    }
    assert js[("a", "b")] == pytest.approx(0.0, abs=1e-12)
    assert js[("a", "c")] == pytest.approx(math.log(2), rel=1e-9)
    assert js[("b", "c")] == pytest.approx(math.log(2), rel=1e-9)
    assert all(-1e-12 <= v <= math.log(2) + 1e-12 for v in js.values())
    # distributions sum to 1 per group
    sums = token_distribution(df).groupBy("source").agg(F.sum("p").alias("s"))
    assert all(abs(r.s - 1.0) < 1e-9 for r in sums.collect())


def test_bm25_matches_hand_model(spark):
    import math

    from topn_spark.operators.textstats import bm25_scores

    rows = [
        (1, "cat dog cat"),       # cat x2, dog x1, dl 3
        (2, "dog dog dog fish"),  # dog x3, dl 4
        (3, "bird"),              # no query term -> no row
        (4, ""),                  # empty doc counts toward N/avgdl
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(df, ["cat", "dog"]).collect()
    }
    assert set(got) == {1, 2}

    N, avgdl, k1, b = 4, (3 + 4 + 1 + 0) / 4.0, 1.2, 0.75

    def idf(dfreq):
        return math.log(1 + (N - dfreq + 0.5) / (dfreq + 0.5))

    def w(tf, dl):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    want1 = idf(1) * w(2, 3) + idf(2) * w(1, 3)  # cat df=1, dog df=2
    want2 = idf(2) * w(3, 4)
    assert abs(got[1] - want1) < 1e-9 and abs(got[2] - want2) < 1e-9
    # rarer term (cat) outscores common (dog) at equal tf/dl
    one_each = spark.createDataFrame(
        [(1, "cat x"), (2, "dog x"), (3, "dog y")],
        "doc_id int, text string",
    )
    s = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(one_each, ["cat", "dog"]).collect()
    }
    assert s[1] > s[2]


def test_bigram_fluency_matches_python_model(spark):
    from collections import Counter

    import re

    from topn_spark.operators.textstats import bigram_fluency

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat ran"),
        (3, "a dog sat on the mat"),
        (4, "zz"),          # 1 token -> no bigrams -> dropped
        (5, "the cat sat"),
    ]
    toks = {i: re.findall(r"[a-z0-9]+", t.lower()) for i, t in docs}
    grams = {i: [f"{a} {b}" for a, b in zip(t, t[1:])] for i, t in toks.items()}
    corpus = Counter(g for gs in grams.values() for g in gs)
    want = {
        i: (len(gs), round(sum(corpus[g] for g in gs) / len(gs), 6))
        for i, gs in grams.items()
        if gs
    }
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.fluency)
        for r in bigram_fluency(df).collect()
    }
    assert got == want


def test_cms_point_counts_overshoot_only_and_bounded(spark):
    from collections import Counter

    import re

    from topn_spark.operators.textstats import cms_token_counts, tokens

    docs = [(i, f"alpha beta gamma delta word{i % 7} alpha beta") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = Counter(
        t for _, s in docs for t in re.findall(r"[a-z0-9]+", s)
    )
    n_total = sum(exact.values())
    terms = ["alpha", "beta", "gamma", "word0", "absent"]
    got = {r.term: r.est for r in cms_token_counts(df, terms, eps=0.01).collect()}
    assert set(got) == set(terms)
    for t in terms:
        # CMS never undershoots, and overshoots by <= eps*N whp
        assert got[t] >= exact[t]
        assert got[t] <= exact[t] + max(1, int(0.01 * n_total) * 5)


def test_vocab_oov_rates_matches_python_model(spark):
    import re
    from collections import Counter

    from topn_spark.operators.textstats import vocab_oov_rates

    docs = [
        (1, "apple banana apple cherry"),
        (2, "apple banana durian"),
        (3, "apple banana banana elderberry"),
        (4, "apple zzgarble qqnoise"),
    ]
    toks = {i: re.findall(r"[a-z0-9]+", t.lower()) for i, t in docs}
    dfc = Counter()
    for ts in toks.values():
        for t in set(ts):
            dfc[t] += 1
    vocab = {t for t, c in dfc.items() if c >= 2}
    want = {}
    for i, ts in toks.items():
        oov = sum(1 for t in ts if t not in vocab)
        want[i] = (len(ts), oov, round(oov / len(ts), 6))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in vocab_oov_rates(df, min_df=2).collect()
    }
    assert got == want
    assert got[4][1] == 2  # planted OOV garbage counted


def test_hashed_features_matches_python_model(spark):
    import hashlib
    import re
    from collections import Counter

    from topn_spark.operators.textstats import hashed_features

    docs = [(1, "alpha beta alpha"), (2, "beta gamma delta beta")]
    want = Counter()
    for i, t in docs:
        for term in re.findall(r"[a-z0-9]+", t.lower()):
            b = int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % 64
            want[(i, b)] += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.bucket): r.cnt
        for r in hashed_features(df, n_buckets=64).collect()
    }
    assert got == dict(want)


def test_duplicate_ngram_coverage_planted(spark):
    from topn_spark.operators.textstats import duplicate_ngram_coverage

    # doc 0 and 1 share the passage "a b c d e f" (two 5-gram
    # shingles: "a b c d e", "b c d e f"); doc 1 adds a unique tail
    # so only part of its shingles are duplicated; doc 2 is disjoint;
    # doc 3 is too short for any 5-gram and must be absent.
    df = spark.createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "a b c d e f g h"),
            (2, "p q r s t u v"),
            (3, "x y"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_shingles, r.dup_shingles, r.dup_frac)
        for r in duplicate_ngram_coverage(df, n=5, min_docs=2).collect()
    }
    # doc0: shingles {abcde, bcdef} both shared with doc1 -> frac 1.0
    # doc1: 4 shingles, 2 shared -> 0.5; doc2: 3 shingles, 0 shared
    assert got == {
        0: (2, 2, 1.0),
        1: (4, 2, 0.5),
        2: (3, 0, 0.0),
    }


def test_apply_bpe_known_merges_and_pieces(spark):
    from topn_spark.operators.textstats import apply_bpe

    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")]
    df = spark.createDataFrame(
        [(0, "The thing"), (1, "thin the!"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, list(r.tokens))
        for r in apply_bpe(df, merges, keep_tokens=10).collect()
    }
    # "the" -> th+e -> the? no ("th","e") merges to "the": ranks:
    # t+h=0 -> th; th+e=1 -> the  => 1 token
    # "thing" -> t h i n g: th(0) -> th,i,n,g; in(2) -> th,in,g;
    # ing(3) -> th,ing => 2 tokens
    assert got[0] == (2, 3, ["the", "th", "ing"])
    # "thin": th,i,n -> th,in => 2 tokens; "the" => 1
    assert got[1] == (2, 3, ["th", "in", "the"])
    assert got[2] == (0, 0, [])
    assert got[3] == (0, 0, [])


def test_apply_bpe_leftmost_tie_and_rescan(spark):
    from topn_spark.operators.textstats import apply_bpe

    # "aaa" with merge (a,a): leftmost first -> [aa, a] = 2 tokens
    # (no (aa,a) rule). "abab" with [(a,b)] -> [ab, ab] = 2.
    df = spark.createDataFrame(
        [(0, "aaa"), (1, "abab")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in apply_bpe(df, [("a", "a"), ("a", "b")]).collect()
    }
    assert got == {0: 2, 1: 2}


def test_apply_bpe_string_ids(spark):
    """apply_bpe derives the id output type from the input column —
    string doc ids must round-trip (no hardcoded 'long')."""
    from topn_spark.operators.textstats import apply_bpe

    df = spark.createDataFrame(
        [("d-a", "low lower lowest"), ("d-b", "new newer")],
        "doc_id string, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in apply_bpe(df, [("l", "o"), ("lo", "w")]).collect()
    }
    assert set(got) == {"d-a", "d-b"}
    # 'low'->[low]=1, 'lower'->[low,e,r]=3, 'lowest'->[low,e,s,t]=4
    assert got["d-a"] == (3, 8)
    # 'new'->[n,e,w]=3, 'newer'->[n,e,w,e,r]=5
    assert got["d-b"] == (2, 8)


def test_bpe_train_known_corpus_and_roundtrip(spark):
    """bpe_train learns the classic Sennrich example merges in exact
    priority order, deterministically under repartitioning, and the
    learned table drives apply_bpe to the expected segmentation."""
    from topn_spark.operators.textstats import apply_bpe, bpe_train

    text = (
        "low low low low low lower lower newest newest newest "
        "newest newest newest widest widest widest"
    )
    df = spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    )
    want = [
        ("e", "s"),
        ("es", "t"),
        ("l", "o"),
        ("lo", "w"),
        ("e", "w"),
        ("ew", "est"),
    ]
    got = bpe_train(df, 6, min_pair_count=1)
    assert got == want
    # the distributed tier (forced via vocab_driver_cap=0) learns the
    # identical table in the identical order
    assert bpe_train(df, 6, min_pair_count=1, vocab_driver_cap=0) == want
    # partitioning-independent: same corpus split across many rows
    words = text.split()
    df2 = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    ).repartition(7)
    assert bpe_train(df2, 6, min_pair_count=1) == want
    # early stop: min_pair_count above every pair count learns nothing
    assert bpe_train(df, 5, min_pair_count=10**6) == []
    # the learned table segments 'lowest' as low + est pieces
    probe = spark.createDataFrame(
        [(1, "lowest")], "doc_id long, text string"
    )
    row = apply_bpe(probe, got, keep_tokens=8).collect()[0]
    assert row.tokens == ["low", "est"]
    assert row.n_bpe_tokens == 2


def test_logreg_separable_corpus(spark):
    """Full-batch distributed logistic regression separates a planted
    linearly-separable corpus: perfect training accuracy, weights
    pointing along the separating direction, NULL-feature rows
    excluded, and the guard rails (no rows / weight-count mismatch)
    raise."""
    import pytest

    from topn_spark.operators.textstats import (
        logreg_predict,
        logreg_train,
    )

    rows = [
        (i, float(i % 7) - 3.0, float((3 * i) % 11) / 5.0 - 1.0)
        for i in range(80)
    ]
    data = [
        (i, x1, x2, 1 if x1 + 2.0 * x2 > 0.25 else 0)
        for i, x1, x2 in rows
    ] + [(999, None, 1.0, 1)]  # incomplete row: must be ignored
    df = spark.createDataFrame(
        data, "id long, x1 double, x2 double, label int"
    )
    w = logreg_train(df, ["x1", "x2"], n_iters=200, lr=1.5)
    assert len(w) == 3
    # separating direction: positive on both, roughly 1:2 ratio
    assert w[1] > 0 and w[2] > 0
    scored = logreg_predict(df, w, ["x1", "x2"]).collect()
    acc = sum(
        1
        for r in scored
        if r.x1 is not None and (r.prob >= 0.5) == (r.label == 1)
    ) / 80
    assert acc == 1.0
    # incomplete row scores NULL, is not dropped from the frame
    assert [r.prob for r in scored if r.id == 999] == [None]
    with pytest.raises(ValueError, match="weights"):
        logreg_predict(df, [0.0, 1.0], ["x1", "x2"])
    with pytest.raises(ValueError, match="no complete labeled rows"):
        logreg_train(df.where("id = 999"), ["x1", "x2"])


def test_logreg_sufficient_stats_path_matches_fallback(spark):
    """The r14 sufficient-statistics fast path (one grouped-count
    pass + driver NumPy sweeps) computes the same weights as the
    per-iteration distributed-aggregate fallback (forced via
    max_groups=0) to float-sum-order precision."""
    from topn_spark.operators.textstats import logreg_train

    data = [
        (i, float(i % 5) / 4.0, float((2 * i) % 7) / 6.0,
         1 if (i % 5) + (2 * i) % 7 > 5 else 0)
        for i in range(120)
    ]
    df = spark.createDataFrame(
        data, "id long, x1 double, x2 double, label int"
    )
    fast = logreg_train(df, ["x1", "x2"], n_iters=60, lr=1.0)
    slow = logreg_train(
        df, ["x1", "x2"], n_iters=60, lr=1.0, max_groups=0
    )
    assert all(
        abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
        for a, b in zip(fast, slow)
    )


def test_train_quality_classifier_distills_heuristic(spark):
    """The quality classifier trained on the heuristic flag scores
    kept docs above dropped docs (AUC-like separation on a planted
    clean-vs-junk corpus)."""
    from topn_spark.operators.textstats import train_quality_classifier

    clean = "the quick brown fox jumps over the lazy dog every day"
    # tokenized but symbol-heavy: low alpha ratio -> heuristic drop
    junk = "@@1@@ ##2## !!3!! ??4?? %%5%% ^^6^^ &&7&& **8** ((9(( ))0))"
    df = spark.createDataFrame(
        [(i, clean if i % 2 == 0 else junk) for i in range(40)]
        + [(100, "")],
        "doc_id long, text string",
    )
    w, scored = train_quality_classifier(df, n_iters=120, lr=1.0)
    got = {r.doc_id: r for r in scored.collect()}
    lo = max(
        r.prob for i, r in got.items() if i != 100 and i % 2 == 1
    )
    hi = min(
        r.prob for i, r in got.items() if i != 100 and i % 2 == 0
    )
    assert hi > 0.5 > lo
    assert got[100].prob is None  # empty text: no features


def test_bpe_unicode_mode_round_trip(spark):
    """mode='unicode' trains and applies BPE on non-Latin text: the
    trainer learns Cyrillic merges the ascii rule is blind to, and
    apply_bpe segments with them (JVM-side pre-tokenization)."""
    from topn_spark.operators.textstats import apply_bpe, bpe_train

    df = spark.createDataFrame(
        [(i, "мир мир мир мира слово") for i in range(3)],
        "doc_id long, text string",
    )
    got = bpe_train(df, 3, min_pair_count=2, mode="unicode")
    # (и,р) ties (м,и) at count 12 and wins the lexicographic
    # tie-break (и < м in code points); ascii mode learns nothing
    assert got[:2] == [("и", "р"), ("м", "ир")]
    assert bpe_train(df, 3, min_pair_count=2) == []
    row = apply_bpe(
        df.limit(1), got, keep_tokens=8, mode="unicode"
    ).collect()[0]
    assert row.n_words == 5
    assert row.tokens[0] == "мир"
    # null text tolerated in unicode mode (empty token array)
    nul = spark.createDataFrame(
        [(9, None)], "doc_id long, text string"
    )
    r = apply_bpe(nul, got, mode="unicode").collect()[0]
    assert (r.n_words, r.n_bpe_tokens) == (0, 0)


def test_normalize_unicode_forms_and_nulls(spark):
    """NFC composes decomposed sequences (dedup-critical: both
    spellings hash identically after), NFKC additionally folds
    compatibility chars, NULLs pass through, bad form raises."""
    import pytest

    from topn_spark.operators.textstats import normalize_unicode

    rows = [
        (1, "cafe\u0301"),       # decomposed: e + combining acute
        (2, "caf\u00e9"),        # precomposed: same string after NFC
        (3, "\ufb01le \u00bd"),  # ligature + fraction (NFKC only)
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert rows[0][1] != rows[1][1]  # genuinely different codepoints
    nfc = {r.doc_id: r.text for r in normalize_unicode(df).collect()}
    assert nfc[1] == nfc[2] == "caf\u00e9"
    assert nfc[3] == "\ufb01le \u00bd"  # NFC keeps compatibility chars
    assert nfc[4] is None
    nfkc = {
        r.doc_id: r.text
        for r in normalize_unicode(df, form="NFKC").collect()
    }
    assert nfkc[3] == "file 1\u20442"
    with pytest.raises(ValueError, match="normalization form"):
        normalize_unicode(df, form="NFX")


def test_compression_signals_orders_junk_prose_noise(spark):
    """Repetitive junk compresses hardest, natural prose in between,
    random-ish noise barely; empty/null are NULL-safe."""
    import random

    from topn_spark.operators.textstats import compression_signals

    rng = random.Random(5)
    noise = "".join(
        chr(rng.randrange(33, 127)) for _ in range(400)
    )
    prose = (
        "the quick brown fox jumps over the lazy dog while the "
        "rain in spain stays mainly in the plain and every good "
        "boy deserves fruit from the old apple tree nearby today"
    )
    junk = "spam " * 80
    df = spark.createDataFrame(
        [(1, junk), (2, prose), (3, noise), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in compression_signals(df).collect()}
    assert got[1].compress_ratio < got[2].compress_ratio
    assert got[2].compress_ratio < got[3].compress_ratio
    assert got[1].n_bytes == 400 and got[1].n_zlib_bytes < 40
    assert got[4].compress_ratio is None  # empty: no ratio
    assert got[5].n_zlib_bytes is None and got[5].compress_ratio is None


def test_script_profile(spark):
    """Script counts, digit class across scripts, dominant-script
    tie-break order, and 'und' for script-free text."""
    from topn_spark.operators.textstats import script_profile

    rows = [
        (1, "Hello Привет 東京 Γειά مرحبا 123 ٤٥"),
        (2, "!!! 42 ???"),      # digits only: no profiled script
        (3, None),
        (4, "abc где"),          # 3-3 tie -> latin (priority order)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in script_profile(df).collect()}
    r1 = got[1]
    assert (r1.n_latin, r1.n_cyrillic, r1.n_han) == (5, 6, 2)
    assert (r1.n_greek, r1.n_arabic) == (4, 7)  # ٤٥ are Arabic script
    assert r1.n_digit == 5  # 123 + the two Arabic-Indic digits
    assert got[2].dominant_script == "und" and got[2].n_digit == 2
    assert got[3].dominant_script is None  # null text stays null
    assert got[4].dominant_script == "latin"


def test_unicode_token_mode(spark):
    """mode='unicode' tokenizes non-Latin scripts the ascii rule is
    blind to; the ascii default is unchanged."""
    import pytest

    from topn_spark.operators.textstats import add_token_stats, tokens

    df = spark.createDataFrame(
        [(1, "москва 東京 hello ١٢٣"), (2, "plain ascii words")],
        "doc_id long, text string",
    )
    uni = {
        r.doc_id: r.n_tokens
        for r in add_token_stats(df, mode="unicode").collect()
    }
    asc = {r.doc_id: r.n_tokens for r in add_token_stats(df).collect()}
    assert uni[1] == 4 and asc[1] == 1  # ascii sees only 'hello'
    assert uni[2] == asc[2] == 3
    toks = df.where("doc_id = 1").select(
        tokens("text", "unicode").alias("t")
    ).collect()[0]["t"]
    assert toks == ["москва", "東京", "hello", "١٢٣"]
    with pytest.raises(ValueError, match="token mode"):
        tokens("text", "latin1")


def test_bpe_merge_table_save_load_round_trip(spark, tmp_path):
    """The stored (rank, lhs, rhs) artifact reproduces the exact
    table and tokenization; a gapped rank refuses to load."""
    import pytest

    from topn_spark.operators.textstats import (
        apply_bpe,
        bpe_train,
        load_bpe_merges,
        save_bpe_merges,
    )

    df = spark.createDataFrame(
        [(1, "low low low lower newest newest widest")],
        "doc_id long, text string",
    )
    merges = bpe_train(df, 5, min_pair_count=1)
    path = str(tmp_path / "merges")
    save_bpe_merges(spark, merges, path)
    loaded = load_bpe_merges(spark, path)
    assert loaded == merges
    a = apply_bpe(df, merges).collect()[0]
    b = apply_bpe(df, loaded).collect()[0]
    assert (a.n_words, a.n_bpe_tokens) == (b.n_words, b.n_bpe_tokens)
    # gapped ranks -> corrupt artifact, refuse
    bad = str(tmp_path / "bad")
    spark.createDataFrame(
        [(0, "a", "b"), (2, "c", "d")], "rank int, lhs string, rhs string"
    ).write.parquet(bad)
    with pytest.raises(IOError, match="not.*contiguous|contiguous"):
        load_bpe_merges(spark, bad)


def test_bpe_train_tiers_agree_and_distributed_batches_rounds(spark):
    """The driver tier (incremental heap Sennrich) and the distributed
    tier (batched rounds) learn bit-identical merge tables on natural
    text; on a symbol-disjoint corpus the distributed tier accepts
    many merges per scheduled round (the round count must be ≪ the
    merge count — the operator's standing perf-weak fix)."""
    from topn_spark.operators.textstats import bpe_train

    text = (
        "the quick brown fox jumps over the lazy dog again and again "
        "the brown dog barks the fox runs the runs jumps the lazy "
        "quick brown foxes dogged the jumping runner over and over"
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sd, sx = {}, {}
    driver = bpe_train(df, 20, min_pair_count=1, stats=sd)
    dist = bpe_train(
        df, 20, min_pair_count=1, vocab_driver_cap=0, stats=sx
    )
    assert driver == dist
    assert len(driver) == 20
    assert sd == {"path": "driver", "rounds": 0}
    assert sx["path"] == "distributed"

    # symbol-disjoint frequent pairs: one distributed round takes all
    rows = (
        [(i, "ab") for i in range(9)]
        + [(100 + i, "cd") for i in range(8)]
        + [(200 + i, "ef") for i in range(7)]
        + [(300 + i, "gh") for i in range(6)]
    )
    df2 = spark.createDataFrame(rows, "doc_id long, text string")
    st = {}
    got = bpe_train(df2, 4, min_pair_count=2, vocab_driver_cap=0, stats=st)
    assert got == [("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")]
    assert st["rounds"] == 1  # 4 merges, one scheduled round


def test_gopher_rules_per_rule_isolation(spark):
    from topn_spark.operators.textstats import gopher_rules

    rows = [
        (1, "the data to be of and that have with pipeline value " * 6),
        (2, "• the list of item rows here\n" * 60),  # bullets
        (3, "the data of that value pipeline goes on and ever on...\n" * 60),
        (4, ("the data # of value that rows # have with more size " * 7)),
        (5, "too short to pass the fifty word gate"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert out[1].gopher_keep is True and out[1].stop_hits == 8
    assert out[2].gopher_keep is False and out[2].frac_bullet_lines > 0.9
    assert out[3].gopher_keep is False
    assert out[3].frac_ellipsis_lines > 0.3
    assert out[4].gopher_keep is False and out[4].hash_word_ratio > 0.1
    assert out[5].gopher_keep is False and out[5].n_words < 50
    # null text: every signal null, composite flag coalesced to False
    assert out[6].gopher_keep is False and out[6].mean_word_len is None


def test_c4_line_filter_rules(spark):
    from topn_spark.operators.textstats import c4_line_filter

    rows = [
        (1, "A good long sentence number one here.\n"
            "no.\n"
            "A good long sentence number two here!\n"
            "A good long sentence number three here.\n"
            "A good long sentence number four here.\n"
            'A good long sentence number five here."'),
        (2, "Uses JavaScript in a fine long sentence.\n"
            "A good long sentence number two here.\n"
            "A good long sentence number three here.\n"
            "A good long sentence number four here.\n"
            "A good long sentence number five here."),
        (3, "lorem ipsum dolor sit amet here today.\n"
            "A good long sentence number two here.\n"
            "A good long sentence number three here.\n"
            "A good long sentence number four here.\n"
            "A good long sentence number five here."),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_line_filter(df).collect()}
    # paper defaults: >= 3 words/line, >= 5 sentences/page ("no." is
    # 1 word — dropped by the word rule, so 5 kept lines remain)
    assert out[1].c4_keep is True and out[1].n_kept_lines == 5
    # javascript match is case-insensitive; doc falls under 5 sentences
    assert out[2].n_kept_lines == 4 and out[2].c4_keep is False
    assert out[3].c4_keep is False  # lorem ipsum page gate
    assert out[4].c4_keep is False and out[4].clean_text == ""
    # thresholds are parameters: the old deliberate deviation
    # (>= 5 words, >= 3 sentences) flips doc 2 back to a keeper
    strict = {
        r.doc_id: r
        for r in c4_line_filter(
            df, min_words=5, min_sentences=3
        ).collect()
    }
    assert strict[2].c4_keep is True and strict[2].n_kept_lines == 4
    assert strict[1].n_kept_lines == 5  # "no." fails both word rules


def test_remove_duplicate_spans_keep_semantics(spark):
    from topn_spark.operators.textstats import remove_duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, shared + " one two"),
        (2, shared + " three four"),
        (3, "entirely different words fill this document here today"),
        (4, "short doc"),  # below window size: untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    first = {
        r.doc_id: r
        for r in remove_duplicate_spans(df, window=8, min_count=2).collect()
    }
    # global first occurrence (doc 1) keeps its span; doc 2 loses it
    assert first[1].n_removed == 0
    assert first[1].clean_text.startswith("alpha beta")
    assert first[2].n_removed == 8
    assert first[2].clean_text == "three four"
    assert first[3].n_removed == 0
    assert first[4].n_tokens == 2 and first[4].n_dup_windows == 0

    none = {
        r.doc_id: r
        for r in remove_duplicate_spans(
            df, window=8, min_count=2, keep="none"
        ).collect()
    }
    assert none[1].n_removed == 8 and none[1].clean_text == "one two"
    assert none[2].n_removed == 8

    with pytest.raises(ValueError, match="keep"):
        remove_duplicate_spans(df, keep="bogus")


def test_remove_duplicate_spans_within_doc_repeat(spark):
    from topn_spark.operators.textstats import remove_duplicate_spans

    phrase = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, phrase + " filler " + phrase)], "doc_id long, text string"
    )
    out = remove_duplicate_spans(df, window=8, min_count=2).collect()[0]
    # the second in-document occurrence of the 8-gram is removed;
    # the first stays (keep='first' orders by (doc_id, pos))
    assert out.n_dup_windows == 1 and out.n_removed == 8
    assert out.clean_text == phrase + " filler"


def test_gopher_repetition_signals(spark):
    from topn_spark.operators.textstats import gopher_repetition

    rows = [
        (1, "alpha beta gamma\nalpha beta gamma\nomega tail"),
        (2, "buy now " * 20 + "end"),
        (3, "every word appears exactly once in this clean document"),
        (4, None),
        (5, "one two"),  # too short for any gram rule to fire
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_repetition(df).collect()}
    # doc 1: one duplicated line of three -> 1/3 excess
    assert out[1].frac_dup_lines == pytest.approx(1 / 3, abs=1e-6)
    assert out[1].gopher_rep_keep is False  # 0.3333 > 0.30
    # doc 2: 'buy now' dominates -> top2 fraction way over 0.20
    assert out[2].top2_char_frac > 0.5
    assert out[2].gopher_rep_keep is False
    assert out[3].gopher_rep_keep is True
    assert out[3].frac_dup_lines == 0.0
    assert out[4].gopher_rep_keep is False  # null text
    # rules that cannot fire pass: frac None, keep True
    assert out[5].top4_char_frac is None
    assert out[5].gopher_rep_keep is True


def test_sentences_rule(spark):
    from topn_spark.operators.textstats import sentences

    df = spark.createDataFrame(
        [(1, "One two. Three!  Four?\nFive no terminator")],
        "doc_id long, text string",
    )
    got = df.select(sentences().alias("s")).collect()[0].s
    assert got == [
        "One two.",
        "Three!",
        "Four?",
        "Five no terminator",
    ]


def test_sentence_span_dedup_keep_first(spark):
    from topn_spark.operators.textstats import (
        remove_duplicate_sentence_spans,
    )

    footer = " Footer a. Footer b. Footer c."
    df = spark.createDataFrame(
        [
            (1, "Unique one." + footer),
            (2, "Unique two." + footer),
            (3, "Short doc. Two sentences."),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_sentence_spans(df).collect()
    }
    # doc 1 holds the globally first footer span occurrence
    assert out[1].n_removed == 0
    assert out[1].clean_text == "Unique one. Footer a. Footer b. Footer c."
    # doc 2 loses the 3-sentence footer, keeps its unique lead
    assert out[2].n_removed == 3
    assert out[2].clean_text == "Unique two."
    # below the window: untouched
    assert out[3].n_dup_spans == 0 and out[3].n_removed == 0


def test_sentence_span_dedup_keep_none_and_overlap(spark):
    from topn_spark.operators.textstats import (
        remove_duplicate_sentence_spans,
    )

    rep = "A one. B two. C three. A one. B two. C three."
    df = spark.createDataFrame(
        [(1, rep)], "doc_id long, text string"
    )
    out = remove_duplicate_sentence_spans(
        df, keep="none"
    ).collect()[0]
    # the repeated half makes spans at pos 0 and 3 identical; keep=none
    # removes both spans' coverage (all six sentences)
    assert out.n_sentences == 6
    assert out.n_removed == 6
    assert out.clean_text == ""


def _unigram_corpus(spark):
    rows = [
        (i, "the data pipeline processes the data tables and the data rows")
        for i in range(20)
    ] + [
        (100 + i, "streaming windows aggregate the events hourly")
        for i in range(10)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_unigram_lm_train_vocab_and_determinism(spark):
    from topn_spark.operators.textstats import unigram_lm_train

    df = _unigram_corpus(spark)
    stats = {}
    a = unigram_lm_train(
        df, vocab_size=40, seed_size=200, min_count=2, stats=stats
    )
    b = unigram_lm_train(df, vocab_size=40, seed_size=200, min_count=2)
    assert a == b  # fully deterministic, partitioning-independent
    assert stats["n_pieces"] == len(a) == 40
    pieces = {p for p, _ in a}
    # coverage guarantee: every single character survives pruning
    chars = {c for _, t in df.collect() for c in t.replace(" ", "")}
    assert chars <= pieces
    # frequent whole words become pieces
    assert "data" in pieces and "the" in pieces


def test_unigram_lm_apply_counts_and_oov(spark):
    from topn_spark.operators.textstats import (
        apply_unigram_lm,
        unigram_lm_train,
    )

    df = _unigram_corpus(spark)
    pieces = unigram_lm_train(df, vocab_size=40, seed_size=200, min_count=2)
    target = spark.createDataFrame(
        [(1, "the data rows"), (2, "zzz???")],  # z is out of vocab
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in apply_unigram_lm(target, pieces, keep_tokens=10).collect()
    }
    assert out[1].n_words == 3
    # 'the' and 'data' are single pieces
    assert out[1].tokens[:2] == ["the", "data"]
    # OOV characters segment to raw chars instead of failing
    assert out[2].n_lm_tokens == 3 and out[2].tokens == ["z", "z", "z"]


def test_unigram_lm_save_load_roundtrip(spark, tmp_path):
    import pytest

    from topn_spark.operators.textstats import (
        load_unigram_lm,
        save_unigram_lm,
        unigram_lm_train,
    )

    pieces = unigram_lm_train(
        _unigram_corpus(spark), vocab_size=40, seed_size=200, min_count=2
    )
    path = str(tmp_path / "ulm")
    save_unigram_lm(spark, pieces, path)
    assert load_unigram_lm(spark, path) == pieces
    bad = str(tmp_path / "notulm")
    spark.createDataFrame([(1,)], "x long").write.parquet(bad)
    with pytest.raises(ValueError, match="artifact"):
        load_unigram_lm(spark, bad)


def test_unigram_lm_guards(spark):
    import pytest

    from topn_spark.operators.textstats import unigram_lm_train

    df = _unigram_corpus(spark)
    with pytest.raises(ValueError, match="single-character"):
        unigram_lm_train(df, vocab_size=5)
    with pytest.raises(ValueError, match="token mode"):
        unigram_lm_train(df, vocab_size=40, mode="bytes")


def test_unigram_lm_tiers_agree(spark):
    """The distributed E-step tier (word table above the driver cap)
    must produce the bit-identical piece table to the driver tier —
    integer count sums are order-independent and the Viterbi contract
    is per-word."""
    from topn_spark.operators.textstats import unigram_lm_train

    df = _unigram_corpus(spark)
    s1, s2 = {}, {}
    a = unigram_lm_train(
        df, vocab_size=40, seed_size=200, min_count=2, stats=s1
    )
    b = unigram_lm_train(
        df,
        vocab_size=40,
        seed_size=200,
        min_count=2,
        vocab_driver_cap=3,  # force the distributed tier
        stats=s2,
    )
    assert s1["tier"] == "driver" and s2["tier"] == "distributed"
    assert a == b


def test_byte_bpe_round_trip_and_zero_oov(spark):
    """GPT-2-style byte-level mode: base symbols are UTF-8 bytes
    rendered latin-1, so (a) token concatenation round-trips to the
    original word through latin-1 -> UTF-8, and (b) text in scripts
    NEVER SEEN in training still tokenizes — worst case into single
    bytes — with zero OOV by construction."""
    import re

    from topn_spark.operators.textstats import apply_bpe, bpe_train

    rows = [
        (1, "héllo wörld héllo wörld data data"),
        (2, "héllo data wörld κόσμε"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(df, 16, min_pair_count=2, mode="byte")
    assert merges  # multi-byte codepoints produce learnable pairs
    out = {
        r.doc_id: r
        for r in apply_bpe(
            df, merges, mode="byte", keep_tokens=100
        ).collect()
    }
    # round-trip identity: concatenated tokens re-encode to the words
    words = re.findall(r"[^\W_]+", rows[1][1].lower(), re.UNICODE)
    joined = "".join(out[2].tokens).encode("latin-1").decode("utf-8")
    assert joined == "".join(words)
    # zero OOV: a training-disjoint script still tokenizes, exactly
    # one token per UTF-8 byte (no merges can apply)
    ru = spark.createDataFrame(
        [(3, "мир труд май")], "doc_id long, text string"
    )
    got = apply_bpe(ru, merges, mode="byte").collect()[0]
    n_bytes = sum(
        len(w.encode("utf-8"))
        for w in ["мир", "труд", "май"]
    )
    assert got.n_words == 3 and got.n_bpe_tokens == n_bytes


def test_byte_bpe_tiers_agree(spark):
    """Driver and distributed tiers stay bit-identical in byte mode
    (the rendering happens before either tier sees a symbol)."""
    from topn_spark.operators.textstats import bpe_train

    df = spark.createDataFrame(
        [(1, "héllo wörld héllo wörld κόσμε κόσμε data data " * 3)],
        "doc_id long, text string",
    )
    driver = bpe_train(df, 12, min_pair_count=2, mode="byte")
    dist = bpe_train(
        df, 12, min_pair_count=2, mode="byte", vocab_driver_cap=0
    )
    assert driver == dist and len(driver) > 0


def test_bpe_mode_validation(spark):
    import pytest

    from topn_spark.operators.textstats import apply_bpe, bpe_train

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="ascii.unicode.byte"):
        bpe_train(df, 2, mode="bytes")
    with pytest.raises(ValueError, match="ascii.unicode.byte"):
        apply_bpe(df, [("a", "b")], mode="byte3")


def test_script_mode_tokens_cjk_fallback(spark):
    """mode='script': Han/Kana chars are one token each, other
    scripts keep the word rule — mixed CJK/Latin text tokenizes
    sensibly where the plain unicode rule lumps whole runs."""
    from topn_spark.operators.textstats import add_token_stats, tokens

    rows = [
        (1, "孩子们read书books"),
        (2, "カタカナとひらがな"),
        (3, "plain latin 42"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.t
        for r in df.select(
            "doc_id", tokens("text", "script").alias("t")
        ).collect()
    }
    assert got[1] == ["孩", "子", "们", "read", "书", "books"]
    assert got[2] == list("カタカナとひらがな")
    assert got[3] == ["plain", "latin", "42"]  # latin unchanged
    assert got[4] is None
    # the downstream featurizers accept the mode transparently
    stats = {
        r.doc_id: r.n_tokens
        for r in add_token_stats(df, mode="script").collect()
    }
    assert stats[1] == 6 and stats[2] == 9 and stats[3] == 3
    import pytest

    with pytest.raises(ValueError, match="ascii.unicode.script"):
        tokens("text", "cjk")


def test_script_profile_routes_tokenizer_mode(spark):
    """The deployment shape the scope notes prescribe: script_profile
    picks the token rule per document — char-level for Han-dominant
    text, word rule for Latin — in one pass."""
    from pyspark.sql import functions as F

    from topn_spark.operators.textstats import script_profile, tokens

    df = spark.createDataFrame(
        [
            (1, "孩子们在图书馆里安静地读书"),
            (2, "the children read quietly in the library"),
        ],
        "doc_id long, text string",
    )
    routed = script_profile(df).withColumn(
        "toks",
        F.when(
            F.col("dominant_script") == "han",
            tokens("text", "script"),
        ).otherwise(tokens("text", "unicode")),
    )
    out = {r.doc_id: r for r in routed.collect()}
    assert out[1].dominant_script == "han" and len(out[1].toks) == 13
    assert out[2].dominant_script == "latin" and len(out[2].toks) == 7


def test_apply_bpe_keep_all_tokens(spark):
    """keep_tokens=-1 keeps EVERY subword (the full-array shape a
    sequence packer consumes): the array length equals n_bpe_tokens
    for every document, and a positive cap still truncates."""
    from topn_spark.operators.textstats import apply_bpe

    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "newer wider low")],
        "doc_id long, text string",
    )
    merges = [("l", "o"), ("lo", "w"), ("e", "r")]
    full = {
        r.doc_id: r
        for r in apply_bpe(df, merges, keep_tokens=-1).collect()
    }
    for r in full.values():
        assert len(r.tokens) == r.n_bpe_tokens
    assert full[1].tokens == [
        "low", "low", "er", "low", "e", "s", "t",
    ]
    capped = {
        r.doc_id: r.tokens
        for r in apply_bpe(df, merges, keep_tokens=2).collect()
    }
    assert capped[1] == ["low", "low"]


def test_redact_pii_known_shapes(spark):
    """Each PII class redacts to its standard placeholder; counts
    come from the ORIGINAL text; precedence keeps an email's digits
    away from the phone pattern; null text stays null."""
    from topn_spark.operators.textstats import redact_pii

    rows = [
        (1, "mail me at jane.doe+x@sub.example.org today"),
        (2, "host 192.168.0.1 then call 555-123-4567 or (555) 867-5309"),
        (3, "user555-123-4567@example.com is an address not a phone"),
        (4, "nothing sensitive here"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].clean_text == "mail me at |||EMAIL_ADDRESS||| today"
    assert out[1].n_emails == 1 and out[1].pii_total == 1
    assert out[2].clean_text == (
        "host |||IP_ADDRESS||| then call |||PHONE_NUMBER|||"
        " or |||PHONE_NUMBER|||"
    )
    assert (out[2].n_ips, out[2].n_phones, out[2].pii_total) == (1, 2, 3)
    # email claims its whole span first: no phone placeholder appears
    assert out[3].clean_text == (
        "|||EMAIL_ADDRESS||| is an address not a phone"
    )
    assert out[3].n_emails == 1
    assert out[4].clean_text == rows[3][1] and out[4].pii_total == 0
    assert out[5].clean_text is None and out[5].pii_total is None


def test_bpe_gpt2_export_round_trip(spark, tmp_path):
    """GPT-2/HF interchange format: byte-mode merges export to
    merges.txt + vocab.json and import back EXACTLY; the byte table
    matches the published GPT-2 mapping landmarks; tokenization
    under re-imported merges is unchanged; a non-byte file fails
    loudly."""
    import json

    from topn_spark.operators.textstats import (
        _gpt2_byte_to_unicode,
        apply_bpe,
        bpe_train,
        load_bpe_gpt2,
        save_bpe_gpt2,
    )

    # published-table landmarks: printable ascii identity, space ->
    # U+0120 (the famous 'Ġ'), byte 0 -> U+0100
    b2u = _gpt2_byte_to_unicode()
    assert b2u[ord("a")] == "a" and b2u[ord("!")] == "!"
    assert b2u[32] == "Ġ" and b2u[0] == "Ā"
    assert sorted(set(b2u.values())) and len(set(b2u.values())) == 256

    df = spark.createDataFrame(
        [(1, "der fluss fließt über grüne hügel"),
         (2, "the rivers flow over green hills")],
        "doc_id long, text string",
    )
    merges = bpe_train(df, 20, mode="byte")
    path = str(tmp_path / "gpt2")
    save_bpe_gpt2(merges, path)
    assert load_bpe_gpt2(path) == merges
    # multi-byte codepoints (ü, ß) exported as table chars, and
    # application under the round-tripped table is identical
    a = apply_bpe(df, merges, mode="byte", keep_tokens=-1).collect()
    b = apply_bpe(
        df, load_bpe_gpt2(path), mode="byte", keep_tokens=-1
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # vocab layout: 256 byte symbols then merges, ids contiguous
    vocab = json.load(open(f"{path}/vocab.json"))
    assert len(vocab) >= 256 + 1
    assert sorted(vocab.values()) == list(range(len(vocab)))
    # a merges file with characters outside the table is rejected
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "merges.txt").write_text("#version: 0.2\n中 文\n")
    import pytest

    with pytest.raises(ValueError, match="not byte-level"):
        load_bpe_gpt2(str(bad))
    (bad / "merges.txt").write_text("no header\na b\n")
    with pytest.raises(ValueError, match="version"):
        load_bpe_gpt2(str(bad))


def test_logreg_artifact_round_trip(spark, tmp_path):
    """save_logreg/load_logreg: weights + feature order round-trip
    exactly; mismatched weight count refused at save."""
    import pytest

    from topn_spark.operators.textstats import load_logreg, save_logreg

    w = [0.5, -1.25, 3.0]
    feats = ["alpha_ratio", "mean_word_len"]
    p = str(tmp_path / "m")
    save_logreg(spark, w, feats, p)
    assert load_logreg(spark, p) == (w, feats)
    with pytest.raises(ValueError, match="intercept"):
        save_logreg(spark, [1.0], feats, p)


def test_unigram_hf_export_round_trip(spark, tmp_path):
    """HF tokenizer.json Unigram interchange: a trained piece table
    exports, imports back EXACTLY, and segmentation under the
    re-imported table is identical; an independently constructed
    tokenizer.json loads to the expected table; malformed / BPE
    files fail loudly."""
    import json

    import pytest

    from topn_spark.operators.textstats import (
        apply_unigram_lm,
        load_unigram_hf,
        save_unigram_hf,
        unigram_lm_train,
    )

    df = spark.createDataFrame(
        [(1, "the cats and the dogs ran fast"),
         (2, "cats ran and dogs ran")],
        "doc_id long, text string",
    )
    pieces = unigram_lm_train(
        df, vocab_size=20, seed_size=100, max_piece_len=4
    )
    path = str(tmp_path / "hf")
    save_unigram_hf(pieces, path)
    assert load_unigram_hf(path) == sorted(
        (p, float(lp)) for p, lp in pieces
    )
    a = apply_unigram_lm(df, pieces, keep_tokens=-1).collect()
    b = apply_unigram_lm(
        df, load_unigram_hf(path), keep_tokens=-1
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # file shape: model.type Unigram, unk at unk_id 0 with logprob 0
    doc = json.load(open(f"{path}/tokenizer.json"))
    assert doc["model"]["type"] == "Unigram"
    assert doc["model"]["vocab"][doc["model"]["unk_id"]] == [
        "<unk>", 0.0,
    ]
    # an independently written HF file (piece order scrambled, unk
    # mid-list) imports to the sorted engine table
    ind = tmp_path / "ind"
    ind.mkdir()
    (ind / "tokenizer.json").write_text(
        json.dumps(
            {
                "version": "1.0",
                "model": {
                    "type": "Unigram",
                    "unk_id": 1,
                    "vocab": [
                        ["zz", -3.5],
                        ["<unk>", 0.0],
                        ["ab", -1.25],
                    ],
                },
            }
        )
    )
    assert load_unigram_hf(str(ind)) == [("ab", -1.25), ("zz", -3.5)]
    # rejections: BPE model type, malformed vocab entry, dup pieces
    (ind / "tokenizer.json").write_text(
        json.dumps({"model": {"type": "BPE", "vocab": {}}})
    )
    with pytest.raises(ValueError, match="not a Unigram"):
        load_unigram_hf(str(ind))
    (ind / "tokenizer.json").write_text(
        json.dumps(
            {"model": {"type": "Unigram", "unk_id": 0,
                       "vocab": [["a", "x"]]}}
        )
    )
    with pytest.raises(ValueError, match="logprob"):
        load_unigram_hf(str(ind))
    (ind / "tokenizer.json").write_text(
        json.dumps(
            {"model": {"type": "Unigram", "unk_id": 0,
                       "vocab": [["u", 0.0], ["a", -1.0],
                                 ["a", -2.0]]}}
        )
    )
    with pytest.raises(ValueError, match="duplicate"):
        load_unigram_hf(str(ind))


def test_routed_quality_lm_routing(spark):
    """Per-language LM routing: each language scores under ITS OWN
    bigram model (ppl equals a direct perplexity_score call on that
    language's subset), the route's max_ppl gates it, a route with
    max_ppl but no model fails loudly, and unknown route parameters
    are rejected."""
    import pytest

    from topn_spark.operators.lm import (
        perplexity_score,
        train_bigram_lm,
    )
    from topn_spark.operators.textstats import routed_quality

    base = (
        "the data to be of and that have with pipeline value"
        " system goes right here now.\n"
    )
    de_base = (
        "der die das und mit von daten wert system hier gehen"
        " weiter voran jetzt gleich.\n"
    )
    rows = [(i, "en", base * 7) for i in range(4)] + [
        (i + 10, "de", de_base * 7) for i in range(4)
    ]
    # one EN doc of out-of-domain words -> high ppl under the EN LM
    rows.append((99, "en", "zzz qqq vvv kkk www " * 30 + ".\n" + base * 6))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    en_lm = train_bigram_lm(
        df.where((F.col("lang") == "en") & (F.col("doc_id") < 50))
    )
    de_lm = train_bigram_lm(df.where(F.col("lang") == "de"))
    lms = {
        "en": (*en_lm, {"vocab_size": None, "token_mode": "ascii"}),
        "de": (*de_lm, {"vocab_size": None, "token_mode": "ascii"}),
    }
    # vocab_size=None -> perplexity_score derives it; mirror that in
    # the direct calls below
    routes = {
        "en": {"max_ppl": 20.0},
        "de": {
            "max_ppl": 20.0,
            "stopwords": ["der", "die", "das", "und", "mit", "von"],
        },
    }
    out = routed_quality(df, routes, lms=lms).select(
        "doc_id", "lang", "ppl", "route_reason", "routed_keep"
    )
    got = {r.doc_id: r for r in out.collect()}
    direct = {}
    for g, (uni, bi, _) in lms.items():
        for r in perplexity_score(
            df.where(F.col("lang") == g), uni, bi, smoothing="wb"
        ).collect():
            direct[r.doc_id] = r.ppl
    for i in list(range(4)) + [i + 10 for i in range(4)] + [99]:
        # identical model + expression; only the float sum order of
        # the per-doc logprob re-agg may differ between jobs
        assert abs(got[i].ppl - direct[i]) <= 1e-9 * direct[i], i
    assert got[0].routed_keep and got[10].routed_keep
    assert got[99].route_reason == "perplexity"

    with pytest.raises(ValueError, match="max_ppl but no LM"):
        routed_quality(df, {"en": {"max_ppl": 10.0}})
    with pytest.raises(ValueError, match="unknown route parameter"):
        routed_quality(df, {"en": {"min_wordz": 3}})


def test_routed_quality_no_stopwords_route(spark):
    """A route that disables word rules with stopwords=None (the CJK
    config) must not reject everything via the DEFAULT min_stop_hits
    — the hits gate is auto-disabled; explicitly setting both is
    inconsistent and raises at validation."""
    import pytest

    from topn_spark.operators.textstats import routed_quality

    text = (
        "the data to be of and that have with pipeline value"
        " system goes right here now.\n"
    ) * 7
    df = spark.createDataFrame(
        [(1, "ja", text), (2, "ja", text)],
        "doc_id long, lang string, text string",
    )
    out = routed_quality(
        df,
        {
            "ja": {
                "stopwords": None,
                "min_words": None,
                "max_words": None,
                "min_mean_word_len": None,
                "max_mean_word_len": None,
                "min_frac_alpha_words": None,
                "min_sentences": None,
            }
        },
    ).select("doc_id", "route_reason", "routed_keep")
    for r in out.collect():
        assert r.route_reason is None and r.routed_keep, r
    with pytest.raises(ValueError, match="disables stopwords"):
        routed_quality(
            df, {"ja": {"stopwords": None, "min_stop_hits": 2}}
        )


def test_ngram_diversity_ratios(spark):
    """ngram_diversity: totals/distincts per n over a corpus with a
    planted repetition structure; bad ns fail loudly."""
    import pytest

    from topn_spark.operators.textstats import ngram_diversity

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    rows = {r.n: r for r in ngram_diversity(df).collect()}
    # unigrams: a b a b | a b c -> 7 total, 3 distinct
    assert rows[1].total_ngrams == 7 and rows[1].distinct_ngrams == 3
    # bigrams: 'a b','b a','a b' | 'a b','b c' -> 5 total, 3 distinct
    assert rows[2].total_ngrams == 5 and rows[2].distinct_ngrams == 3
    assert rows[2].distinct_ratio == 0.6
    # trigrams: 'a b a','b a b' | 'a b c' -> 3 total, 3 distinct
    assert rows[3].total_ngrams == 3 and rows[3].distinct_ngrams == 3
    with pytest.raises(ValueError, match="ns"):
        ngram_diversity(df, ns=())
    with pytest.raises(ValueError, match="ns"):
        ngram_diversity(df, ns=(0,))


def test_corpus_divergence_identical_and_disjoint(spark):
    import math

    from topn_spark.operators.textstats import corpus_divergence

    a = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta")],
        "doc_id bigint, text string",
    )
    # identical corpora -> JS exactly 0, full vocab overlap
    [r] = corpus_divergence(a, a).collect()
    assert r.js_divergence == 0.0
    assert r.vocab_a == r.vocab_b == r.vocab_shared == 3
    assert r.n_tokens_a == r.n_tokens_b == 5

    # fully disjoint vocabularies -> JS = ln 2, zero shared
    b = spark.createDataFrame(
        [(1, "delta epsilon")], "doc_id bigint, text string"
    )
    [r2] = corpus_divergence(a, b).collect()
    assert abs(r2.js_divergence - math.log(2)) < 1e-12
    assert r2.vocab_shared == 0 and r2.vocab_b == 2


def test_corpus_divergence_partial_overlap_mirror(spark):
    import math
    from collections import Counter

    from topn_spark.operators.textstats import corpus_divergence

    a = spark.createDataFrame(
        [(1, "x x y")], "doc_id bigint, text string"
    )
    b = spark.createDataFrame(
        [(1, "x z z z")], "doc_id bigint, text string"
    )
    [r] = corpus_divergence(a, b).collect()
    ca, cb = Counter({"x": 2, "y": 1}), Counter({"x": 1, "z": 3})
    js = 0.0
    for w in set(ca) | set(cb):
        p, q = ca.get(w, 0) / 3, cb.get(w, 0) / 4
        m = (p + q) / 2
        if p:
            js += 0.5 * p * math.log(p / m)
        if q:
            js += 0.5 * q * math.log(q / m)
    assert abs(r.js_divergence - js) < 1e-12
    assert r.vocab_shared == 1


def test_table_signals_classes(spark):
    from topn_spark.operators.textstats import table_signals

    df = spark.createDataFrame(
        [
            (1, "plain prose with no numbers in sight today"),
            (2, "99 44 100 77 62 totals 8123"),
            (3, "| a | b | c |\n| x | y | z |\n| p | q | r |"),
            (4, "1. one\n2. two\nprose"),
            (5, ""),
            (6, None),
        ],
        "id bigint, text string",
    )
    out = {r.id: r for r in table_signals(df).collect()}
    assert out[1].table_like is False and out[1].digit_ratio == 0.0
    assert out[2].table_like and out[2].digit_ratio > 0.25
    assert out[3].table_like and out[3].n_pipes >= 10
    assert out[4].table_like and out[4].numeric_line_frac == 0.666667
    # empty and NULL keep NULL signals, observable
    assert out[5].table_like is None and out[6].digit_ratio is None


def _canon_md5(df):
    """md5 of a frame's canonical form: its column names in output
    order, then its rows sorted by their JSON text."""
    import hashlib
    import json

    rows = sorted(json.dumps(list(r)) for r in df.collect())
    return hashlib.md5(
        json.dumps([df.columns, rows]).encode()
    ).hexdigest()


def test_tokenizer_application_pinned(spark):
    """Row-level pins of everything that applies the engine word rule
    or a trained tokenizer: ``apply_bpe`` in every mode and
    ``keep_tokens`` shape, ``apply_unigram_lm`` in both modes, the
    three subtoken mask expanders, and the shingle / rolling-hash /
    SimHash / md5 MinHash operators on one small frame (NULL, empty,
    accented, CJK and near-duplicate documents)."""
    import pandas as pd

    from topn_spark.operators.dedup import lsh_pairs_md5, shingles, simhash
    from topn_spark.operators.sft import bpe_loss_mask, unigram_loss_mask
    from topn_spark.operators.textstats import (
        apply_bpe,
        apply_unigram_lm,
        rolling_hashes,
    )

    # frames built from pandas go through Arrow: a frame built from a
    # Python list is a Python RDD, and every job over it pays a
    # Python-worker pass per partition
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(1, 8),
                "text": [
                    "The lower low lowest newer newest wider wides",
                    "Café naïve résumé — straße ÉTÉ 東京 low",
                    None,
                    "",
                    "the lower low lowest newer newest widest wides",
                    "THE LOWER, low; lowest newer newest wider wides!",
                    "Zebra 42 zebras 42x, x42 café",
                ],
            }
        ),
        "doc_id long, text string",
    )
    merges = [
        ("l", "o"), ("lo", "w"), ("e", "r"), ("e", "s"), ("es", "t"),
        ("n", "e"), ("ne", "w"), ("Ã", "©"), ("c", "a"), ("ca", "f"),
    ]
    pieces = [
        ("low", -1.0), ("er", -1.5), ("est", -2.0), ("new", -1.2),
        ("l", -3.0), ("o", -3.0), ("w", -3.0), ("e", -3.0),
        ("r", -3.0), ("s", -3.2), ("t", -3.1), ("é", -2.5),
        ("caf", -1.7),
    ]
    got = {}
    for mode in ("ascii", "unicode", "byte"):
        for keep in (0, 2, -1):
            got[f"bpe_{mode}_{keep}"] = _canon_md5(
                apply_bpe(docs, merges, keep_tokens=keep, mode=mode)
            )
    for mode in ("ascii", "unicode"):
        got[f"unigram_{mode}"] = _canon_md5(
            apply_unigram_lm(docs, pieces, keep_tokens=-1, mode=mode)
        )

    convs = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": range(1, 6),
                "tokens": [
                    ["<user>", "lowest", "café"],
                    ["newer", "widest"],
                    None,
                    ["misaligned"],
                    [],
                ],
                "loss_mask": [
                    [False, True, True],
                    [True, False],
                    None,
                    [True, False],
                    [],
                ],
            }
        ),
        "conv_id long, tokens array<string>, loss_mask array<boolean>",
    )
    for mode in ("byte", "char"):
        got[f"bpe_mask_{mode}"] = _canon_md5(
            bpe_loss_mask(convs, merges, mode=mode)
        )
    got["unigram_mask"] = _canon_md5(unigram_loss_mask(convs, pieces))

    got["shingles"] = _canon_md5(
        docs.select(
            "doc_id",
            shingles("text").alias("sh"),
            shingles("text", 2).alias("sh2"),
            rolling_hashes("text", window=3, every=2).alias("rh"),
        )
    )
    got["simhash"] = _canon_md5(simhash(docs))
    got["lsh_pairs_md5"] = _canon_md5(lsh_pairs_md5(docs))
    assert got == {
        "bpe_ascii_0": "f33a3fad61986e6864eddc15871b2c0b",
        "bpe_ascii_2": "6446af5c18e271f0c799118b0dff7652",
        "bpe_ascii_-1": "e26c5486342105e08cc99f413f068bfb",
        "bpe_unicode_0": "0251878f5b611ceefd09abbc34032070",
        "bpe_unicode_2": "cd22f095085ddeba2afa54e2bc3bbe7a",
        "bpe_unicode_-1": "830eeb4c07270cf1fa2c18a0d5cb29d9",
        "bpe_byte_0": "db72280bc1e3f6c021cb8f57fc64e6c3",
        "bpe_byte_2": "82cc39e9a1c15d0a024ee11bb439b738",
        "bpe_byte_-1": "22164096a92300ca5f7001cc07a3fbba",
        "unigram_ascii": "88eea08fdca8c6fceea2dc0eecb0768f",
        "unigram_unicode": "40ab4d613b93306e30eb01d45393c7f3",
        "bpe_mask_byte": "0fc237ec1dbab1950a601145274396ab",
        "bpe_mask_char": "c04ec76ec97389792d9e4f9bea498a8d",
        "unigram_mask": "05b6380f29eb597e9342fee18c2918d4",
        "shingles": "48556a456506b0f732ba80454a31ea16",
        "simhash": "92f39f5e82aaadedfc9d5b8d6b2deff4",
        "lsh_pairs_md5": "a0dde5f615ac831de3396fbc80d08768",
    }


def test_text_primitives_live_once():
    """The engine word rule, its SQL builder, the byte render and the
    input-spread helper each live once; textstats owns the tokenizer
    primitives, so dedup imports them at module top and textstats
    imports nothing from dedup. Pinned structurally so a re-grown
    copy or import cycle turns the suite red."""
    import ast
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "topn_spark"
    ops = {p.name: p.read_text() for p in (pkg / "operators").glob("*.py")}
    every = {
        p: p.read_text() for p in pkg.rglob("*.py")
    }

    def count(pattern, sources):
        return sum(len(re.findall(pattern, s)) for s in sources)

    assert count(r"(?m)^TOKEN_RE =", ops.values()) == 1
    assert count(re.escape("regexp_extract_all(lower("), ops.values()) == 1
    assert count(re.escape('"ISO-8859-1"'), ops.values()) == 1
    defs = [p.name for p, s in every.items() if "def ensure_parallelism(" in s]
    assert defs == ["plans.py"]
    assert not any("_portable_minhash_pairs" in s for s in every.values())

    def imports_from(tree, module):
        return [
            n for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom) and n.module == module
        ]

    textstats = ast.parse(ops["textstats.py"])
    assert not imports_from(textstats, "topn_spark.operators.dedup")
    dedup = ast.parse(ops["dedup.py"])
    for fn in ast.walk(dedup):
        if isinstance(fn, ast.FunctionDef):
            assert not imports_from(fn, "topn_spark.operators.textstats"), (
                fn.name
            )
    assert imports_from(dedup, "topn_spark.operators.textstats")
