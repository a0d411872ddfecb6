"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

Everything is built-in/higher-order Catalyst expressions — map-only,
codegen'd, no shuffle, no Python row loop. These are the per-document
featurizers a training-data pipeline runs before filtering/dedup.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from topn_spark.plans import ensure_parallelism, local_frame, num_partitions

#: The engine word rule: lowercase, then runs of ``[a-z0-9]``. Its SQL
#: form is :func:`_token_sql`; in Python it is
#: ``re.findall(TOKEN_RE, text.lower())``.
TOKEN_RE = "[a-z0-9]+"

#: Unicode-aware token rule: letters + numbers in any script. The
#: category classes mean the same thing in Java regex (Spark) and RE2
#: (DuckDB oracles) — verified dialect-aligned incl. lower() casing.
UNICODE_TOKEN_RE = r"[\p{L}\p{N}]+"

#: unsegmented-script character class for ``mode="script"`` — the
#: scripts written without word-delimiting whitespace, each character
#: becoming its own token. Java regex spells scripts \p{IsX}; the
#: RE2 (DuckDB-oracle) spelling is \p{X} — same sets, the
#: script_profile dialect pair.
CJK_CHAR_RE = r"[\p{IsHan}\p{IsHiragana}\p{IsKatakana}]"

#: tiny per-language function-word marker sets for the n-gram/stopword
#: heuristic language ID (public-knowledge stopword lists, truncated).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "la", "los", "de", "que", "es"),
}


def _token_sql(text_col: str) -> str:
    """SQL text of the engine word rule over ``text_col`` — for
    callers that bind the token array inside a larger SQL expression
    (shingles, rolling hashes, SimHash)."""
    return f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}', 0)"


def tokens(text_col: str = "text", mode: str = "ascii") -> Column:
    """Token array under the engine token rule. ``mode="ascii"`` is
    the historical ``[a-z0-9]+`` rule (fast, Latin-only — non-Latin
    text mis-tokenizes); ``mode="unicode"`` tokenizes letters+numbers
    in ANY script via ``\\p{L}\\p{N}`` category classes;
    ``mode="script"`` is the whitespace-free-script fallback — Han /
    Hiragana / Katakana characters become ONE TOKEN EACH (the
    standard char-level treatment for unsegmented scripts) while
    every other script keeps the unicode word rule, so mixed
    CJK/Latin text tokenizes sensibly. Route corpora here via
    ``script_profile``'s ``dominant_script``.

    The script split is two portable regex steps (space-isolate CJK
    chars, then the unicode word rule) rather than a class
    INTERSECTION (``&&`` exists in Java regex but not RE2, and
    oracle parity through the DuckDB dialect pair is the contract
    here)."""
    if mode == "ascii":
        return F.expr(_token_sql(text_col))
    if mode == "unicode":
        # F.lit avoids SQL-literal backslash escaping of \p{L}
        return F.regexp_extract_all(
            F.lower(text_col), F.lit(UNICODE_TOKEN_RE), F.lit(0)
        )
    if mode == "script":
        spaced = F.regexp_replace(
            F.col(text_col),
            F.lit("(" + CJK_CHAR_RE + ")"),
            F.lit(" $1 "),
        )
        return F.regexp_extract_all(
            F.lower(spaced), F.lit(UNICODE_TOKEN_RE), F.lit(0)
        )
    raise ValueError(
        f"unknown token mode {mode!r} (ascii|unicode|script)"
    )


def token_count(text_col: str = "text", mode: str = "ascii") -> Column:
    return F.size(tokens(text_col, mode)).cast("bigint")


def add_token_stats(
    df: DataFrame, text_col: str = "text", mode: str = "ascii"
) -> DataFrame:
    """n_tokens, n_uniq_tokens, type-token ratio."""
    t = tokens(text_col, mode)
    return (
        df.withColumn("n_tokens", F.size(t).cast("bigint"))
        .withColumn("n_uniq_tokens", F.size(F.array_distinct(t)).cast("bigint"))
        .withColumn(
            "ttr",
            F.round(
                F.col("n_uniq_tokens")
                / F.nullif(F.col("n_tokens"), F.lit(0)),
                6,
            ),
        )
    )


def add_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap quality features: length, alpha/space/punct ratios, mean
    word length, and a composite keep/drop flag (Gopher-style
    heuristics, simplified)."""
    ln = F.length(text_col).cast("double")
    alpha = F.length(F.regexp_replace(text_col, "[^A-Za-z]", "")).cast(
        "double"
    )
    space = F.length(F.regexp_replace(text_col, "[^ ]", "")).cast("double")
    nt = token_count(text_col)
    return (
        df.withColumn("n_chars_m", ln.cast("bigint"))
        .withColumn("alpha_ratio", F.round(alpha / F.nullif(ln, F.lit(0.0)), 6))
        .withColumn("space_ratio", F.round(space / F.nullif(ln, F.lit(0.0)), 6))
        .withColumn(
            "mean_word_len",
            F.round(
                (ln - space) / F.nullif(nt.cast("double"), F.lit(0.0)), 6
            ),
        )
        .withColumn(
            "quality_keep",
            (nt >= 10)
            & (F.col("alpha_ratio") >= 0.6)
            & (F.col("mean_word_len").between(2.0, 12.0)),
        )
    )


#: The Gopher rule-suite required stopwords (Rae et al. 2021,
#: Appendix A1.1.2): a document must contain at least two of these.
GOPHER_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The full published Gopher quality-rule suite (Rae et al. 2021,
    "Scaling Language Models", Appendix A1.1.2) as per-document
    signals plus the composite ``gopher_keep`` flag:

    - word count in [50, 100 000] ("words" = whitespace-separated
      runs, the paper's definition — NOT the engine token rule);
    - mean word length in [3, 10] characters;
    - hash-symbol/word and ellipsis/word ratios both <= 0.1;
    - <= 90% of (non-blank) lines starting with a bullet character;
    - <= 30% of lines ending with an ellipsis;
    - >= 80% of words containing at least one letter;
    - at least two of the eight required stopwords present.

    Unlike :func:`add_quality` (a simplified heuristic), every rule
    here is the published one, each exposed as its own column so a
    pipeline can re-threshold or ablate rules individually.

    SCOPE — space-delimited text only: every word-based rule here
    inherits the paper's whitespace word definition, so on
    unsegmented scripts (Han/Kana: no spaces) a whole sentence counts
    as ONE "word" and the word-count / word-length gates reject
    systematically. Route corpora by ``script_profile``'s
    ``dominant_script`` (z20) and gate CJK text on script-appropriate
    signals (e.g. character counts over ``tokens(mode="script")``)
    instead of this suite.

    Scale shape: map-only Catalyst expressions — the word and line
    arrays are bound in their own projections and referenced many
    times (which pins the projection boundary, see
    :func:`ngrams_from_tokens`'s perf note), so each split/regexp
    runs once per document. At 100 TB this is one scan, no shuffle.
    """
    words = F.regexp_extract_all(F.lower(text_col), F.lit(r"\S+"), F.lit(0))
    lines = F.split(F.col(text_col), "\n")
    df = (
        df.withColumn("_gw", words)
        .withColumn("_gl", F.filter(lines, lambda l: F.trim(l) != ""))
    )
    n_words = F.size("_gw").cast("bigint")
    n_lines = F.size("_gl").cast("double")
    # mean word length = non-whitespace chars / words (identical to
    # averaging per-word lengths, one regexp instead of a fold)
    n_wchars = F.length(
        F.regexp_replace(F.col(text_col), r"\s", "")
    ).cast("double")
    n_hash = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit("#"), F.lit(0))
    ).cast("double")
    n_ellipsis = F.size(
        F.regexp_extract_all(
            F.col(text_col), F.lit(r"\.\.\.|…"), F.lit(0)
        )
    ).cast("double")
    bullet_lines = F.size(
        F.filter(F.col("_gl"), lambda l: F.trim(l).rlike("^[-*•‣▪]"))
    ).cast("double")
    ellipsis_lines = F.size(
        F.filter(
            F.col("_gl"),
            lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$"),
        )
    ).cast("double")
    alpha_words = F.size(
        F.filter(F.col("_gw"), lambda w: w.rlike("\\p{L}"))
    ).cast("double")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct("_gw"),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("bigint")
    nwd = F.nullif(n_words.cast("double"), F.lit(0.0))
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", F.round(n_wchars / nwd, 6))
        .withColumn("hash_word_ratio", F.round(n_hash / nwd, 6))
        .withColumn("ellipsis_word_ratio", F.round(n_ellipsis / nwd, 6))
        .withColumn(
            "frac_bullet_lines",
            F.round(bullet_lines / F.nullif(n_lines, F.lit(0.0)), 6),
        )
        .withColumn(
            "frac_ellipsis_lines",
            F.round(ellipsis_lines / F.nullif(n_lines, F.lit(0.0)), 6),
        )
        .withColumn("frac_alpha_words", F.round(alpha_words / nwd, 6))
        .withColumn("stop_hits", stop_hits)
    )
    keep = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("hash_word_ratio") <= 0.1)
        & (F.col("ellipsis_word_ratio") <= 0.1)
        & (F.col("frac_bullet_lines") <= 0.9)
        & (F.col("frac_ellipsis_lines") <= 0.3)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("stop_hits") >= 2)
    )
    return out.withColumn(
        "gopher_keep", F.coalesce(keep, F.lit(False))
    ).drop("_gw", "_gl")


#: Gopher repetition-rule thresholds (Rae et al. 2021, Table A1):
#: a document is removed when the signal EXCEEDS its threshold.
GOPHER_REP_THRESHOLDS = {
    "frac_dup_lines": 0.30,
    "frac_dup_paras": 0.30,
    "frac_dup_line_chars": 0.20,
    "frac_dup_para_chars": 0.20,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
    "dup5_char_frac": 0.15,
    "dup6_char_frac": 0.14,
    "dup7_char_frac": 0.13,
    "dup8_char_frac": 0.12,
    "dup9_char_frac": 0.11,
    "dup10_char_frac": 0.10,
}

_GOPHER_REP_FIELDS = tuple(GOPHER_REP_THRESHOLDS)


def _gopher_repetition_signals(text):
    """Pure-Python per-document repetition signals (declared
    semantics; the z27 oracle re-derives them independently):

    - lines/paragraphs = newline / blank-line splits, stripped,
      empties dropped; dup fraction = excess occurrences / total;
      char fraction = chars in excess occurrences / total chars;
    - words = the engine ascii token rule; top-n char fraction
      (n=2..4) = count(most frequent n-gram, ties to the
      lexicographically smallest) x gram chars / total token chars —
      counted only when that gram actually repeats (count >= 2;
      otherwise 0.0: a gram seen once is coverage, not repetition,
      and would auto-fail every short document);
    - dup-n char fraction (n=5..10) = chars of token positions
      covered by any n-gram occurring >= 2 times / total token
      chars (overlaps counted once);
    - fractions round(6); denominators of zero yield None.
    """
    import re
    from collections import Counter

    if text is None:
        return (None,) * len(_GOPHER_REP_FIELDS)

    def _dup_stats(units):
        if not units:
            return None, None
        cnt = Counter(units)
        n = len(units)
        chars = sum(len(u) for u in units)
        excess = sum(c - 1 for c in cnt.values() if c > 1)
        excess_chars = sum(
            (c - 1) * len(u) for u, c in cnt.items() if c > 1
        )
        return (
            round(excess / n, 6),
            None if chars == 0 else round(excess_chars / chars, 6),
        )

    lines = [l.strip() for l in text.split("\n")]
    lines = [l for l in lines if l]
    paras = [p.strip() for p in re.split(r"\n\s*\n", text)]
    paras = [p for p in paras if p]
    fdl, fdlc = _dup_stats(lines)
    fdp, fdpc = _dup_stats(paras)

    toks = re.findall(TOKEN_RE, text.lower())
    total_chars = sum(len(t) for t in toks)
    out = [fdl, fdp, fdlc, fdpc]

    for n in (2, 3, 4):
        if len(toks) < n or total_chars == 0:
            out.append(None)
            continue
        cnt = Counter(
            tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        top = max(cnt.values())
        if top < 2:
            out.append(0.0)
            continue
        gram = min(g for g, c in cnt.items() if c == top)
        out.append(
            round(top * sum(len(t) for t in gram) / total_chars, 6)
        )
    for n in (5, 6, 7, 8, 9, 10):
        if len(toks) < n or total_chars == 0:
            out.append(None)
            continue
        grams = [
            tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]
        cnt = Counter(grams)
        covered: set[int] = set()
        for i, g in enumerate(grams):
            if cnt[g] >= 2:
                covered.update(range(i, i + n))
        out.append(
            round(
                sum(len(toks[j]) for j in covered) / total_chars, 6
            )
        )
    return tuple(out)


def gopher_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The published Gopher repetition-rule suite (Rae et al. 2021,
    Table A1) — the other half of the filter whose quality half is
    :func:`gopher_rules`: duplicate line/paragraph fractions (count
    and character), top-{2,3,4}-gram character fractions, and
    duplicated-{5..10}-gram character coverage, plus the composite
    ``gopher_rep_keep`` flag (drop when any signal exceeds its Table
    A1 threshold; signals that cannot fire — short docs — pass).

    One Arrow-batched ``pandas_udf`` returning all thirteen signals
    as a struct: nine different gram sizes over the same token
    stream make Catalyst higher-order folds interpreted AND
    re-derive the tokenization per size (the SCALING.md §3 lambda
    rules), so a single per-document Python pass with dict counters
    is both the faster and the simpler form — the sanctioned Arrow
    case. Map-only, no model state, embarrassingly parallel: at
    100 TB this is one scan, no shuffle.

    SCOPE: the n-grams are over whitespace words (the paper's
    definition) — on unsegmented scripts a document is one giant
    "word", so the duplicate-gram signals never fire; route CJK
    corpora per :func:`gopher_rules`' scope note.
    """
    from pyspark.sql.functions import pandas_udf

    fields = _GOPHER_REP_FIELDS

    @pandas_udf(
        "struct<" + ",".join(f"{f}:double" for f in fields) + ">"
    )
    def _rep(s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_gopher_repetition_signals(x) for x in s], columns=fields
        )

    df = df.withColumn("_grep", _rep(F.col(text_col)))
    for f in fields:
        df = df.withColumn(f, F.col(f"_grep.{f}"))
    keep = F.lit(True)
    for f, thr in GOPHER_REP_THRESHOLDS.items():
        keep = keep & (F.coalesce(F.col(f), F.lit(0.0)) <= thr)
    return df.withColumn(
        "gopher_rep_keep",
        F.when(F.col(text_col).isNull(), F.lit(False)).otherwise(keep),
    ).drop("_grep")


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2): keep
    only lines that (after trimming) end in a terminal punctuation
    mark (``. ! ? "``), contain at least ``min_words`` words
    (paper: 3), and do not mention "javascript"; then gate the
    document on the cleaned text — drop pages with fewer than
    ``min_sentences`` sentences (paper: 5; approximated as
    terminal-punctuation marks in the kept text, declared semantics),
    pages containing the placeholder phrase "lorem ipsum", and pages
    containing a curly brace. The thresholds default to the published
    §2.2 constants and are parameters for deliberate deviation.

    SCOPE: the per-line word count splits on whitespace and the
    sentence gate counts ``.!?`` marks — both assumptions of
    space-delimited, Western-punctuated text (C4 is an
    English-corpus recipe). CJK text uses ideographic punctuation
    and no spaces, so route it per :func:`gopher_rules`' scope note
    rather than through this filter.

    Emits ``clean_text`` (kept lines re-joined), the line/sentence
    counts, and the composite ``c4_keep`` flag. Map-only higher-order
    array expressions — one scan at 100 TB, no shuffle; the line
    array is bound in its own projection (multi-reference pins the
    boundary, see :func:`ngrams_from_tokens`'s perf note).
    """
    kept = F.filter(
        F.split(F.col(text_col), "\n"),
        lambda l: F.trim(l).rlike('[.!?"]$')
        & (
            F.size(
                F.regexp_extract_all(F.trim(l), F.lit(r"\S+"), F.lit(0))
            )
            >= int(min_words)
        )
        & ~F.lower(l).contains("javascript"),
    )
    df = (
        df.withColumn("_c4k", kept)
        .withColumn("clean_text", F.array_join("_c4k", "\n"))
    )
    n_sentences = F.size(
        F.regexp_extract_all(F.col("clean_text"), F.lit("[.!?]"), F.lit(0))
    ).cast("bigint")
    keep = (
        (n_sentences >= int(min_sentences))
        & ~F.lower(text_col).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    return (
        df.withColumn(
            "n_lines",
            F.size(F.split(F.col(text_col), "\n")).cast("bigint"),
        )
        .withColumn("n_kept_lines", F.size("_c4k").cast("bigint"))
        .withColumn("n_sentences", n_sentences)
        .withColumn("c4_keep", F.coalesce(keep, F.lit(False)))
        .drop("_c4k")
    )


#: Published defaults for :func:`routed_quality` — the Gopher
#: Appendix A1.1.2 gates plus C4 §2.2's five-sentence page gate. A
#: route overrides any subset; an explicit ``None`` DISABLES that
#: rule for the route (the CJK reality: whitespace word rules don't
#: apply — see :func:`gopher_rules`' scope note).
ROUTE_DEFAULTS: dict[str, object] = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_hash_word_ratio": 0.1,
    "max_ellipsis_word_ratio": 0.1,
    "max_frac_bullet_lines": 0.9,
    "max_frac_ellipsis_lines": 0.3,
    "min_frac_alpha_words": 0.8,
    "min_stop_hits": 2,
    "stopwords": list(GOPHER_STOPWORDS),
    "min_sentences": 5,
    "max_ppl": None,
}


def routed_quality(
    df: DataFrame,
    routes: dict[str, dict],
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    lms: dict[str, tuple] | None = None,
    smoothing: str = "wb",
    k: float = 1.0,
) -> DataFrame:
    """Per-language routed quality thresholds — the Dolma
    per-language reality: one corpus, one signal computation, but
    EACH language gates on its own Gopher/C4/LM parameters (German
    compounds push mean word length past the English [3,10] band;
    CJK disables whitespace word rules entirely; each language has
    its own stopword list and its own perplexity model). ``routes``
    maps a language code to parameter overrides of
    :data:`ROUTE_DEFAULTS` (absent key → published default;
    explicit ``None`` → rule disabled for that route; disabling
    ``stopwords`` also disables the DEFAULT ``min_stop_hits`` gate —
    no list means no hits to count — while explicitly setting both
    ``stopwords=None`` and a ``min_stop_hits`` raises at validation).

    Emits the input columns plus the gopher signal columns,
    ``n_sentences`` (C4's cleaned-page sentence count),
    ``route_stop_hits`` (distinct-word hits against the ROUTE'S
    stopword list), ``ppl`` (when the route has an LM), and the
    verdict: ``route_reason`` — the FIRST failing gate in Dolma
    stage order (``unrouted``, ``words``, ``word_len``,
    ``symbols``, ``lines``, ``alpha``, ``stopwords``,
    ``sentences``, ``unscored``, ``perplexity``; null = admitted) —
    and ``routed_keep``. Documents whose language has no route are
    ``unrouted`` (observable, never silently dropped).

    ``lms`` maps language → ``(unigrams, bigrams, meta)`` from
    ``operators.lm.load_bigram_lm``; a route that sets ``max_ppl``
    MUST have a model (validated loudly — a missing model would
    otherwise reject every document of that language as unscored).

    Scale shape: signals are computed ONCE over the corpus
    (map-only Catalyst arrays — :func:`gopher_rules` +
    :func:`c4_line_filter`); the per-language thresholds live in a
    BROADCAST table joined on the language column (including each
    route's stopword array, intersected map-side — the threshold
    config never becomes a CASE-expression per language and never
    collects data); perplexity scoring runs one
    :func:`~topn_spark.operators.lm.perplexity_score` pass per
    LM'd language over that language's DISJOINT subset (model
    broadcast, ≈ one corpus pass total across routes). No
    data-sized shuffle beyond the per-doc LM re-agg."""
    spark = df.sparkSession
    unknown = {
        key
        for cfg in routes.values()
        for key in cfg
        if key not in ROUTE_DEFAULTS
    }
    if unknown:
        raise ValueError(
            f"unknown route parameter(s) {sorted(unknown)!r} "
            f"(valid: {sorted(ROUTE_DEFAULTS)})"
        )
    for g, cfg in routes.items():
        if (
            {**ROUTE_DEFAULTS, **cfg}["max_ppl"] is not None
            and (lms is None or g not in lms)
        ):
            raise ValueError(
                f"route {g!r} sets max_ppl but no LM was supplied "
                "for it (pass lms={lang: load_bigram_lm(...)})"
            )
        # stopwords=None (the CJK "no word rules" config) makes
        # route_stop_hits NULL for every document; an explicit
        # min_stop_hits alongside it would reject the whole language
        # as 'stopwords'. Inconsistent on purpose -> loud; the
        # DEFAULT min_stop_hits is auto-disabled below instead.
        if (
            {**ROUTE_DEFAULTS, **cfg}["stopwords"] is None
            and cfg.get("min_stop_hits") is not None
            and "min_stop_hits" in cfg
        ):
            raise ValueError(
                f"route {g!r} disables stopwords (None) but sets "
                "min_stop_hits — the gate would reject every "
                "document; drop min_stop_hits or supply a list"
            )

    # gopher_keep / stop_hits are the fixed published-constant
    # composites — superseded here by the per-route verdict and the
    # per-route stopword hits, so they are dropped from the surface
    sig = c4_line_filter(gopher_rules(df, text_col), text_col).drop(
        "clean_text", "n_lines", "n_kept_lines", "c4_keep",
        "gopher_keep", "stop_hits",
    )
    sig = sig.withColumn(
        "_rw",
        F.array_distinct(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(r"\S+"), F.lit(0)
            )
        ),
    )
    num_keys = [
        ("min_words", "bigint"),
        ("max_words", "bigint"),
        ("min_mean_word_len", "double"),
        ("max_mean_word_len", "double"),
        ("max_hash_word_ratio", "double"),
        ("max_ellipsis_word_ratio", "double"),
        ("max_frac_bullet_lines", "double"),
        ("max_frac_ellipsis_lines", "double"),
        ("min_frac_alpha_words", "double"),
        ("min_stop_hits", "bigint"),
        ("min_sentences", "bigint"),
        ("max_ppl", "double"),
    ]
    rows = []
    for g, cfg in sorted(routes.items()):
        full = {**ROUTE_DEFAULTS, **cfg}
        if full["stopwords"] is None:
            # no stopword list -> the hits gate is absent, not failed
            full["min_stop_hits"] = None
        rows.append(
            tuple(
                [g]
                + [full[key] for key, _ in num_keys]
                + [
                    None
                    if full["stopwords"] is None
                    else [str(s) for s in full["stopwords"]]
                ]
            )
        )
    schema = (
        "_route_lang string, "
        + ", ".join(f"_r_{key} {t}" for key, t in num_keys)
        + ", _r_stopwords array<string>"
    )
    thr = local_frame(spark, rows, schema)
    joined = sig.join(
        F.broadcast(thr),
        sig[lang_col] == thr["_route_lang"],
        "left",
    ).withColumn(
        "route_stop_hits",
        F.size(F.array_intersect("_rw", "_r_stopwords")).cast(
            "bigint"
        ),
    )

    scored = None
    if lms:
        from topn_spark.operators.lm import perplexity_score

        for g in sorted(lms):
            cfg = routes.get(g)
            if cfg is None:
                continue
            if {**ROUTE_DEFAULTS, **cfg}["max_ppl"] is None:
                continue
            unigrams, bigrams, meta = lms[g]
            part = perplexity_score(
                df.where(F.col(lang_col) == g),
                unigrams,
                bigrams,
                vocab_size=meta["vocab_size"],
                k=k,
                id_col=id_col,
                text_col=text_col,
                mode=meta["token_mode"],
                smoothing=smoothing,
                total_tokens=meta.get("total_tokens"),
            ).select(F.col(id_col).alias("_ppl_id"), "ppl")
            scored = part if scored is None else scored.unionAll(part)
    if scored is not None:
        joined = joined.join(
            scored,
            joined[id_col] == scored["_ppl_id"],
            "left",
        ).drop("_ppl_id")
    else:
        joined = joined.withColumn(
            "ppl", F.lit(None).cast("double")
        )

    def lo(rule: str, col):
        # fails when a lower bound is set and the signal is below it
        # (or null — a null signal can't prove it passes)
        r = F.col(f"_r_{rule}")
        return r.isNotNull() & ~F.coalesce(col >= r, F.lit(False))

    def hi(rule: str, col):
        r = F.col(f"_r_{rule}")
        return r.isNotNull() & ~F.coalesce(col <= r, F.lit(False))

    reason = (
        F.when(F.col("_route_lang").isNull(), F.lit("unrouted"))
        .when(
            lo("min_words", F.col("n_words"))
            | hi("max_words", F.col("n_words")),
            F.lit("words"),
        )
        .when(
            lo("min_mean_word_len", F.col("mean_word_len"))
            | hi("max_mean_word_len", F.col("mean_word_len")),
            F.lit("word_len"),
        )
        .when(
            hi("max_hash_word_ratio", F.col("hash_word_ratio"))
            | hi(
                "max_ellipsis_word_ratio",
                F.col("ellipsis_word_ratio"),
            ),
            F.lit("symbols"),
        )
        .when(
            hi("max_frac_bullet_lines", F.col("frac_bullet_lines"))
            | hi(
                "max_frac_ellipsis_lines",
                F.col("frac_ellipsis_lines"),
            ),
            F.lit("lines"),
        )
        .when(
            lo("min_frac_alpha_words", F.col("frac_alpha_words")),
            F.lit("alpha"),
        )
        .when(
            lo("min_stop_hits", F.col("route_stop_hits")),
            F.lit("stopwords"),
        )
        .when(
            lo("min_sentences", F.col("n_sentences")),
            F.lit("sentences"),
        )
        .when(
            F.col("_r_max_ppl").isNotNull()
            & F.col("ppl").isNull(),
            F.lit("unscored"),
        )
        .when(
            hi("max_ppl", F.col("ppl")), F.lit("perplexity")
        )
    )
    return (
        joined.withColumn("route_reason", reason)
        .withColumn("routed_keep", F.col("route_reason").isNull())
        .drop(
            "_rw",
            "_route_lang",
            "_r_stopwords",
            *[f"_r_{key}" for key, _ in num_keys],
        )
    )


#: Unicode scripts profiled by :func:`script_profile`, in tie-break
#: priority order. Java regex spells them \p{IsX}; RE2 (the DuckDB
#: oracle dialect) \p{X} — counts verified identical.
SCRIPT_CLASSES = ("Latin", "Cyrillic", "Han", "Greek", "Arabic")


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode-script character profile — the
    corpus-routing signal in front of language-specific pipelines
    (which tokenizer, which langid model, which quality rules): adds
    ``n_latin/n_cyrillic/n_han/n_greek/n_arabic`` (characters in each
    script), ``n_digit`` (decimal digits, any script), and
    ``dominant_script`` (argmax, ties broken in SCRIPT_CLASSES order,
    ``und`` when no profiled script appears). Pure Catalyst
    ``regexp_replace`` length counts — map-only, codegen'd, no UDF;
    built as separate projections per the url_features lesson so the
    text expression is never tree-duplicated."""
    out = df
    for name in SCRIPT_CLASSES:
        out = out.withColumn(
            f"n_{name.lower()}",
            F.length(
                F.regexp_replace(text_col, rf"[^\p{{Is{name}}}]", "")
            ).cast("bigint"),
        )
    out = out.withColumn(
        "n_digit",
        F.length(F.regexp_replace(text_col, r"[^\p{Nd}]", "")).cast(
            "bigint"
        ),
    )
    counts = [F.col(f"n_{n.lower()}") for n in SCRIPT_CLASSES]
    best = F.greatest(*counts)
    dom = F.when(best <= 0, "und")
    for name, c in zip(SCRIPT_CLASSES, counts):
        dom = dom.when(c == best, name.lower())
    return out.withColumn("dominant_script", dom)


def language_scores(
    text_col: str = "text",
    markers: dict[str, tuple[str, ...]] = LANG_MARKERS,
) -> dict[str, Column]:
    """Per-language marker-token hit counts (array filter, JVM-side)."""
    t = tokens(text_col)
    out = {}
    for lang, words in markers.items():
        lits = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(
            F.filter(t, lambda tok: F.array_contains(lits, tok))
        ).cast("bigint")
    return out


def language_id(
    df: DataFrame,
    text_col: str = "text",
    markers: dict[str, tuple[str, ...]] = LANG_MARKERS,
    out_col: str = "lang_pred",
) -> DataFrame:
    """Heuristic language ID: argmax of marker hits, deterministic
    tie-break by marker-dict order, 'und' when nothing hits."""
    scores = language_scores(text_col, markers)
    langs = list(scores)
    for lang in langs:
        df = df.withColumn(f"_hits_{lang}", scores[lang])
    best = F.greatest(*[F.col(f"_hits_{x}") for x in langs])
    pred = F.when(best <= 0, "und")
    for lang in langs:
        pred = pred.when(F.col(f"_hits_{lang}") == best, lang)
    df = df.withColumn(out_col, pred)
    return df.drop(*[f"_hits_{x}" for x in langs])


def normalized_text(text_col: str = "text") -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse all
    non-alphanumeric runs to single spaces, trim."""
    return F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )


def fingerprint(text_col: str = "text") -> Column:
    """Content fingerprint: md5 of the normalized text. Two docs with
    the same fingerprint are near-identical modulo
    punctuation/case/whitespace."""
    return F.md5(normalized_text(text_col))


def compression_signals(
    df: DataFrame,
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compressibility — the classic cheap junk
    detector (used in public pretraining filters alongside the Gopher
    rules): highly repetitive or templated text compresses far below
    natural prose, near-random noise barely compresses at all. Adds
    ``n_bytes`` (UTF-8 length), ``n_zlib_bytes`` (RFC 1950 stream
    length at ``level``), and ``compress_ratio`` (compressed/raw,
    ROUND 6, NULL for empty/null docs).

    Arrow-vectorized ``pandas_udf`` over stdlib ``zlib`` — the
    sanctioned UDF case (no JVM-side zlib expression exists); map-only,
    no model state, embarrassingly parallel. Deterministic for a fixed
    zlib version and level, so the oracle recomputes byte-identical
    lengths.
    """
    import zlib as _zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _nz(s):
        return s.map(
            lambda x: None
            if x is None
            else len(_zlib.compress(x.encode("utf-8"), level))
        )

    nb = F.octet_length(text_col).cast("bigint")
    return (
        df.withColumn("n_bytes", nb)
        .withColumn("n_zlib_bytes", _nz(F.col(text_col)))
        .withColumn(
            "compress_ratio",
            F.round(
                F.col("n_zlib_bytes")
                / F.nullif(F.col("n_bytes").cast("double"), F.lit(0.0)),
                6,
            ),
        )
    )


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """Unicode normalization (NFC/NFD/NFKC/NFKD via the stdlib
    ``unicodedata`` tables) — the canonicalization step in front of
    every hash-based stage: visually identical strings with different
    codepoint sequences (``é`` vs ``e`` + combining acute) would
    otherwise fingerprint, dedup, and shingle apart. Adds ``out_col``
    (default: overwrite ``text_col``).

    Arrow-vectorized scalar ``pandas_udf`` — Spark has no built-in
    normalizer, so this is the sanctioned UDF case; map-only,
    embarrassingly parallel, no model state. NULLs pass through.
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s):
        return s.map(
            lambda x: None
            if x is None
            else unicodedata.normalize(form, x)
        )

    return df.withColumn(out_col or text_col, _norm(F.col(text_col)))


def ngrams_from_tokens(tok_col: str, n: int = 2) -> Column:
    """Adjacent word ``n``-grams (space-joined) over an ALREADY
    MATERIALIZED token-array column. Empty array when the document has
    fewer than ``n`` tokens (guarded: Spark's ``sequence(1, 0)`` would
    count *down*, not return empty).

    Callers must bind the token array in its own projection first
    (``df.withColumn("_toks", tokens(...))``) and pass that column
    name. Inlining the tokenizer expression here would re-run
    ``regexp_extract_all`` for EVERY transform element — expressions
    inside higher-order-function lambdas get no common-subexpression
    elimination, so the inline form is O(tokens²) regexp calls per row
    (measured ~10x wall-clock on the repetition operator); the bound
    column is evaluated once per row, and Catalyst's CollapseProject
    keeps the projection boundary because the column is referenced
    more than once."""
    return F.expr(
        f"if(size({tok_col}) >= {n},"
        f" transform(sequence(1, size({tok_col}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({tok_col}, i, {n}))),"
        f" array())"
    )


def shingles(text_col: str, n: int = 3):
    """Word n-gram shingle array (distinct), as a Catalyst expression.

    Docs with fewer than ``n`` tokens yield an empty array (guarded:
    ``sequence(1, 0)`` would otherwise produce a *descending* [1,0]).

    The tokenizer result is BOUND once as a lambda variable (the
    single-element ``transform(array(toks), t -> ...)`` trick): a
    higher-order-function lambda re-evaluates every outer
    subexpression it references per element, so inlining ``toks``
    into the per-position ``slice`` re-ran the regexp tokenizer once
    per shingle position — O(tokens²) regexp work per document,
    measured 6× slower on the shingle-heavy entries (r14).
    """
    return F.expr(
        f"transform(array({_token_sql(text_col)}), t -> if(size(t) >= {n},"
        f" array_distinct(transform(sequence(1, size(t) - {n - 1}),"
        f" i -> concat_ws(' ', slice(t, i, {n})))),"
        f" array()))[0]"
    )


def add_repetition_signals(
    df: DataFrame, text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style repetition quality signals: the count of the most
    frequent word ``n``-gram and the fraction of all n-gram slots it
    covers (high fraction = boilerplate/spam loops).

    Map-only: the per-document mode is found by sorting the n-gram
    array and scanning runs with a single ``aggregate`` fold —
    O(G log G) per doc, no shuffle, no explode. At 100 TB this keeps
    repetition scoring embarrassingly parallel; the alternative
    (explode + groupBy doc,gram) ships every n-gram through a
    shuffle for a per-document statistic. Tokens and grams are
    materialized in their own projections (see
    :func:`ngrams_from_tokens`'s perf note).
    """
    df = (
        ensure_parallelism(df)
        .withColumn("_toks", tokens(text_col))
        .withColumn("_grams", ngrams_from_tokens("_toks", n))
    )
    grams = F.array_sort(F.col("_grams"))
    # Fold state: (prev gram, current run length, best run length).
    # The fold result and the slot count land in ONE struct column so
    # each is computed exactly once: deriving frac from separate
    # top-level alias columns lets CollapseProject inline the whole
    # fold expression into every referencing column (single-reference
    # aliases are inlined even when expensive) — measured 3x the
    # interpreted-fold work. The struct is referenced three times
    # below, which pins the projection boundary.
    run_max = F.aggregate(
        grams,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    rep = F.struct(
        run_max.alias("cnt"), F.size(F.col("_grams")).cast("long").alias("slots")
    )
    return (
        df.withColumn("_rep", rep)
        .withColumn("top_ngram_cnt", F.col("_rep.cnt"))
        .withColumn("ngram_slots", F.col("_rep.slots"))
        .withColumn(
            "top_ngram_frac",
            F.round(
                F.col("_rep.cnt")
                / F.nullif(F.col("_rep.slots"), F.lit(0)).cast("double"),
                6,
            ),
        )
        .drop("_toks", "_grams", "_rep")
    )


def tfidf_top_terms(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` characteristic terms per group by TF-IDF.

    ``score(term, g) = tf(term in g) * ln(N_docs / df(term))`` with
    ``df`` = number of distinct documents containing the term. Returns
    ``(group, term, score, rn)`` with a deterministic (rounded-score
    DESC, term ASC) ranking — rounding before ranking makes the order
    robust to last-ulp ``ln`` differences across engines.

    Scale shape: one explode, two hash aggregates (both partial+final,
    map-side combined so the shuffle carries distinct terms, not token
    instances), a term-keyed join with the per-term df side (AQE
    broadcasts it when the vocabulary is small; at 100 TB it stays a
    shuffled hash join on already-aggregated distinct terms), one
    broadcast of the single-row corpus size, one window per group.
    No driver-side collect.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(doc_id_col).alias("_doc"),
        F.col(group_col).alias("group"),
        F.explode(tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("group", "term").agg(F.count(F.lit(1)).alias("cnt"))
    docfreq = toks.groupBy("term").agg(
        F.countDistinct("_doc").alias("df")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("cnt")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("group").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("group", "term", "score", "rn")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag of query terms
    (Robertson & Zaragoza 2009): per matching doc,

        score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t) = ln(1 + (N − df + 0.5) / (df + 0.5))   (non-negative RSJ)

    with ``dl`` the doc's token count, ``avgdl``/``N`` corpus stats,
    ``df(t)`` the number of docs containing t. Returns ``(id_col,
    bm25)`` for docs containing ≥1 query term — no top-k cutoff, so
    the row set is exact-membership (float ordering never decides
    inclusion; the caller applies ``topn`` if it wants a cutoff).

    Scale shape: one explode filtered to the query vocabulary before
    the (doc, term) aggregate — the shuffle carries only matching
    term instances; df and the 1-row corpus stats are broadcast
    (vocabulary-sized and scalar); dl is a map-only recount. The only
    libm call is the final ``ln`` — the x94 oracle compares under
    1e-9 relative tolerance for exactly that reason.
    """
    qt = sorted({t.lower() for t in query_terms})
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = (
        toks.where(F.col("term").isin(qt))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = df.select(
        F.col(id_col).alias("id"), token_count(text_col).alias("dl")
    )
    stats = df.agg(
        F.count(F.lit(1)).alias("N"),
        F.avg(token_count(text_col)).alias("avgdl"),
    )
    idf = F.log(
        1 + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(F.sum(contrib).alias("bm25"))
        .withColumnRenamed("id", id_col)
    )


def rolling_hashes(
    text_col: str = "text", window: int = 8, every: int = 4
) -> Column:
    """Winnowing-style rolling fingerprints: xxhash64 of each
    ``window``-token shingle sampled every ``every`` tokens — the
    standard document-fingerprint set for partial-overlap detection."""
    t = _token_sql(text_col)
    # tokens bound once via transform(array(...)) — an inlined t
    # inside the slice lambda re-runs the regexp per position (r14)
    return F.expr(
        f"transform(array({t}), tk -> if(size(tk) >= {window},"
        f" transform(sequence(1, size(tk) - {window - 1}, {every}),"
        f" i -> xxhash64(concat_ws(' ', slice(tk, i, {window})))),"
        f" array()))[0]"
    )


def token_distribution(
    df: DataFrame, by: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group unigram probability distribution:
    ``(by, tok, p)`` with ``p`` summing to 1 within each group.

    Explode + two-phase hash aggregate (map-side combine carries only
    distinct tokens into the shuffle) + a broadcast join against the
    tiny per-group totals — the same shape as ``token_heavy_hitters``.
    """
    cnts = (
        df.select(F.col(by), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(by, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = cnts.groupBy(by).agg(F.sum("c").alias("t"))
    return cnts.join(F.broadcast(totals), by).select(
        by, "tok", (F.col("c") / F.col("t")).alias("p")
    )


def js_divergence_matrix(
    dist: DataFrame, by: str = "source"
) -> DataFrame:
    """Jensen–Shannon divergence (natural log) between every pair of
    group distributions from :func:`token_distribution`:
    ``(s1, s2, js)`` for ``s1 < s2``.

    Distribution-shift detection between corpus slices (sources,
    snapshots, splits). Equi-joins only: the pair list is tiny (G²
    for G groups) and broadcast; exploding each pair into its two
    members aligns the union of the pair's tokens without a theta
    join, then two left joins fetch p and q (COALESCE 0 for tokens
    one side lacks — those contribute ``p·ln 2``). The token-level
    work is O(pairs × union-vocab), partition-parallel, and never
    materializes a dense vocabulary matrix.
    """
    srcs = dist.select(F.col(by).alias("s")).distinct()
    pairs = (
        srcs.alias("a")
        .crossJoin(srcs.alias("b"))
        .where(F.col("a.s") < F.col("b.s"))
        .select(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
    )
    members = pairs.select(
        "s1", "s2", F.explode(F.array("s1", "s2")).alias("_m")
    )
    ut = (
        dist.select(F.col(by).alias("_m"), "tok")
        .join(F.broadcast(members), "_m")
        .select("s1", "s2", "tok")
        .distinct()
    )
    pa = dist.select(F.col(by).alias("s1"), "tok", F.col("p").alias("_p"))
    pb = dist.select(F.col(by).alias("s2"), "tok", F.col("p").alias("_q"))
    v = (
        ut.join(pa, ["s1", "tok"], "left")
        .join(pb, ["s2", "tok"], "left")
        .select(
            "s1",
            "s2",
            F.coalesce("_p", F.lit(0.0)).alias("p"),
            F.coalesce("_q", F.lit(0.0)).alias("q"),
        )
    )
    term = (
        F.when(F.col("p") > 0, F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("q"))))
        .otherwise(F.lit(0.0))
        + F.when(F.col("q") > 0, F.col("q") * F.log(2 * F.col("q") / (F.col("p") + F.col("q"))))
        .otherwise(F.lit(0.0))
    )
    return v.groupBy("s1", "s2").agg((F.sum(term) / 2).alias("js"))


def bigram_fluency(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequency fluency score: for each document, the mean
    corpus count of its word bigrams — a zero-model proxy for n-gram
    LM perplexity (a doc built from common corpus collocations scores
    high; rare/garbled juxtapositions score low). ``(id, n_bigrams,
    fluency)``; docs with < 2 tokens are dropped.

    Two shuffles, both keyed small: (1) bigram -> corpus count (hash
    agg with map-side combine — the classic word-count shape), (2)
    doc-bigram stream joined back to the count table on the bigram
    string, re-aggregated per doc. Bigram frequency is zipf-heavy, so
    at 100 TB the join's hot keys ("of the") are the skew story: AQE
    skew-join split handles the probe side, and the count table
    (unique bigrams, sublinear in corpus size) is often broadcast-
    able after a min-count threshold. The score is SUM(count)/n — one
    bigint/bigint IEEE division, so it hash-matches an exact SQL
    oracle."""
    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_toks")
    ).withColumn("bg", F.explode(ngrams_from_tokens("_toks", 2)))
    grams = toks.select("id", "bg")
    counts = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        grams.join(counts, "bg")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("cnt") / F.count(F.lit(1))).alias("fluency"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_bigrams"),
            F.round("fluency", 6).alias("fluency"),
        )
    )


def cms_token_counts(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    eps: float = 1e-4,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Count–min-sketch point-query estimates for ``terms`` over the
    corpus token stream: ``(term, est)``.

    The sketch is the distributed part: ``count_min_sketch`` is a
    mergeable aggregate (partial sketches merge associatively, the
    same partial+final shape as any hash agg), so one pass over 100 TB
    of tokens yields a ``depth x width`` counter grid of fixed size
    ~``(2/eps) * ln(1/(1-confidence))`` longs — independent of corpus
    size, unlike the exact word-count table. Point queries then read
    the driver-held model (public ``org.apache.spark.util.sketch``
    API), never the data; estimates overshoot by at most ``eps * N``
    with probability ``confidence``. Complements
    ``token_heavy_hitters_approx`` (top-k) with O(1)-memory point
    lookups."""
    sk_row = (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .agg(
            F.count_min_sketch(
                "term", F.lit(eps), F.lit(confidence), F.lit(seed)
            ).alias("sk")
        )
        .collect()[0]
    )
    jvm = df.sparkSession._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sk_row["sk"])
    )
    rows = [(t, int(cms.estimateCount(t))) for t in terms]
    return local_frame(df.sparkSession, rows, "term string, est bigint")


def vocab_oov_rates(
    df: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary build + per-document out-of-vocabulary rate:
    the tokenizer-prep step of a training pipeline. The vocabulary is
    every token appearing in >= ``min_df`` DISTINCT documents; each
    doc then reports ``(id, n_tokens, n_oov, oov_rate)`` — a high OOV
    rate flags garbled/foreign/code-like documents against the corpus
    the tokenizer will be fit on.

    Two aggregations, both map-side combined: (1) token -> distinct-
    doc count (the dedup inside uses (token, doc) as the grouping
    key once — no collect_set), (2) the doc-token stream LEFT-joined
    against the vocabulary (sublinear in corpus size; broadcast-able
    after the min_df cut) and re-aggregated per doc. The OOV rate is
    one bigint/bigint IEEE division — hash-exact cross-engine."""
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    vocab = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
        .select("term", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(vocab, "term", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("_in_vocab").isNull()).alias("n_oov"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.col("n_oov").cast("bigint").alias("n_oov"),
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias(
                "oov_rate"
            ),
        )
    )


def hashed_features(
    df: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature hashing (the hashing trick): bag-of-words folded into
    ``n_buckets`` via a portable md5 bucket hash —
    ``(id, bucket, cnt)`` sparse rows, the vocabulary-free
    featurization for downstream linear models / n-gram classifiers.
    No vocabulary state to build, broadcast, or version: the feature
    space is fixed at ``n_buckets`` forever, which is the whole point
    at 100 TB (contrast ``vocab_oov_rates``). One explode + one
    map-side-combined count agg; md5 (not xxhash64) keeps the bucket
    assignment engine-portable and hash-exact vs the SQL oracle."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("term")), 1, 8), 16, 10
        ).cast("bigint")
        % n_buckets
    ).cast("int")
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .select("id", bucket.alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("id").alias(id_col), "bucket", F.col("cnt")
        )
    )


def duplicate_ngram_coverage(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-passage coverage: the fraction of a
    document's DISTINCT word ``n``-gram shingles that occur in at
    least ``min_docs`` distinct documents corpus-wide. This is the
    doc-removal signal of exact-substring dedup pipelines (Lee et al.
    2022, arXiv:2107.06499, §4 "dedup by document coverage"): a doc
    whose shingles are mostly corpus-duplicated is boilerplate or a
    near-copy even when no single whole-doc hash matches.

    Returns ``(id, n_shingles, dup_shingles, dup_frac)`` for docs with
    >= n tokens; ``dup_frac`` is one IEEE division (engine-exact).

    Scale shape: one explode to the distinct (doc, shingle) stream,
    one count agg keyed by shingle (map-side combined; the shingle
    space IS the shuffle — same discipline as the MinHash family), a
    shingle-keyed join back, and a per-doc agg. Never all-pairs, no
    driver-side state; the duplicated-shingle side could optionally be
    df-capped like ``ngram_jaccard_pairs`` for adversarial corpora.
    """
    dfr = df.where(F.size(tokens(text_col)) >= n)
    # two consumers (the shingle-count agg and the join back) — persist
    # so the tokenize+shingle+explode scan runs once, matching the
    # fan-out convention in dedup.py / dedup_lines
    sh = dfr.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, n)).alias("sh"),
    ).persist()
    counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(counts, "sh")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("n_docs") >= min_docs, 1).otherwise(0)
            ).alias("dup_shingles"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            "dup_shingles",
            (F.col("dup_shingles") / F.col("n_shingles")).alias(
                "dup_frac"
            ),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    window: int = 8,
    min_count: int = 2,
    keep: str = "first",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring deduplication at token-window granularity (Lee
    et al. 2022, arXiv:2107.06499): find every ``window``-token span
    that occurs at least ``min_count`` times corpus-wide and REMOVE
    the duplicated occurrences from the documents — this is the
    removal stage that :func:`duplicate_ngram_coverage` only measures.
    ``keep="first"`` retains the globally first occurrence of each
    duplicated span (the paper's semantics — ordered by
    ``(doc_id, position)``); ``keep="none"`` removes every occurrence.

    Returns ``(id, n_tokens, n_dup_windows, n_removed, clean_text)``:
    the duplicated-window starts per doc, how many token positions
    their (merged, overlapping) spans cover, and the text rebuilt from
    the surviving tokens (space-joined under the engine token rule).

    Scale shape: one posexplode to the (doc, pos, window-hash) stream,
    ONE shuffle keyed by the window hash (a single window pass
    computes both the occurrence count and the global first-occurrence
    rank — no second agg+join), a per-doc agg of removed positions,
    and a join back to the token table. Interval merging and token
    filtering are per-row array expressions (two-arg ``filter``
    lambda over the token index) — never a second pass over the
    corpus. All joins are equi-joins on the hash/doc key; nothing is
    all-pairs and no driver state exists, so the plan is the same at
    100 TB with the window-hash shuffle as the only data-sized cost.
    """
    return _remove_repeated_windows(
        df, tokens(text_col), window, min_count, keep, id_col,
        "n_tokens", "n_dup_windows",
    )


def _remove_repeated_windows(
    df, units, window, min_count, keep, id_col, n_name, dup_name
):
    """The one body of :func:`remove_duplicate_spans` (``units`` =
    tokens) and :func:`remove_duplicate_sentence_spans` (sentences);
    returns ``(id, <n_name>, <dup_name>, n_removed, clean_text)``."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    from pyspark.sql.window import Window

    toks = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("_id"), units.alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .persist()
    )
    starts = F.when(
        F.col("_n") >= window,
        F.sequence(F.lit(0), F.col("_n") - window),
    ).otherwise(F.array().cast("array<int>"))
    occ = toks.select(
        "_id",
        F.explode(starts).alias("pos"),
        F.col("_toks").alias("_t"),
    ).select(
        "_id",
        "pos",
        F.md5(
            F.concat_ws(
                "\x1f", F.slice("_t", F.col("pos") + 1, window)
            )
        ).alias("_h"),
    )
    w_all = Window.partitionBy("_h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ord = Window.partitionBy("_h").orderBy("_id", "pos")
    flagged = occ.select(
        "_id",
        "pos",
        F.count(F.lit(1)).over(w_all).alias("_cnt"),
        F.row_number().over(w_ord).alias("_rn"),
    )
    removed = flagged.where(
        (F.col("_cnt") >= min_count)
        & (F.lit(keep == "none") | (F.col("_rn") > 1))
    )
    per_doc = removed.groupBy("_id").agg(
        F.sort_array(F.collect_list("pos")).alias("_dups")
    )
    joined = toks.join(per_doc, "_id", "left").withColumn(
        "_dups", F.coalesce("_dups", F.array().cast("array<int>"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                "_dups", lambda p: F.sequence(p, p + window - 1)
            )
        )
    )
    out = joined.withColumn("_cov", covered)
    kept_toks = F.filter(
        "_toks", lambda x, i: ~F.array_contains("_cov", i)
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_n").cast("bigint").alias(n_name),
        F.size("_dups").cast("bigint").alias(dup_name),
        F.size("_cov").cast("bigint").alias("n_removed"),
        F.concat_ws(" ", kept_toks).alias("clean_text"),
    )


def bpe_encode_word(word, ranks) -> list[str]:
    """The BPE merge walk over ONE pre-token: split to characters,
    then repeatedly merge the highest-priority adjacent pair from
    ``ranks`` (``{(left, right): rank}``; lower rank wins, leftmost
    occurrence on ties) — Sennrich et al. 2016 application. Shared by
    :func:`apply_bpe` (documents) and the SFT mask expander
    (``sft.bpe_loss_mask``), so subtokenization is bit-identical
    between the pretraining and SFT paths."""
    parts = list(word)
    while len(parts) > 1:
        best, best_i = None, -1
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best is None or r < best):
                best, best_i = r, i
        if best is None:
            break
        parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
    return parts


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_tokens: int = 0,
    mode: str = "ascii",
) -> DataFrame:
    """Apply a byte-pair-encoding merge table (Sennrich et al. 2016)
    to each document: pre-tokenize with the engine word rule
    (``mode="ascii"`` ``[a-z0-9]+`` in-UDF; ``mode="unicode"``
    tokenizes JVM-side with the ``\\p{L}\\p{N}`` classes — Python's
    ``re`` lacks Unicode property classes, so the word split happens
    in Catalyst and the UDF receives the token array), split words to
    characters, then repeatedly merge the highest-priority adjacent
    pair from ``merges`` (list order = rank; leftmost occurrence
    first on rank ties inside a word) — the real
    tokenizer-application step, giving exact trained-tokenizer token
    counts rather than the whitespace/regex proxy of ``token_count``.

    ``mode="byte"`` is GPT-2-style byte-level BPE (Radford et al.
    2019): words come from the unicode rule, then each word's UTF-8
    BYTES become the base symbols — rendered as latin-1 characters
    (the bijective byte<->U+00FF map, the same trick as GPT-2's
    printable byte alphabet), so the merge walk is unchanged. The
    base alphabet is closed (<= 256 symbols), so every string
    tokenizes with ZERO OOV by construction — the pretraining
    standard; ``tokens`` in this mode are byte-rendered strings
    (decode with latin-1 -> UTF-8 to recover text).

    Returns ``(id, n_words, n_bpe_tokens)`` (+ ``tokens`` with the
    first ``keep_tokens`` subwords when requested; ``keep_tokens=-1``
    keeps ALL subwords — the full-array shape a sequence packer
    consumes). One Arrow-batched
    ``mapInPandas`` pass — pure map-only, embarrassingly parallel;
    the merge table rides into tasks as a closure (model state,
    typically 10k-50k pairs). Python-level loop work is proportional
    to total characters, same as any tokenizer service; there is no
    SQL-expressible equivalent, which is exactly why this is a UDF.
    """
    if mode not in ("ascii", "unicode", "byte"):
        raise ValueError(
            f"unknown token mode {mode!r} (ascii|unicode|byte)"
        )
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    return _encode_words(
        df,
        lambda w: bpe_encode_word(w, ranks),
        id_col,
        text_col,
        keep_tokens,
        mode,
        count_col="n_bpe_tokens",
    )


def _byte_render(word):
    """A word's UTF-8 bytes rendered as latin-1 characters, JVM-side:
    the bijective byte <-> U+0000..U+00FF map that byte-level BPE
    (GPT-2) uses as its closed base alphabet."""
    return F.decode(F.encode(word, "UTF-8"), "ISO-8859-1")


def _encode_words(
    df: DataFrame,
    encode,
    id_col: str,
    text_col: str,
    keep_tokens: int,
    mode: str,
    count_col: str,
) -> DataFrame:
    """Shared Arrow pass of the word-level tokenizer appliers
    (:func:`apply_bpe`, :func:`apply_unigram_lm`): split each document
    under the word rule of ``mode``, encode every word with
    ``encode``, and emit ``(id, n_words, <count_col>)`` plus
    ``tokens`` (the first ``keep_tokens`` subwords; -1 keeps all).
    ``mode="ascii"`` splits in the UDF — identical semantics, one
    narrow string column into Arrow instead of a token array;
    ``"unicode"`` splits in Catalyst (Python's ``re`` lacks the
    property classes); ``"byte"`` is the unicode split with each word
    byte-rendered (:func:`_byte_render`)."""
    import re

    token_re = re.compile(TOKEN_RE)
    idt = df.schema[id_col].dataType.simpleString()
    out_cols = f"{id_col} {idt}, n_words long, {count_col} long"
    if keep_tokens:
        out_cols += ", tokens array<string>"

    def _run(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            if mode == "ascii":
                docs = [
                    token_re.findall((t or "").lower())
                    for t in pdf[text_col]
                ]
            else:
                docs = pdf["_words"]
            nw, nt, toks = [], [], []
            for words in docs:
                pieces = []
                n = 0
                for w in words:
                    enc = encode(w)
                    n += len(enc)
                    if keep_tokens and (
                        keep_tokens < 0 or len(pieces) < keep_tokens
                    ):
                        pieces.extend(enc)
                nw.append(len(words))
                nt.append(n)
                if keep_tokens:
                    toks.append(
                        pieces if keep_tokens < 0
                        else pieces[:keep_tokens]
                    )
            data = {id_col: list(pdf[id_col]), "n_words": nw, count_col: nt}
            if keep_tokens:
                data["tokens"] = toks
            yield pd.DataFrame(data)

    if mode == "ascii":
        return df.select(id_col, text_col).mapInPandas(_run, out_cols)
    words = tokens(text_col, "unicode" if mode == "byte" else mode)
    if mode == "byte":
        words = F.transform(words, _byte_render)
    words_col = F.coalesce(
        words, F.array().cast("array<string>")
    ).alias("_words")
    return df.select(id_col, words_col).mapInPandas(_run, out_cols)


def logreg_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    n_iters: int = 40,
    lr: float = 1.0,
    l2: float = 0.0,
    max_groups: int = 200_000,
) -> list[float]:
    """Distributed binary logistic regression by full-batch gradient
    descent — the trainable successor to the :func:`add_quality`
    heuristics (train on a labeled sample, score the corpus). Returns
    ``[w0, w1..wd]`` (intercept first).

    Scale shape (r14): the full-batch gradient depends on the rows
    only through the multiset of ``(x, y)`` vectors, and the shipped
    feature sets are ROUNDED/discrete (quality ratios, hashed
    buckets) — so ONE map-side-combinable ``(features, y) → count``
    aggregate is a sufficient statistic for the entire optimization,
    and all ``n_iters`` sweeps run as driver NumPy on the (bounded)
    distinct-combo table: one corpus pass instead of one per
    iteration (the previous shape paid n_iters sequential jobs over
    a cached projection — 41 scheduler round-trips; at 100 TB,
    input passes ARE the cost model). ``max_groups`` bounds the
    driver state; a feature set with more distinct combos (i.e.
    genuinely continuous features) falls back to the per-iteration
    distributed-aggregate loop, whose task partials stay
    (d+2)-sized. Identical arithmetic either way (zero init, fixed
    lr/iters; float sum order is the only difference, bounded well
    below the 1e-6 oracle tolerance); divergence still RAISES.
    """
    import math

    cols = [F.col(c).cast("double").alias(c) for c in feature_cols]
    data = df.select(*cols, F.col(label_col).cast("double").alias("_y"))
    data = data.where(
        F.lit(True)
        & F.col("_y").isNotNull()
        & sum(
            (F.col(c).isNull().cast("int") for c in feature_cols),
            F.lit(0),
        ).eqNullSafe(0)
    )
    d = len(feature_cols)
    groups = (
        data.groupBy(*feature_cols, "_y")
        .agg(F.count(F.lit(1)).alias("_c"))
        .limit(int(max_groups) + 1)
        .collect()
    )
    if not groups:
        raise ValueError("logreg_train: no complete labeled rows")
    if len(groups) <= int(max_groups):
        import numpy as np

        rows = sorted(
            (
                tuple(float(r[c]) for c in feature_cols)
                + (float(r["_y"]), int(r["_c"]))
                for r in groups
            ),
        )
        X = np.array([r[:d] for r in rows], dtype=np.float64)
        y = np.array([r[d] for r in rows], dtype=np.float64)
        cnt = np.array([r[d + 1] for r in rows], dtype=np.float64)
        n = float(cnt.sum())
        w = np.zeros(d + 1)
        for _ in range(n_iters):
            margin = w[0] + X @ w[1:]
            with np.errstate(over="ignore"):
                resid = 1.0 / (1.0 + np.exp(-margin)) - y
            wres = cnt * resid
            w[0] -= lr * float(wres.sum()) / n
            w[1:] -= lr * ((X.T @ wres) / n + l2 * w[1:])
            if not np.all(np.isfinite(w)):
                raise ArithmeticError(
                    "logreg_train diverged (nan/inf weights) — "
                    "lower lr or standardize features"
                )
        return [float(x) for x in w]

    # continuous-feature fallback: one (d+2)-sized map-side-combined
    # gradient partial per iteration over a cached projection
    data = data.persist()
    n = data.count()
    w = [0.0] * (d + 1)
    try:
        for _ in range(n_iters):
            margin = F.lit(w[0])
            for j, c in enumerate(feature_cols):
                margin = margin + F.lit(w[j + 1]) * F.col(c)
            resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - F.col(
                "_y"
            )
            aggs = [F.sum(resid).alias("g0")] + [
                F.sum(resid * F.col(c)).alias(f"g{j + 1}")
                for j, c in enumerate(feature_cols)
            ]
            g = data.agg(*aggs).collect()[0]
            w[0] -= lr * g["g0"] / n
            for j in range(d):
                w[j + 1] -= lr * (
                    g[f"g{j + 1}"] / n + l2 * w[j + 1]
                )
            if any(math.isnan(x) or math.isinf(x) for x in w):
                raise ArithmeticError(
                    "logreg_train diverged (nan/inf weights) — lower "
                    "lr or standardize features"
                )
    finally:
        data.unpersist()
    return w


def logreg_predict(
    df: DataFrame,
    weights: list[float],
    feature_cols: list[str],
    out_col: str = "prob",
) -> DataFrame:
    """Score with a :func:`logreg_train` model — a pure Catalyst
    expression (sigmoid of the linear form), map-only, codegen'd; the
    d+1 weights ride in the plan as literals."""
    if len(weights) != len(feature_cols) + 1:
        raise ValueError(
            f"{len(weights)} weights for {len(feature_cols)} features "
            "(+1 intercept expected)"
        )
    margin = F.lit(weights[0])
    for j, c in enumerate(feature_cols):
        margin = margin + F.lit(weights[j + 1]) * F.col(c).cast("double")
    return df.withColumn(
        out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    )


#: feature columns train_quality_classifier learns over
QUALITY_FEATURES = ["alpha_ratio", "space_ratio", "mean_word_len"]


def train_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "quality_keep",
    n_iters: int = 40,
    lr: float = 1.0,
) -> tuple[list[float], DataFrame]:
    """The standard pretraining quality pipeline step the heuristics
    in :func:`add_quality` only approximate: featurize, train a
    logistic model against a label column (defaults to distilling the
    Gopher-style ``quality_keep`` flag itself — swap in human or
    LLM-judge labels in production), and score every document.
    Returns ``(weights, scored_df)`` where the scored frame carries
    the rounded quality features plus ``prob``. Rows lacking complete
    features (empty text) are excluded from training and score NULL.
    """
    feat = add_quality(df, text_col)
    w = logreg_train(
        feat, QUALITY_FEATURES, label_col=label_col,
        n_iters=n_iters, lr=lr,
    )
    return w, logreg_predict(feat, w, QUALITY_FEATURES)


def merges_frame(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """A merge table as ``(rank, lhs, rhs)`` rows in rank order."""
    return local_frame(
        spark,
        [(r, a, b) for r, (a, b) in enumerate(merges)],
        "rank int, lhs string, rhs string",
    )


def save_bpe_merges(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist a trained merge table as ``(rank, lhs, rhs)`` parquet
    — the model artifact of the BPE lifecycle (train once on the
    corpus, store, apply from any session/job). Rank order IS the
    merge priority :func:`apply_bpe` consumes. Coalesced to one file:
    merge tables are model-sized (10k-50k rows), not data."""
    art = merges_frame(spark, merges)
    art.coalesce(1).write.mode("overwrite").parquet(path)


def load_bpe_merges(spark, path: str) -> list[tuple[str, str]]:
    """Load a merge table written by :func:`save_bpe_merges`,
    validating that ranks are exactly 0..n-1 (a gapped or duplicated
    rank means a corrupt/partial artifact — applying it would
    silently change every tokenization downstream)."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    ranks = [r["rank"] for r in rows]
    if ranks != list(range(len(rows))):
        raise IOError(
            f"corrupt BPE merge table at {path}: ranks are not "
            f"contiguous 0..{len(rows) - 1}"
        )
    return [(r["lhs"], r["rhs"]) for r in rows]


def _bpe_train_local(
    vocab_rows: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[str, str]]:
    """Sequential Sennrich over a (word, count) vocabulary with the
    classic incremental bookkeeping: a pair→words occurrence index so
    each merge re-segments ONLY the words containing the pair, and a
    lazy max-heap over pair counts (every count change pushes a fresh
    entry; stale entries are discarded on pop by comparing against
    the live counter). Ordering matches the distributed path exactly:
    count desc, then (left, right) asc. O(affected chars) per merge."""
    import heapq
    from collections import Counter, defaultdict

    vocab = dict(vocab_rows)
    segs = {w: list(w) for w in vocab}
    counts: Counter = Counter()
    occ: defaultdict = defaultdict(set)
    for w, c in vocab.items():
        s = segs[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            counts[p] += c
            occ[p].add(w)
    heap = [(-n, a, b) for (a, b), n in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negn, a, b = heapq.heappop(heap)
        if counts.get((a, b), 0) != -negn:
            continue  # stale entry; a fresher one is in the heap
        if -negn < min_pair_count:
            break  # true maximum is below the floor: training done
        pair, merged = (a, b), a + b
        merges.append(pair)
        changed: set = set()
        for w in list(occ[pair]):
            c, s = vocab[w], segs[w]
            # retract the word's current adjacent-pair contributions
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] -= c
                changed.add(p)
            # leftmost-first non-overlapping single-pair merge walk
            out, i, n = [], 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                counts[p] += c
                changed.add(p)
                occ[p].add(w)
        for p in changed:
            n = counts[p]
            if n <= 0:
                counts.pop(p, None)
                occ.pop(p, None)
            else:
                heapq.heappush(heap, (-n, p[0], p[1]))
    return merges


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
    batch_pairs: int = 64,
    vocab_driver_cap: int = 200_000,
    mode: str = "ascii",
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Learn a byte-pair-encoding merge table from a corpus — the
    Sennrich et al. 2016 loop that produces what :func:`apply_bpe`
    consumes. Words come from the engine token rule (``mode="ascii"``
    ``[a-z0-9]+``; ``mode="unicode"`` trains on any script);
    pairs are counted weighted by word frequency, the most frequent
    pair merges first (ties break lexicographically on (left, right)
    — fully deterministic, partitioning-independent), and the vocab
    re-segments. Stops early when no pair reaches ``min_pair_count``.

    **The 100 TB shape has two tiers.** The corpus is always reduced
    distributed-side to a distinct-word frequency table — the only
    pass that ever touches the data, and Heaps'-law-compressed
    relative to it (even web-scale corpora hold ~1e7-1e8 distinct
    ``[a-z0-9]+`` words; a frequency floor shrinks that further).
    Then:

    * vocab ≤ ``vocab_driver_cap``: the merge loop runs ON THE
      DRIVER over the collected (word, count) table — a model-sized
      collect, same class as k-means centroids — using the classic
      incremental algorithm (pair→words occurrence index + lazy
      max-heap; each merge touches only the words containing the
      pair). Thousands of merges cost ZERO Spark jobs, where the
      per-merge-round distributed loop would schedule ~2 jobs each —
      the difference between seconds and hours at n_merges=32k,
      at ANY cluster size, since merge rounds are inherently
      sequential.
    * vocab > ``vocab_driver_cap``: distributed batched rounds over
      the cached vocab table (below). Per-round cost is O(vocab), not
      O(corpus).

    Both tiers produce bit-identical merge tables (the driver loop is
    literally sequential Sennrich; the distributed batch rule is
    proven equivalent below). Pass ``vocab_driver_cap=0`` to force
    the distributed path.

    **Batched rounds, sequential semantics.** A naive loop schedules
    one count + one re-segmentation per merge — 32k merges means 32k
    sequential Spark jobs no matter how many executors exist, which
    was this operator's standing scale weakness. Each round now
    accepts a PREFIX of the rank-ordered pair list (count desc, then
    (lhs, rhs) asc) that is provably what sequential Sennrich would
    have picked one-at-a-time:

    * walk pairs in rank order, accepting while every symbol is
      untouched this round (symbols of accepted pairs AND their
      merged concatenations — a pre-existing symbol equal to a new
      merge's output changes count too);
    * STOP the round's batch at the first candidate that shares a
      symbol — not skip: a sharing pair's count changes once the
      accepted merges apply, and the pairs it spawns can outrank any
      later candidate, so order past that point is unknowable;
    * tie-guard: merges can only spawn pairs with count <= the best
      sharing pair's count ``c_share`` (each spawned pair occurrence
      consumes an occurrence of a sharing pair). A spawned pair that
      TIES an accepted pair's count could win the lexicographic
      tie-break, so trailing accepted pairs with count <= c_share are
      dropped back to the next round (the top pair always stays — it
      is literally sequential's next pick). When the collected window
      (``2*batch_pairs`` rows) was exhausted without meeting a
      sharing pair, the last collected count bounds every uncollected
      pair and serves as c_share; when the window covered ALL pairs
      and none shared, nothing can be spawned at all (a spawned pair
      requires a sharing parent) and the whole batch is safe.

    Disjoint symbols also make the batch's APPLICATION order-free:
    one left-to-right pass per word merges all accepted pairs exactly
    as consecutive leftmost-first single-pair passes would.

    Scale shape: the corpus is read ONCE into a distinct-word
    frequency table (word-count-shaped agg; vocabulary is
    Heaps'-law-compressed relative to text and stays partitioned and
    cached). Every round then touches only that table: one pair
    count agg (map-side combined) + a tiny top-window collect —
    the driver sees a few hundred (pair, count) rows per round, never
    data — + one Arrow-batched re-segmentation map. ``localCheckpoint``
    every ``checkpoint_every`` rounds truncates the growing lineage so
    round r doesn't replan r stages deep. Cost per round is O(vocab),
    not O(corpus), and rounds ≪ merges on natural text — the
    properties that make BPE training feasible at 100 TB (the 100 TB
    is only ever scanned for the initial word count).

    ``stats``, when given a dict, receives ``path`` ("driver" or
    "distributed") and ``rounds`` — the number of scheduled
    count/re-segment Spark rounds actually used (0 on the driver
    path: the merge loop schedules no jobs at all).
    """
    if mode not in ("ascii", "unicode", "byte"):
        raise ValueError(
            f"unknown token mode {mode!r} (ascii|unicode|byte)"
        )
    spark = df.sparkSession
    # word rule follows the engine token mode (ascii default;
    # mode="unicode" trains on any script; mode="byte" is GPT-2-style
    # byte-level BPE: unicode words, then UTF-8 bytes as base
    # symbols, rendered latin-1 so the merge loop — script-agnostic
    # symbol pushing — is unchanged and both tiers stay
    # bit-identical. <= 256 base symbols => zero OOV at application
    # time, by construction. explode projected FIRST (generators
    # can't nest inside expressions).
    base = df.select(
        F.explode(
            tokens(text_col, "unicode" if mode == "byte" else mode)
        ).alias("word")
    )
    if mode == "byte":
        base = base.select(_byte_render("word").alias("word"))
    words = (
        base
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # the empty-string filter is a no-op on Spark 4 but keeps the
        # char split portable: split(word, '') yields a trailing ''
        # element on Spark 3.0-3.3
        .withColumn(
            "seg",
            F.filter(F.split("word", ""), lambda s: s != F.lit("")),
        )
        .persist()
    )
    n_vocab = words.count()  # materialize; corpus never re-read below
    if n_vocab <= vocab_driver_cap:
        # model-sized vocab: exact sequential Sennrich on the driver,
        # zero Spark jobs per merge (see docstring tier rationale)
        vocab_rows = [
            (r["word"], r["cnt"])
            for r in words.select("word", "cnt").collect()
        ]
        words.unpersist()
        merges = _bpe_train_local(vocab_rows, n_merges, min_pair_count)
        if stats is not None:
            stats["path"] = "driver"
            stats["rounds"] = 0
        return merges
    if stats is not None:
        stats["path"] = "distributed"
    # Partition the vocab table to its own size, not the corpus's
    # shuffle width: every round schedules tasks over this table, so a
    # 32-way layout of a few thousand words pays ~rounds x 32 empty
    # tasks of pure overhead. ~100k words/partition keeps round cost
    # proportional to vocab at any scale (1e9-word vocab -> capped at
    # the session's parallelism).
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            int(n_vocab // 100_000) + 1,
        ),
    )
    if parts < num_partitions(words):
        compact = words.repartition(parts).persist()
        compact.count()
        words.unpersist()
        words = compact

    merges: list[tuple[str, str]] = []
    prev = words
    # `pending` is prev's predecessor, kept cached until prev has
    # materialized: the pair-count collect at the top of each round is
    # the ONE job per round — it computes the lazily-persisted prev
    # from the still-cached pending, after which pending can go. (An
    # eager count() per round would double the job count for nothing.)
    pending = None
    window = max(2 * batch_pairs, 16)
    rounds = 0
    while len(merges) < n_merges:
        rows = (
            prev.select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(slice(seg, 1, size(seg) - 1), "
                        "(s, i) -> struct(s AS a, seg[i + 1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(window)
            .collect()
        )
        rounds += 1
        if pending is not None:
            pending.unpersist()
            pending = None
        if not rows or rows[0]["n"] < min_pair_count:
            break
        # greedy prefix of sequential-equivalent merges (see docstring)
        accepted: list[tuple[str, str, int]] = []
        used: set[str] = set()
        c_share = None
        budget = min(batch_pairs, n_merges - len(merges))
        for row in rows:
            a, b, n = row["a"], row["b"], row["n"]
            if n < min_pair_count:
                # unmergeable now; still bounds spawned-pair counts
                c_share = n
                break
            if a in used or b in used or (a + b) in used:
                c_share = n
                break
            if len(accepted) >= budget:
                # budget reached: remaining candidates return next
                # round with unchanged-or-smaller counts; bound ties
                c_share = n
                break
            accepted.append((a, b, n))
            used.update((a, b, a + b))
        else:
            if len(rows) == window:
                # window exhausted without meeting a sharing pair:
                # every uncollected pair counts <= the last seen
                c_share = rows[-1]["n"]
            # else: the window held ALL pairs and none shared a
            # symbol — no pair can be spawned, the batch is safe
        if c_share is not None:
            while len(accepted) > 1 and accepted[-1][2] <= c_share:
                accepted.pop()
        pairmap = {(a, b): a + b for a, b, _ in accepted}
        merges.extend((a, b) for a, b, _ in accepted)

        def _reseg(it, _pm=pairmap):
            for pdf in it:
                out = []
                for seg in pdf["seg"]:
                    s, i, n = [], 0, len(seg)
                    while i < n:
                        m = (
                            _pm.get((seg[i], seg[i + 1]))
                            if i + 1 < n
                            else None
                        )
                        if m is not None:
                            s.append(m)
                            i += 2
                        else:
                            s.append(seg[i])
                            i += 1
                    out.append(s)
                pdf = pdf.copy()
                pdf["seg"] = out
                yield pdf

        nxt = prev.mapInPandas(
            _reseg, "word string, cnt bigint, seg array<string>"
        )
        if rounds % checkpoint_every == 0:
            # truncate lineage; eager, so prev can go immediately
            nxt = nxt.localCheckpoint(eager=True)
            prev.unpersist()
        else:
            nxt = nxt.persist()
            pending = prev
        prev = nxt
    if pending is not None:
        pending.unpersist()
    prev.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return merges


#: engine sentence rule: maximal runs of non-terminator characters
#: plus their trailing .!? terminators — NO lookaround, so the same
#: pattern means the same thing in Java regex (Spark) and RE2 (DuckDB
#: oracles); segments are whitespace-trimmed and empties dropped.
SENTENCE_RE = r"[^.!?]+[.!?]*"


def sentences(text_col: str = "text") -> Column:
    """Sentence array of ``text_col`` under the engine sentence rule
    (see :data:`SENTENCE_RE`). Trimming uses an explicit ``\\s``
    regexp (Spark ``trim`` strips only spaces, and sentences split
    across lines carry leading newlines)."""
    segs = F.regexp_extract_all(
        F.col(text_col), F.lit(SENTENCE_RE), F.lit(0)
    )
    trimmed = F.transform(
        segs,
        lambda s: F.regexp_replace(s, r"^\s+|\s+$", ""),
    )
    return F.filter(trimmed, lambda s: s != "")


def remove_duplicate_sentence_spans(
    df: DataFrame,
    window: int = 3,
    min_count: int = 2,
    keep: str = "first",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The C4 dedup rule (Raffel et al. 2020 §2.2: "we discarded all
    but one of any three-sentence span occurring more than once") —
    the corpus-wide dedup half of the C4 pipeline whose line-rule
    half is :func:`c4_line_filter`. Sentence-granularity sibling of
    :func:`remove_duplicate_spans` (token windows, Lee et al. 2022):
    every ``window``-sentence span occurring >= ``min_count`` times
    corpus-wide loses all occurrences but the globally first
    (``keep="first"``, ordered by (doc_id, position);
    ``keep="none"`` removes every occurrence). Documents are rebuilt
    from the surviving sentences.

    Returns ``(id, n_sentences, n_dup_spans, n_removed, clean_text)``.

    Scale shape — the token-window remover's, through the same
    :func:`_remove_repeated_windows` body: one posexplode to the
    (doc, pos, span-hash) stream, ONE shuffle keyed by the span hash
    (count and global first-occurrence rank in a single window
    pass), a per-doc agg of removed positions, a join back, and
    per-row array rebuilds. No all-pairs, no driver state.
    """
    return _remove_repeated_windows(
        df, sentences(text_col), window, min_count, keep, id_col,
        "n_sentences", "n_dup_spans",
    )


def _unigram_viterbi(word, logp, max_len):
    """Best unigram-LM segmentation of ``word`` under piece log-probs
    ``logp`` — the DP both the trainer's E-step and the applier run.
    DETERMINISM CONTRACT (the z38/z39 oracles re-implement exactly
    this): positions advance left to right; candidate start ``i``
    scans ASCENDING from ``max(0, j - max_len)``, and only a STRICTLY
    better score replaces the incumbent — so on exact float ties the
    LONGEST piece (smallest ``i``) wins. Unsegmentable prefixes
    (possible only if a character is out of vocab) fall back to the
    raw character with a -1e9 penalty, keeping application total."""
    n = len(word)
    dp = [0.0] + [None] * n
    back = [None] * (n + 1)
    for j in range(1, n + 1):
        best, best_i = None, None
        for i in range(max(0, j - max_len), j):
            if dp[i] is None:
                continue
            lp = logp.get(word[i:j])
            if lp is None:
                continue
            s = dp[i] + lp
            if best is None or s > best:
                best, best_i = s, i
        if best is None:
            # OOV character: emit it raw, heavily penalized
            best, best_i = (dp[j - 1] or 0.0) - 1e9, j - 1
        dp[j], back[j] = best, best_i
    out = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


def unigram_lm_train(
    df: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    mode: str = "ascii",
    seed_size: int = 4000,
    max_piece_len: int = 8,
    min_count: int = 2,
    em_iters: int = 2,
    shrink: float = 0.75,
    vocab_driver_cap: int = 200_000,
    stats: dict | None = None,
) -> list[tuple[str, float]]:
    """Train a SentencePiece-style unigram-LM tokenizer (Kudo 2018,
    arXiv:1804.10959) — the deterministic Viterbi hard-EM variant —
    and return the piece table ``[(piece, logprob), ...]`` sorted by
    piece, ready for :func:`apply_unigram_lm`.

    Algorithm (every step deterministic, partitioning-independent —
    the exact contract the z38 oracle re-derives):

    1. DISTRIBUTED: reduce the corpus to the distinct-word frequency
       table under the engine token rule — the only pass that touches
       data, Heaps'-law-compressed relative to it (the same tier-1
       discipline as :func:`bpe_train`). Up to ``vocab_driver_cap``
       distinct words the table is collected and EM runs on the
       driver; BEYOND the cap the word table never leaves the
       cluster: substring seeding becomes one explode + hash agg and
       each E-step is one Arrow segmentation pass + count agg (~1 job
       per EM iteration, a few dozen total — EM iterations are few,
       unlike BPE's 32k sequential merges). Only model-sized results
       (alphabet, top-``seed_size`` pieces, per-piece counts) ever
       reach the driver, and integer count sums are order-independent,
       so BOTH TIERS PRODUCE THE BIT-IDENTICAL TABLE.
    2. Seed: occurrence-weighted counts of every substring of length
       1..``max_piece_len``; vocabulary = ALL single characters (the
       coverage guarantee) + the top ``seed_size`` multi-char pieces
       by (count desc, piece asc) with count >= ``min_count``.
    3. Hard-EM until the vocabulary fits ``vocab_size``: ``em_iters``
       rounds of {Viterbi-segment every word (see
       :func:`_unigram_viterbi` for the tie contract), recount pieces
       weighted by word frequency, re-estimate Laplace probabilities
       ``(c+1)/(T+n)`` (no zero-prob special cases)}, then prune the
       multi-char pieces to ``max(vocab_size - n_chars,
       floor(n_multi * shrink))`` keeping (count desc, piece asc) —
       SentencePiece's shrink schedule with a rank cut standing in
       for its likelihood-loss ranking. ``em_iters`` more rounds
       after the final prune.

    Counts are exact ints and probabilities single IEEE divisions, so
    an independent mirror reproduces the table bit-for-bit.
    """
    if mode not in ("ascii", "unicode"):
        raise ValueError(f"unknown token mode {mode!r} (ascii|unicode)")
    wf = (
        df.select(F.explode(tokens(text_col, mode)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    n_words = wf.count()
    distributed = n_words > vocab_driver_cap
    from collections import Counter

    if not distributed:
        words = [(r["w"], int(r["f"])) for r in wf.collect()]
        words.sort()
        seed: Counter = Counter()
        for w, f in words:
            n = len(w)
            for i in range(n):
                for ln in range(1, min(max_piece_len, n - i) + 1):
                    seed[w[i : i + ln]] += f
        chars = sorted(p for p in seed if len(p) == 1)
        multi_src = seed
    else:
        # tier 2: the word table never leaves the cluster. Substring
        # seeding is one explode + hash agg; only MODEL-SIZED results
        # (alphabet, top-seed_size pieces, per-piece counts) are ever
        # collected. Integer sums are order-independent, so both
        # tiers produce the identical table.
        wf = wf.persist()
        subs = wf.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.length("w")),
                        lambda i: F.transform(
                            F.sequence(
                                F.lit(1),
                                F.least(
                                    F.lit(max_piece_len),
                                    F.length("w") - i + 1,
                                ),
                            ),
                            lambda ln: F.substring(
                                F.col("w"), i, ln
                            ),
                        ),
                    )
                )
            ).alias("p"),
            "f",
        )
        seed_df = (
            subs.groupBy("p").agg(F.sum("f").alias("c")).persist()
        )
        chars = sorted(
            r["p"]
            for r in seed_df.where(F.length("p") == 1).collect()
        )
        top_multi = (
            seed_df.where(
                (F.length("p") > 1) & (F.col("c") >= min_count)
            )
            .orderBy(F.col("c").desc(), F.col("p").asc())
            .limit(seed_size)
            .collect()
        )
        char_rows = seed_df.where(F.length("p") == 1).collect()
        seed = Counter({r["p"]: int(r["c"]) for r in char_rows})
        seed.update({r["p"]: int(r["c"]) for r in top_multi})
        multi_src = seed
        seed_df.unpersist()
    if vocab_size <= len(chars):
        raise ValueError(
            f"vocab_size={vocab_size} <= {len(chars)} mandatory "
            "single-character pieces"
        )
    multi = sorted(
        (
            p
            for p, c in multi_src.items()
            if len(p) > 1 and c >= min_count
        ),
        key=lambda p: (-multi_src[p], p),
    )[:seed_size]
    counts = {p: seed[p] for p in chars}
    counts.update({p: seed[p] for p in multi})
    em_rounds = 0

    def _laplace_logp(cnts):
        import math

        total = sum(cnts.values())
        npieces = len(cnts)
        return {
            p: math.log((c + 1) / (total + npieces))
            for p, c in cnts.items()
        }

    def _estep_distributed(logp, max_len, piece_set):
        def _seg(it):
            import pandas as pd

            for pdf in it:
                out: dict = {}
                for w, f in zip(pdf["w"], pdf["f"]):
                    for p in _unigram_viterbi(w, logp, max_len):
                        if p in piece_set:
                            out[p] = out.get(p, 0) + int(f)
                yield pd.DataFrame(
                    {"p": list(out), "c": list(out.values())}
                )

        return {
            r["p"]: int(r["c"])
            for r in wf.mapInPandas(_seg, "p string, c long")
            .groupBy("p")
            .agg(F.sum("c").alias("c"))
            .collect()
        }

    def _em(cnts, iters):
        nonlocal em_rounds
        for _ in range(iters):
            logp = _laplace_logp(cnts)
            max_len = max(len(p) for p in cnts)
            if distributed:
                got = _estep_distributed(logp, max_len, set(cnts))
                cnts = {p: got.get(p, 0) for p in cnts}
            else:
                new = {p: 0 for p in cnts}
                for w, f in words:
                    for p in _unigram_viterbi(w, logp, max_len):
                        if p in new:
                            new[p] = new[p] + f
                cnts = new
            em_rounds += 1
        return cnts

    while len(counts) > vocab_size:
        counts = _em(counts, em_iters)
        n_multi = len(counts) - len(chars)
        target = max(
            vocab_size - len(chars), int(n_multi * shrink)
        )
        target = min(target, n_multi - 1)
        keep = sorted(
            (p for p in counts if len(p) > 1),
            key=lambda p: (-counts[p], p),
        )[:target]
        counts = {
            p: c
            for p, c in counts.items()
            if len(p) == 1 or p in set(keep)
        }
    counts = _em(counts, em_iters)
    if distributed:
        wf.unpersist()
    if stats is not None:
        stats["n_words"] = n_words
        stats["em_rounds"] = em_rounds
        stats["n_pieces"] = len(counts)
        stats["tier"] = "distributed" if distributed else "driver"
    logp = _laplace_logp(counts)
    return sorted(logp.items())


def apply_unigram_lm(
    df: DataFrame,
    pieces: list[tuple[str, float]],
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_tokens: int = 0,
    mode: str = "ascii",
) -> DataFrame:
    """Tokenize with a trained unigram-LM piece table (the
    :func:`apply_bpe` sibling): per word, the Viterbi-best
    segmentation under the piece log-probs — same DP and tie
    contract as training (:func:`_unigram_viterbi`). Returns
    ``(id, n_words, n_lm_tokens)`` (+ ``tokens`` when requested;
    ``keep_tokens=-1`` keeps ALL pieces — the packer input shape).
    One Arrow ``mapInPandas`` pass; the piece table rides into tasks
    as a closure. Map-only, embarrassingly parallel."""
    if mode not in ("ascii", "unicode"):
        raise ValueError(f"unknown token mode {mode!r} (ascii|unicode)")
    logp = dict(pieces)
    max_len = max((len(p) for p in logp), default=1)
    return _encode_words(
        df,
        lambda w: _unigram_viterbi(w, logp, max_len),
        id_col,
        text_col,
        keep_tokens,
        mode,
        count_col="n_lm_tokens",
    )


def save_unigram_lm(
    spark, pieces: list[tuple[str, float]], path: str
) -> None:
    """Persist a unigram-LM piece table as parquet ``(piece,
    logprob)`` — the artifact discipline of :func:`save_bpe_merges`."""
    art = local_frame(spark, pieces, "piece string, logprob double")
    art.coalesce(1).write.mode("overwrite").parquet(path)


def load_unigram_lm(spark, path: str) -> list[tuple[str, float]]:
    """Load a :func:`save_unigram_lm` artifact; validates columns and
    non-emptiness so a wrong path fails loudly."""
    df = spark.read.parquet(path)
    if set(df.columns) != {"piece", "logprob"}:
        raise ValueError(
            f"{path} is not a unigram-LM artifact ({df.columns})"
        )
    rows = df.collect()
    if not rows:
        raise ValueError(f"{path} holds an empty piece table")
    return sorted((r["piece"], float(r["logprob"])) for r in rows)


#: PII patterns (the Dolma/BigScience public redaction recipe shapes),
#: deliberately RE2-compatible — NO lookaround — so the DuckDB oracle
#: runs the IDENTICAL expressions. Email before IP before phone: an
#: address can embed digit runs a later pattern would misread, so the
#: most-specific pattern claims its span first (documented precedence,
#: mirrored verbatim by the oracle).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "|||EMAIL_ADDRESS|||",
    ),
    (
        "ip",
        r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
        "|||IP_ADDRESS|||",
    ),
    (
        "phone",
        r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}",
        "|||PHONE_NUMBER|||",
    ),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the release-gate stage every public corpus
    ships through (Dolma's postprocess taggers, BigScience ROOTS):
    replace email addresses, IPv4 literals, and phone numbers with
    the standard ``|||EMAIL_ADDRESS|||`` / ``|||IP_ADDRESS|||`` /
    ``|||PHONE_NUMBER|||`` placeholder tokens and count each class.

    Adds ``clean_text`` plus ``n_emails`` / ``n_ips`` / ``n_phones``
    (match counts on the ORIGINAL text, so the accounting a data
    card aggregates is independent of replacement order) and
    ``pii_total``. Patterns apply in :data:`PII_PATTERNS` order —
    email first, so an address's digit runs can't be half-eaten by
    the phone pattern. Regex-only by design (the public-recipe
    baseline); a learned NER pass is a model-scoring stage, not a
    rewrite rule, and composes downstream.

    Scale shape: pure Catalyst ``regexp_replace`` /
    ``regexp_extract_all`` — map-only, codegen'd, no UDF, one scan
    at 100 TB. Each replace is bound in its own sequential
    projection so the (possibly large) text expression is computed
    once, not re-inlined per pattern."""
    out = df
    counts = {}
    for name, pat, _ in PII_PATTERNS:
        counts[name] = F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).cast("bigint")
    cleaned = F.col(text_col)
    for _, pat, token in PII_PATTERNS:
        cleaned = F.regexp_replace(cleaned, pat, token)
        # sequential projection boundary: keep each replace computed
        # once (see url_features' codegen note)
        out = out.withColumn("_pii_tmp", cleaned)
        cleaned = F.col("_pii_tmp")
    return (
        out.withColumnRenamed("_pii_tmp", "clean_text")
        .withColumn("n_emails", counts["email"])
        .withColumn("n_ips", counts["ip"])
        .withColumn("n_phones", counts["phone"])
        .withColumn(
            "pii_total",
            counts["email"] + counts["ip"] + counts["phone"],
        )
    )


def _gpt2_byte_to_unicode() -> dict[int, str]:
    """The GPT-2 byte↔unicode table (Radford et al. 2019 reference
    implementation, public): printable latin bytes map to themselves,
    every other byte shifts into U+0100+ so all 256 symbols are
    visible characters. This is the rendering the interchange FORMAT
    uses; the engine's internal render is plain latin-1
    (:func:`apply_bpe` ``mode="byte"``), so export/import re-map."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


def save_bpe_gpt2(merges: list[tuple[str, str]], path: str) -> None:
    """Export a ``mode="byte"`` merge table in the GPT-2/HuggingFace
    interchange format: ``path/merges.txt`` (``#version: 0.2``
    header, one space-separated merge per line in rank order) and
    ``path/vocab.json`` (token → id; the 256 byte symbols in byte
    order take ids 0–255, each merge's concatenation appends next —
    the layout HF's BPE trainer emits). Symbols re-render from the
    engine's latin-1 byte alphabet to the GPT-2 byte↔unicode table,
    so the artifact drops straight into any GPT-2-compatible
    tokenizer loader. Driver-side file write — the merge table is
    model state (10k–50k pairs), never corpus-sized."""
    import json
    import os

    b2u = _gpt2_byte_to_unicode()

    def render(sym: str) -> str:
        return "".join(b2u[b] for b in sym.encode("latin-1"))

    os.makedirs(path, exist_ok=True)
    with open(
        os.path.join(path, "merges.txt"), "w", encoding="utf-8"
    ) as f:
        f.write("#version: 0.2\n")
        for lhs, rhs in merges:
            f.write(f"{render(lhs)} {render(rhs)}\n")
    vocab: dict[str, int] = {}
    for b in range(256):
        vocab[b2u[b]] = b
    for lhs, rhs in merges:
        tok = render(lhs) + render(rhs)
        if tok not in vocab:
            vocab[tok] = len(vocab)
    with open(
        os.path.join(path, "vocab.json"), "w", encoding="utf-8"
    ) as f:
        json.dump(vocab, f, ensure_ascii=False)


def load_bpe_gpt2(path: str) -> list[tuple[str, str]]:
    """Load a GPT-2-format ``merges.txt`` back into the engine's
    latin-1 byte render — ``save_bpe_gpt2``'s inverse, also the
    import path for any published GPT-2-compatible tokenizer.
    Validates the header and that every symbol round-trips through
    the byte table (a non-byte-level merges file fails loudly)."""
    import os

    u2b = {u: b for b, u in _gpt2_byte_to_unicode().items()}

    def unrender(sym: str) -> str:
        try:
            return bytes(u2b[c] for c in sym).decode("latin-1")
        except KeyError as e:
            raise ValueError(
                f"{path}/merges.txt is not byte-level GPT-2 format: "
                f"symbol {sym!r} holds a non-table character {e}"
            ) from None

    merges = []
    with open(
        os.path.join(path, "merges.txt"), encoding="utf-8"
    ) as f:
        header = f.readline()
        if not header.startswith("#version:"):
            raise ValueError(
                f"{path}/merges.txt has no '#version:' header "
                f"(got {header!r})"
            )
        for line in f:
            line = line.rstrip("\n")
            if not line:
                continue
            lhs, sep, rhs = line.partition(" ")
            if not sep or not rhs:
                raise ValueError(
                    f"unparseable merge line {line!r} in "
                    f"{path}/merges.txt"
                )
            merges.append((unrender(lhs), unrender(rhs)))
    return merges


def save_unigram_hf(
    pieces: list[tuple[str, float]],
    path: str,
    unk_piece: str = "<unk>",
) -> None:
    """Export a :func:`unigram_lm_train` piece table as a
    HuggingFace ``tokenizer.json`` Unigram model — the published
    interchange format (tokenizers library schema: top-level
    ``model`` of ``type: "Unigram"`` whose ``vocab`` is a rank-
    ordered list of ``[piece, logprob]`` pairs, ``unk_id`` indexing
    the unknown piece), so a tokenizer trained in-engine drops into
    any HF-compatible loader — the :func:`save_bpe_gpt2` discipline
    applied to the SentencePiece-style family. The unknown piece
    takes id 0 with logprob 0.0 (it never wins a Viterbi path over
    real pieces); trained pieces follow in sorted order, exactly the
    :func:`load_unigram_lm` contract. Driver-side file write — the
    piece table is model state, never corpus-sized."""
    import json
    import os

    table = sorted((p, float(lp)) for p, lp in pieces)
    if not table:
        raise ValueError("empty piece table")
    if any(p == unk_piece for p, _ in table):
        raise ValueError(
            f"unk piece {unk_piece!r} collides with a trained piece"
        )
    doc = {
        "version": "1.0",
        "truncation": None,
        "padding": None,
        "added_tokens": [],
        "normalizer": None,
        "pre_tokenizer": None,
        "post_processor": None,
        "decoder": None,
        "model": {
            "type": "Unigram",
            "unk_id": 0,
            "vocab": [[unk_piece, 0.0]]
            + [[p, lp] for p, lp in table],
            "byte_fallback": False,
        },
    }
    os.makedirs(path, exist_ok=True)
    with open(
        os.path.join(path, "tokenizer.json"), "w", encoding="utf-8"
    ) as f:
        json.dump(doc, f, ensure_ascii=False)


def load_unigram_hf(path: str) -> list[tuple[str, float]]:
    """Load a HF ``tokenizer.json`` Unigram model back into the
    engine's piece-table shape — :func:`save_unigram_hf`'s inverse,
    also the import path for any published unigram/SentencePiece
    tokenizer in that format. Validates the model type, the vocab
    entry shape, piece uniqueness, and that the ``unk_id`` entry
    exists (then drops it — the engine's Viterbi treats uncovered
    characters explicitly), so a BPE-model or malformed file fails
    loudly rather than segmenting garbage."""
    import json
    import os

    with open(
        os.path.join(path, "tokenizer.json"), encoding="utf-8"
    ) as f:
        doc = json.load(f)
    model = doc.get("model")
    if not isinstance(model, dict) or model.get("type") != "Unigram":
        raise ValueError(
            f"{path}/tokenizer.json is not a Unigram model "
            f"(model.type={None if not isinstance(model, dict) else model.get('type')!r})"
        )
    vocab = model.get("vocab")
    if not isinstance(vocab, list) or not vocab:
        raise ValueError(f"{path}/tokenizer.json has no vocab list")
    unk_id = model.get("unk_id")
    pieces = []
    for i, entry in enumerate(vocab):
        if (
            not isinstance(entry, (list, tuple))
            or len(entry) != 2
            or not isinstance(entry[0], str)
            or not isinstance(entry[1], (int, float))
        ):
            raise ValueError(
                f"vocab entry {i} is not [piece, logprob]: {entry!r}"
            )
        if i == unk_id:
            continue
        pieces.append((entry[0], float(entry[1])))
    if unk_id is not None and not (
        isinstance(unk_id, int) and 0 <= unk_id < len(vocab)
    ):
        raise ValueError(f"unk_id {unk_id!r} outside vocab")
    if not pieces:
        raise ValueError(f"{path}/tokenizer.json holds only unk")
    if len({p for p, _ in pieces}) != len(pieces):
        raise ValueError(f"duplicate pieces in {path}/tokenizer.json")
    return sorted(pieces)


def save_logreg(
    spark, weights: list[float], feature_cols: list[str], path: str
) -> None:
    """Persist a trained :func:`logreg_train` model as a reusable
    artifact: ``(idx, feature, weight)`` parquet with the intercept
    at idx 0 — the save_bigram_lm/save_langid discipline applied to
    the quality classifier (train once on labels, gate any
    corpus/stream). Row order IS the feature order
    :func:`logreg_predict` consumes."""
    if len(weights) != len(feature_cols) + 1:
        raise ValueError(
            f"{len(weights)} weights for {len(feature_cols)} "
            "features (+1 intercept expected)"
        )
    rows = [(0, "__intercept__", float(weights[0]))] + [
        (i + 1, c, float(w))
        for i, (c, w) in enumerate(zip(feature_cols, weights[1:]))
    ]
    art = local_frame(spark, rows, "idx int, feature string, weight double")
    art.coalesce(1).write.mode("overwrite").parquet(path)


def load_logreg(spark, path: str) -> tuple[list[float], list[str]]:
    """Load a :func:`save_logreg` artifact → ``(weights,
    feature_cols)``. Validates the schema and the idx-0 intercept so
    a wrong path fails loudly, not as a silently mis-ordered dot
    product."""
    table = spark.read.parquet(path)
    if set(table.columns) != {"idx", "feature", "weight"}:
        raise ValueError(f"{path} is not a logreg artifact")
    rows = sorted(table.collect(), key=lambda r: r["idx"])
    if (
        not rows
        or rows[0]["idx"] != 0
        or rows[0]["feature"] != "__intercept__"
        or [r["idx"] for r in rows] != list(range(len(rows)))
    ):
        raise ValueError(f"{path} is not a logreg artifact")
    return (
        [float(r["weight"]) for r in rows],
        [r["feature"] for r in rows[1:]],
    )


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2, 3),
    mode: str = "ascii",
) -> DataFrame:
    """Lexical-diversity report — the repetitiveness release metric
    (distinct-n-gram ratios; the published form of "this corpus is
    templated" evidence, the corpus-level dual of the per-document
    Gopher repetition rules): per ``n``, the TOTAL n-gram instance
    count, the DISTINCT n-gram count, and ``distinct_ratio``
    (ROUND 6) — a low ratio at n=2/3 means the corpus repeats
    phrasing wholesale, the signal boilerplate/spam floods show up
    in even after per-document filters pass.

    Scale shape: tokens materialize ONCE per document (the
    ngrams_from_tokens projection-binding rule), every requested
    ``n`` builds its tagged gram array from that same bound column,
    and ONE explode feeds ONE hash aggregate keyed by ``n`` with
    count + exact count(DISTINCT md5(gram)) — grams hash to 16-byte
    digests before the distinct shuffle. Exact distinct is the only
    shuffle-sized term (same class as decontamination's gram
    stream); for a cheaper approximate form at extreme scale, swap
    ``approx_count_distinct`` (the z42 HLL path) — this operator
    keeps the exact, oracle-checkable form."""
    from topn_spark.operators.textstats import (  # self, explicit
        ngrams_from_tokens,
        tokens,
    )

    if not ns or any(int(n) < 1 for n in ns):
        raise ValueError(f"ns must be positive ints, got {ns!r}")
    bound = df.select(tokens(text_col, mode).alias("_toks"))

    def _tag(n: int) -> Column:
        # ONE-arg lambda: a second (even defaulted) parameter makes
        # F.transform treat it as the (element, index) form and feed
        # the INDEX into it
        return F.transform(
            ngrams_from_tokens("_toks", n),
            lambda g: F.struct(
                F.lit(n).cast("bigint").alias("n"),
                F.md5(g).alias("gh"),
            ),
        )

    tagged = F.flatten(F.array(*[_tag(int(n)) for n in ns]))
    exploded = bound.select(F.explode(tagged).alias("_t")).select(
        F.col("_t.n").alias("n"), F.col("_t.gh").alias("gh")
    )
    return (
        exploded.groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total_ngrams"),
            F.countDistinct("gh").cast("bigint").alias(
                "distinct_ngrams"
            ),
            F.round(
                F.countDistinct("gh") / F.count(F.lit(1)), 6
            ).alias("distinct_ratio"),
        )
        .orderBy("n")
    )


def corpus_divergence(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    mode: str = "ascii",
) -> DataFrame:
    """Unigram-distribution divergence between two corpora — the
    release-card "how far did the data shift?" number (compare a new
    corpus snapshot against the previous release, a candidate source
    against the accepted mixture, or train vs eval distributions):
    ONE row with token/vocab totals per side, the shared-vocab count,
    and the Jensen–Shannon divergence between the two unigram
    distributions (JS, natural log: ``0.5*KL(p||m) + 0.5*KL(q||m)``
    with ``m = (p+q)/2`` — symmetric, bounded by ln 2, and defined
    even where one side's probability is zero, which is exactly the
    case KL alone cannot handle across different vocabularies).

    Scale shape: one map-side-combinable unigram hash agg per corpus
    (the word-count shape, output = vocabulary, sublinear in corpus
    size), a model-sized FULL OUTER join on the token key, and one
    global agg of the per-token JS contributions. The only driver
    state is the two total-token scalars (the same model-sized-
    collect budget as the LM vocab sizes). Each per-corpus count
    frame is ``persist()``-ed around the total-token collect so the
    corpus is scanned ONCE per side — without it the full-outer join
    would recompute both unigram aggs from the raw corpora; the
    cached frames are vocabulary-sized (evictable LRU cache, never
    corpus-sized).
    """
    def counts(df):
        return (
            df.select(F.explode(tokens(text_col, mode)).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
            .persist()
        )

    ca, cb = counts(a), counts(b)
    na = ca.agg(F.sum("c")).collect()[0][0] or 0
    nb = cb.agg(F.sum("c")).collect()[0][0] or 0
    j = ca.select("w", F.col("c").alias("_ca")).join(
        cb.select("w", F.col("c").alias("_cb")), "w", "full_outer"
    )
    p = F.coalesce("_ca", F.lit(0)).cast("double") / F.lit(
        float(max(na, 1))
    )
    q = F.coalesce("_cb", F.lit(0)).cast("double") / F.lit(
        float(max(nb, 1))
    )
    m = (p + q) / 2
    # 0*ln(0/m) = 0 by convention: guard each side's term
    contrib = F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    return j.agg(
        F.lit(int(na)).cast("bigint").alias("n_tokens_a"),
        F.lit(int(nb)).cast("bigint").alias("n_tokens_b"),
        F.sum(F.col("_ca").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("vocab_a"),
        F.sum(F.col("_cb").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("vocab_b"),
        F.sum(
            (F.col("_ca").isNotNull() & F.col("_cb").isNotNull()).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("vocab_shared"),
        F.sum(contrib).alias("js_divergence"),
    )


def table_signals(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Table-/data-dump detection signals — the quality-routing rule
    for documents that are mostly NUMBERS or grid markup (price
    lists, CSV dumps, sports tables: prose filters mis-score them
    and most pretraining recipes either drop or route them to a
    dedicated pipeline): per row, ``digit_ratio`` (digit chars /
    chars, ROUND 6), ``n_pipes`` / ``n_tabs`` (grid separators),
    ``numeric_line_frac`` (fraction of non-empty lines starting
    with a digit, ROUND 6) and the OR-combined ``table_like`` flag
    (digit_ratio >= 0.25, or >= 10 pipes, or half the lines
    numeric). NULL/empty text keeps NULL signals.

    Scale shape: codegen'd regexp/length/split arithmetic — map-only,
    no UDF; mirrors into DuckDB string ops (z108).
    """
    c = F.col(text_col)
    n_chars = F.length(c)
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    digit_ratio = F.round(
        digits.cast("double")
        / F.nullif(n_chars.cast("double"), F.lit(0.0)),
        6,
    )
    n_pipes = (
        n_chars - F.length(F.replace(c, F.lit("|"), F.lit("")))
    ).cast("bigint")
    n_tabs = (
        n_chars - F.length(F.replace(c, F.lit("\t"), F.lit("")))
    ).cast("bigint")
    lines = F.filter(
        F.split(c, "\n"), lambda ln: F.length(F.trim(ln)) > 0
    )
    numeric_lines = F.filter(
        lines,
        lambda ln: F.substring(F.ltrim(ln), 1, 1).rlike("^[0-9]$"),
    )
    numeric_line_frac = F.round(
        F.size(numeric_lines).cast("double")
        / F.nullif(F.size(lines).cast("double"), F.lit(0.0)),
        6,
    )
    present = c.isNotNull() & (n_chars > 0)
    out = (
        df.withColumn("digit_ratio", F.when(present, digit_ratio))
        .withColumn("n_pipes", F.when(present, n_pipes))
        .withColumn("n_tabs", F.when(present, n_tabs))
        .withColumn(
            "numeric_line_frac", F.when(present, numeric_line_frac)
        )
    )
    return out.withColumn(
        "table_like",
        F.when(
            present,
            (F.coalesce(F.col("digit_ratio"), F.lit(0.0)) >= 0.25)
            | (F.col("n_pipes") >= 10)
            | (
                F.coalesce(F.col("numeric_line_frac"), F.lit(0.0))
                >= 0.5
            ),
        ),
    )
