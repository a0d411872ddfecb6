"""Character-n-gram Naive-Bayes language identification, trained
in-engine — the real langid stage in front of language-routed corpus
pipelines (which tokenizer, which quality rules, which mixture
weight), replacing marker-stopword heuristics that only work for a
handful of space-delimited Latin languages.

The model is the public-knowledge TextCat / langid.py family
(Cavnar & Trenkle 1994; Lui & Baldwin 2012): character 1..n-gram
count profiles per language, scored as multinomial Naive Bayes with
Laplace smoothing

    score(doc, L) = ln P(L) + sum_g c_g(doc) * ln P(g | L)
    P(g | L)      = (c(g, L) + 1) / (total(L) + V)

with one shared OOV bucket (the +1 in ``V = |model grams| + 1``)
so unseen grams stay finite and scoring never special-cases. Char
n-grams work where word rules cannot: no whitespace assumption, so
CJK and other unsegmented scripts classify exactly like Latin ones.

Distributed shape (same as ``operators/lm.py``): TRAINING is one
hash agg keyed by (lang, gram) — map-side combined, output bounded
by the char-n-gram vocabulary (≤ |charset|^n, zipf-truncatable with
``min_count``), sublinear in corpus size; the per-language totals
and priors are model-sized aggregates. SCORING is one explode to the
per-doc gram stream, a broadcast join against the (pivoted,
model-sized) gram table, and a per-doc re-agg — no all-pairs
anything, no driver-side data. The model rides to executors as a
broadcast table; at 100 TB the only data-sized pass is the gram
explode+agg, the classic word-count shape.

Engine-exactness: counts are exact ints; per-gram log-probabilities
are one IEEE division + one libm ``log``, and per-doc sums are
float adds in plan-dependent order — scores are mirror-checked
under relative tolerance (the z45 catalog entry), never
hash-compared; predicted labels are argmax over planted fixtures
with margins far above float noise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from topn_spark.plans import local_frame

__all__ = [
    "char_array",
    "char_ngrams",
    "char_ngrams_from_chars",
    "train_langid",
    "langid_model_table",
    "langid_score",
    "save_langid",
    "load_langid",
    "update_langid",
]


def char_array(
    text_col: str | Column, lowercase: bool = True
) -> Column:
    """The per-character split a hot-path gram extraction binds in
    its own projection (see :func:`char_ngrams_from_chars`): empty /
    NULL text yields an EMPTY array (``split('', '')`` alone would
    yield ``['']`` — a bogus empty-string gram). Characters are
    UTF-16 code units as Spark's ``split`` produces them — identical
    to code points for all of the BMP (every fixture and oracle
    here); astral-plane text splits surrogate halves."""
    s = F.col(text_col) if isinstance(text_col, str) else text_col
    if lowercase:
        s = F.lower(s)
    return F.when(F.length(s) > 0, F.split(s, "")).otherwise(
        F.array().cast("array<string>")
    )


def char_ngrams_from_chars(
    chars_col: str | Column, n_lo: int = 1, n_hi: int = 3
) -> Column:
    """All character n-grams of sizes ``n_lo..n_hi`` from a
    :func:`char_array` column, concatenated into one array (the
    model's feature stream). Pure Catalyst: one ``transform`` over
    an index ``sequence`` per size, each gram = ``n`` O(1)
    ``element_at`` reads + one concat — O(len) per size per
    document.

    PERF — a Catalyst lambda re-evaluates every non-attribute
    expression it references once PER ELEMENT: pass the char array
    as a projected ATTRIBUTE (as :func:`train_langid` /
    :func:`langid_score` do), never as the ``split`` expression
    itself. The previous ``substring(text, i, n)`` formulation was
    O(len²) per document — UTF8String seeks byte offsets from the
    string start, so gram i cost O(i) — measured 2.4× wall on the
    corpus scoring pass even after attribute-binding the text."""
    if not (1 <= n_lo <= n_hi):
        raise ValueError(f"bad n-gram range [{n_lo}, {n_hi}]")
    ch = (
        F.col(chars_col) if isinstance(chars_col, str) else chars_col
    )
    L = F.size(ch)

    def _gram(n):
        # one-arg lambda REQUIRED: a second parameter would make
        # F.transform bind it to the array index, shadowing n.
        # The when-guard matters: sequence(1, 0) is DESCENDING
        # [1, 0] in Spark, not empty, so short text would emit
        # junk grams without it.
        return F.when(
            L - (n - 1) >= 1,
            F.transform(
                F.sequence(F.lit(1), L - (n - 1)),
                lambda i: F.concat(
                    *[F.element_at(ch, i + k) for k in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    parts = [_gram(n) for n in range(n_lo, n_hi + 1)]
    out = parts[0] if len(parts) == 1 else F.concat(*parts)
    return F.coalesce(out, F.array().cast("array<string>"))


def char_ngrams(
    text_col: str | Column, n_lo: int = 1, n_hi: int = 3,
    lowercase: bool = True,
) -> Column:
    """All character n-grams of sizes ``n_lo..n_hi`` over the
    lowercased text — the one-expression convenience form. Empty /
    NULL text yields an empty array. HOT PATHS must instead project
    :func:`char_array` and call :func:`char_ngrams_from_chars` on
    the attribute (this form's inner split is re-evaluated per
    element by the gram lambdas — fine for config-sized frames,
    quadratic-ish on a corpus)."""
    return char_ngrams_from_chars(
        char_array(text_col, lowercase), n_lo, n_hi
    )


def train_langid(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    n_lo: int = 1,
    n_hi: int = 3,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Train the NB char-n-gram model from a labelled corpus:
    returns ``(counts, classes)`` —

    * ``counts (lang, gram, c)``: exact gram counts per language,
      pruned to ``c >= min_count`` (zipf-tail truncation; pruned
      mass is absorbed by Laplace smoothing at scoring time),
    * ``classes (lang, total, n_docs)``: per-language token total
      (UNPRUNED — it is the denominator) and document count (the
      prior's numerator).

    One hash agg keyed by (lang, gram) over the exploded gram
    stream + one model-sized agg — the word-count shape; output
    cardinality is the char-n-gram vocabulary, sublinear in corpus
    size."""
    grams = df.select(
        F.col(label_col).alias("lang"),
        char_array(text_col).alias("_ch"),
    ).select(
        "lang",
        F.explode(
            char_ngrams_from_chars("_ch", n_lo, n_hi)
        ).alias("gram"),
    )
    full = grams.groupBy("lang", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    classes = full.groupBy("lang").agg(F.sum("c").alias("total"))
    ndocs = df.groupBy(F.col(label_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    classes = classes.join(ndocs, "lang")
    counts = full.where(F.col("c") >= int(min_count))
    return counts, classes


def langid_model_table(
    counts: DataFrame, classes: DataFrame
) -> tuple[DataFrame, dict]:
    """Compile the count tables into the scoring form: a WIDE gram
    table ``(gram, lp_<lang>...)`` of per-language Laplace
    log-probabilities, plus a meta dict with the language list and
    per-language OOV log-prob and log-prior. The pivot is model-sized
    (grams x languages); the language list is collected to the
    driver (a handful of rows — model state, same class as k-means
    centroids)."""
    import math

    cls = {
        r["lang"]: (int(r["total"]), int(r["n_docs"]))
        for r in classes.collect()
    }
    if not cls:
        raise ValueError("empty training set: no languages")
    langs = sorted(cls)
    v = counts.select("gram").distinct().count() + 1  # +1 = OOV
    all_docs = sum(nd for _, nd in cls.values())
    meta = {
        "langs": langs,
        "v": int(v),
        "oov": {
            lang: math.log(1.0 / float(cls[lang][0] + v))
            for lang in langs
        },
        "prior": {
            lang: math.log(float(cls[lang][1]) / float(all_docs))
            for lang in langs
        },
        "totals": {lang: cls[lang][0] for lang in langs},
        "n_docs": {lang: cls[lang][1] for lang in langs},
    }
    wide = counts.groupBy("gram").pivot("lang", langs).agg(
        F.first("c")
    )
    for lang in langs:
        wide = wide.withColumn(
            f"lp_{lang}",
            F.log(
                (F.coalesce(F.col(f"`{lang}`"), F.lit(0)) + F.lit(1.0))
                / F.lit(float(cls[lang][0] + v))
            ),
        )
    model = wide.select(
        "gram", *[f"lp_{lang}" for lang in langs]
    )
    return model, meta


def langid_score(
    docs: DataFrame,
    model: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_lo: int = 1,
    n_hi: int = 3,
    keep_scores: bool = True,
) -> DataFrame:
    """Classify documents under a compiled model:
    ``(id, n_grams, lang_pred [, score_<lang>...])``.

    ``lang_pred`` is the NB argmax (ties broken by language name
    ascending — deterministic); empty documents (no grams) get
    ``und``. Plan: one explode to the per-doc gram stream, a
    broadcast LEFT join on the gram key (unseen grams fall back to
    the per-language OOV bucket), one per-doc re-agg, then a map-only
    prior add + argmax. The n-gram range must match training —
    scoring under a different range silently mis-weights the OOV
    mass, so pass the artifact's own values (see
    :func:`load_langid`)."""
    langs = meta["langs"]
    # char split bound in its own projection so the gram lambdas
    # read an attribute — see char_ngrams_from_chars' PERF note
    grams = docs.select(
        F.col(id_col).alias("_id"),
        char_array(text_col).alias("_ch"),
    ).select(
        "_id",
        F.explode_outer(
            char_ngrams_from_chars("_ch", n_lo, n_hi)
        ).alias("gram"),
    )
    joined = grams.join(F.broadcast(model), "gram", "left")
    aggs = [F.count(F.col("gram")).alias("n_grams")]
    for lang in langs:
        aggs.append(
            F.sum(
                F.coalesce(
                    F.col(f"lp_{lang}"),
                    F.lit(float(meta["oov"][lang])),
                )
            ).alias(f"_s_{lang}")
        )
    per_doc = joined.groupBy("_id").agg(*aggs)
    for lang in langs:
        per_doc = per_doc.withColumn(
            f"score_{lang}",
            F.when(
                F.col("n_grams") > 0,
                F.col(f"_s_{lang}")
                + F.lit(float(meta["prior"][lang])),
            ),
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.when(F.col("n_grams") == 0, F.lit("und"))
    for lang in langs:  # ties: first match in sorted-lang order
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    cols = [
        F.col("_id").alias(id_col),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        pred.alias("lang_pred"),
    ]
    if keep_scores:
        cols.extend(F.col(f"score_{lang}") for lang in langs)
    return per_doc.select(*cols)


def save_langid(
    counts: DataFrame,
    classes: DataFrame,
    path: str,
    n_lo: int = 1,
    n_hi: int = 3,
) -> None:
    """Persist a trained langid model as a reusable artifact:
    ``path/counts``, ``path/classes`` parquet + ``path/meta`` (the
    n-gram range) — train once on labelled seed corpora, classify
    any number of corpora/streams (the same artifact discipline as
    ``save_bigram_lm``)."""
    spark = counts.sparkSession
    counts.write.mode("overwrite").parquet(f"{path}/counts")
    classes.write.mode("overwrite").parquet(f"{path}/classes")
    local_frame(
        spark, [(int(n_lo), int(n_hi))], "n_lo int, n_hi int"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_langid(spark, path: str) -> tuple[DataFrame, dict]:
    """Load a :func:`save_langid` artifact and compile it →
    ``(model, meta)`` ready for :func:`langid_score`; ``meta`` also
    carries the artifact's ``n_lo``/``n_hi`` so scoring uses the
    training gram range. Validates the expected columns so a wrong
    path fails loudly."""
    counts = spark.read.parquet(f"{path}/counts")
    classes = spark.read.parquet(f"{path}/classes")
    meta_rows = spark.read.parquet(f"{path}/meta").collect()
    if (
        set(counts.columns) != {"lang", "gram", "c"}
        or set(classes.columns) != {"lang", "total", "n_docs"}
        or len(meta_rows) != 1
    ):
        raise ValueError(
            f"{path} is not a langid artifact "
            f"(counts={counts.columns}, classes={classes.columns})"
        )
    model, meta = langid_model_table(counts, classes)
    meta["n_lo"] = int(meta_rows[0]["n_lo"])
    meta["n_hi"] = int(meta_rows[0]["n_hi"])
    return model, meta


def update_langid(
    spark,
    path: str,
    new_docs: DataFrame,
    out_path: str,
    text_col: str = "text",
    label_col: str = "lang",
) -> None:
    """Incrementally fold newly-labelled seed documents into a saved
    langid artifact — the :func:`~topn_spark.operators.lm.
    update_bigram_lm` discipline applied to the NB model: gram and
    class count tables are ADDITIVE, so (train A) ⊕ (train B) ==
    train(A ∪ B) exactly; new languages simply appear as new rows.
    Loads the raw count tables from ``path``, counts ``new_docs``
    under the artifact's own gram range, outer-join-sums, and writes
    a fresh artifact at ``out_path`` (never in place — the old
    artifact stays readable until the new one is complete).

    Exactness caveat, as for the LM: additivity holds for UNPRUNED
    count tables (``train_langid(min_count=1)``, the default) —
    prune at scoring time, not before merging."""
    import os

    if os.path.normpath(os.path.abspath(out_path)) == os.path.normpath(
        os.path.abspath(path)
    ):
        raise ValueError(
            f"out_path {out_path!r} is the source artifact itself: "
            "the overwrite would clobber it while the merged plan "
            "still lazily reads it. Write to a fresh path."
        )
    counts = spark.read.parquet(f"{path}/counts")
    classes = spark.read.parquet(f"{path}/classes")
    meta_rows = spark.read.parquet(f"{path}/meta").collect()
    if (
        set(counts.columns) != {"lang", "gram", "c"}
        or set(classes.columns) != {"lang", "total", "n_docs"}
        or len(meta_rows) != 1
    ):
        raise ValueError(f"{path} is not a langid artifact")
    n_lo, n_hi = int(meta_rows[0]["n_lo"]), int(meta_rows[0]["n_hi"])
    new_counts, new_classes = train_langid(
        new_docs, text_col=text_col, label_col=label_col,
        n_lo=n_lo, n_hi=n_hi,
    )
    merged_counts = (
        counts.select("lang", "gram", F.col("c").alias("_a"))
        .join(
            new_counts.select(
                "lang", "gram", F.col("c").alias("_b")
            ),
            ["lang", "gram"],
            "full",
        )
        .select(
            "lang",
            "gram",
            (
                F.coalesce("_a", F.lit(0)) + F.coalesce("_b", F.lit(0))
            ).alias("c"),
        )
    )
    merged_classes = (
        classes.select(
            "lang",
            F.col("total").alias("_ta"),
            F.col("n_docs").alias("_da"),
        )
        .join(
            new_classes.select(
                "lang",
                F.col("total").alias("_tb"),
                F.col("n_docs").alias("_db"),
            ),
            "lang",
            "full",
        )
        .select(
            "lang",
            (
                F.coalesce("_ta", F.lit(0)) + F.coalesce("_tb", F.lit(0))
            ).alias("total"),
            (
                F.coalesce("_da", F.lit(0)) + F.coalesce("_db", F.lit(0))
            ).alias("n_docs"),
        )
    )
    save_langid(merged_counts, merged_classes, out_path, n_lo, n_hi)
