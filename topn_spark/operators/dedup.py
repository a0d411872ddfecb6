"""Deduplication operators for large-scale document pipelines.

All hot-path computation is JVM-side (built-in + higher-order
functions — tokenize/shingle/hash/min are Catalyst expressions, never
row-at-a-time Python), so these scale with executor count. The only
driver-side control flow is the iteration loop of connected
components, which is the standard Spark formulation of an iterative
fixpoint.

100 TB notes per operator are in each docstring. North-star extension
surface per BASELINE.json; the reference implements none of this
(SURVEY.md §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from topn_spark.operators.textstats import (
    _token_sql,
    ngrams_from_tokens,
    shingles,
    tokens,
)
from topn_spark.plans import ensure_parallelism

def dedup_exact(
    df: DataFrame,
    subset: list[str] | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Exact dedup: keep one row per distinct ``subset`` content.

    With ``tiebreak``, keeps the first row by that ordering
    (deterministic); otherwise an arbitrary row (``dropDuplicates``
    semantics — one shuffle, no window).

    Scale: hash-partition shuffle on the content hash; at 100 TB use a
    digest column (md5/xxhash64) as the shuffle key rather than wide
    text columns — done here automatically via ``_dedup_key``.
    """
    cols = subset or df.columns
    key = F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]))
    if tiebreak is None:
        return df.withColumn("_dedup_key", key).dropDuplicates(
            ["_dedup_key"]
        ).drop("_dedup_key")
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in tiebreak])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_size: int = 3,
) -> DataFrame:
    """MinHash signatures: ``(id, sig array<bigint>[num_hashes])``.

    Each hash i is min over shingles of ``xxhash64(i, shingle)`` — a
    seeded 64-bit hash family evaluated entirely in codegen. Docs with
    no shingle (shorter than ``shingle_size`` tokens) get a null sig.

    Scale: narrow map-only job, no shuffle; cost is
    O(rows × shingles × num_hashes) CPU spread over all executors.
    """
    # Explode-then-aggregate, NOT per-row array transforms: Catalyst's
    # CollapseProject re-inlines the tokenizer expression into every
    # hash lambda, turning k array_min(transform(...)) columns into
    # O(tokens² × k) regexp work per row. Exploding materializes each
    # shingle exactly once; the k mins become a map-side partial
    # aggregate (hash each shingle k times, combine to k values/doc
    # before the shuffle).
    sh = shingles(text_col, shingle_size)
    exploded = ensure_parallelism(df.select(id_col, text_col)).select(
        id_col, F.explode(sh).alias("_s")
    )
    sig = exploded.groupBy(id_col).agg(
        F.array(
            *[F.min(F.xxhash64(F.lit(i), "_s")) for i in range(num_hashes)]
        ).alias("sig")
    )
    # docs with no shingle (< shingle_size tokens) vanish in the
    # explode; restore them with a null signature.
    return df.select(id_col).join(sig, id_col, "left")


def lsh_band_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded bucket keys ``(id, band, bhash)`` — the LSH index rows
    behind :func:`lsh_candidate_pairs`, exposed so callers can PERSIST
    the index (batch self-join, or the streaming near-dup store which
    appends these rows per micro-batch and probes them with each new
    batch). One map-only posexplode: ``bands`` rows per signature."""
    return sig_df.where(F.col("sig").isNotNull()).select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        F.slice(
                            "sig", b * rows_per_band + 1, rows_per_band
                        )
                        .cast("array<string>")
                        .cast("string"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bhash"),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: candidate pairs ``(id_a, id_b)`` (id_a < id_b)
    sharing at least one band.

    Bands the signature into ``bands`` slices of ``rows_per_band``
    and hashes each slice; a shared (band_idx, band_hash) bucket makes
    a candidate. Standard S-curve: P(candidate) = 1-(1-s^r)^b for
    Jaccard s.

    Scale: the self-join shuffles on (band_idx, band_hash) — bounded,
    small keys. Huge buckets (boilerplate text) explode quadratically:
    cap them upstream by filtering bucket size before the join
    (``max_bucket`` below).
    """
    # Persist the banded buckets: the self-join consumes them twice,
    # and without a persist each side re-derives the entire upstream
    # signature pipeline (tokenize → shingle → hash → agg) from the
    # raw text — measured 6x slower at sf0.1. At 100 TB use
    # StorageLevel.DISK_ONLY if signatures exceed cluster memory.
    buckets = lsh_band_buckets(sig_df, id_col, bands, rows_per_band).persist()
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_similarity(
    pairs: DataFrame, sig_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Estimated Jaccard per candidate pair: fraction of equal
    signature positions (zip_with + filter, JVM-side)."""
    s = sig_df.where(F.col("sig").isNotNull())
    return (
        pairs.join(
            s.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            s.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq,
                    )
                )
                / F.size("sig_a")
            ).alias("est_jaccard"),
        )
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
) -> DataFrame:
    """End-to-end near-dup pairs: shingle → MinHash → LSH bands →
    bucket join → signature-similarity filter at ``threshold``."""
    rows_per_band = num_hashes // bands
    # One materialization of the signatures feeds three consumers
    # (banding + both sides of the similarity join); persisting here
    # turns four full pipeline evaluations into one.
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_size
    ).persist()
    cand = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    return minhash_similarity(cand, sigs, id_col).where(
        F.col("est_jaccard") >= threshold
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation over an undirected edge list →
    ``(id, component)`` where component is the min id in the cluster.

    Iterative joins with a convergence check — the standard Spark
    fixpoint shape (driver drives iterations, data never leaves
    executors). Converges in O(diameter) rounds; near-dup clusters are
    shallow so this is a handful of rounds in practice. At very large
    scale swap in large-star/small-star (Kiveris et al.) — same
    primitive ops. (Measured at sf0.1: min-label converges in 2
    rounds on the near-dup graph, so round COUNT is not the lever
    there; round COST is — hence the one-materialization-per-round
    shape below.)
    """
    # Checkpoint the edge list once: it is re-joined every iteration,
    # and an unpersisted lineage would re-run the whole upstream
    # pair-generation pipeline (e.g. MinHash-LSH) 2x per round —
    # measured 8x slower at sf0.1 over 4 rounds.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Round 1 fused: labels start as the identity, so the first
    # neighbor-min is just min(dst) per src — one aggregation over
    # edges, no label table, no join. This also materializes the node
    # set (every node appears as a src: edges carry both directions),
    # replacing the initial distinct + two round-1 joins with a
    # single shuffle.
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("component"))
        .withColumnRenamed("src", "id")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter - 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        # ONE materialization per round: the new label and its
        # did-it-change flag are checkpointed together, then the
        # convergence probe reads the checkpointed rows. Counting
        # `changed` on the un-checkpointed join (the previous shape)
        # executed every round's join pipeline twice — measured ~2x
        # per-round cost at sf0.1.
        step = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("nmin", "component")
                ).alias("component"),
                (
                    F.coalesce("nmin", "component") < F.col("component")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = step.where("_changed").limit(1).count()
        labels = step.drop("_changed")
        if changed == 0:
            break
    return labels


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """SimHash fingerprint: ``(id, simhash bigint)``.

    Per-bit majority vote over token hashes, as nested higher-order
    aggregates — map-only, no shuffle, whole-stage codegen. The token
    hashes are materialized ONCE per row into an array column in a
    separate projection; the bit loop then scans that bound column,
    so hashing cost is O(tokens), not O(tokens × bits) (inlining the
    transform into the bit lambda re-hashes every token per bit —
    measured 64x the xxhash64 calls). Zero-token docs get simhash 0.

    Near-dups are pairs within small Hamming distance — bucket by
    rotating bit blocks for search.
    """
    toks = _token_sql(text_col)
    hashed = ensure_parallelism(df.select(id_col, text_col)).select(
        id_col, F.expr(f"transform({toks}, t -> xxhash64(t))").alias("_hs")
    )
    expr = f"""
    aggregate(
      sequence(0, {bits - 1}),
      cast(0 as bigint),
      (acc, j) -> acc + if(
        aggregate(_hs, cast(0 as bigint),
                  (a, h) -> a + if((h >> j) & 1 = 1, 1, -1)) > 0,
        shiftleft(cast(1 as bigint), j),
        cast(0 as bigint)
      )
    )"""
    return hashed.select(id_col, F.expr(expr).alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via PPJoin-style prefix
    filtering (Xiao et al., "Efficient Similarity Joins for Near
    Duplicate Detection", WWW'08).

    Semantics (unchanged from the inverted-index form, mirrored by the
    x27 oracle): emit pairs with ``|A'∩B'| / (|A|+|B|-|A'∩B'|) ≥
    threshold`` where A/B are each doc's distinct shingle sets and
    A'/B' those sets minus shingles appearing in more than
    ``max_gram_df`` docs (the boilerplate cap that bounds bucket
    blowup at scale — part of the operator's declared contract).

    Why prefix filtering: a full inverted-index self-join emits one
    row per shared gram per pair and pays a giant pair-count
    aggregation. Instead, sort each doc's capped grams by a global
    rarest-first order (ascending document frequency, gram as the
    tiebreak) and index only the first ``|A'| - ceil(t·|A'|) + 1``
    grams: since a qualifying pair has ``|A'∩B'| ≥ t·|A'∪B'| ≥
    t·max(|A'|,|B'|)``, the earliest common gram in the global order
    falls inside BOTH prefixes — so joining prefixes alone finds every
    qualifying pair. PPJoin's positional filter prunes inside the
    prefix join itself: a match at prefix positions (i, j) bounds the
    overlap by ``min(|A'|-i, |B'|-j)``, and pairs whose bound cannot
    reach the threshold are dropped before they become verify rows
    (subsumes the length filter; 3.3× fewer candidates at sf0.1).
    Candidates are then verified exactly with one
    JVM ``array_intersect`` per pair instead of a per-gram count
    aggregation. At t=0.5 the indexed volume halves and the join's
    pair stream shrinks roughly quadratically; rarest-first ordering
    concentrates prefixes on low-df grams, keeping buckets tiny.
    Measured same-session on the duplicate-heavy 10x corpus (worst
    case for candidate volume): 33.1 → 24.7 s; sf0.1 is fixed-cost
    dominated (3.96 → 3.73 s). Same oracle output bit-for-bit.

    Grams stay strings end-to-end (exact). At much larger corpora,
    hashing grams to 64-bit before the array stage trades a ~1e-6
    whole-corpus collision chance for ~8x narrower shuffles.
    """
    # Explode in ONE projection straight off the repartition — no
    # intermediate alias/filter referencing the shingle expression
    # (each extra reference re-evaluates the tokenizer; a
    # size()-guard Filter measured 8x slower). Empty shingle arrays
    # simply emit no rows. The exploded index feeds three consumers
    # (per-doc counts, gram document frequencies, the capped array
    # build); persist so tokenize+shingle+explode runs once.
    inv = (
        ensure_parallelism(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("id"),
            F.explode(shingles(text_col, n)).alias("gram"),
        )
        .persist()
    )
    counts = inv.groupBy("id").agg(F.count("*").alias("n_sh"))
    gram_df = inv.groupBy("gram").agg(F.count("*").alias("gdf"))
    # per-doc capped gram arrays in global rarest-first order; feeds
    # the prefix index and both sides of the verification join.
    # n_sh rides along (one int per doc): every doc reaching the
    # candidate join has a capped-gram row, so the verify join can
    # emit the jaccard directly — the two former count-joins at the
    # tail are gone (r15, guide §2.4: two exchanges removed).
    doc_grams = (
        inv.join(gram_df.where(F.col("gdf") <= max_gram_df), "gram")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("gdf", "gram"))),
                lambda s: s["gram"],
            ).alias("grams")
        )
        .join(counts, "id")
        .persist()
    )
    prefix_len = (
        F.size("grams")
        - F.ceil(F.lit(threshold) * F.size("grams")).cast("int")
        + 1
    )
    # The candidate join keys on xxhash64(gram), not the string: the
    # exchange carries 8-byte longs instead of ~n-word grams (§2.3
    # narrower shuffle keys). A collision can only ADD a candidate
    # pair, and every candidate is verified exactly on the full
    # string arrays below — results identical by construction.
    pre = doc_grams.select(
        "id",
        F.size("grams").alias("np"),
        "n_sh",
        F.posexplode(F.slice("grams", F.lit(1), prefix_len)).alias(
            "pos", "g"
        ),
    ).select("id", "np", "n_sh", "pos", F.xxhash64("g").alias("gram"))
    # PPJoin positional filter (r15, guide §3.2 — prune the probe
    # stream before it becomes verify-join rows): prefixes share the
    # same global gram order, so for a match at 0-based positions
    # (pos_a, pos_b) every common gram sits at-or-after both — the
    # overlap is at most ub = min(np_a - pos_a, np_b - pos_b).
    # jaccard = nc/(n_a + n_b - nc) is increasing in nc, so a pair
    # whose UPPER BOUND ub already misses the threshold can never
    # qualify and is dropped inside the join (this subsumes the
    # classic length filter: pos = 0 gives ub = min(np_a, np_b)).
    # Only definite non-matches are removed — results unchanged
    # (oracle-pinned); measured 409k -> 125k candidates at sf0.1.
    a, b = pre.alias("a"), pre.alias("b")
    ub = F.least(
        F.col("a.np") - F.col("a.pos"), F.col("b.np") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                ub / (F.col("a.n_sh") + F.col("b.n_sh") - ub)
                >= F.lit(threshold)
            ),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .distinct()
    )
    return (
        cand.join(
            doc_grams.select(
                F.col("id").alias("id_a"),
                F.col("grams").alias("g_a"),
                F.col("n_sh").alias("sh_a"),
            ),
            "id_a",
        )
        .join(
            doc_grams.select(
                F.col("id").alias("id_b"),
                F.col("grams").alias("g_b"),
                F.col("n_sh").alias("sh_b"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("g_a", "g_b")).alias("n_common"),
            "sh_a",
            "sh_b",
        )
        .where(F.col("n_common") > 0)
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("sh_a") + F.col("sh_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def dedup_against(
    new_df: DataFrame,
    base_df: DataFrame,
    subset: list[str] | None = None,
) -> DataFrame:
    """Cross-corpus exact dedup: rows of ``new_df`` whose ``subset``
    content does NOT already appear in ``base_df`` — the incremental-
    ingest gate a training pipeline runs before admitting a new crawl
    against the existing corpus.

    Planned as a LEFT ANTI join on the md5 content digest, never the
    text: both sides shuffle 16-byte keys (or, when the base digest
    set fits the broadcast threshold, a broadcast anti join with no
    shuffle at all — Catalyst/AQE picks). At 100 TB the base digest
    set is a compact sorted artifact you persist once and reuse per
    ingest batch; pair with ``minhash_dedup_pairs`` for the near-dup
    pass after this exact gate."""
    cols = subset or [c for c in new_df.columns if c in base_df.columns]
    def digest(df: DataFrame):
        return F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                    for c in cols
                ],
            )
        )
    base_keys = base_df.select(digest(base_df).alias("_dedup_key")).distinct()
    return (
        new_df.withColumn("_dedup_key", digest(new_df))
        .join(base_keys, "_dedup_key", "left_anti")
        .drop("_dedup_key")
    )


def lsh_pairs_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs under the PORTABLE md5 MinHash family — the
    x19 catalog query's hash family factored as an operator:
    ``min(md5('<i>:' || shingle))`` per hash slot, band key =
    ``md5(concat(row hashes))``, bucket equi-join, signature-estimated
    Jaccard (fraction of equal slots) at ``threshold``. Returns
    ``(id_a, id_b, est_j)`` with ``id_a < id_b``.

    Use this family when the pair set must be reproducible OUTSIDE
    the JVM (cross-engine audits, the DuckDB oracles, regulatory
    replay): md5 is engine-portable where ``xxhash64``
    (:func:`minhash_dedup_pairs`, the faster production family) is
    Spark-specific. Identical plan shape: shingle explode → keyed
    min-agg → band posexplode → bucket self-join — banded, never
    all-pairs; the md5 evaluation is codegen'd JVM work, just a
    costlier hash per shingle.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide into bands ({bands})"
        )
    rows = num_hashes // bands
    # distinct shingles: a min over the set equals the min over the
    # bag, so the slots match a plain shingle list
    exploded = ensure_parallelism(df.select(id_col, text_col)).select(
        id_col, F.explode(shingles(text_col, shingle_size)).alias("_s")
    )
    # one materialization of the signatures feeds three consumers
    # (banding + both similarity sides), exactly as in
    # minhash_dedup_pairs
    sig = (
        exploded.groupBy(id_col)
        .agg(
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"{j}:"), F.col("_s")))
                ).alias(f"m{j}")
                for j in range(num_hashes)
            ]
        )
        .persist()
    )
    band_rows = sig.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat(
                            *[
                                F.col(f"m{b * rows + r}")
                                for r in range(rows)
                            ]
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("b", "h"),
    )
    cand = (
        band_rows.alias("a")
        .join(
            band_rows.alias("c"),
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.h") == F.col("c.h"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    est = sum(
        F.when(F.col(f"sa.m{j}") == F.col(f"sb.m{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    ) / F.lit(float(num_hashes))
    return (
        cand.join(sig.alias("sa"), F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sig.alias("sb"), F.col("id_b") == F.col(f"sb.{id_col}"))
        .select("id_a", "id_b", est.alias("est_j"))
        .where(F.col("est_j") >= threshold)
    )


def neardup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate collapse keeping the BEST copy: documents
    connected by the near-dup pair graph form a component
    (:func:`connected_components`), and each component keeps its
    highest-``score_col`` member (ties: lowest id — deterministic).
    The refinement over min-id collapse (x31's convention): when a
    page is crawled five times at varying extraction quality, the
    corpus should keep the cleanest copy, not the one with the
    smallest id. Singletons key by their own id and always survive.

    Adds ``component``; one CC fixpoint over the pair graph (edges
    only, never documents), a broadcast-sized component-table left
    join, and one per-component window rank — at 100 TB the window
    partitions by component (bounded group sizes: components ARE
    near-dup clusters), never globally."""
    from pyspark.sql.window import Window

    comp = connected_components(pairs)
    if set(comp.columns) != {"id", "component"}:
        raise ValueError(
            f"connected_components contract changed: {comp.columns}"
        )
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.join(
            comp.select(
                F.col("id").alias("_cc_id"),
                F.col("component").alias("_cc_comp"),
            ),
            df[id_col] == F.col("_cc_id"),
            "left",
        )
        .withColumn(
            "component",
            F.coalesce(F.col("_cc_comp"), F.col(id_col)),
        )
        .drop("_cc_id", "_cc_comp")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def eval_gram_digests(
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    mode: str = "ascii",
) -> DataFrame:
    """Reduce an eval benchmark to its DISTINCT md5'd word-``n``-gram
    set — the benchmark-sized ``(gram_hash)`` frame
    :func:`ngram_decontaminate` joins against. Compute (and persist)
    it ONCE when the same benchmark gates many corpora or every
    micro-batch of a stream (see
    ``streaming.ingest.decontam_corpus_sink``): the gram build is the
    only eval-side work, and it never changes between batches."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    return (
        eval_df.select(tokens(text_col, mode).alias("_toks"))
        .select(F.explode(ngrams_from_tokens("_toks", n)).alias("_g"))
        .select(F.md5("_g").alias("gram_hash"))
        .distinct()
    )


def ngram_decontaminate(
    train: DataFrame,
    eval_df: DataFrame | None,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    mode: str = "ascii",
    min_hits: int = 1,
    action: str = "flag",
    broadcast_eval: bool = True,
    eval_grams: DataFrame | None = None,
    count_col: str = "n_contam_grams",
    flag_col: str = "contaminated",
) -> DataFrame:
    """Benchmark decontamination by ``n``-gram collision — the
    published pretraining-hygiene recipe (GPT-3, Brown et al. 2020
    Appendix C: drop training documents sharing any 13-gram with an
    eval benchmark; PaLM and LLaMA run the same shape at 8–10
    grams): every training document is checked against the
    benchmark's complete word ``n``-gram set, and a document with
    ``>= min_hits`` colliding gram INSTANCES is contaminated.
    Distinct from :func:`dedup_against` (whole-document digest
    equality — misses a benchmark question quoted inside a larger
    page) and from ``leakage_safe_split`` (near-dup clustering
    within one corpus): this is the substring-level gate against an
    EXTERNAL eval set. The diagnostic sibling
    ``pipeline.contamination_check`` reports DISTINCT shared grams
    for contaminated ids only; this operator is the release gate —
    full-frame flag/drop, instance counts, md5'd join keys,
    ``min_hits`` thresholding.

    ``action="flag"`` annotates with ``count_col`` (colliding gram
    instances, default ``n_contam_grams``) and ``flag_col`` (default
    ``contaminated``); ``action="drop"`` returns clean rows in the
    input schema (the release shape). Successive gates against
    DIFFERENT benchmarks compose by renaming the outputs — if either
    output column already exists in the input, this raises rather
    than silently clobbering the earlier pass's verdicts.

    Scale shape: the benchmark side reduces to its DISTINCT md5'd
    gram set — benchmark-sized, never corpus-sized — and
    ``broadcast_eval`` (default) pins it as a broadcast inner join
    against the training gram stream (explode + map-side hash, the
    only data-sized term; one per-doc count agg follows). With a
    corpus-sized "eval" side pass ``broadcast_eval=False`` and the
    collision check becomes an ordinary shuffled equi-join on
    16-byte keys. No token array survives the explode — grams hash
    to md5 before the join.

    ``eval_grams`` short-circuits the eval-side gram build with a
    precomputed :func:`eval_gram_digests` frame (column
    ``gram_hash``) — pass it when one benchmark gates many corpora
    or a stream, so the gram set is built (and persisted) once."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if action not in ("flag", "drop"):
        raise ValueError(f"unknown action {action!r} (flag|drop)")
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    clobber = [c for c in (count_col, flag_col) if c in train.columns]
    if clobber:
        raise ValueError(
            f"output column(s) {clobber!r} already exist in the "
            f"training frame — pass count_col/flag_col to compose "
            f"successive decontamination gates observably"
        )
    if eval_grams is not None:
        ev_grams = eval_grams.select(F.col("gram_hash").alias("_gh"))
    elif eval_df is None:
        raise ValueError("need eval_df or eval_grams")
    else:
        ev_text = eval_text_col or text_col
        ev_grams = eval_gram_digests(
            eval_df, n, text_col=ev_text, mode=mode
        ).select(F.col("gram_hash").alias("_gh"))
    if broadcast_eval:
        ev_grams = F.broadcast(ev_grams)
    hits = (
        train.select(
            F.col(id_col).alias("_cid"),
            tokens(text_col, mode).alias("_toks"),
        )
        .select(
            "_cid",
            F.explode(ngrams_from_tokens("_toks", n)).alias("_g"),
        )
        .select("_cid", F.md5("_g").alias("_gh"))
        .join(ev_grams, "_gh")
        .groupBy("_cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias(count_col))
    )
    out = (
        train.join(
            hits, train[id_col] == hits["_cid"], "left"
        )
        .drop("_cid")
        .withColumn(
            count_col,
            F.coalesce(F.col(count_col), F.lit(0).cast("bigint")),
        )
        .withColumn(
            flag_col, F.col(count_col) >= int(min_hits)
        )
    )
    if action == "drop":
        return out.where(~F.col(flag_col)).select(*train.columns)
    return out


def contamination_report(
    train: DataFrame,
    benchmarks: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_col: str = "benchmark",
    eval_text_col: str | None = None,
    mode: str = "ascii",
    min_hits: int = 1,
) -> DataFrame:
    """PER-BENCHMARK decontamination accounting — the form dataset
    reports actually publish (GPT-3 Appendix C reports leakage per
    eval TASK, not one pooled number; an eval suite is many
    benchmarks and a doc clean for one may quote another): for every
    distinct value of ``bench_col`` in ``benchmarks``, the number of
    training documents with ``>= min_hits`` colliding word-``n``-gram
    instances against THAT benchmark, plus instance totals —
    ``(benchmark, n_eval_grams, n_contaminated_docs,
    n_contam_instances)``.

    A gram shared by several benchmarks counts against each (the
    per-task report must not depend on which task "claimed" the gram
    first), which is why this is not a GROUP BY over
    :func:`ngram_decontaminate` output — the pooled gate collapses
    the gram set across tasks.

    Scale shape: the eval side reduces to its distinct
    ``(benchmark, gram_hash)`` pairs (suite-sized, broadcast); train
    explodes to per-doc gram instances ONCE, hashes, joins, then one
    ``(doc, benchmark)`` count agg feeds one benchmark-level agg —
    the z58 shape with a benchmark key riding through the join.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    ev_text = eval_text_col or text_col
    ev = (
        benchmarks.select(
            F.col(bench_col).alias("_b"),
            tokens(ev_text, mode).alias("_toks"),
        )
        .select(
            "_b", F.explode(ngrams_from_tokens("_toks", n)).alias("_g")
        )
        .select("_b", F.md5("_g").alias("_gh"))
        .distinct()
    )
    gram_counts = ev.groupBy("_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_grams")
    )
    doc_hits = (
        train.select(
            F.col(id_col).alias("_cid"),
            tokens(text_col, mode).alias("_toks"),
        )
        .select(
            "_cid",
            F.explode(ngrams_from_tokens("_toks", n)).alias("_g"),
        )
        .select("_cid", F.md5("_g").alias("_gh"))
        .join(F.broadcast(ev), "_gh")
        .groupBy("_cid", "_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_inst"))
        .where(F.col("_inst") >= int(min_hits))
    )
    per_bench = doc_hits.groupBy("_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contaminated_docs"),
        F.sum("_inst").cast("bigint").alias("n_contam_instances"),
    )
    return (
        gram_counts.join(per_bench, "_b", "left")
        .select(
            F.col("_b").alias(bench_col),
            "n_eval_grams",
            F.coalesce(
                F.col("n_contaminated_docs"), F.lit(0).cast("bigint")
            ).alias("n_contaminated_docs"),
            F.coalesce(
                F.col("n_contam_instances"), F.lit(0).cast("bigint")
            ).alias("n_contam_instances"),
        )
        .orderBy(bench_col)
    )


def dup_cluster_report(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-multiplicity histogram — the release-audit view of
    :func:`dedup_exact` (that operator KEEPS one row per digest; this
    one reports how much it would remove and in what shape): group by
    content digest, then histogram the cluster sizes. One output row
    per distinct multiplicity: ``cluster_size`` (rows sharing a
    digest), ``n_clusters`` (digests with that multiplicity),
    ``n_docs = cluster_size * n_clusters`` (corpus rows they
    account for) and ``n_excess = n_docs - n_clusters`` (rows exact
    dedup would drop). The ``cluster_size = 1`` row is the unique
    mass; a heavy tail at high multiplicities is the boilerplate
    signature this report exists to catch BEFORE a dedup pass
    rewrites the corpus. NULL text hashes to a NULL digest; those
    rows are counted as one cluster of their own multiplicity (md5
    NULL-coalesced to a sentinel, so NULL documents stay observable
    instead of vanishing from the audit).

    Scale shape: two hash aggregates — per-digest counts (map-side
    combinable; the digest shuffle is the same one exact dedup
    already pays) then a re-agg over the multiplicity domain, which
    is log-sized (distinct cluster sizes, not clusters). No window,
    no sort; the final ORDER BY sorts a report-sized frame.
    """
    sig = F.coalesce(F.md5(F.col(text_col)), F.lit("NULL"))
    sizes = df.groupBy(sig.alias("_h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
        .withColumn(
            "n_excess",
            (F.col("n_docs") - F.col("n_clusters")).cast("bigint"),
        )
        .orderBy("cluster_size")
    )


def dedup_lineage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-dedup provenance map — the governance artifact a corpus
    rewrite must leave behind (:func:`dedup_exact` keeps one row per
    digest and silently drops the rest; takedown requests, licensing
    audits, and "which training doc does this duplicate collapse
    into?" questions all need the DROPPED ids resolvable): every
    input row mapped to its cluster's canonical keeper —
    ``(id, keeper_id, is_keeper, cluster_size)`` with the keeper =
    lowest id per digest. That is the rule of a dedup pass run as
    ``dedup_exact(df, tiebreak=[id_col])`` — run WITH that tiebreak
    the two agree by construction; ``dedup_exact`` WITHOUT a
    tiebreak keeps an arbitrary row per digest (``dropDuplicates``)
    and only the cluster membership, not the keeper identity, is
    guaranteed to match this map. NULL text is coalesced to
    a sentinel digest — NULL documents form their own observable
    cluster instead of vanishing from the lineage.

    Scale shape: one map-side-combinable per-digest hash agg
    (min-id keeper + count — model row per DISTINCT digest) and one
    equi-join back on the digest; both sides hash-partition on the
    same key, the same shuffle exact dedup already pays. A
    boilerplate digest with millions of members is one hot join key
    — AQE skew-join splits it, and the keeper side is one row per
    digest so the broadcast threshold usually removes the join
    entirely after the agg.
    """
    sig = F.coalesce(F.md5(F.col(text_col)), F.lit("NULL"))
    keyed = df.select(
        F.col(id_col), sig.alias("_h")
    )
    keepers = keyed.groupBy("_h").agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
    )
    return (
        keyed.join(keepers, "_h")
        .select(
            id_col,
            "keeper_id",
            (F.col(id_col) == F.col("keeper_id")).alias("is_keeper"),
            "cluster_size",
        )
    )


def memorization_risk(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rare-long-n-gram memorization audit (the risk signal from the
    LM-memorization literature — Carlini et al. 2021/2023, Lee et
    al. 2022: sequences that occur ONCE in the corpus are the ones a
    model can only emit by memorizing, and duplicated ones are the
    ones it memorizes fastest; this scores both ends): per document,
    the count of distinct word ``n``-grams, how many of them occur in
    NO other document (``n_unique``, corpus document-frequency 1),
    and ``uniq_ratio`` — a high ratio marks content whose
    regurgitation would be verbatim-traceable (PII dumps, keys,
    boilerplate-free personal text), a low ratio marks heavily
    shared/template text. Documents shorter than ``n`` tokens emit
    zero grams and a NULL ratio (no opinion, observable).

    Scale shape: the decontamination shape WITHOUT the join back —
    one explode of the per-doc DISTINCT gram set (md5'd to 16-byte
    keys before the shuffle, the z80 trick), ONE gram-keyed
    map-side-combinable agg of ``(doc_frequency, min(doc_id))`` —
    and because a df-1 gram's ``min(doc_id)`` IS its only document,
    the per-doc unique counts come from re-aggregating the filtered
    gram table by that id: no second corpus-sized join. A LEFT join
    from the id spine restores zero-gram documents.
    """
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(
                shingles(text_col, n),
                lambda s: F.md5(s),
            )
        ).alias("_gm"),
    )
    per_doc = grams.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    dfreq = grams.groupBy("_gm").agg(
        F.count(F.lit(1)).alias("_df"),
        F.min("_id").alias("_only"),
    )
    uniq = (
        dfreq.where(F.col("_df") == 1)
        .groupBy(F.col("_only").alias("_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
    )
    spine = df.select(F.col(id_col).alias("_id"))
    ng = F.coalesce("n_grams", F.lit(0)).cast("bigint")
    nu = F.coalesce("n_unique", F.lit(0)).cast("bigint")
    return (
        spine.join(per_doc, "_id", "left")
        .join(uniq, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            ng.alias("n_grams"),
            nu.alias("n_unique"),
            F.round(
                nu.cast("double")
                / F.nullif(ng.cast("double"), F.lit(0.0)),
                6,
            ).alias("uniq_ratio"),
        )
    )


def split_doc_pairs(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split-document stitching candidates — web corpora are full of
    ONE article arriving as several rows (pagination, scraper
    chunking, our own :func:`~topn_spark.operators.pipeline.
    chunk_documents` with overlap): when piece A's LAST ``k`` tokens
    equal piece B's FIRST ``k`` tokens, B is the continuation
    candidate of A. Emits ``(id_a, id_b, boundary)`` pairs (the
    shared boundary gram rides along for audit); documents shorter
    than ``k`` tokens emit no keys (nothing to match), and exact
    self-matches (a doc whose head equals its own tail — a repeated
    chorus) are excluded by ``id_a != id_b``.

    Scale shape: two map-only key projections (head / tail k-gram,
    md5'd to 16-byte join keys) and ONE equi-join tail→head — the
    exact-dedup join class, never all-pairs; a viral boilerplate
    boundary (every page of a site sharing the same footer opening)
    is a hot join key — AQE skew territory, same as dedup_lineage.
    """
    toks = tokens(text_col)
    head = F.when(
        F.size(toks) >= int(k),
        F.md5(F.array_join(F.slice(toks, 1, int(k)), " ")),
    )
    tail = F.when(
        F.size(toks) >= int(k),
        F.md5(
            F.array_join(
                F.slice(toks, -int(k), int(k)), " "
            )
        ),
    )
    a = df.select(
        F.col(id_col).alias("id_a"), tail.alias("_key")
    ).where(F.col("_key").isNotNull())
    b = df.select(
        F.col(id_col).alias("id_b"), head.alias("_key")
    ).where(F.col("_key").isNotNull())
    return (
        a.join(b, "_key")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.col("_key").alias("boundary"))
    )
