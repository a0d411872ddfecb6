"""Training-data pipeline operators: document chunking, deterministic
sampling & dataset splits, sequence packing, PII redaction, corpus
heavy-hitters.

These are the corpus-preparation steps that sit between raw ingest and
tokenization in an LLM data pipeline. Everything here is built-in
Catalyst expressions — no Python row loop, no driver-side collect —
so each op scales linearly with partitions:

- chunking explodes per-document (map-only, no shuffle);
- hash sampling / splits are stateless filters on a content-stable
  md5 key, so a re-run on re-partitioned data selects the same rows
  (critical for reproducible 100 TB samples — never use rand());
- packing uses a window cumsum partitioned by a corpus key, so state
  never crosses partitions and no global sort is needed;
- redaction is a regexp_replace chain (codegen'd, map-only);
- heavy-hitters is explode + two-phase hash aggregate (partial
  map-side combine makes the shuffle carry only distinct tokens).

The reference (TopN.java) has none of these; they are the north-star
extensions mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from topn_spark.operators.textstats import (
    add_quality,
    ngrams_from_tokens,
    shingles,
    token_count,
    tokens,
)
from topn_spark.plans import ensure_parallelism

__all__ = [
    "assign_split",
    "chunk_by_tokens",
    "chunk_documents",
    "coalesce_intervals",
    "dedup_lines",
    "weighted_sample_k",
    "ewma",
    "equidepth_histogram",
    "event_transitions",
    "funnel",
    "contamination_check",
    "corpus_report",
    "hash_sample",
    "histogram",
    "leakage_safe_split",
    "merge_upsert",
    "pack_sequences",
    "scrub_pii",
    "shard_assignment",
    "shard_manifest",
    "export_training_shards",
    "verify_shards",
    "retention",
    "scd2",
    "resample_ffill",
    "sessionize",
    "skyline_2d",
    "time_weighted_avg",
    "token_heavy_hitters",
    "token_heavy_hitters_approx",
    "winsorize",
    "zscore",
]


def _hash_key(key_col: str) -> Column:
    """Content-stable hex sampling key. md5 renders identically across
    engines (portable for oracles) and is uniform in every hex digit;
    comparisons against a hex-prefix threshold are pure string
    comparisons, so the same row always lands in the same
    sample/split no matter the partitioning or engine."""
    return F.md5(F.col(key_col).cast("string"))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    size: int = 256,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap.

    Emits one row per chunk: ``chunk_idx`` (0-based), ``chunk`` text,
    ``chunk_len``. Start positions are 1, 1+step, ... where
    step = size - overlap; the final chunk may be short. Map-only
    (posexplode of a generated sequence) — no shuffle, scales with
    input partitions regardless of document count.
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    step = size - overlap
    starts = F.expr(f"sequence(1, greatest(length({text_col}), 1), {step})")
    out = df.select(
        *id_cols,
        F.col(text_col),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    chunk = F.expr(f"substring({text_col}, chunk_start, {size})")
    return (
        out.withColumn("chunk", chunk)
        .withColumn("chunk_len", F.length("chunk").cast("bigint"))
        .drop(text_col, "chunk_start")
    )


def hash_sample(
    df: DataFrame, key_col: str, threshold_hex: str = "29"
) -> DataFrame:
    """Deterministic sampling: keep rows whose md5(key) hex prefix is
    lexicographically below ``threshold_hex``.

    A 2-char threshold gives rate = int(threshold_hex, 16) / 256
    ('29' ≈ 16%); longer prefixes give finer rates. Unlike
    ``df.sample()`` this is stable across re-runs, re-partitioning,
    and engines — the property a reproducible corpus sample needs.
    """
    n = len(threshold_hex)
    return df.where(
        F.substring(_hash_key(key_col), 1, n) < F.lit(threshold_hex.lower())
    )


def score_bin_sample(
    df: DataFrame,
    score_col: str,
    keep_rates: list[float],
    id_col: str = "doc_id",
    bin_col: str = "score_bin",
    buckets: int = 64,
) -> DataFrame:
    """Quality-bin sampling — the FineWeb-Edu / DCLM recipe: rank the
    corpus by a quality score (classifier probability, LM signal),
    cut it into ``len(keep_rates)`` equal NTILE bins (bin 1 = best),
    and keep each bin at its own deterministic rate — keep the top
    bins wholesale, downsample the middle, drop the tail. Appends
    ``bin_col``; rows are kept iff ``md5(id)``'s 8-hex prefix falls
    below ``floor(rate * 2^32)`` (the :func:`hash_sample`
    discipline: stable across re-runs, partitioning, and engines —
    rates 1.0/0.0 short-circuit to keep-all/drop-all).

    Binning uses the exact two-phase global rank
    (:func:`~topn_spark.operators.topn.rank_low_cardinality` +
    ``ntile_from_rank`` — NO keyless ``ntile()`` window, which would
    sort the corpus on one task; see SCALING.md §2) ordered by
    ``(score DESC NULLS LAST, id ASC)``, so bins reproduce SQL
    ``NTILE`` exactly at any parallelism.
    """
    n_bins = len(keep_rates)
    if n_bins < 1:
        raise ValueError("keep_rates must name at least one bin")
    for r in keep_rates:
        if not (0.0 <= float(r) <= 1.0):
            raise ValueError(f"keep rate {r} outside [0, 1]")
    from topn_spark.operators.topn import (
        ntile_from_rank,
        rank_low_cardinality,
    )

    # unscored rows cannot be binned: drop them up front (the rank's
    # negated-ascending order would otherwise float NULLs to bin 1).
    # The global rank runs under a non-foldable constant key so the
    # 1-row stats attach is a broadcast HASH join, not a BNLJ rescan.
    ranked = rank_low_cardinality(
        df.where(F.col(score_col).isNotNull()).withColumn(
            "_sbk",
            (F.monotonically_increasing_id() * 0 + 1).cast("int"),
        ),
        ["_sbk"],
        score_col,
        ascending=False,
        tiebreak=[id_col],
        buckets=buckets,
        rank_col="_sbr",
        total_col="_sbt",
    ).drop("_sbk")
    binned = ranked.withColumn(
        bin_col,
        ntile_from_rank(F.col("_sbr"), F.col("_sbt"), n_bins).cast("int"),
    ).drop("_sbr", "_sbt")
    prefix = F.substring(_hash_key(id_col), 1, 8)
    keep = None
    for i, r in enumerate(keep_rates, start=1):
        r = float(r)
        if r >= 1.0:
            cond = F.lit(True)
        elif r <= 0.0:
            cond = F.lit(False)
        else:
            thr = format(int(r * 4294967296), "08x")
            cond = prefix < F.lit(thr)
        clause = (F.col(bin_col) == i) & cond
        keep = clause if keep is None else keep | clause
    return binned.where(keep)


def sample_k_per_group(
    df: DataFrame,
    key_cols: list[str],
    k: int,
    id_col: str,
    rank_col: str | None = None,
) -> DataFrame:
    """Deterministic ≤``k``-row sample per ``key_cols`` group: rank
    rows by md5(id) and keep the k smallest hashes per key — the
    bounded-per-source corpus cap (e.g. "at most 10k docs per
    domain"), reproducible across runs, partitionings, and engines
    (no ``rand()``, no reservoir state).

    A content hash is a uniform order, so the k smallest hashes ARE a
    uniform k-sample of the group. Plans like grouped top-N:
    ``row_number() OVER (PARTITION BY keys ORDER BY md5(id))`` +
    filter → Spark ≥3.5 evaluates the rank cut map-side
    (WindowGroupLimit), so at most k rows per group per input
    partition reach the shuffle — the sample never materializes the
    group.

    ``rank_col`` keeps the 1-based hash rank if given; otherwise the
    output schema equals the input schema.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(
        _hash_key(id_col), F.col(id_col)
    )
    rn = "__sample_rn" if rank_col is None else rank_col
    out = df.withColumn(rn, F.row_number().over(w).cast("bigint")).where(
        F.col(rn) <= k
    )
    return out.drop(rn) if rank_col is None else out


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic weighted ``k``-sample without replacement
    (sequential Poisson / order sampling, Ohlsson 1998): rank rows by
    ``u / w`` where ``u`` is a 48-bit md5-uniform of ``id_col`` and
    ``w`` the row weight; the k smallest keys win, so inclusion
    probability is ≈ proportional to weight.

    Engine- and partitioning-stable by construction: ``u`` is integer
    hash arithmetic (exact in a double up to 2⁵³) and IEEE-754
    division is correctly rounded, so the ranking — unlike an
    ``exp(ln(u)/w)``-style A-ES key — is bit-identical on any engine
    that computes the same md5. Rows with ``w <= 0`` or null are
    excluded (zero weight = zero inclusion probability).

    Plans: global (``key_cols=None``) → sort + limit, which Spark
    executes as TakeOrderedAndProject (per-partition bounded heaps, no
    full sort); per-group → ``row_number`` over the key window, which
    Spark ≥3.5 cuts map-side via WindowGroupLimit — at most k rows per
    group per input partition reach the shuffle.
    """
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("double")
    key = (u / F.col(weight_col).cast("double")).alias("__wkey")
    base = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__wkey", key)
    if key_cols:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*key_cols).orderBy("__wkey", id_col)
        out = base.withColumn("__wrn", F.row_number().over(w)).where(
            F.col("__wrn") <= k
        )
        return out.drop("__wkey", "__wrn")
    return (
        base.orderBy(F.col("__wkey").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("__wkey")
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_docs: int = 1,
) -> DataFrame:
    """Cross-document line-level dedup (the RefinedWeb/CCNet
    boilerplate-removal step): drop every line that occurs in more
    than ``max_docs`` distinct documents, keeping surviving lines in
    their original order.

    Returns one row per input document: ``id_col``, the deduplicated
    ``text_col``, ``n_lines_kept``, ``n_lines_removed``. Documents
    whose every line is boilerplate survive with empty text — a
    downstream length filter decides their fate, not this op.

    Scale shape (100 TB): lines shuffle on a 16-byte md5 digest, not
    the line text; the distinct-doc count is a two-phase hash
    aggregate. The over-threshold digest set is boilerplate-only —
    tiny relative to the corpus — so AQE broadcasts the flag join in
    practice; the final reassembly is one shuffle keyed by document
    with per-group state bounded by document size. Within-document
    repeats count once (COUNT DISTINCT doc), matching the published
    semantics.
    """
    # \Q..\E: split() takes a regex; quote so sep is literal.
    # The exploded line set feeds two consumers (the distinct-doc
    # count and the flag join) — persist so the split+explode scan
    # runs once, matching the fan-out convention in dedup.py.
    lines = (
        df.select(
            id_col,
            F.posexplode(
                F.split(F.col(text_col), "\\Q" + sep + "\\E")
            ).alias("pos", "line"),
        )
        .withColumn("_h", F.md5("line"))
        .persist()
    )
    common = (
        lines.groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") > max_docs)
        .select("_h", F.lit(True).alias("_rm"))
    )
    flagged = lines.join(common, "_h", "left").withColumn(
        "_rm", F.coalesce("_rm", F.lit(False))
    )
    parts = F.array_sort(
        F.collect_list(F.struct("pos", "_rm", "line"))
    )
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.filter(parts, lambda s: ~s["_rm"]), lambda s: s["line"]
            ),
        ).alias(text_col),
        F.sum(F.when(~F.col("_rm"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lines_kept"),
        F.sum(F.when(F.col("_rm"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lines_removed"),
    )


def assign_split(
    df: DataFrame, key_col: str, out_col: str = "split"
) -> DataFrame:
    """Deterministic train/val/test split on md5(key) first hex digit:
    0-b → train (75%), c-d → val (12.5%), e-f → test (12.5%).

    Content-stable: the same key lands in the same split on any
    engine, any partitioning, any scale — no rand(), no state.
    """
    h = F.substring(_hash_key(key_col), 1, 1)
    return df.withColumn(
        out_col,
        F.when(h < "c", "train").when(h < "e", "val").otherwise("test"),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    by: tuple[str, ...] = (),
    order_col: str = "doc_id",
) -> DataFrame:
    """Assign each document to a training-sequence bin by contiguous
    fill: walk documents in ``order_col`` order and start a new bin
    each time the running token total crosses ``budget``.

    ``bin_id = floor(cum_tokens_before_this_doc / budget)`` — a pure
    window cumsum, so the whole op is one sort within each ``by``
    partition. At 100 TB, always pass ``by`` (e.g. source shard):
    an empty ``by`` is a single global window partition — correct,
    but serializes on one task (Spark warns accordingly).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(F.col(token_col)).over(w), F.lit(0).cast("bigint")
    )
    return df.withColumn(
        "bin_id", F.floor(cum_before / F.lit(budget)).cast("bigint")
    )


def _packed_spans(
    df: DataFrame,
    tokens_col: str,
    id_col: str,
    seq_len: int,
    by: tuple[str, ...],
    order_col: str,
    sep_token: str | int | None = None,
) -> DataFrame:
    """Shared span arithmetic for GPT-style concat-and-chunk packing:
    walk documents in ``order_col`` order, concatenate their token
    streams, and cut every ``seq_len`` tokens — documents SPLIT
    across sequence boundaries (unlike :func:`pack_sequences`' bin
    fill, which keeps documents whole). Emits one row per
    (document, sequence) overlap with pure-arithmetic offsets:
    everything below derives from ONE prefix sum over token counts;
    no token is exploded.

    Prefix-sum shape: with ``by`` keys the cumsum is a window per
    group. WITHOUT keys (one global token stream) a naive keyless
    window funnels the whole dataset through one task, so this runs
    the standard TWO-LEVEL scan instead: order-preserving buckets
    (value-range for an integral ``order_col``; lexicographic
    3-char prefix for a string one — a prefix of the sort key
    always extends its order, and for the md5-shuffled order a
    pretraining pipeline actually packs in, 3 hex chars give 4096
    uniform buckets), a per-bucket cumsum window (parallel), and a
    keyless window only over the BUCKET-TOTALS table (one row per
    bucket — model-sized, the benign shape), whose offsets
    broadcast-join back. Identical result — bucket boundaries
    cancel out of the sum — at any scale. Other keyless order
    types (timestamp, float) fall back to the single-task window
    (correct, serialized; supply ``by`` or an integral/string order
    there). ``order_col`` must be unique within its ``by`` group:
    ties make "earlier document" ambiguous in ANY prefix-sum
    formulation.

    ``sep_token`` appends the tokenizer's EOS/separator after EVERY
    document before concatenation — the universal GPT-pipeline
    convention (the in-band boundary most training stacks expect, in
    addition to the span metadata). The span arithmetic simply sees
    each document one token longer; empty documents are still
    dropped BEFORE the separator is added, so no lone separators are
    emitted."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    L = int(seq_len)
    if L < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    base = df.where(F.size(tokens_col) > 0)
    if sep_token is not None:
        # a Column separator is used verbatim (pack_masked_sequences
        # injects a struct<token, mask> element); a scalar casts to
        # the stream's element type
        if isinstance(sep_token, Column):
            sep_val = sep_token
        else:
            elem = df.schema[
                tokens_col
            ].dataType.elementType.simpleString()
            sep_val = F.lit(sep_token).cast(elem)
        base = base.withColumn(
            tokens_col,
            F.concat(tokens_col, F.array(sep_val)),
        )
    base = base.withColumn("_n", F.size(tokens_col).cast("bigint"))
    order_type = df.schema[order_col].dataType
    integral = isinstance(
        order_type,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    bucket = None
    if not by and integral:
        bounds = base.agg(
            F.min(order_col).alias("mn"), F.max(order_col).alias("mx")
        ).collect()[0]
        if bounds["mn"] is not None:
            mn, mx = int(bounds["mn"]), int(bounds["mx"])
            width = max(1, (mx - mn) // 1024 + 1)
            bucket = F.floor((F.col(order_col) - mn) / width).cast(
                "bigint"
            )
    elif not by and isinstance(order_type, T.StringType):
        bucket = F.substring(F.col(order_col), 1, 3)
    if bucket is not None:
        base = base.withColumn("_bkt", bucket)
        totals = base.groupBy("_bkt").agg(F.sum("_n").alias("_bn"))
        bw = Window.orderBy(F.col("_bkt").asc()).rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = totals.select(
            "_bkt",
            F.coalesce(
                F.sum("_bn").over(bw), F.lit(0).cast("bigint")
            ).alias("_base"),
        )
        iw = (
            Window.partitionBy("_bkt")
            .orderBy(F.col(order_col).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        base = (
            base.join(F.broadcast(offsets), "_bkt")
            .withColumn(
                "_off",
                F.col("_base")
                + F.coalesce(
                    F.sum("_n").over(iw), F.lit(0).cast("bigint")
                ),
            )
            .drop("_bkt", "_base")
        )
    else:
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(order_col).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        base = base.withColumn(
            "_off",
            F.coalesce(F.sum("_n").over(w), F.lit(0).cast("bigint")),
        )
    spans = base.select(
        *by,
        F.col(id_col),
        F.col(tokens_col).alias("_toks"),
        "_n",
        "_off",
        F.explode(
            F.sequence(
                F.floor(F.col("_off") / L),
                F.floor((F.col("_off") + F.col("_n") - 1) / L),
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("seq_id") * L, F.col("_off"))
    hi = F.least(
        (F.col("seq_id") + 1) * L, F.col("_off") + F.col("_n")
    )
    return spans.select(
        *by,
        F.col("seq_id").cast("bigint").alias("seq_id"),
        F.col(id_col),
        (lo - F.col("seq_id") * L).cast("bigint").alias("seq_start"),
        (lo - F.col("_off")).cast("bigint").alias("doc_start"),
        (hi - lo).cast("bigint").alias("n_tokens"),
        "_toks",
    )


def packed_doc_spans(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    seq_len: int = 2048,
    by: tuple[str, ...] = (),
    order_col: str = "doc_id",
    sep_token: str | int | None = None,
) -> DataFrame:
    """Document-boundary metadata for :func:`pack_token_sequences`:
    ``(seq_id, id, seq_start, doc_start, n_tokens)`` — one row per
    (document, sequence) overlap, saying which slice of the document
    occupies which positions of which packed sequence. This is what a
    trainer consumes to reset attention masks / loss spans at
    document boundaries inside a packed sequence. With ``sep_token``
    (pass the SAME value used when packing) each document's stream
    includes its trailing separator, so ``n_tokens`` sums count it.

    Pure arithmetic over token COUNTS (one window cumsum + a
    per-overlap explode — a document touches ``ceil(len/seq_len)+1``
    sequences at most); the token arrays are never opened. Scale:
    same contract as :func:`pack_sequences` — pass ``by`` (e.g. a
    shard key) at 100 TB so the cumsum window is per-group, not one
    global task; sequences then number independently per group,
    which is exactly what per-shard training files want."""
    return _packed_spans(
        df, tokens_col, id_col, seq_len, by, order_col, sep_token
    ).drop("_toks")


def _pack_stream(df, stream_col, id_col, seq_len, by, order_col, sep, pad):
    """The packers' one reassembly step over a per-token stream —
    the token array, or the struct array :func:`_pack_masked` zips
    its lanes into (plan: :func:`pack_token_sequences`). A ``pad``
    element right-pads the final short sequence to ``seq_len``.
    Returns ``(*by, seq_id, n_docs, n_tokens, _all)``; ``n_tokens``
    counts separators, not pads."""
    spans = _packed_spans(
        df, stream_col, id_col, seq_len, by, order_col, sep
    )
    out = (
        spans.select(
            *by,
            "seq_id",
            F.struct(
                F.col("seq_start"),
                F.slice(
                    "_toks",
                    (F.col("doc_start") + 1).cast("int"),
                    F.col("n_tokens").cast("int"),
                ).alias("piece"),
            ).alias("_sp"),
        )
        .groupBy(*by, "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("_sp")),
                    lambda s: s["piece"],
                )
            ).alias("_all"),
        )
        .withColumn("n_tokens", F.size("_all").cast("bigint"))
    )
    if pad is not None:
        out = out.withColumn(
            "_all",
            F.concat(
                "_all",
                F.array_repeat(
                    pad,
                    (F.lit(int(seq_len)) - F.size("_all")).cast("int"),
                ),
            ),
        )
    return out


def _pack_masked(
    df, tokens_col, mask_col, id_col, seq_len, by, order_col,
    pad_token, sep_token, sep_supervised, error, ok=None, refs=None,
):
    """The mask-carrying packers' one lane step: zip ``tokens_col``,
    ``mask_col`` and the multimodal packer's ``refs`` ((per-token
    array, NULL element)) into one struct stream, guarded to raise
    ``error`` + the id on a NULL/misaligned mask or a false ``ok``
    (``refs`` stays inside the guard: on a misaligned row its
    ``element_at`` would raise Spark's index error first); pack it
    with :func:`_pack_stream` and unzip to ``tokens`` /
    ``mask_col`` (/ ``_refs``) plus ``n_supervised``."""
    elem = df.schema[tokens_col].dataType.elementType.simpleString()
    lanes = [F.col(tokens_col), F.col(mask_col)]
    names = ["tokens", mask_col]
    if refs is not None:
        lanes.append(refs[0])
        names.append("_refs")
    aligned = (
        F.col(tokens_col).isNotNull()
        & F.col(mask_col).isNotNull()
        & (F.size(tokens_col) == F.size(mask_col))
    )
    if ok is not None:
        aligned = aligned & ok
    guarded = F.when(
        aligned,
        F.arrays_zip(*(c.alias(f"l{i}") for i, c in enumerate(lanes))),
    ).otherwise(
        F.raise_error(
            F.concat(F.lit(error), F.col(id_col).cast("string"))
        )
    )

    def element(token, supervised):
        if token is None:
            return None
        return F.struct(
            F.lit(token).cast(elem).alias("l0"),
            F.lit(supervised).alias("l1"),
            *([] if refs is None else [refs[1].alias("l2")]),
        )

    return (
        _pack_stream(
            df.withColumn("_zt", guarded), "_zt", id_col, seq_len, by,
            order_col, element(sep_token, bool(sep_supervised)),
            element(pad_token, False),
        )
        .select(
            *by,
            "seq_id",
            "n_docs",
            "n_tokens",
            *(
                F.transform("_all", lambda x: x[f"l{i}"]).alias(n)
                for i, n in enumerate(names)
            ),
        )
        .withColumn(
            "n_supervised",
            F.aggregate(
                mask_col,
                F.lit(0).cast("bigint"),
                lambda acc, x: acc
                + F.when(x, F.lit(1))
                .otherwise(F.lit(0))
                .cast("bigint"),
            ),
        )
    )


def pack_token_sequences(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    seq_len: int = 2048,
    by: tuple[str, ...] = (),
    order_col: str = "doc_id",
    pad_token: str | int | None = None,
    sep_token: str | int | None = None,
) -> DataFrame:
    """GPT-style sequence packing — the stage between a tokenizer and
    shard export: concatenate tokenized documents in ``order_col``
    order and emit fixed-length training sequences
    ``(seq_id, n_docs, n_tokens, tokens)``; documents split across
    boundaries, so no token is dropped and (except the final
    sequence) every sequence is exactly ``seq_len`` long. The final
    short sequence is emitted as-is, or padded to ``seq_len`` when
    ``pad_token`` is given (``n_tokens`` still counts REAL tokens).
    ``sep_token`` appends the tokenizer's EOS/separator after every
    document before concatenation (the GPT convention); separators
    ARE training tokens, so ``n_tokens`` counts them (total = corpus
    tokens + one per document) — unlike ``pad_token``, which never
    counts. Deterministic: packing is pure arithmetic over token
    counts, so the same input always yields byte-identical sequences
    (the property that makes packed exports resumable and
    auditable).

    Plan: :func:`_pack_stream` over the token arrays — the
    :func:`packed_doc_spans` arithmetic, then each overlap slices its
    document's token array (``slice`` — no per-token explode) and
    sequences reassemble with one hash agg (``array_sort`` on
    (seq_start, piece) structs + ``flatten``).
    One window cumsum + one shuffle on ``seq_id``. Scale: pass
    ``by`` at 100 TB (see :func:`packed_doc_spans`)."""
    elem = df.schema[tokens_col].dataType.elementType.simpleString()
    pad = None if pad_token is None else F.lit(pad_token).cast(elem)
    return _pack_stream(
        df, tokens_col, id_col, seq_len, by, order_col, sep_token, pad
    ).select(
        *by, "seq_id", "n_docs", "n_tokens", F.col("_all").alias("tokens")
    )


def pack_masked_sequences(
    df: DataFrame,
    tokens_col: str = "tokens",
    mask_col: str = "loss_mask",
    id_col: str = "doc_id",
    seq_len: int = 2048,
    by: tuple[str, ...] = (),
    order_col: str = "doc_id",
    pad_token: str | int | None = None,
    sep_token: str | int | None = None,
    sep_supervised: bool = False,
) -> DataFrame:
    """Sequence packing that PRESERVES a per-token loss mask — the
    missing link between SFT prep and shard export: without it, the
    supervise/ignore decision made by
    :func:`~topn_spark.operators.sft.token_loss_mask` dies at the
    packing stage and the packed shards are untrainable for
    instruction tuning (everything would be supervised, prompts
    included). Same concat-and-chunk arithmetic as
    :func:`pack_token_sequences`, but each document contributes
    ``zip(tokens, mask)`` pairs, so every packed sequence emits
    ``tokens`` and an ALIGNED ``mask_col`` plus ``n_supervised``
    (real supervised tokens — the number a trainer's loss
    normalization needs per sequence).

    A document whose mask is NULL or misaligned
    (``len(mask) != len(tokens)``) raises AT EXECUTION with its id —
    silently packing an unmasked document would train on prompt
    tokens, the worst silent failure an SFT pipeline has. Separators
    injected by ``sep_token`` carry ``sep_supervised`` (default
    False; pass True when EOS after an assistant turn should be
    learned — the stop-token convention). ``pad_token`` positions
    are NEVER supervised and never counted in ``n_tokens``.

    Scale shape: identical to :func:`pack_token_sequences` — the
    :func:`_pack_masked` zip adds one map-only projection and the
    zipped stream packs through the same :func:`_pack_stream`; the
    span arithmetic still runs on token COUNTS (one two-level
    prefix-sum, no keyless window for integral/string
    ``order_col``), pieces slice without a per-token explode, and
    sequences reassemble with one hash agg on ``seq_id``. Pass
    ``by`` at 100 TB for per-shard numbering."""
    return _pack_masked(
        df, tokens_col, mask_col, id_col, seq_len, by, order_col,
        pad_token, sep_token, sep_supervised,
        "pack_masked_sequences: NULL or misaligned loss mask for id ",
    ).select(
        *by,
        "seq_id",
        "n_docs",
        "n_tokens",
        "n_supervised",
        "tokens",
        mask_col,
    )


def pack_multimodal_sequences(
    df: DataFrame,
    tokens_col: str = "tokens",
    mask_col: str = "loss_mask",
    assets_col: str = "asset_ids",
    id_col: str = "conv_id",
    seq_len: int = 2048,
    by: tuple[str, ...] = (),
    order_col: str = "conv_id",
    image_token: str = "<|image|>",
    pad_token: str | int | None = None,
    sep_token: str | int | None = None,
    sep_supervised: bool = False,
) -> DataFrame:
    """Sequence packing that preserves the loss mask AND the
    placeholder→asset binding — the VLM analogue of
    :func:`pack_masked_sequences` (the round-9 lesson one modality
    up: :func:`~topn_spark.operators.sft.render_multimodal_chat`'s
    contract is that the i-th ``image_token`` placeholder binds to
    the i-th ``asset_ids`` entry, and packing that splits a
    conversation across sequence boundaries silently breaks it —
    the vision encoder would splice the WRONG image into a
    placeholder): every packed sequence emits aligned ``tokens`` /
    ``mask_col`` / ``n_supervised`` exactly like masked packing,
    plus its OWN ``asset_ids`` manifest — the assets whose
    placeholders physically landed in that sequence, in placeholder
    order — and ``n_images``.

    Input contract: the placeholder appears as its OWN token (the
    special-token pre-split every real tokenizer applies before
    BPE); a document whose placeholder-token count differs from
    ``len(asset_ids)`` RAISES with its id — a glued or lost
    placeholder is a broken binding, the silent failure this
    operator exists to prevent (``asset_ids`` NULL means no images,
    same as empty). NULL/misaligned masks raise as in masked
    packing. Separators and pads never reference an asset and are
    never supervised (separator supervision follows
    ``sep_supervised``).

    Scale shape: identical to :func:`pack_masked_sequences` — the
    per-token asset refs are built map-only (placeholder positions
    bound as a projected array; per-placeholder ordinal via
    array_position over that IMAGE-sized array), ride the same
    :func:`_pack_masked` zip through the span arithmetic, and the per-sequence manifest
    is one filter over the reassembled refs. No extra shuffle, no
    UDF."""
    elem = df.schema[tokens_col].dataType.elementType.simpleString()
    a_elem = df.schema[assets_col].dataType.elementType.simpleString()
    img = F.lit(image_token).cast(elem)
    bound = (
        df.withColumn("_mt", F.col(tokens_col))
        .withColumn(
            "_ma", F.coalesce(F.col(assets_col), F.array().cast(
                f"array<{a_elem}>"
            ))
        )
        .withColumn(
            "_php",
            F.filter(
                F.transform(
                    "_mt", lambda t, i: F.when(t == img, i)
                ),
                lambda x: x.isNotNull(),
            ),
        )
    )
    refs = F.transform(
        "_mt",
        lambda t, i: F.when(
            t == img,
            F.element_at(
                "_ma",
                F.array_position(F.col("_php"), i).cast("int"),
            ),
        ),
    )
    out = _pack_masked(
        bound, tokens_col, mask_col, id_col, seq_len, by, order_col,
        pad_token, sep_token, sep_supervised,
        "pack_multimodal_sequences: NULL/misaligned mask or "
        "placeholder/asset count mismatch for id ",
        ok=F.size("_php") == F.size("_ma"),
        refs=(refs, F.lit(None).cast(a_elem)),
    )
    return out.withColumn(
        assets_col, F.filter("_refs", lambda a: a.isNotNull())
    ).select(
        *by,
        "seq_id",
        "n_docs",
        "n_tokens",
        "n_supervised",
        F.size(assets_col).cast("bigint").alias("n_images"),
        "tokens",
        mask_col,
        assets_col,
    )


def export_packed_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    seq_len: int = 2048,
    order_col: str = "doc_id",
    pad_token: str | int | None = None,
    sep_token: str | int | None = None,
    salt: str = "",
) -> DataFrame:
    """Tokenized docs -> packed fixed-length sequences -> sharded
    training export, in one call: :func:`pack_token_sequences` then
    :func:`export_training_shards` keyed by ``seq_id`` with
    token-exact per-shard manifests (``n_tokens`` sums REAL tokens,
    so the manifest total equals the input corpus token count, plus
    one separator per document when ``sep_token`` is given — the
    audit a trainer runs before an epoch). Verify with
    :func:`verify_shards` (``token_col="n_tokens"``); a torn export
    fails the recount loudly."""
    packed = pack_token_sequences(
        df,
        tokens_col=tokens_col,
        id_col=id_col,
        seq_len=seq_len,
        order_col=order_col,
        pad_token=pad_token,
        sep_token=sep_token,
    )
    return export_training_shards(
        packed,
        out_dir,
        n_shards,
        id_col="seq_id",
        token_col="n_tokens",
        salt=salt,
    )


#: redaction patterns, applied in order (URL before EMAIL so a URL
#: containing '@' is consumed as one token; digit-runs last so the
#: placeholders themselves are never re-matched). Plain RE2-compatible
#: syntax — portable between Java regex (Spark) and RE2 (DuckDB).
SCRUB_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://\S+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{7,}", "<ID>"),
)


def scrub_pii(col: Column | str) -> Column:
    """Scrub URLs, email addresses, and long digit runs (ids, phone
    numbers, SSNs) to typed placeholders — the lightweight COLUMN
    form for inline text prep. The release-gate DataFrame operator
    with per-class accounting and the standard Dolma placeholder
    tokens is :func:`topn_spark.operators.textstats.redact_pii`
    (the z51 entry / PiiRedact plugin). A chained regexp_replace —
    codegen'd, map-only; the 100 TB cost is one scan."""
    out = F.col(col) if isinstance(col, str) else col
    for pat, repl in SCRUB_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def token_heavy_hitters(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Top-k most frequent tokens in the corpus: explode the tokenizer
    output, hash-aggregate counts, global top-k.

    The aggregate is partial+final (map-side combine), so the shuffle
    carries one row per distinct token per partition, not one per
    token occurrence; the top-k is TakeOrderedAndProject (bounded
    heap per partition — the reference's own algorithm, parallelized,
    TopN.java:117-118)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def add_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach ``n_tokens`` (alnum tokenizer) — the packing input."""
    return df.withColumn("n_tokens", token_count(text_col))


def stratified_sample(
    df: DataFrame,
    strata: tuple[str, ...],
    fraction: float,
    key_col: str,
) -> DataFrame:
    """Deterministic exact-rate stratified sampling: keep the first
    ``ceil(n_stratum * fraction)`` rows of each stratum, ordered by
    the content-stable md5 key (tie-broken by the key itself).

    Unlike ``df.sampleBy`` this yields an exact per-stratum count and
    the same rows on every run/engine/partitioning. Cost: one window
    sort per stratum — the same shuffle a groupBy on the strata would
    pay; at 100 TB prefer ``hash_sample`` (stateless filter, no
    shuffle) when approximate per-stratum rates are acceptable.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*strata).orderBy(
        _hash_key(key_col).asc(), F.col(key_col).asc()
    )
    wn = Window.partitionBy(*strata)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .where(F.col("_rn") <= F.ceil(F.col("_n") * F.lit(fraction)))
        .drop("_rn", "_n")
    )


def contamination_check(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: for each training document, count the
    distinct word ``n``-grams it shares with any benchmark document.

    Returns ``(id_col, n_shared_grams)`` for contaminated docs only.
    The standard eval-leakage gate for training corpora (as in GPT-3 /
    Gopher dataset reports): drop or flag training docs whose n-gram
    overlap with the eval set exceeds a threshold. This is the
    DIAGNOSTIC form; ``dedup.ngram_decontaminate`` is the release
    gate built on the same collision — full-frame flag/drop at the
    published 13-gram setting, instance counts, md5'd join keys.

    Scale shape: both sides explode to *distinct* n-grams per doc
    (dedup before the join keeps the shuffle minimal), then an
    inner equi-join on the gram string and a per-doc distinct count.
    The benchmark side is tiny by construction (eval sets are
    thousands of docs, not billions) — mark it broadcast so the 100 TB
    training side never shuffles: the probe is map-side.
    """
    def grams(df: DataFrame, *cols: str) -> DataFrame:
        # tokens bound in their own projection — see
        # ngrams_from_tokens's perf note on lambda re-evaluation
        return (
            ensure_parallelism(df)
            .withColumn("_toks", tokens(text_col))
            .select(
                *cols,
                F.explode(
                    F.array_distinct(ngrams_from_tokens("_toks", n))
                ).alias("gram"),
            )
        )

    t_grams = grams(train, id_col)
    b_grams = grams(benchmark).distinct()
    return (
        t_grams.join(F.broadcast(b_grams), "gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
    )


def merge_upsert(
    target: DataFrame, source: DataFrame, keys: list[str]
) -> DataFrame:
    """SQL MERGE semantics without a table format: rows from ``source``
    win on key collision; unmatched ``target`` rows pass through.
    ``source`` must be unique per key (it is the "new data" batch).

    Implementation is source ∪ (target ANTI-JOIN source-keys): one
    shuffle on the key (or none for the probe side when AQE broadcasts
    the source-key set — the common case: incremental batches are
    small relative to the accumulated table). This is the idiomatic
    plain-Parquet upsert; table formats (Delta/Iceberg) only add
    transactional commit around the same join shape.
    """
    missing = [c for c in target.columns if c not in source.columns]
    if missing:
        raise ValueError(f"source lacks target columns: {missing}")
    survivors = target.join(
        source.select(*keys).distinct(), on=keys, how="left_anti"
    )
    return source.select(*target.columns).unionByName(survivors)


def resample_ffill(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_agg: Column,
    step: str = "1 hour",
    unit: str = "hour",
) -> DataFrame:
    """Regularize an event stream onto a fixed time grid with
    forward-fill: one row per key per ``step`` bucket from that key's
    first to last event; buckets with no events carry the most recent
    observed aggregate (``ffilled`` marks carried rows).

    Gap-filling + last-observation-carried-forward is the standard
    time-series densification op (TimescaleDB ``time_bucket_gapfill``,
    Pandas ``resample().ffill()``). Spark shape: per-key min/max
    (hash agg), ``sequence()`` explode to materialize the grid
    (map-only after the agg), left join of the grid with the bucketed
    aggregates (both sides pre-aggregated and co-keyed), then
    ``last(value, ignorenulls=True)`` over an unbounded-preceding
    window per key. Grid explosion is the only row-amplifying step and
    is proportional to output size, not input size.
    """
    from pyspark.sql.window import Window

    bucket = F.date_trunc(unit, F.col(ts_col))
    span = df.groupBy(*key_cols).agg(
        F.min(bucket).alias("_lo"), F.max(bucket).alias("_hi")
    )
    grid = span.select(
        *key_cols,
        F.explode(
            F.sequence("_lo", "_hi", F.expr(f"interval {step}"))
        ).alias("bucket"),
    )
    actual = df.groupBy(*key_cols, bucket.alias("bucket")).agg(
        value_agg.alias("_v")
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(actual, [*key_cols, "bucket"], "left")
        .withColumn("value", F.last("_v", ignorenulls=True).over(w))
        .withColumn("ffilled", F.col("_v").isNull())
        .drop("_v")
    )


def resample_interpolate(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_agg: Column,
    step: str = "1 hour",
    unit: str = "hour",
) -> DataFrame:
    """Regularize an event stream onto a fixed time grid with LINEAR
    interpolation: one row per key per ``step`` bucket from that key's
    first to last event; buckets with no events get the straight-line
    value between the surrounding observed buckets (TimescaleDB
    ``interpolate()``, Pandas ``resample().interpolate()``).

    The sibling of :func:`resample_ffill` (same grid construction —
    per-key span agg, ``sequence()`` explode, co-keyed left join; grid
    explosion proportional to output, not input). The fill differs:
    two windows per key carry the previous observed (bucket, value)
    forward and the next observed backward, then the interior gap rows
    evaluate the closed-form lerp in codegen. Leading gap rows (before
    the first observation) stay null — there is nothing to
    interpolate from; trailing rows cannot exist because the grid ends
    at the key's last event. ``interpolated`` marks filled rows.
    """
    from pyspark.sql.window import Window

    bucket = F.date_trunc(unit, F.col(ts_col))
    span = df.groupBy(*key_cols).agg(
        F.min(bucket).alias("_lo"), F.max(bucket).alias("_hi")
    )
    grid = span.select(
        *key_cols,
        F.explode(
            F.sequence("_lo", "_hi", F.expr(f"interval {step}"))
        ).alias("bucket"),
    )
    actual = df.groupBy(*key_cols, bucket.alias("bucket")).agg(
        value_agg.alias("_v")
    )
    wb = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("_v").isNotNull(), F.col("bucket"))
    j = (
        grid.join(actual, [*key_cols, "bucket"], "left")
        .withColumn("_pv", F.last("_v", ignorenulls=True).over(wb))
        .withColumn("_pt", F.last(obs_bucket, ignorenulls=True).over(wb))
        .withColumn("_nv", F.first("_v", ignorenulls=True).over(wf))
        .withColumn("_nt", F.first(obs_bucket, ignorenulls=True).over(wf))
    )
    t = F.unix_timestamp("bucket").cast("double")
    tp = F.unix_timestamp("_pt").cast("double")
    tn = F.unix_timestamp("_nt").cast("double")
    lerp = F.col("_pv") + (F.col("_nv") - F.col("_pv")) * (t - tp) / (
        tn - tp
    )
    return (
        j.withColumn(
            "value",
            F.when(F.col("_v").isNotNull(), F.col("_v")).otherwise(
                F.when(
                    F.col("_pv").isNotNull() & F.col("_nv").isNotNull(),
                    lerp,
                )
            ),
        )
        .withColumn(
            "interpolated",
            F.col("_v").isNull() & F.col("value").isNotNull(),
        )
        .drop("_v", "_pv", "_pt", "_nv", "_nt")
    )


def histogram(
    df: DataFrame, col: str, lo: float, hi: float, nbins: int
) -> DataFrame:
    """Fixed-bound equi-width histogram: ``(bucket, n)`` with
    width_bucket semantics — bucket 0 = underflow, ``nbins + 1`` =
    overflow, else ``1 + floor(nbins * (x - lo) / (hi - lo))``. The
    formula is spelled out (not ``F.width_bucket``) so engines and
    oracles bucket boundary values by the identical IEEE expression.
    One map-side-combined hash aggregate over at most ``nbins + 2``
    groups — the cheapest possible distribution profile at 100 TB
    (contrast a percentile, which needs a sort or sketch)."""
    x = F.col(col)
    bucket = (
        F.when(x < lo, F.lit(0))
        .when(x >= hi, F.lit(nbins + 1))
        .otherwise(
            F.lit(1)
            + F.floor(F.lit(float(nbins)) * (x - lo) / F.lit(hi - lo))
        )
    )
    return (
        df.select(bucket.cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def zscore(
    df: DataFrame, value_col: str, group_cols: list[str], out_col: str = "z"
) -> DataFrame:
    """Per-group z-score normalization:
    ``z = (x - mean(group)) / stddev_samp(group)`` — the basic feature
    scaling step before clustering / outlier clipping.

    Uses an unpartitioned-frame window per group: Spark computes the
    two moments with a single shuffle on the group keys and no
    self-join. Groups of size 1 (stddev undefined) yield null.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols)
    return df.withColumn(
        out_col,
        (F.col(value_col) - F.avg(value_col).over(w))
        / F.nullif(F.stddev_samp(value_col).over(w), F.lit(0.0)),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float = 0.05,
    hi: float = 0.95,
    round_bounds: int | None = 6,
) -> DataFrame:
    """Per-group outlier clipping: clamp ``value_col`` into its
    group's [``lo``, ``hi``] interpolated-percentile interval
    (winsorization) — the standard robust-scaling step before
    training on heavy-tailed features.

    Adds ``{value}_clipped``, ``clip_lo``, ``clip_hi``. Two-pass
    shape: one hash aggregate computes both bounds per group
    (``percentile(col, array(lo, hi))`` — single pass over values),
    then a join back (AQE broadcasts the tiny group table) and a
    map-only clamp. No window sort over the data.

    ``round_bounds`` rounds the interpolated bounds (default 6 dp) so
    clip decisions are reproducible across engines whose percentile
    interpolation differs in the last ulp.
    """
    q = F.expr(
        f"percentile(CAST({value_col} AS DOUBLE), array({lo}, {hi}))"
    )
    b_lo, b_hi = F.col("_qs")[0], F.col("_qs")[1]
    if round_bounds is not None:
        b_lo, b_hi = F.round(b_lo, round_bounds), F.round(b_hi, round_bounds)
    bounds = df.groupBy(*group_cols).agg(q.alias("_qs")).select(
        *group_cols, b_lo.alias("clip_lo"), b_hi.alias("clip_hi")
    )
    return df.join(bounds, group_cols).withColumn(
        f"{value_col}_clipped",
        F.least(F.greatest(F.col(value_col), F.col("clip_lo")), F.col("clip_hi")),
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    order_tiebreak: str | None = None,
    out_col: str = "session_id",
) -> DataFrame:
    """Row-level sessionization: assign each event a per-key session
    id (0-based, in time order), where a gap longer than ``gap``
    between consecutive events starts a new session.

    The batch counterpart of ``streaming/windows.py`` session windows,
    for when rows (not aggregates) need the session label — e.g.
    building per-session training examples. One window sort per key
    partition: lag to detect gap breaks, running sum of breaks for
    the id — the standard formulation, and the same shuffle a
    groupBy on the keys would pay.
    """
    from pyspark.sql.window import Window

    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    brk = F.when(
        prev.isNull()
        | (F.col(ts_col) > prev + F.expr(f"interval {gap}")),
        1,
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        out_col, (F.sum(brk).over(wsum) - 1).cast("bigint")
    )


def token_heavy_hitters_approx(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Sketch-based top-k tokens (``approx_top_k``): fixed-size state
    per partition regardless of vocabulary, the 100 TB path when the
    distinct-token set itself is too wide to shuffle (web-scale
    corpora). Exact counterpart: :func:`token_heavy_hitters`.
    Sketch contents are engine/merge-order dependent — verify by
    tolerance against the exact op, never by hash.
    """
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .selectExpr(f"approx_top_k(token, {k}) AS tk")
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").cast("bigint").alias("n_approx"),
        )
    )


def chunk_by_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    size: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into token-budget chunks with token overlap —
    the tokenizer-aligned sibling of :func:`chunk_documents` (LLM
    training shards are budgeted in tokens, not characters).

    Emits ``chunk_idx`` (0-based), ``chunk`` (space-joined tokens),
    ``n_chunk_tokens``. Map-only: the token array is materialized once
    per row (own projection — see textstats.ngrams_from_tokens), then
    a posexplode over window starts and an O(size) slice per chunk.
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    step = size - overlap
    base = ensure_parallelism(df).withColumn("_toks", tokens(text_col))
    starts = F.expr(f"sequence(1, greatest(size(_toks), 1), {step})")
    out = base.select(
        *id_cols,
        F.col("_toks"),
        F.posexplode(starts).alias("chunk_idx", "_start"),
    )
    return (
        out.withColumn(
            "chunk", F.expr(f"concat_ws(' ', slice(_toks, _start, {size}))")
        )
        .withColumn(
            "n_chunk_tokens",
            F.expr(
                f"greatest(least({size}, size(_toks) - _start + 1), 0)"
            ).cast("bigint"),
        )
        .drop("_toks", "_start")
    )


def scd2(
    df: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str = "ts",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Build a slowly-changing-dimension **type 2** history from an
    update stream: one row per (key, attribute-state) interval with
    ``eff_from`` / ``eff_to`` / ``is_current``.

    Two stacked windows over the SAME partitioning+ordering — change
    detection (``lag`` on the attribute struct collapses no-op
    updates) then interval closing (``lead`` of the next change's
    timestamp) — so Catalyst plans ONE shuffle on ``key_cols`` and
    reuses the sort between the window operators. No global sort, no
    driver state: at 100 TB this is a single exchange keyed by the
    dimension's natural key.

    ``tiebreak`` columns break timestamp ties deterministically
    (default: none — supply one if updates can share a timestamp).

    The reference has no dimension-maintenance surface; this is
    warehouse-pipeline north-star scope alongside
    :func:`merge_upsert` (the SCD1 sibling).
    """
    if not key_cols or not attr_cols:
        raise ValueError("scd2 needs at least one key and one attribute column")
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order)
    state = F.struct(*[F.col(c) for c in attr_cols])
    changed = df.withColumn("_prev", F.lag(state).over(w)).where(
        F.col("_prev").isNull() | ~F.col("_prev").eqNullSafe(state)
    )
    return (
        changed.withColumn("eff_from", F.col(ts_col))
        .withColumn("eff_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("eff_to").isNull())
        .drop("_prev")
    )


def equidepth_histogram(
    df: DataFrame, col: str, k: int, approx: bool = False
) -> DataFrame:
    """Equi-depth (quantile-bucketed) histogram: ``k`` buckets with
    ~equal row counts — ``(bucket, n, lo, hi)``.

    Two passes: compute the ``k-1`` interior quantile cutpoints (one
    aggregate row), broadcast them, then assign each row its bucket
    as ``1 + |{cut < value}|`` via a higher-order filter over the
    tiny cutpoint array (map-only; boundary values fall to the lower
    bucket). ``approx=True`` uses ``approx_percentile`` (KLL sketch,
    mergeable, single-shuffle) — the 100 TB path, since exact
    ``percentile`` shuffles the full value set; the exact form is
    oracle-comparable. Complements :func:`histogram` (equi-width).
    """
    if k < 2:
        raise ValueError("equidepth_histogram needs k >= 2")
    qs = F.array([F.lit(i / k) for i in range(1, k)])
    fn = F.percentile_approx if approx else F.percentile
    cuts = df.agg(fn(col, qs).alias("_cuts"))
    return (
        df.crossJoin(F.broadcast(cuts))
        .select(
            F.col(col).alias("_v"),
            (
                F.size(F.filter("_cuts", lambda c: F.col("_v") > c)) + 1
            ).cast("bigint").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("_v"), 6).alias("lo"),
            F.round(F.max("_v"), 6).alias("hi"),
        )
    )


def funnel(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    step_col: str,
    steps: list[str],
) -> DataFrame:
    """Funnel analysis: how many keys (users) complete each prefix of
    ``steps`` with strictly increasing timestamps —
    ``(step, step_name, n_keys)``, ``n_keys`` non-increasing.

    Per key, events are gathered into one sorted array and walked
    with a greedy ``aggregate`` fold that advances on the first
    eligible occurrence of the next step (greedy-earliest matching is
    optimal for funnel existence, so this equals the k-level
    ``MIN(ts) > prev`` join formulation the oracle runs). One shuffle
    on the key; the fold is codegen'd JVM-side — no Python, no
    per-step join. Rows not in ``steps`` are filtered before the
    collect, bounding the per-key array by the user's funnel-relevant
    activity; for pathological per-key volumes the k-join form
    trades one shuffle for k bounded ones.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    for s in steps:
        if "'" in s or "\\" in s:
            raise ValueError(f"step name {s!r} may not contain quotes")
    k = len(steps)
    arr = "array(" + ", ".join(f"'{s}'" for s in steps) + ")"
    per_key = (
        df.where(F.col(step_col).isin(steps))
        .groupBy(key_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("t"), F.col(step_col).alias("s")
                    )
                )
            ).alias("__ev")
        )
    )
    reached = F.expr(
        f"""aggregate(__ev,
        named_struct('k', 0, 't', CAST(NULL AS TIMESTAMP)),
        (acc, x) -> IF(acc.k < {k} AND x.s = element_at({arr}, acc.k + 1)
                       AND (acc.k = 0 OR x.t > acc.t),
                    named_struct('k', acc.k + 1, 't', x.t), acc)).k"""
    )
    aggs = [
        F.coalesce(
            F.sum((reached >= i).cast("bigint")), F.lit(0)
        ).alias(f"__s{i}")
        for i in range(1, k + 1)
    ]
    wide = per_key.agg(*aggs)
    stacked = ", ".join(
        f"CAST({i} AS BIGINT), '{s}', __s{i}"
        for i, s in enumerate(steps, start=1)
    )
    return wide.select(
        F.expr(f"stack({k}, {stacked}) AS (step, step_name, n_keys)")
    )


def retention(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    period: str = "day",
) -> DataFrame:
    """Cohort retention: bucket each key by first-seen period
    (``cohort``), then count distinct keys active at each period
    offset — ``(cohort, period_offset, n_active)``.

    One shuffle on the key (a window ``MIN`` computes the cohort
    without a self-join) feeding one distinct-aggregate on
    ``(cohort, offset)``. Output is O(cohorts × horizon), independent
    of event volume — the shape that stays queryable at 100 TB.
    """
    from pyspark.sql.window import Window

    if period not in ("day", "week", "month"):
        raise ValueError(f"period must be day|week|month, got {period!r}")
    base = df.select(
        F.col(key_col).alias("__k"),
        F.date_trunc(period, F.col(ts_col)).cast("date").alias("__d"),
    ).withColumn("cohort", F.min("__d").over(Window.partitionBy("__k")))
    if period == "month":
        offset = F.floor(F.months_between("__d", "cohort")).cast("bigint")
    elif period == "week":
        offset = F.floor(F.datediff("__d", "cohort") / 7).cast("bigint")
    else:
        offset = F.datediff("__d", "cohort").cast("bigint")
    return (
        base.select("cohort", offset.alias("period_offset"), "__k")
        .groupBy("cohort", "period_offset")
        .agg(F.countDistinct("__k").alias("n_active"))
    )


def event_transitions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    step_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """First-order (Markov) transition counts between consecutive
    events per key: ``(from_step, to_step, n, p)`` where ``p`` is the
    row-normalized transition probability.

    One shuffle on the key (lag window), then a partial+final count
    aggregate on the O(states²) transition pairs and a broadcast join
    against per-``from_step`` totals. The transition matrix itself is
    tiny at any scale; event volume only flows through the window
    sort, which partitions by key.
    """
    from pyspark.sql.window import Window

    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = (
        df.withColumn("__prev", F.lag(step_col).over(w))
        .where(F.col("__prev").isNotNull())
        .groupBy(
            F.col("__prev").alias("from_step"),
            F.col(step_col).alias("to_step"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_step").agg(F.sum("n").alias("__t"))
    return pairs.join(F.broadcast(totals), "from_step").select(
        "from_step",
        "to_step",
        "n",
        F.round(F.col("n") / F.col("__t"), 6).alias("p"),
    )


def coalesce_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Merge overlapping or touching intervals per key →
    ``(keys..., start, end, n_merged)`` with one row per maximal
    merged interval (gaps-and-islands).

    An interval opens a new island when its start exceeds the running
    maximum end of every earlier interval in its key
    (``MAX(end) OVER (... ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)``);
    a running sum of those breaks numbers the islands, and a final
    keyed aggregate collapses each island to its span. Works for
    timestamps and numerics alike.

    Scale shape: one window sort per key partition plus one hash
    aggregate on the same key prefix — identical shuffle cost to
    ``sessionize`` (its fixed-gap sibling). No self-join: the naive
    "overlaps" formulation is O(n²) per key, this is O(n log n).
    """
    from pyspark.sql.window import Window

    keys = key_cols or []
    w = Window.partitionBy(*keys).orderBy(
        F.col(start_col).asc(), F.col(end_col).asc()
    )
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    island = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__island", island)
        .groupBy(*keys, "__island")
        .agg(
            F.min(start_col).alias("start"),
            F.max(end_col).alias("end"),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("__island")
    )


def ewma(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float,
    tiebreak: list[str] | None = None,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average of ``value_col`` along
    ``order_col`` within each key: ``ewma_1 = x_1``,
    ``ewma_i = α·x_i + (1-α)·ewma_{i-1}`` — appended as ``out_col``
    to every input row.

    The recurrence is inherently sequential, so it runs as a
    codegen'd JVM fold (``aggregate``) over each key's time-sorted
    value array — no Python UDF, no driver loop, exact recurrence
    arithmetic. One shuffle (the groupBy on the keys), then a
    map-only explode back to rows.

    Scale constraint: a key's whole series is materialized as one
    array, so per-key cardinality must fit in executor memory
    (~millions of rows per key; the same bound every per-key
    sequence op in this module carries). Keys are independent —
    total volume is unbounded.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not key_cols:
        raise ValueError("ewma needs at least one key column")
    tb = tiebreak or []
    ord_cols = [order_col, *tb]
    row = F.struct(
        *[F.col(c) for c in ord_cols],
        F.struct(*[F.col(c) for c in df.columns]).alias("__row"),
    )
    packed = df.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(row)).alias("__seq")
    )
    # fold: acc = array of ewma values so far; next = α·x + (1-α)·last.
    # β is materialized via Python repr so an oracle re-running the
    # recurrence with the same literal performs bit-identical IEEE
    # arithmetic (1.0 - α evaluated engine-side can differ by 1 ulp).
    beta = repr(1.0 - alpha)
    x = f"CAST(e.__row.{value_col} AS DOUBLE)"
    folded = packed.withColumn(
        "__ew",
        F.expr(
            f"""aggregate(
                  __seq,
                  CAST(array() AS ARRAY<DOUBLE>),
                  (acc, e) -> CASE WHEN size(acc) = 0
                      THEN array({x})
                      ELSE array_append(
                          acc,
                          {alpha!r} * {x}
                          + {beta} * element_at(acc, -1))
                      END)"""
        ),
    )
    exploded = folded.select(
        F.posexplode(F.arrays_zip("__seq", "__ew")).alias("__i", "__z")
    ).select("__z.__seq.__row.*", F.col("__z.__ew").alias(out_col))
    return exploded


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    prune: str = "agg",
) -> DataFrame:
    """Pareto frontier of distinct ``(x, y)`` points, maximizing both
    dimensions → the skyline rows ``(x, y)``.

    A point is dominated when another point is ≥ in both dimensions
    and > in at least one. For points sorted by ``(x DESC, y DESC)``,
    a point is on the skyline iff its y exceeds the running maximum y
    of all earlier points — an O(n log n) sort+scan instead of the
    O(n²) dominance self-join.

    Scale shape: two-phase. Phase 1 sheds dominated points before
    anything shuffles; phase 2's single-partition window scan sees
    only the survivors (O(distinct x) worst case, typically ≪ input).
    Two phase-1 strategies, chosen by ``prune``:

    - ``"agg"`` (default): for any x only ``max(y)`` can make the
      skyline, so ``groupBy(x).max(y)`` with its map-side partial
      combine IS the prune — whole-stage-codegen JVM hash aggregation,
      no Python worker, no Arrow transfer. The one Exchange moves at
      most (partitions × distinct x) partial rows. Measured 3×
      faster than the Arrow path at sf0.1 on lineitem (~50 distinct
      quantities).
    - ``"arrow"``: ``mapInPandas`` local-frontier prune — sorts each
      Arrow batch and keeps its running-max frontier, so NO Exchange
      appears below the prune at all. Wins only when x is
      near-unique (continuous x): there ``groupBy(x)`` degenerates to
      ``distinct`` and ships ~every row, while a local frontier is
      still small. Crossover ≈ when distinct(x) per partition
      approaches the partition row count; the Arrow round-trip costs
      ~3× on moderate-cardinality x, so default to ``"agg"``.
    """
    from pyspark.sql.window import Window

    pts = df.select(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())

    if prune == "agg":
        # partial_max combines map-side: each task emits ≤ distinct(x)
        # rows into the shuffle, all inside codegen.
        reduced = pts.groupBy("x").agg(F.max("y").alias("y"))
    elif prune == "arrow":

        def _local_prune(batches):
            # per Arrow batch: sort (x desc, y desc), keep rows whose
            # y strictly exceeds the running max of earlier rows.
            # Duplicates collapse here; the distinct finishes the job.
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                pdf = pdf.sort_values(["x", "y"], ascending=False)
                prev_max = pdf["y"].cummax().shift(1)
                out = pdf[prev_max.isna() | (pdf["y"] > prev_max)]
                if len(out):
                    yield out

        reduced = pts.mapInPandas(_local_prune, schema=pts.schema).distinct()
    else:
        raise ValueError(f"prune must be 'agg' or 'arrow', got {prune!r}")

    w = (
        Window.orderBy(F.col("x").desc(), F.col("y").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        reduced.withColumn("__pm", F.max("y").over(w))
        .where(F.col("__pm").isNull() | (F.col("y") > F.col("__pm")))
        .select(F.col("x").alias(x_col), F.col("y").alias(y_col))
    )


def time_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Time-weighted average of a step series per key →
    ``(keys..., t_start, t_end, n_obs, twa)``.

    Each observation holds (LOCF) until the next one; the TWA is the
    integral of that step function over the key's observed span,
    divided by the span: ``Σ vᵢ·(tᵢ₊₁-tᵢ) / (tₙ-t₁)``. The honest
    average for irregularly sampled series — a plain AVG over-weights
    bursts of closely spaced samples. Keys with one observation (or a
    zero span) return the minimum value (a pinned, deterministic
    choice).

    One lead() window per key partition + one hash aggregate on the
    same key — the sort a groupBy would pay anyway; no grid
    materialization, no self-join.
    """
    from pyspark.sql.window import Window

    # integer microseconds for the arithmetic (exact, engine-portable);
    # the original timestamps for the reported span endpoints
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    seg = df.select(
        *key_cols,
        F.col(ts_col).cast("timestamp").alias("__ts"),
        t.alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
    ).withColumn(
        # __v tiebreak: simultaneous observations are zero-width except
        # the last, so order among them must be deterministic
        "__nxt",
        F.lead("__t").over(
            Window.partitionBy(*key_cols).orderBy(
                F.col("__t").asc(), F.col("__v").asc()
            )
        ),
    )
    area = F.sum(F.col("__v") * (F.col("__nxt") - F.col("__t")))
    span = (F.max("__t") - F.min("__t")).cast("double")
    return seg.groupBy(*key_cols).agg(
        F.min("__ts").alias("t_start"),
        F.max("__ts").alias("t_end"),
        F.count(F.lit(1)).alias("n_obs"),
        F.round(
            F.coalesce(F.try_divide(area, span), F.min("__v")),
            round_to,
        ).alias("twa"),
    )


def robust_zscore(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    round_stats: int = 6,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group robust standardization via median / MAD: adds
    ``{value}_rz = (x - median) / (1.4826 * MAD)`` where MAD is the
    median absolute deviation — the outlier-resistant sibling of
    ``zscore`` (a single contaminated value moves mean/stddev
    arbitrarily; it moves median/MAD not at all), with 1.4826 the
    consistency constant that makes MAD estimate sigma under
    normality.

    Three aggregate passes, zero window sorts: (1) per-group median
    (interpolated ``percentile`` — one hash agg), (2) join back
    (AQE broadcasts the group table) and per-group median of
    ``|x - median|``, (3) join back and the map-only scale. The
    medians are rounded to ``round_stats`` before use so both engines
    scale from identical doubles (``percentile`` ↔ ``quantile_cont``
    interpolate identically on dyadic inputs but can differ in the
    last ulp); the scale itself is one multiply + one divide, IEEE-
    exact. MAD = 0 (constant group) yields NULL, not Infinity.
    """
    out_col = out_col or f"{value_col}_rz"
    med = F.round(
        F.expr(f"percentile(CAST({value_col} AS DOUBLE), 0.5)"),
        round_stats,
    )
    meds = df.groupBy(*group_cols).agg(med.alias("_med"))
    with_med = df.join(meds, group_cols)
    mad = F.round(
        F.expr(
            f"percentile(abs(CAST({value_col} AS DOUBLE) - _med), 0.5)"
        ),
        round_stats,
    )
    mads = with_med.groupBy(*group_cols).agg(
        F.first("_med").alias("_med"), mad.alias("_mad")
    )
    return (
        df.join(mads, group_cols)
        .withColumn(
            out_col,
            F.when(
                F.col("_mad") > 0,
                (F.col(value_col) - F.col("_med"))
                / (F.lit(1.4826) * F.col("_mad")),
            ),
        )
        .withColumnRenamed("_med", "med")
        .withColumnRenamed("_mad", "mad")
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    rank_col: str | None = None,
) -> DataFrame:
    """Dataset-mixture sampling: draw a deterministic uniform sample
    whose per-``group_col`` counts follow configured ``weights`` — the
    "mix 50% web / 30% books / 20% code" step that sets a training
    corpus's domain proportions. Groups absent from ``weights`` are
    dropped; group g receives ``round(total * weights[g])`` rows
    (fewer when the group is smaller — quotas are caps, not
    guarantees).

    Same engine-portable determinism contract as
    ``sample_k_per_group``: rank by md5(id) within group, keep the
    quota smallest — no rand(), reproducible across runs,
    partitionings, and engines. Scale shape: one filter to configured
    groups, one grouped window; the rank cut against the LITERAL max
    quota is evaluated map-side (WindowGroupLimit), so at most
    max-quota rows per group per input partition reach the shuffle;
    the per-group quota is then a cheap post-filter against a literal
    CASE map. Quota arithmetic happens driver-side on the config dict
    — never a data-dependent collect.
    """
    from pyspark.sql.window import Window

    if not weights:
        raise ValueError("mixture_sample needs at least one weight")
    quotas = {g: int(round(total * w)) for g, w in weights.items()}
    max_q = max(quotas.values())
    qmap = F.create_map(
        *[F.lit(x) for g, q in quotas.items() for x in (g, q)]
    )
    w = Window.partitionBy(group_col).orderBy(
        _hash_key(id_col), F.col(id_col)
    )
    rn = "__mix_rn" if rank_col is None else rank_col
    out = (
        df.where(F.col(group_col).isin(*quotas.keys()))
        .withColumn(rn, F.row_number().over(w).cast("bigint"))
        # literal cut first: this is the WindowGroupLimit map-side
        # prune; the data-dependent quota lookup is a residual filter
        .where(F.col(rn) <= max_q)
        .where(F.col(rn) <= qmap[F.col(group_col)])
    )
    return out.drop(rn) if rank_col is None else out


def temperature_rebalance(
    df: DataFrame,
    total: int,
    alpha: float = 0.3,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based corpus rebalancing (the XLM-R / multilingual
    exponential-smoothing recipe, Conneau et al. 2020 §3.1): group g's
    target share is ``count_g**alpha / sum_m count_m**alpha`` — alpha
    < 1 flattens the empirical distribution so high-resource groups
    stop drowning low-resource ones — and its quota is
    ``min(count_g, round(total * share_g))``. Unlike
    :func:`mixture_sample` (operator-supplied fixed weights), the
    quotas here derive from the MEASURED group distribution.

    Selection is the engine-portable determinism contract shared with
    ``sample_k_per_group``: rank by ``(md5(id), id)`` within group,
    keep the quota smallest — reproducible across runs, partitionings,
    and engines, no rand().

    Scale shape: one group-count aggregate whose result is
    MODEL-sized (#groups rows — languages/domains, not data) and is
    collected to the driver to run the quota arithmetic (the
    sanctioned scalar-sized collect); then one grouped window whose
    rank cut against the literal max quota is evaluated map-side
    (WindowGroupLimit), with the per-group quota a residual filter
    against a literal CASE map. Rows with a NULL group are dropped
    (no quota can target them).
    """
    from pyspark.sql.window import Window

    if total <= 0:
        raise ValueError(f"total must be positive, got {total}")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = {
        r[0]: r[1]
        for r in df.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return df.limit(0)
    powed = {g: float(n) ** alpha for g, n in counts.items()}
    z = sum(powed[g] for g in sorted(powed))
    quotas = {
        g: min(counts[g], int(round(total * powed[g] / z)))
        for g in counts
    }
    max_q = max(quotas.values())
    qmap = F.create_map(
        *[F.lit(x) for g, q in quotas.items() for x in (g, q)]
    )
    w = Window.partitionBy(group_col).orderBy(
        _hash_key(id_col), F.col(id_col)
    )
    return (
        df.where(F.col(group_col).isNotNull())
        .withColumn("__tr_rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("__tr_rn") <= max_q)
        .where(F.col("__tr_rn") <= qmap[F.col(group_col)])
        .drop("__tr_rn")
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    status_col: str = "status",
) -> DataFrame:
    """Snapshot diff between two versions of a keyed table: one row
    per key with ``status`` ∈ added / removed / changed / unchanged —
    the ingest-validation primitive ("what did this load actually
    do?") and the input to incremental downstream refresh.

    Rows are compared by an md5 digest of the ``compare_cols``
    (default: all non-key columns common to both sides), columns
    NULL-sentineled and unit-separator-joined so (``'a'``, NULL) ≠
    (NULL, ``'a'``). Scale shape: each side reduces to (key, 16-byte
    digest) before the single full-outer join — the shuffle carries
    digests, never payloads. Engine-portable digests keep the output
    exactly oracle-checkable (callers comparing float columns should
    pre-round them — cast-to-string float formatting is the one
    engine-specific step).
    """
    if compare_cols is None:
        compare_cols = [
            c
            for c in old.columns
            if c not in key_cols and c in new.columns
        ]

    def digest(df):
        return F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                    for c in compare_cols
                ],
            )
        )

    od = old.select(*key_cols, digest(old).alias("_od"))
    nd = new.select(*key_cols, digest(new).alias("_nd"))
    status = (
        F.when(F.col("_nd").isNull(), F.lit("removed"))
        .when(F.col("_od").isNull(), F.lit("added"))
        .when(F.col("_od") != F.col("_nd"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        od.join(nd, key_cols, "full_outer")
        .select(*key_cols, status.alias(status_col))
    )


def ohlc_bars(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_cols: list[str],
    bucket: str = "hour",
) -> DataFrame:
    """Time-bucketed OHLC bars per key: ``(keys, bar, open, high,
    low, close, n)`` — the classic downsampling for numeric series
    (prices, sensor values, metric streams): open/close are the
    values at the earliest/latest timestamp in the bar, high/low the
    extremes.

    ONE hash aggregate — ``min_by``/``max_by`` over the timestamp
    pick open/close without any window sort, so the bar table costs
    the same as a count per bucket at any scale. Ties on the exact
    same timestamp within a (key, bar) are argmin/argmax-arbitrary —
    pre-aggregate to unique (key, ts) first when the series can
    carry duplicates (the catalog entry does).
    """
    bar = F.date_trunc(bucket, F.col(ts_col))
    return df.groupBy(*key_cols, bar.alias("bar")).agg(
        F.min_by(value_col, ts_col).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(value_col, ts_col).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


def scd2_as_of(
    history: DataFrame,
    ts,
    from_col: str = "eff_from",
    to_col: str = "eff_to",
) -> DataFrame:
    """Point-in-time read of an SCD type-2 history (the lookup side
    of :func:`scd2`): the dimension exactly as it stood at ``ts`` —
    rows whose validity interval covers the instant
    (``eff_from <= ts < eff_to``, open current rows via NULL
    ``eff_to``). Map-only filter; with the history written
    partitioned on ``eff_from`` months the scan prunes to the
    relevant slice. This is the "join facts against the dimension as
    it was THEN" primitive that makes SCD2 histories usable — pair
    with :func:`topn_spark.operators.asof.asof_join` when each fact
    row carries its own timestamp instead of one global instant.
    """
    t = F.lit(ts).cast("timestamp") if not isinstance(ts, Column) else ts
    return history.where(
        (F.col(from_col) <= t)
        & (F.col(to_col).isNull() | (F.col(to_col) > t))
    )


def stratified_split(
    df: DataFrame,
    strata_cols: list[str],
    fracs: dict[str, float],
    id_col: str,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split with EXACT per-stratum
    proportions: within each stratum, rank rows by md5(id) and cut
    the rank at ``ceil(frac * stratum_size)`` boundaries — every
    stratum (source, language, label) contributes its declared share
    to every split, unlike :func:`assign_split` whose global hash
    split only hits the fractions in expectation (a rare stratum can
    land entirely in train).

    ``fracs`` maps split name → fraction, in priority order (dict
    order), summing to 1. Reproducible across engines, runs, and
    partitionings — no rand(). Plan: one grouped window (rank by
    hash) + a broadcast join of per-stratum counts; both keyed by the
    strata, no global sort.
    """
    if abs(sum(fracs.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {fracs}")
    from pyspark.sql.window import Window

    w = Window.partitionBy(*strata_cols).orderBy(
        _hash_key(id_col), F.col(id_col)
    )
    sizes = df.groupBy(*strata_cols).agg(
        F.count(F.lit(1)).alias("__n")
    )
    ranked = df.withColumn(
        "__rk", F.row_number().over(w).cast("bigint")
    ).join(sizes, strata_cols)
    # cumulative ceil boundaries: split_i gets ranks in
    # (ceil(c_{i-1} n), ceil(c_i n)] — exact counts, last split
    # absorbs rounding
    expr = None
    cum = 0.0
    names = list(fracs)
    for name in names[:-1]:
        # round the cumulative fraction: float accumulation
        # (0.8 + 0.1 = 0.9000000000000001) would flip the ceil
        # boundary exactly when frac*n is an integer — the worst
        # possible place
        cum = round(cum + fracs[name], 9)
        bound = F.ceil(F.lit(cum) * F.col("__n"))
        cond = F.col("__rk") <= bound
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    expr = (
        expr.otherwise(F.lit(names[-1]))
        if expr is not None
        else F.lit(names[-1])
    )
    return ranked.withColumn(out_col, expr).drop("__rk", "__n")


#: two-label public suffixes common enough to matter for registered-
#: domain extraction (a full public-suffix list is a data file a
#: deployment would broadcast the same way; the LOGIC is identical)
TWO_LEVEL_TLDS = (
    "co.uk", "org.uk", "gov.uk", "ac.uk", "co.jp", "co.in",
    "com.au", "com.br", "com.cn", "co.kr", "com.mx", "co.za",
)


def url_features(
    df: DataFrame,
    url_col: str = "url",
    two_level_tlds: tuple[str, ...] = TWO_LEVEL_TLDS,
) -> DataFrame:
    """URL decomposition for corpus source filtering — the first step
    of every domain-based pretraining filter (blocklists, per-domain
    caps, source mixing): adds ``scheme``, ``host`` (lowercased,
    port/userinfo stripped), ``registered_domain`` (last two labels,
    or three when the last two are a known two-level public suffix;
    the host itself when it is an IPv4 literal or a single label),
    ``path_depth`` (non-empty ``/`` segments), ``n_params``
    (non-empty ``&``-separated query tokens), and ``is_ip`` (IPv4
    dotted-quad or IPv6 bracket literal).

    Pure Catalyst regexp/split/slice — map-only, codegen'd, no UDF,
    embarrassingly parallel at any scale. Malformed URLs (no
    ``scheme://host``) yield null scheme/host/domain and zero depth.
    RFC 3986 edges handled explicitly: the query is extracted from
    the pre-fragment part only (a ``?`` inside ``#fragment`` is NOT a
    query), and an IPv6 bracket literal ``[...]`` is unbracketed into
    ``host`` with the port stripped outside the brackets (the plain
    ``:\\d*$`` strip would truncate the address itself).
    """
    # Built as SEQUENTIAL intermediate columns, not one nested
    # expression: Catalyst expressions are trees, so nesting would
    # duplicate the hostport regexp (and whatever expression feeds
    # url_col — possibly a large CASE) into every downstream feature,
    # ~40x — big enough to push whole-stage codegen past Janino's
    # 64 KB method limit and silently fall back to interpreted
    # execution. Chained projections keep each expensive piece
    # computed once: CollapseProject declines to merge projects when
    # merging would duplicate non-cheap expressions.
    # Grouped into withColumns BATCHES (one per dependency level):
    # every classic-mode withColumn call re-analyzes the whole
    # accumulated plan eagerly, so 12 chained calls paid ~12 analysis
    # rounds of driver time per use (z50 runs this twice). Same
    # projection layers, same expressions — just one call per layer.
    u = F.col(url_col)
    step = df.withColumn(
        "_hostport",
        F.lower(
            F.nullif(
                F.regexp_extract(
                    u,
                    r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/?#]+)",
                    1,
                ),
                F.lit(""),
            )
        ),
    )
    # IPv6 bracket literal: host is the bracket CONTENT; the port (and
    # the brackets) sit outside it, so no port strip can mangle it
    step = step.withColumn(
        "_ip6",
        F.nullif(
            F.regexp_extract(F.col("_hostport"), r"^\[([^\]]+)\]", 1),
            F.lit(""),
        ),
    )
    step = step.withColumn(
        "host",
        F.coalesce(
            F.col("_ip6"),
            F.regexp_replace(F.col("_hostport"), r":\d*$", ""),
        ),
    )
    step = step.withColumn("_labels", F.split(F.col("host"), r"\."))
    labels = F.col("_labels")
    step = step.withColumns(
        {
            "_last2": F.concat_ws(
                ".",
                F.slice(
                    labels, F.greatest(F.size(labels) - 1, F.lit(1)), 2
                ),
            ),
            "_is_ip": F.col("host").rlike(
                r"^\d{1,3}(\.\d{1,3}){3}$"
            )
            | F.col("_ip6").isNotNull(),
        }
    )
    # query = first '?' up to '#', searched in the PRE-fragment part
    # only: '#section?x=1' has a fragment containing '?', no query
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1
    )
    query = F.regexp_extract(
        F.regexp_extract(u, r"^([^#]*)", 1), r"\?(.*)$", 1
    )
    last3 = F.concat_ws(
        ".", F.slice(labels, F.greatest(F.size(labels) - 2, F.lit(1)), 3)
    )
    tld_set = F.array(*[F.lit(t) for t in two_level_tlds])
    reg = (
        F.when(F.col("host").isNull(), F.lit(None).cast("string"))
        .when(F.col("_is_ip") | (F.size(labels) <= 1), F.col("host"))
        .when(F.array_contains(tld_set, F.col("_last2")), last3)
        .otherwise(F.col("_last2"))
    )
    out = step.withColumns(
        {
            "scheme": F.lower(
                F.nullif(
                    F.regexp_extract(
                        u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1
                    ),
                    F.lit(""),
                )
            ),
            "registered_domain": reg,
            "path_depth": F.size(
                F.filter(F.split(path, "/"), lambda s: s != F.lit(""))
            ),
            "n_params": F.size(
                F.filter(F.split(query, "&"), lambda s: s != F.lit(""))
            ),
            "is_ip": F.coalesce(F.col("_is_ip"), F.lit(False)),
        }
    )
    return out.drop("_hostport", "_ip6", "_labels", "_last2", "_is_ip")


def domain_filter(
    df: DataFrame,
    blocked_domains: list[str],
    url_col: str = "url",
    keep_unparseable: bool = False,
) -> DataFrame:
    """Drop rows whose URL's registered domain is on a blocklist —
    the domain-ban filter of a pretraining pipeline. The blocklist is
    a driver-side model (like every list of this kind) applied with a
    broadcast ``isin``-style filter: map-only, no shuffle, no join
    needed at list sizes up to millions (beyond that, broadcast a
    blocklist DataFrame and LEFT ANTI join — same semantics).
    ``keep_unparseable`` decides the fate of rows with no extractable
    domain (default: drop them — unparseable provenance fails closed).
    """
    feat = url_features(df, url_col)
    blocked = F.array(*[F.lit(d.lower()) for d in blocked_domains])
    keep = ~F.array_contains(blocked, F.col("registered_domain"))
    if keep_unparseable:
        keep = keep | F.col("registered_domain").isNull()
    else:
        keep = keep & F.col("registered_domain").isNotNull()
    return feat.where(keep).select(*df.columns)


def shard_assignment(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic training-shard assignment:
    ``shard = md5(id || salt) mod n_shards`` — stateless and
    reproducible across runs/engines (the property a RESUMABLE export
    needs: re-running assigns every document to the same shard, so a
    partially written export can be reconciled instead of redone).
    md5 (not xxhash64) keeps the assignment engine-portable. Doc
    counts balance ~uniformly; token counts balance by law of large
    numbers (a greedy token-balanced packer would be sequential
    driver state — the wrong trade at corpus scale)."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    return df.withColumn(
        "shard",
        (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast(
                "bigint"
            )
            % int(n_shards)
        ).cast("int"),
    )


def shard_manifest(
    assigned: DataFrame,
    token_col: str | None = None,
) -> DataFrame:
    """Per-shard accounting over a :func:`shard_assignment` frame:
    ``(shard, n_docs[, n_tokens])`` — the manifest a trainer reads to
    budget epochs without scanning the shards."""
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("bigint").alias("n_tokens"))
    return assigned.groupBy("shard").agg(*aggs)


def export_training_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int,
    id_col: str = "doc_id",
    token_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """The LAST stage of a training-data pipeline: write the corpus
    as ``out_dir/shard=<k>/`` parquet plus a ``_manifest`` table of
    per-shard doc/token counts, and return the manifest. One
    shuffle (the partitioned write's hash exchange on ``shard``);
    the manifest agg reuses the same keyed shape. Re-running with
    the same salt reproduces the identical assignment — see
    :func:`shard_assignment`."""
    assigned = shard_assignment(df, n_shards, id_col, salt).persist()
    try:
        assigned.write.mode("overwrite").partitionBy("shard").parquet(
            out_dir
        )
        manifest = shard_manifest(assigned, token_col)
        manifest.coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/_manifest"
        )
    finally:
        assigned.unpersist()
    return manifest


def verify_shards(
    spark,
    out_dir: str,
    token_col: str | None = None,
) -> DataFrame:
    """Integrity check for an exported shard set: recount the written
    shards and join against the stored ``_manifest`` —
    ``(shard, n_docs, n_docs_actual[, n_tokens, n_tokens_actual],
    ok)``. A torn or partially re-run export shows up as a count
    mismatch here, not as a silent short epoch at training time."""
    data = spark.read.parquet(out_dir)
    actual = shard_manifest(data, token_col).select(
        "shard",
        F.col("n_docs").alias("n_docs_actual"),
        *(
            [F.col("n_tokens").alias("n_tokens_actual")]
            if token_col is not None
            else []
        ),
    )
    stored = spark.read.parquet(f"{out_dir}/_manifest")
    ok = F.col("n_docs") == F.col("n_docs_actual")
    if token_col is not None:
        ok = ok & (F.col("n_tokens") == F.col("n_tokens_actual"))
    return (
        stored.join(actual, "shard", "full")
        .withColumn("ok", F.coalesce(ok, F.lit(False)))
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "split",
) -> DataFrame:
    """Near-dup-aware train/val/test split: documents connected by the
    near-duplicate pair graph land in the SAME split. A plain
    id-keyed split puts one copy of a near-duplicated document in
    train and another in test — silent eval contamination that
    benchmark-level decontamination (``contamination_check``) never
    sees because the leak is corpus-internal. Composition: connected
    components over ``pairs`` (e.g. from ``lsh_candidates`` /
    ``ngram_jaccard_pairs``), then the deterministic
    :func:`assign_split` keyed by the component label (min member
    id); singleton documents key by their own id, which IS their
    component label — one consistent rule.

    One CC fixpoint over the pair graph (the x31 operator) + a
    broadcast-sized left join of the component table + the map-only
    split hash. Adds ``component`` and ``out_col``.
    """
    from topn_spark.operators.dedup import connected_components

    comp = connected_components(pairs)
    if set(comp.columns) != {"id", "component"}:
        raise ValueError(
            f"connected_components contract changed: {comp.columns}"
        )
    out = (
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
    )
    return assign_split(out, "component", out_col)


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Corpus data card (the accounting a Datasheets/Dolma-style
    release ships): one tall ``(metric, value)`` frame —
    ``n_docs``, ``n_null_text``, ``total_tokens``, ``mean_tokens``,
    ``exact_dup_frac`` (1 − distinct content hashes / docs),
    ``quality_keep_frac`` (the add_quality gate), ``chars_p50`` /
    ``chars_p90`` (exact length percentiles), and one
    ``lang_frac:<lang>`` row per language when ``lang_col`` exists.

    Everything numeric is ROUND(...,6) of exact counts or single
    IEEE divisions, so the whole card hash-matches a SQL oracle.
    Scale shape: ONE wide aggregate over a per-doc feature projection
    (count/sum/distinct-hash/percentile all in the same pass) plus a
    lang-keyed count agg — two scans; union of model-sized rows."""
    feats = add_quality(
        df.withColumn("_nt", token_count(text_col)), text_col
    )
    scalars = feats.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.count(F.lit(1)) - F.count(text_col))
        .cast("double")
        .alias("n_null_text"),
        F.sum("_nt").cast("double").alias("total_tokens"),
        F.round(
            F.sum("_nt") / F.count(text_col).cast("double"), 6
        ).alias("mean_tokens"),
        F.round(
            (
                F.count(text_col)
                - F.count_distinct(F.md5(F.col(text_col)))
            )
            / F.count(text_col).cast("double"),
            6,
        ).alias("exact_dup_frac"),
        F.round(
            F.sum(F.col("quality_keep").cast("int"))
            / F.count(text_col).cast("double"),
            6,
        ).alias("quality_keep_frac"),
        F.round(
            F.percentile(F.length(text_col), F.lit(0.5)), 6
        ).alias("chars_p50"),
        F.round(
            F.percentile(F.length(text_col), F.lit(0.9)), 6
        ).alias("chars_p90"),
    )
    names = [
        "n_docs", "n_null_text", "total_tokens", "mean_tokens",
        "exact_dup_frac", "quality_keep_frac", "chars_p50",
        "chars_p90",
    ]
    tall = scalars.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(n) for n in names]),
                F.array(*[F.col(n) for n in names]),
            )
        ).alias("metric", "value")
    )
    if lang_col is not None and lang_col in df.columns:
        from pyspark.sql.window import Window

        # the window runs over the agg OUTPUT (one row per language —
        # model-sized), not the corpus, so the single partition is fine
        counts = df.groupBy(lang_col).agg(
            F.count(F.lit(1)).alias("_n")
        )
        total = F.sum("_n").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        langs = counts.select(
            F.concat(
                F.lit("lang_frac:"),
                F.coalesce(F.col(lang_col), F.lit("null")),
            ).alias("metric"),
            F.round(F.col("_n") / total.cast("double"), 6).alias(
                "value"
            ),
        )
        tall = tall.unionByName(langs)
    return tall


def corpus_overlap_estimate(
    df_a: DataFrame,
    df_b: DataFrame,
    n: int = 5,
    text_col: str = "text",
    lgk: int = 14,
) -> DataFrame:
    """Sketch-based cross-corpus overlap: HLL sketches of each
    corpus's distinct word ``n``-gram shingles plus their union give
    ``|A ∩ B| ≈ ndv_a + ndv_b − ndv_union`` by inclusion–exclusion —
    the contamination/overlap ESTIMATE between two 100 TB corpora
    without ever joining them (the exact join is
    ``contamination_check``; this is the cheap first look that
    decides whether to run it). One row out: ``ndv_a``, ``ndv_b``,
    ``ndv_union``, ``est_intersection`` (clamped at 0),
    ``jaccard_est``, ``containment_a`` (= intersection / ndv_a).

    Each side is one pass producing a 2^lgk-register sketch
    (mergeable partial agg — the rollup.py machinery); the union is
    register-wise max on the driver-sized sketches. Estimates carry
    HLL's ~1.04/sqrt(2^lgk) relative error, amplified by the
    subtraction when the true overlap is small — size ``lgk``
    accordingly and treat near-zero intersections as "run the exact
    check"."""
    def _sk(df, name):
        # non-foldable constant key: the one-row x one-row attach
        # plans as a broadcast HASH join, not a nested-loop rescans
        return (
            df.select(F.explode(shingles(text_col, n)).alias("s"))
            .agg(F.hll_sketch_agg("s", F.lit(lgk)).alias(name))
            .withColumn(
                "_k", F.monotonically_increasing_id() * 0 + 1
            )
        )

    both = _sk(df_a, "sk_a").join(_sk(df_b, "sk_b"), "_k")
    est = both.select(
        F.hll_sketch_estimate("sk_a").alias("ndv_a"),
        F.hll_sketch_estimate("sk_b").alias("ndv_b"),
        F.hll_sketch_estimate(
            F.hll_union("sk_a", "sk_b")
        ).alias("ndv_union"),
    )
    inter = F.greatest(
        F.lit(0).cast("bigint"),
        F.col("ndv_a") + F.col("ndv_b") - F.col("ndv_union"),
    )
    return est.select(
        "ndv_a",
        "ndv_b",
        "ndv_union",
        inter.alias("est_intersection"),
        F.round(
            inter / F.col("ndv_union").cast("double"), 6
        ).alias("jaccard_est"),
        F.round(
            inter / F.col("ndv_a").cast("double"), 6
        ).alias("containment_a"),
    )


def _unpack(packed, spans, id_col, by, sep_token, cols):
    """The unpackers' one body over the packed array columns
    ``cols`` (plan: :func:`unpack_sequences`): every array slices
    by the same offsets and reassembles in the same per-document
    agg; ``sep_token`` strips the trailing separator from each."""
    piece = packed.select(
        *by,
        "seq_id",
        *(F.col(c).alias(f"_l{i}") for i, c in enumerate(cols)),
    ).join(spans, [*by, "seq_id"])
    out = (
        piece.select(
            *by,
            F.col(id_col),
            F.struct(
                F.col("doc_start"),
                *(
                    F.slice(
                        f"_l{i}",
                        (F.col("seq_start") + 1).cast("int"),
                        F.col("n_tokens").cast("int"),
                    ).alias(f"p{i}")
                    for i in range(len(cols))
                ),
            ).alias("_sp"),
        )
        .groupBy(*by, id_col)
        .agg(F.array_sort(F.collect_list("_sp")).alias("_ps"))
        .select(
            *by,
            id_col,
            *(
                F.flatten(
                    F.transform("_ps", lambda s: s[f"p{i}"])
                ).alias(c)
                for i, c in enumerate(cols)
            ),
        )
    )
    if sep_token is not None:
        for c in cols:
            out = out.withColumn(c, F.slice(c, 1, F.size(c) - 1))
    return out


def unpack_sequences(
    packed: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    by: tuple[str, ...] = (),
    sep_token: str | int | None = None,
) -> DataFrame:
    """Rebuild per-document token arrays from packed training
    sequences + their boundary spans — the inverse of
    :func:`pack_token_sequences`, and the AUDIT for it: packing is
    lossless iff this returns exactly the pre-packing arrays (the
    z53 catalog entry states that identity against the oracle).
    Production uses: reconstruct a document from a packed shard for
    inspection/debugging, or verify an exported epoch end-to-end.

    ``packed`` is the pack output (``seq_id, tokens`` + ``by``),
    ``spans`` the matching :func:`packed_doc_spans` frame (``seq_id,
    id, seq_start, doc_start, n_tokens`` + ``by``; pass the SAME
    ``by``/``seq_len``/order — and ``sep_token``, which strips the
    one trailing separator every packed document carries, restoring
    the pre-packing arrays exactly). Plan (:func:`_unpack`):
    equi-join on (``by``, seq_id) — both sides already carry that key, so AQE
    broadcasts or co-shuffles it — each overlap slices its piece out
    of the sequence array, and one hash agg per document reassembles
    (``array_sort`` on (doc_start, piece) structs + ``flatten``),
    the exact mirror of the packer's reassembly."""
    return _unpack(packed, spans, id_col, by, sep_token, ["tokens"])


def unpack_masked_sequences(
    packed: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    by: tuple[str, ...] = (),
    sep_token: str | int | None = None,
    mask_col: str = "loss_mask",
) -> DataFrame:
    """Rebuild per-document ``(tokens, mask)`` pairs from
    mask-preserving packed sequences + boundary spans — the inverse
    and AUDIT of :func:`pack_masked_sequences`: masked packing is
    lossless iff this returns exactly the pre-packing token arrays
    AND the pre-packing masks (the z74 catalog entry states that
    identity against the oracle — counts adding up is not enough;
    a swapped mask bit trains the wrong tokens silently).

    ``spans`` is the :func:`packed_doc_spans` frame built with the
    SAME ``seq_len``/order/``sep_token`` (span arithmetic counts
    tokens, so it is mask-agnostic). Both parallel arrays slice by
    the same offsets and reassemble in one hash agg per document;
    ``sep_token`` strips the trailing separator from BOTH arrays.

    Plan: :func:`_unpack` over both arrays — the
    :func:`unpack_sequences` equi-join on (``by``, seq_id),
    per-overlap slices, one per-doc hash agg."""
    return _unpack(
        packed, spans, id_col, by, sep_token, ["tokens", mask_col]
    )


def token_budget_mixture(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Dataset-mixture sampling by TOKEN budget — how training mixes
    are actually specified ("1T tokens: 60% web / 20% code / 20%
    books"): group g receives documents until its token quota
    ``round(total_tokens * weights[g])`` is reached. Documents are
    taken in the engine-portable md5(id) order (same determinism
    contract as :func:`mixture_sample`, which budgets document
    COUNTS); the document that crosses the quota boundary is
    INCLUDED, so each group reaches at least its quota unless the
    group itself is exhausted — the overshoot is bounded by one
    document. Groups absent from ``weights`` are dropped.

    Scale shape: mixture groups are FEW (web/code/books — 3-10), so
    a plain ``Window.partitionBy(group)`` SUM cumsum would funnel
    each group's entire row stream through one task, and a sum-based
    cut gets no WindowGroupLimit pruning (unlike the count-quota
    samplers). This instead runs the same TWO-LEVEL scan as
    :func:`packed_doc_spans`: bucket each group by an md5-prefix of
    the sampling key (256 order-preserving buckets — the bucket is a
    PREFIX of the primary sort key, so bucket order extends row
    order), per-(group, bucket) cumsum windows run in parallel, and
    the only serialized window is over the (group, bucket) TOTALS
    table (<= 256 * n_groups rows — model-sized), whose offsets
    broadcast-join back. Identical result — bucket boundaries cancel
    out of the sum. Then a map-only filter against a literal quota
    map. Quota arithmetic is driver-side on the config dict; no
    data-dependent collect."""
    from pyspark.sql.window import Window

    if not weights:
        raise ValueError("token_budget_mixture needs >= 1 weight")
    if total_tokens < 0:
        raise ValueError(f"negative total_tokens {total_tokens}")
    quotas = {
        g: int(round(total_tokens * w)) for g, w in weights.items()
    }
    qmap = F.create_map(
        *[F.lit(x) for g, q in quotas.items() for x in (g, q)]
    )
    cum = _grouped_cum_before(
        df.where(F.col(group_col).isin(*quotas.keys())),
        group_col,
        id_col,
        token_col,
    )
    return cum.where(
        F.col("_cum_before") < qmap[F.col(group_col)]
    ).select(*df.columns)


def _grouped_cum_before(
    df: DataFrame, group_col: str, id_col: str, token_col: str
) -> DataFrame:
    """Per-row deterministic token prefix ``_cum_before``: the sum of
    ``token_col`` over same-group rows EARLIER in the
    engine-portable ``(md5(id), id)`` order — the primitive under
    :func:`token_budget_mixture` and :func:`epoch_mixture`. Runs the
    two-level scan (see :func:`_packed_spans`): 2-hex-md5-prefix
    buckets (order-preserving — the bucket is a prefix of the
    primary sort key), per-(group, bucket) cumsum windows in
    parallel, one window over only the (group, bucket) totals table,
    offsets broadcast back."""
    from pyspark.sql.window import Window

    base = df.withColumn("_hk", _hash_key(id_col)).withColumn(
        "_bkt", F.substring("_hk", 1, 2)
    )
    totals = base.groupBy(group_col, "_bkt").agg(
        F.sum(F.col(token_col).cast("bigint")).alias("_bn")
    )
    bw = (
        Window.partitionBy(group_col)
        .orderBy(F.col("_bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        group_col,
        "_bkt",
        F.coalesce(
            F.sum("_bn").over(bw), F.lit(0).cast("bigint")
        ).alias("_base"),
    )
    iw = (
        Window.partitionBy(group_col, "_bkt")
        .orderBy(F.col("_hk").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.col("_base") + F.coalesce(
        F.sum(F.col(token_col).cast("bigint")).over(iw),
        F.lit(0).cast("bigint"),
    )
    return (
        base.join(F.broadcast(offsets), [group_col, "_bkt"])
        .withColumn("_cum_before", cum_before)
        .drop("_hk", "_bkt", "_base")
    )


def epoch_mixture(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    max_epochs: int | None = None,
) -> DataFrame:
    """Dataset-mixture sampling WITH REPETITION — how real training
    mixes hit their quotas when a domain is smaller than its share
    (the LLaMA/DoReMi reality: Wikipedia at 4.5% of a 1.4T-token
    budget is ~5 epochs of Wikipedia): group g's token quota
    ``round(total_tokens * weights[g])`` is filled by repeating the
    WHOLE group ``quota div group_tokens`` times plus a partial
    epoch — the deterministic md5(id)-order prefix that
    :func:`token_budget_mixture` would take (boundary document
    included). Emits one row per document with ``n_epochs`` (how
    many times the trainer should see it; rows at 0 are dropped) —
    repeat counts, not materialized copies, so the output stays
    corpus-sized. ``max_epochs`` caps repetition (the
    data-constrained-scaling rule of thumb that value decays after
    ~4 epochs — Muennighoff et al. 2023); groups larger than their
    quota degenerate to the truncation :func:`token_budget_mixture`
    performs (``n_epochs=1`` on the prefix). All arithmetic is
    exact bigint (quota div, remainder, prefix comparison), so an
    independent mirror reproduces it bit-for-bit.

    Scale shape: one model-sized per-group token-sum agg
    (broadcast-joined back), the same two-level
    :func:`_grouped_cum_before` scan for the partial-epoch prefix,
    and a map-only epoch expression against the literal quota map —
    no data-sized window, no collect."""
    if not weights:
        raise ValueError("epoch_mixture needs >= 1 weight")
    if total_tokens < 0:
        raise ValueError(f"negative total_tokens {total_tokens}")
    if max_epochs is not None and max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    quotas = {
        g: int(round(total_tokens * w)) for g, w in weights.items()
    }
    qmap = F.create_map(
        *[F.lit(x) for g, q in quotas.items() for x in (g, q)]
    )
    filtered = df.where(F.col(group_col).isin(*quotas.keys()))
    sums = filtered.groupBy(group_col).agg(
        F.sum(F.col(token_col).cast("bigint")).alias("_gsum")
    )
    cum = (
        _grouped_cum_before(filtered, group_col, id_col, token_col)
        .join(F.broadcast(sums), group_col)
        .withColumn("_q", qmap[F.col(group_col)].cast("bigint"))
    )
    full = F.when(
        F.col("_gsum") > 0, F.expr("_q div _gsum")
    ).otherwise(F.lit(0).cast("bigint"))
    cum = cum.withColumn("_full", full).withColumn(
        "_rem", F.col("_q") - F.col("_full") * F.col("_gsum")
    )
    n_epochs = F.col("_full") + F.when(
        F.col("_cum_before") < F.col("_rem"), F.lit(1)
    ).otherwise(F.lit(0)).cast("bigint")
    if max_epochs is not None:
        n_epochs = F.least(
            n_epochs, F.lit(int(max_epochs)).cast("bigint")
        )
    return (
        cum.withColumn("n_epochs", n_epochs)
        .where(F.col("n_epochs") > 0)
        .select(*df.columns, "n_epochs")
    )


def expand_epochs(
    df: DataFrame,
    n_epochs_col: str = "n_epochs",
    id_col: str = "doc_id",
    salt: str = "",
    epoch_col: str = "epoch",
    order_col: str = "order_key",
) -> DataFrame:
    """Materialize :func:`epoch_mixture`'s repeat counts into the
    stream a trainer actually consumes: one row per (document,
    epoch) — ``epoch`` in ``[0, n_epochs)`` — plus a deterministic
    GLOBAL INTERLEAVE key ``order_key = md5(id || ':' || epoch ||
    salt)``. Reading in ``order_key`` order shuffles the epochs of
    every repeated document uniformly through the whole stream (the
    property multi-epoch training needs: copies of one document must
    not cluster — md5 makes the interleave engine-portable and
    reproducible, the same discipline as :func:`shard_assignment`,
    and ``salt`` re-deals the order per training run). Rows with
    ``n_epochs`` NULL or < 1 are dropped (epoch_mixture emits none).

    Scale shape: one ``explode(sequence(...))`` — map-only, output
    sized by the total epoch count (what the trainer reads anyway);
    the interleave is a sort the shard writer performs per shard, or
    a ``repartitionByRange(order_key)`` at export — never a global
    driver-side sort here.
    """
    n = F.col(n_epochs_col).cast("bigint")
    out = df.where(n >= 1).withColumn(
        epoch_col,
        F.explode(F.sequence(F.lit(0).cast("bigint"), n - 1)),
    )
    key = F.concat(
        F.col(id_col).cast("string"),
        F.lit(":"),
        F.col(epoch_col).cast("string"),
        F.lit(salt),
    )
    return out.withColumn(order_col, F.md5(key))


def fim_transform(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rate: float = 0.5,
    spm_rate: float = 0.5,
    prefix_token: str = "<fim_prefix>",
    middle_token: str = "<fim_middle>",
    suffix_token: str = "<fim_suffix>",
    out_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Fill-in-the-middle transformation — the code-model training
    staple (Bavarian et al. 2022, "Efficient Training of Language
    Models to Fill in the Middle"; the FIM-for-free result: apply to
    a fraction of documents, keep the rest autoregressive): split a
    document's characters into (prefix, middle, suffix) at two
    uniform cut points and rearrange with sentinel tokens so the
    model learns to infill — PSM ``<p>prefix<s>suffix<m>middle`` or
    SPM ``<p><s>suffix<m>prefix`` + ``middle`` (the paper's joined
    variant; the trainer's target is always the middle, at the end).

    Everything is DETERMINISTIC from md5(id||salt) — the property a
    reproducible training corpus needs, and what ``df.sample`` +
    Python ``random`` cannot give across re-runs/partitionings:
    hex digits 1-8 gate which documents transform (``rate``), 9-16
    pick PSM vs SPM (``spm_rate``), and digit pairs 17-18 / 19-20
    place the two cuts (1/256 granularity of the document length —
    the published recipe's uniform split, quantized). Untransformed
    documents pass through unchanged with ``fim_style`` NULL;
    transformed rows carry 'psm' / 'spm'. NULL or empty text never
    transforms. Character arithmetic (codepoints, not bytes) so the
    split never tears a multibyte char.

    Scale shape: ONE map-only codegen'd projection — md5 + substring
    slices + concat; no shuffle, no UDF; at 100 TB this is scan
    cost, embarrassingly parallel. Each derived piece is built from
    the projected text attribute, never re-derived."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if not 0.0 <= spm_rate <= 1.0:
        raise ValueError(f"spm_rate must be in [0, 1], got {spm_rate}")
    out_col = out_col or text_col
    h = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(str(salt)))
    )
    base = df.withColumn("_fim_h", h)
    hh = F.col("_fim_h")

    def _gate(r: float, pos: int) -> Column:
        # rate 1.0 would format to the 9-char '100000000', which
        # lexicographically EXCLUDES most hashes — treat the
        # endpoints exactly instead
        if r >= 1.0:
            return F.lit(True)
        if r <= 0.0:
            return F.lit(False)
        return F.substring(hh, pos, 8) < F.lit(f"{int(r * 16**8):08x}")

    t = F.col(text_col)
    n = F.length(t)
    u1 = F.conv(F.substring(hh, 17, 2), 16, 10).cast("bigint")
    u2 = F.conv(F.substring(hh, 19, 2), 16, 10).cast("bigint")
    c1 = F.floor(u1 * (n + 1) / 256).cast("int")
    c2 = F.floor(u2 * (n + 1) / 256).cast("int")
    lo = F.least(c1, c2)
    hi = F.greatest(c1, c2)
    base = (
        base.withColumn(
            "_fim_on",
            t.isNotNull() & (n > 0) & _gate(rate, 1),
        )
        .withColumn("_fim_lo", lo)
        .withColumn("_fim_hi", hi)
    )
    lo_c, hi_c = F.col("_fim_lo"), F.col("_fim_hi")
    base = (
        base.withColumn("_fim_p", F.substring(t, 1, lo_c))
        .withColumn("_fim_m", F.substring(t, lo_c + 1, hi_c - lo_c))
        .withColumn("_fim_s", F.substring(t, hi_c + 1, n - hi_c))
    )
    style = F.when(
        F.col("_fim_on"),
        F.when(_gate(spm_rate, 9), F.lit("spm")).otherwise(
            F.lit("psm")
        ),
    )
    base = base.withColumn("fim_style", style)
    p, m, s = F.col("_fim_p"), F.col("_fim_m"), F.col("_fim_s")
    psm = F.concat(
        F.lit(prefix_token), p, F.lit(suffix_token), s,
        F.lit(middle_token), m,
    )
    spm = F.concat(
        F.lit(prefix_token), F.lit(suffix_token), s,
        F.lit(middle_token), p, m,
    )
    rendered = (
        F.when(F.col("fim_style") == "spm", spm)
        .when(F.col("fim_style") == "psm", psm)
        .otherwise(t)
    )
    return base.withColumn(out_col, rendered).drop(
        "_fim_h", "_fim_on", "_fim_lo", "_fim_hi",
        "_fim_p", "_fim_m", "_fim_s",
    )


def packing_report(
    packed: DataFrame,
    seq_len: int,
    mask_col: str | None = None,
) -> DataFrame:
    """Packing-efficiency data card — the ONE-row audit a trainer
    reads before an epoch (the sibling of :func:`corpus_report` for
    the packed artifact): sequence and document counts, token
    totals, ``fill_ratio`` (real tokens / capacity — how much of the
    context window the pack actually uses; padding-wasteful packs
    show up here), full-sequence count, docs-per-sequence extremes
    and mean (how fragmented documents are). With ``mask_col`` (a
    :func:`pack_masked_sequences` output) adds ``n_supervised`` and
    ``supervised_ratio`` — the loss-bearing fraction of the epoch,
    the number that catches an SFT export whose masks died upstream.

    Input is a pack output (``seq_id, n_docs, n_tokens, tokens``
    [, mask]); all columns are read pre-aggregated, so this is ONE
    map-side-combinable hash aggregate to a scalar-sized row — at
    100 TB the cost is a scan of the pack metadata columns (the
    token arrays are never opened; column pruning drops them)."""
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_sequences"),
        F.sum("n_docs").cast("bigint").alias("n_doc_slices"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(
            (F.col("n_tokens") == int(seq_len)).cast("bigint")
        ).cast("bigint").alias("n_full_sequences"),
        F.round(
            F.sum("n_tokens")
            / (F.count(F.lit(1)) * F.lit(int(seq_len))),
            6,
        ).alias("fill_ratio"),
        F.max("n_docs").cast("bigint").alias("max_docs_per_seq"),
        F.round(F.sum("n_docs") / F.count(F.lit(1)), 6).alias(
            "mean_docs_per_seq"
        ),
    ]
    if mask_col is not None:
        aggs += [
            F.sum("n_supervised").cast("bigint").alias("n_supervised"),
            F.round(F.sum("n_supervised") / F.sum("n_tokens"), 6).alias(
                "supervised_ratio"
            ),
        ]
    return packed.agg(*aggs)


def token_windows(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    window: int = 2048,
    stride: int = 1024,
) -> DataFrame:
    """Token-level sliding windows — the long-document handling
    BEFORE packing when documents exceed the context length (the
    published MLM/CLM chunking recipe: overlapping windows so no
    token loses its left context entirely, stride < window giving
    each boundary region two views): emits one row per window —
    ``(id, win_idx, win_start, n_tokens, tokens)`` with windows
    starting at ``0, stride, 2*stride, …``; a document of
    ``len <= window`` tokens yields exactly one (whole) window, and
    the final window of a longer document is the clipped tail
    (always > ``window - stride`` tokens, so no sliver rows).
    Empty/NULL token arrays yield no rows. Deterministic pure
    arithmetic — the same input always chunks identically.

    Contrast :func:`chunk_documents` (CHARACTER windows for
    embedding/retrieval prep) and :func:`pack_token_sequences`
    (concatenates ACROSS documents): this splits WITHIN a document
    on token positions, the trainer-facing unit.

    Scale shape: one ``explode(sequence(0, n_wins-1))`` + one
    projection-bound ``slice`` per window — map-only, no shuffle,
    no UDF; output rows ≈ input tokens / stride. The sequence is
    guarded so ``n_wins >= 1`` before the explode (the
    F.sequence(0, -1) trap)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if not 1 <= stride <= window:
        raise ValueError(
            f"stride must be in [1, window], got {stride}"
        )
    n = F.size(tokens_col).cast("bigint")
    base = df.where(F.col(tokens_col).isNotNull() & (n > 0))
    n_wins = (
        F.lit(1)
        + F.greatest(
            F.lit(0).cast("bigint"),
            F.floor((n - window + stride - 1) / stride).cast("bigint"),
        )
    ).cast("bigint")
    ex = base.select(
        F.col(id_col),
        F.col(tokens_col).alias("_tw_toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_wins - 1)).alias(
            "win_idx"
        ),
    )
    start = (F.col("win_idx") * stride).cast("bigint")
    piece = F.slice(
        "_tw_toks", (start + 1).cast("int"), int(window)
    )
    return ex.select(
        F.col(id_col),
        F.col("win_idx").cast("bigint").alias("win_idx"),
        start.alias("win_start"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        piece.alias("tokens"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — the release-engineering audit between
    two versions of a dataset (what a v2 release note's "N documents
    added, M removed, K edited" line is computed from, and the first
    question after a pipeline change: WHAT did it touch?): full
    outer join of the two snapshots on ``id_col``, each document
    classified ``added`` (new only), ``removed`` (old only),
    ``changed`` (both, md5(text) differs — NULL text treated as its
    own digest state, so NULL→text and text→NULL count as changes),
    or ``unchanged``. Emits one row per distinct id:
    ``(id, status, old_digest, new_digest)`` — feed a groupBy(status)
    count for the release-note summary, or filter ``changed`` to
    inspect edits.

    Scale shape: two map-only digest projections and ONE full outer
    shuffle join on the id (both sides hash-partitioned once; AQE
    broadcasts a small side). Digests compare as 16-byte strings —
    the text columns are never carried through the join."""
    # NULL-sentinel digest: md5(NULL) is NULL, which would make "row
    # present with NULL text" indistinguishable from "row absent" in
    # the outer join — coalesce to a non-hex sentinel so digest
    # nullness signals PRESENCE and the sentinel still compares
    sig = F.coalesce(F.md5(F.col(text_col)), F.lit("NULL"))
    o = old.select(
        F.col(id_col).alias("_id"), sig.alias("old_digest")
    )
    n = new.select(
        F.col(id_col).alias("_id"), sig.alias("new_digest")
    )
    j = o.join(n, "_id", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(
            F.col("old_digest") == F.col("new_digest"),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select(
        F.col("_id").alias(id_col),
        status.alias("status"),
        "old_digest",
        "new_digest",
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic between-epoch reshuffle — the trainer-side
    permutation every multi-epoch run needs (reading shards in the
    same order each epoch correlates batch composition across epochs;
    the fix is a fresh pseudo-random global order per epoch that is
    still REPRODUCIBLE, never ``rand()``): every row gets an
    epoch-salted content key ``md5(epoch || ':' || id)``, a balanced
    ``shard = key-prefix mod n_shards`` assignment, and an exact
    1-based ``pos`` within its shard ordered by ``(key, id)`` — a
    different permutation every epoch, the same permutation every
    re-run of the same epoch (resumable training; compare
    :func:`shard_assignment`, whose UNsalted key is deliberately
    epoch-stable for resumable exports).

    Scale shape: the shard assignment is a stateless map-only
    projection; the only stateful step is one ``row_number`` window
    PARTITIONED BY shard — parallelism = ``n_shards``, each task
    sorting ``|corpus| / n_shards`` rows. That is the right trade
    exactly because ``n_shards`` is the trainer's own parallelism
    unit: a 100 TB corpus exports to 10⁴–10⁵ shards, so each sort
    task handles ~1 GB and no task ever sees the global order. For
    a SMALL ``n_shards`` on a large corpus, raise ``n_shards`` (the
    trainer can always read k shards per worker) rather than asking
    one task to sort the corpus.
    """
    from pyspark.sql.window import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.md5(
        F.concat(
            F.lit(f"{int(epoch)}:"), F.col(id_col).cast("string")
        )
    )
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint")
        % int(n_shards)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(
        F.col("_ekey").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_ekey", key)
        .withColumn("epoch", F.lit(int(epoch)).cast("int"))
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("_ekey")
    )


def curriculum_stages(
    df: DataFrame,
    score_col: str,
    n_stages: int,
    id_col: str = "doc_id",
    ascending: bool = True,
    buckets: int = 64,
) -> DataFrame:
    """Curriculum-learning stage assignment (easy→hard data ordering;
    Bengio et al. 2009): exact global rank by ``(score_col, id_col)``
    — ascending by default, so the classic short-to-long length
    curriculum is ``score_col="n_chars"`` — cut into ``n_stages``
    contiguous blocks with SQL ``NTILE`` semantics (first
    ``total % n`` stages one row larger), appended as ``rank`` and
    ``stage`` (1-based). A trainer feeds stage 1 first and unlocks
    later stages on schedule; within a stage,
    :func:`epoch_shuffle` restores per-epoch randomness, so
    curriculum (BETWEEN stages) and shuffling (WITHIN a stage)
    compose instead of fighting.

    Scale shape: the two-phase exact global rank
    (:func:`~topn_spark.operators.topn.rank_low_cardinality` —
    per-value-range bucket counts + offsets, so the sort runs at
    ``buckets``-way parallelism, never one global sort task) plus a
    literal ntile projection from (rank, total). No data-sized
    window, no collect.
    """
    from topn_spark.operators.topn import (
        ntile_from_rank,
        rank_low_cardinality,
    )

    if n_stages < 1:
        raise ValueError(f"n_stages must be >= 1, got {n_stages}")
    ranked = rank_low_cardinality(
        df,
        [],
        score_col,
        ascending=ascending,
        tiebreak=[id_col],
        buckets=buckets,
        rank_col="rank",
        total_col="_total",
    )
    return ranked.withColumn(
        "stage",
        ntile_from_rank(
            F.col("rank"), F.col("_total"), int(n_stages)
        ).cast("int"),
    ).drop("_total")


def attrition_report(
    df: DataFrame,
    stage_flags: list[str],
    group_col: str | None = None,
) -> DataFrame:
    """Pipeline attrition funnel — THE table every data paper
    publishes (RefinedWeb Table 2, FineWeb's step plot: how many
    documents survive each successive gate): given boolean columns
    marking survival of each stage IN ORDER, emit one row per stage
    (plus ``stage 0`` = raw input) with the count surviving the
    CUMULATIVE conjunction of stages so far and its ROUND-6 fraction
    of the input — per ``group_col`` when given (the per-source
    funnel that shows WHICH feed a gate is eating). NULL flags count
    as not-surviving (a gate that abstained did not admit the row).

    Scale shape: ONE map-side-combinable hash aggregate computing
    every cumulative-AND sum in the same pass (no per-stage scans),
    then a literal ``stack`` unpivot of the aggregate row —
    report-sized output by construction.
    """
    if not stage_flags:
        raise ValueError("stage_flags must be non-empty")
    names = ["input"] + list(stage_flags)
    cum = F.lit(True)
    sums = [F.count(F.lit(1)).cast("bigint").alias("_s0")]
    for k, flag in enumerate(stage_flags, 1):
        cum = cum & F.coalesce(F.col(flag), F.lit(False))
        sums.append(
            F.sum(cum.cast("bigint")).cast("bigint").alias(f"_s{k}")
        )
    keys = [group_col] if group_col else []
    agg = df.groupBy(*keys).agg(*sums)
    stack_args = ", ".join(
        f"{k}, '{name}', _s{k}" for k, name in enumerate(names)
    )
    # the group's input count (_s0) rides alongside the unpivot so
    # the fraction is a plain projection — no second pass, no window
    unpivot = agg.selectExpr(
        *keys,
        "_s0 as _input",
        f"stack({len(names)}, {stack_args})"
        " as (stage, stage_name, n_docs)",
    )
    return unpivot.select(
        *keys,
        F.col("stage").cast("int").alias("stage"),
        "stage_name",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(
            F.col("n_docs").cast("double")
            / F.nullif(F.col("_input").cast("double"), F.lit(0.0)),
            6,
        ).alias("frac_of_input"),
    )


#: Query parameters that track, not address, content (the standard
#: canonicalization drop set).
TRACKING_PARAMS = ("utm_", "gclid", "fbclid", "ref", "mc_cid", "mc_eid")


def canonical_url(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "canonical_url",
) -> DataFrame:
    """URL canonicalization for web-corpus dedup — the reason naive
    URL-exact dedup under-merges (the same page arrives as
    ``http://Site.com/a/?utm_source=x#frag`` and
    ``http://site.com/a``): lowercase the scheme and host, strip the
    fragment, strip default ports (``:80`` http / ``:443`` https),
    drop tracking query parameters (:data:`TRACKING_PARAMS` —
    ``utm_*``, click ids, ``ref``), SORT the surviving parameters
    (order never addresses content), strip one trailing slash
    from a non-root path, and normalize an EMPTY path to ``/``
    (``http://site.com`` and ``http://site.com/`` are the same root
    page — the most-duplicated URL on a site — so both forms must
    converge). Malformed URLs (no ``scheme://``) pass
    through unchanged — canonicalizing garbage forges collisions.
    Dedup then groups on ``out_col`` exactly like text-exact dedup
    groups on the content digest.

    Scale shape: chained codegen'd regexp/split/array projections —
    map-only, no UDF; mirrors into DuckDB string/list ops (z109).
    """
    u = F.col(url_col)
    m = F.regexp_extract(
        u,
        r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?.*$",
        0,
    )
    valid = m != ""
    scheme = F.lower(
        F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    host = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.substring(host, 1, F.length(host) - 3),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.substring(host, 1, F.length(host) - 4),
    ).otherwise(host)
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    # RFC 3986: with an authority, an empty path is equivalent to
    # "/" — without this the two root forms never merge
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\?([^#]*)", 1
    )
    def _keep(p):
        key = F.split(p, "=")[0]
        cond = F.length(p) > 0
        for pref in TRACKING_PARAMS:
            if pref.endswith("_"):
                cond = cond & ~p.startswith(pref)
            else:
                cond = cond & (key != pref)
        return cond

    params = F.filter(F.split(query, "&"), _keep)
    qcanon = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(
            F.lit("")
        ),
    )
    return df.withColumn(
        out_col, F.when(valid, canon).otherwise(u)
    )


#: Language markers recognized in hosts/paths when deriving the
#: language-neutral page key (the ParaCrawl URL-matching heuristic).
LANG_MARKERS_URL = (
    "en", "fr", "de", "es", "zh", "it", "pt", "ru", "ja", "ko",
)


def parallel_page_pairs(
    df: DataFrame,
    url_col: str = "url",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    markers: tuple[str, ...] = LANG_MARKERS_URL,
) -> DataFrame:
    """Bitext candidate mining from URL structure — the ParaCrawl /
    WMT web-corpus heuristic (a site publishes the SAME page under
    ``en.site.com/about`` and ``fr.site.com/about``, or
    ``site.com/en/about`` and ``site.com/fr/about``; those page
    pairs are translation candidates, the raw material of parallel
    corpora): canonicalize each URL (:func:`canonical_url`), strip
    ONE leading language subdomain label and ONE leading language
    path segment (from ``markers``), and join documents sharing the
    resulting language-neutral ``page_key`` with DIFFERENT
    ``lang_col`` values — ``(id_a, id_b, lang_a, lang_b,
    page_key)``, ``id_a < id_b``. URLs with no language marker keep
    their canonical form as the key (same-language pairs are
    excluded by the lang predicate, so plain duplicates never
    surface here — :func:`canonical_url` + exact dedup owns those).

    Scale shape: map-only canonicalization + key projection, ONE
    equi self-join on the md5'd page key (the exact-dedup join
    class); a template page shared by every locale of a large site
    is a hot key — AQE skew territory, and the different-lang
    predicate keeps the output to cross-locale pairs only.
    """
    alts = "|".join(markers)
    canon = canonical_url(df, url_col=url_col, out_col="_pp_canon")
    # one leading language subdomain label (en.site.com -> site.com)
    dehost = F.regexp_replace(
        F.col("_pp_canon"),
        f"^([a-z][a-z0-9+.-]*://)(?:{alts})\\.",
        "$1",
    )
    # one leading language path segment (/en/about -> /about)
    depath = F.regexp_replace(
        dehost, f"^([a-z][a-z0-9+.-]*://[^/]*)/(?:{alts})(/|$)", "$1$2"
    )
    keyed = canon.select(
        F.col(id_col).alias("_id"),
        F.col(lang_col).alias("_lang"),
        F.md5(depath).alias("page_key"),
    )
    a = keyed.select(
        F.col("_id").alias("id_a"),
        F.col("_lang").alias("lang_a"),
        "page_key",
    )
    b = keyed.select(
        F.col("_id").alias("id_b"),
        F.col("_lang").alias("lang_b"),
        "page_key",
    )
    return a.join(b, "page_key").where(
        (F.col("id_a") < F.col("id_b"))
        & (F.col("lang_a") != F.col("lang_b"))
    ).select("id_a", "id_b", "lang_a", "lang_b", "page_key")


def k_anonymity_check(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity release gate for structured/metadata columns —
    the privacy audit a TABULAR training set (or a document corpus's
    metadata sidecar) needs before release (Sweeney 2002: a row
    whose quasi-identifier combination is shared by fewer than ``k``
    rows re-identifies a person when joined against an outside
    table): one row per quasi-identifier combination with its
    ``group_size`` and ``at_risk = group_size < k``; NULLs are a
    combination value of their own (a NULL zip code still
    identifies). The release rule is "generalize or drop every
    at-risk group", and this output IS that worklist.

    Scale shape: ONE map-side-combinable hash aggregate over the
    quasi-identifier key — the word-count shape; output cardinality
    is the number of distinct combinations, sublinear in rows.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
        .withColumn("at_risk", F.col("group_size") < int(k))
    )
