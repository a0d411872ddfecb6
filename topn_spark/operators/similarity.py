"""Embedding similarity search: brute-force cosine top-k baseline and
LSH / IVF scale paths.

Dot products and norms are SQL higher-order functions
(``zip_with``/``aggregate``) — evaluated in whole-stage codegen, no
Python in the hot path. Top-k is ``orderBy().limit()`` →
``TakeOrderedAndProject``: the reference's own bounded-heap idea
(TopN.java:117-118) run per-partition in parallel with a driver merge
of k-row heaps.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topn_spark.operators.topn import topn_grouped
from topn_spark.plans import ensure_parallelism, local_frame


def _lit_d(x: float) -> str:
    """SQL double literal with the exact value of ``F.lit(float(x))``
    (repr is the shortest round-tripping decimal; Spark parses it with
    Double.parseDouble — the same IEEE double)."""
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        return f"CAST('{x}' AS DOUBLE)"
    return f"{x!r}D"


def _arr_sql(lit_vec: list[float]) -> str:
    """SQL text of ``F.array(*[F.lit(float(x)) for x in lit_vec])``."""
    return f"array({', '.join(_lit_d(x) for x in lit_vec)})"


def _dot_sql(v_sql: str, lit_vec: list[float]) -> str:
    """SQL text of the literal-query dot product — the same
    zip_with/aggregate fold as the Column form, built as ONE string:
    a k-vector model otherwise costs k·d py4j round-trips of Column
    construction per query (measured 1.5-1.8 s of pure driver time
    for 16×64 in ivf_assign)."""
    return (
        f"aggregate(zip_with({v_sql}, {_arr_sql(lit_vec)},"
        f" (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )


def _scores_sql(v_sql: str, mat: list[list[float]], fold: str,
                denoms: list[float] | None = None) -> str:
    """SQL text of the per-row score array vs a literal matrix: one
    per-centroid zip_with/aggregate fold per array element — the
    exact expression shape (and bits) of the per-centroid Column
    form, built as ONE string. (A nested transform-over-literal-
    matrix form was tried and measured ~2x SLOWER per row: the
    inner lambda rebinds per centroid per row; the flat form keeps
    the original runtime and removes the construction cost.)"""

    def one(c: list[float]) -> str:
        return (
            f"aggregate(zip_with({v_sql}, {_arr_sql(c)},"
            f" (x, y) -> {fold}), 0.0D, (acc, v) -> acc + v)"
        )

    if denoms is None:
        return f"array({', '.join(one(c) for c in mat)})"
    return "array(%s)" % ", ".join(
        f"{one(c)} / {_lit_d(nm)}" for c, nm in zip(mat, denoms)
    )


def _norm(vec_col):
    return F.sqrt(
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v
        )
    )


def cosine_scores(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Append cosine similarity vs a constant query vector."""
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    v = F.col(vec_col).cast("array<double>")
    v_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    return df.withColumn(
        score_col,
        F.expr(_dot_sql(v_sql, query_vec)) / (_norm(v) * F.lit(qnorm)),
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: ``(id, score)`` descending, tie by id.

    Scale: map-only scan + TakeOrderedAndProject — embarrassingly
    parallel, O(k) memory/partition; the right baseline even at 100 TB
    when the query set is one vector. For many probe vectors use
    ``ivf_topk`` or an LSH bucket join.
    """
    return (
        cosine_scores(df, query_vec, vec_col)
        .select(id_col, "score")
        .orderBy(F.col("score").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Assign each row to its nearest centroid (argmax dot product).

    ``centroids`` is a small driver-side model (nlist × dim floats) —
    embedded as literals, broadcast with the plan. The cast vector is
    bound to its own column first so the per-centroid fold lambdas
    scan a materialized array instead of re-casting per centroid
    (lambda bodies get no CSE — see textstats.ngrams_from_tokens).
    """
    df = df.withColumn("_v", F.col(vec_col).cast("array<double>"))
    scores = F.expr(
        _scores_sql(
            "_v",
            [list(map(float, c)) for c in centroids],
            "x * y",
            [math.sqrt(sum(x * x for x in c)) or 1.0 for c in centroids],
        )
    )
    return (
        df.withColumn("_ivf_scores", scores)
        .drop("_v")
        .withColumn(
            cluster_col,
            (
                F.array_position(
                    F.col("_ivf_scores"), F.array_max("_ivf_scores")
                )
                - 1
            ).cast("int"),
        )
        .drop("_ivf_scores")
    )


def sample_centroids(
    df: DataFrame,
    nlist: int,
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic centroid sample (the IVF 'training' step).

    A uniform sample is the standard cheap initializer; swap in
    k-means (Spark MLlib) when recall matters more than build cost.
    The result is a model of nlist×dim floats — driver-sized by
    design, like any ANN index's coarse quantizer.
    """
    rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<string>").cast("string"), F.lit(seed)))
        .limit(nlist)
        .collect()
    )
    return [[float(x) for x in r[0]] for r in rows]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only rows in the ``nprobe``
    centroid cells nearest the query.

    Scale: the cluster assignment is a map-only expression; with the
    table written partitioned/bucketed by cluster, the probe prunes
    (1 - nprobe/nlist) of the data before any scoring. Recall depends
    on centroid quality — see ``sample_centroids``.
    """
    if centroids is None:
        centroids = sample_centroids(df, nlist, vec_col)
    qnorm = [float(x) for x in query_vec]

    def cos(c):
        num = sum(a * b for a, b in zip(qnorm, c))
        dn = math.sqrt(sum(a * a for a in qnorm)) * math.sqrt(
            sum(b * b for b in c)
        )
        return num / dn if dn else 0.0

    probe = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i]))[
        :nprobe
    ]
    assigned = ivf_assign(df, centroids, vec_col)
    pruned = assigned.where(F.col("cluster").isin(*probe))
    return cosine_topk(pruned, query_vec, k, id_col, vec_col)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    max_left_rows: int | None = 100_000,
) -> DataFrame:
    """Brute-force k-NN join: for every left row, its k nearest right
    rows by cosine → ``(left_id, right_id, score, rn)``.

    Scale warning: O(|L|×|R|) — correct baseline for evaluation and
    small probe sets (broadcast the smaller side). For bulk ANN at
    100 TB, bucket both sides with LSH/IVF first, then knn_join within
    buckets, or use :func:`ivf_topk` / :func:`pq_topk` /
    :func:`ivfpq_topk`. ``max_left_rows`` makes that contract
    mechanical: the call refuses (ValueError) when the broadcast/probe
    side exceeds it, instead of silently launching a full cartesian
    over a corpus. Raise the cap explicitly for a deliberate large
    evaluation run, or pass ``None`` to skip the guard (and its extra
    action) when the caller already bounded the probe side.

    The guard counts a ``limit(max+1)`` of the UNPERSISTED probe
    plan, so the probe pipeline runs twice (once truncated for the
    guard, once for the broadcast). That one bounded recompute is
    deliberate: a persist here would have to outlive this call (the
    join consumes the cache lazily, after return), leaking cached
    blocks for the session with no handle to release them — callers
    with an expensive probe pipeline should persist it THEMSELVES
    before calling, owning the lifetime.
    """
    l = left.select(
        F.col(left_id).alias("left_id"),
        F.col(vec_col).cast("array<double>").alias("lv"),
    )
    if max_left_rows is not None:
        n = l.limit(max_left_rows + 1).count()
        if n > max_left_rows:
            raise ValueError(
                f"knn_join probe side has more than {max_left_rows} "
                "rows; this operator is an O(|L|x|R|) evaluation "
                "baseline. Use ivf_topk/pq_topk/ivfpq_topk for bulk "
                "ANN, pass an explicit max_left_rows for a deliberate "
                "evaluation run, or max_left_rows=None to skip the "
                "guard."
            )
    r = right.select(
        F.col(right_id).alias("right_id"),
        F.col(vec_col).cast("array<double>").alias("rv"),
    )
    dot = F.aggregate(
        F.zip_with("lv", "rv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        F.broadcast(l).crossJoin(r)
        .withColumn("score", dot / (_norm(F.col("lv")) * _norm(F.col("rv"))))
        .where(F.col("left_id") != F.col("right_id"))
        .select("left_id", "right_id", "score")
    )
    return topn_grouped(
        scored,
        "left_id",
        "score",
        k,
        tiebreak=F.col("right_id").asc(),
        rank_col="rn",
    )


def random_hyperplane_lsh(
    df: DataFrame,
    dim: int,
    n_bits: int = 16,
    vec_col: str = "embedding",
    bucket_col: str = "lsh_bucket",
    seed: int = 42,
) -> DataFrame:
    """SRP-LSH bucket id: sign bits of ``n_bits`` random hyperplane
    projections packed into a bigint. Cosine-similar vectors collide
    with probability 1 - theta/pi per bit.

    The hyperplanes are a deterministic driver-side model (seeded),
    embedded as literals — no shuffle, map-only.
    """
    return df.withColumn(
        bucket_col, F.expr(_srp_bucket_sql(dim, n_bits, vec_col, seed))
    )


def _srp_bucket_sql(
    dim: int, n_bits: int, vec_col: str, seed: int
) -> str:
    """SQL text of one seeded SRP bucket id (the exact expression
    :func:`random_hyperplane_lsh` stamps — same planes, same
    sum-of-CASE bit packing), exposed so multi-table consumers can
    emit all tables from ONE projection instead of unioning per-table
    streams."""
    import random

    rng = random.Random(seed)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)
    ]
    v_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    # the original sum-of-CASE chain (same bits), built as ONE string
    bucket = " + ".join(
        f"CASE WHEN {_dot_sql(v_sql, p)} > 0 THEN {1 << j} ELSE 0 END"
        for j, p in enumerate(planes)
    )
    return f"CAST(CAST(0 AS BIGINT) + {bucket} AS BIGINT)"


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 12,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-duplicates: SRP-LSH bucket join → exact cosine
    check ≥ threshold. One bounded shuffle on the bucket id."""
    b = random_hyperplane_lsh(df, dim, n_bits, vec_col)
    a = b.alias("a")
    c = b.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col(f"a.{vec_col}").cast("array<double>"),
            F.col(f"b.{vec_col}").cast("array<double>"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(
            c,
            (F.col("a.lsh_bucket") == F.col("b.lsh_bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn(
            "score",
            dot
            / (
                _norm(F.col(f"a.{vec_col}").cast("array<double>"))
                * _norm(F.col(f"b.{vec_col}").cast("array<double>"))
            ),
        )
        .where(F.col("score") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "score",
        )
    )
    return pairs


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: tuple[str, ...] = (),
    max_dist: int = 1,
) -> DataFrame:
    """Self-join on edit distance ≤ ``max_dist`` via FastSS
    deletion-neighborhood blocking (Bocek et al., 2007).

    Index every string under ``len+1`` keys — itself plus each
    single-character deletion. Two strings within edit distance 1
    necessarily share a key (substitution: delete the differing
    position from both; insert/delete: the longer string's deletion
    set contains the shorter string itself), so an equi-join on
    ``(block_cols, key)`` generates a candidate superset, verified
    with :func:`pyspark.sql.functions.levenshtein` and deduped.

    Scale shape: candidate generation is a map-only explode (rows ×
    (len+1) keys); the join shuffles on the high-cardinality variant
    key — thousands of small groups instead of a few quadratic
    blocks, so no block ever dominates a task. Currently supports
    ``max_dist=1`` (the ≥2 neighborhood needs multi-deletion
    variants).

    Returns columns ``k1, k2, d`` with ``k1 < k2``.
    """
    if max_dist != 1:
        raise ValueError("edit_distance_join currently supports max_dist=1")
    # Variant keys are hashed to 64-bit inside the array so the
    # explode+shuffle carries longs, not strings; a hash collision
    # only adds a candidate pair, which the levenshtein verify step
    # rejects — correctness is unaffected.
    variants = F.expr(
        f"array_union(array(xxhash64({text_col})),"
        f" transform(sequence(1, length({text_col})),"
        f" i -> xxhash64(concat(substr({text_col}, 1, i - 1),"
        f" substr({text_col}, i + 1)))))"
    )

    # A dimension-sized input often arrives as ONE parquet split, and
    # the deletion-neighborhood explode multiplies rows ×(len+1) —
    # serializing the explode and both join sides' map work on one
    # core (§2.5 input skew). Spread first; a no-op at scale.
    keyed = ensure_parallelism(
        df.select(*dict.fromkeys((id_col, text_col, *block_cols)))
    ).select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        *[F.col(c) for c in block_cols],
        F.explode(variants).alias("_key"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    on += [F.col("a._key") == F.col("b._key"), F.col("a._id") < F.col("b._id")]
    d = F.levenshtein(F.col("a._txt"), F.col("b._txt"))
    return (
        a.join(b, on)
        .select(
            F.col("a._id").alias("k1"),
            F.col("b._id").alias("k2"),
            d.alias("d"),
        )
        .where(F.col("d") <= max_dist)
        .distinct()
    )


def kmeans_assign(df, centroids, id_col="vec_id", vec_col="embedding"):
    """Append ``cluster`` (argmin squared-euclidean over ``centroids``,
    first-min tie → lowest cluster id) and ``dist_sq``. Map-only: the
    k×d centroid model rides into the task as literals (the same
    driver-sized-model shape as ``ivf_assign``); cost O(k·d) per row,
    embarrassingly parallel at any scale."""
    v_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    dists = F.expr(
        _scores_sql(
            v_sql,
            [list(map(float, c)) for c in centroids],
            "(x - y) * (x - y)",
        )
    )
    return df.withColumn("_d", dists).withColumn(
        "cluster",
        (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1).cast(
            "int"
        ),
    ).withColumn(
        "dist_sq", F.array_min(F.col("_d"))
    ).drop("_d")


def kmeans_lloyd(
    df: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "arrow",
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column; returns
    the final assignment ``(id, cluster, dist_sq)``.

    Deterministic contract (so a NumPy mirror reproduces it bit-near):
    init = the vectors of the ``k`` smallest ids; argmin ties go to
    the lowest cluster index; an emptied cluster keeps its previous
    centroid; exactly ``iters`` assignment+update rounds.

    Scale shape — the same as Spark MLlib's own KMeans: per round one
    map-only assignment pass (centroids broadcast as k×d literals)
    plus one map-side-combined aggregation of per-cluster
    per-dimension sums (``posexplode`` → groupBy(cluster, dim)), so
    k·d partial sums per task cross the wire, never vectors. The
    driver holds only the k×d model between rounds — data rows are
    never collected. O(iters · n · k · d) compute, embarrassingly
    parallel in n.

    The cast vectors are persisted for the duration of the loop —
    every round's two passes would otherwise re-scan and re-cast the
    source, 2·iters+2 source scans total. At test scale this is
    measured NEUTRAL (job-scheduling overhead dominates 20k-row
    iterations); it is the correct shape for a source that is
    expensive to scan, which is the 100 TB case. Unpersisted before
    returning — the returned assignment recomputes one pass from
    source, so the library leaks no cache.

    ``engine='arrow'`` (default) runs each round as ONE Arrow-batched
    ``mapInPandas`` pass emitting per-batch (cluster, dim-sum vector,
    count) partials — assignment is a BLAS-shaped argmin with the
    mirror's exact ``((V-C)**2).sum`` arithmetic, and the driver
    combines #batches x k model-sized partial rows (the
    ``embedding_covariance`` moment-partial shape; no shuffle at
    all). ``engine='sql'`` keeps the pure-Catalyst round: literal-
    centroid assignment + posexplode/groupBy(cluster, dim) partial
    sums. Both satisfy the deterministic contract; the final returned
    assignment is the codegen ``kmeans_assign`` pass either way.
    """
    base = df.select(
        id_col, F.col(vec_col).cast("array<double>").alias("_v")
    ).persist()
    try:
        init = (
            base.orderBy(F.col(id_col).asc())
            .limit(k)
            .select(F.col("_v").alias("v"))
            .collect()
        )
        centroids = [[float(x) for x in r["v"]] for r in init]
        for _ in range(iters):
            if engine == "arrow":
                centroids = _kmeans_round_arrow(base, centroids)
                continue
            assigned = kmeans_assign(base, centroids, id_col, "_v")
            sums = (
                assigned.select(
                    "cluster",
                    F.posexplode(F.col("_v")).alias("dim", "x"),
                )
                .groupBy("cluster", "dim")
                .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()  # k*d bounded rows — the model, not the data
            )
            centroids = _kmeans_update(centroids, sums)
    finally:
        base.unpersist()
    return kmeans_assign(df, centroids, id_col, vec_col).select(
        id_col, "cluster", "dist_sq"
    )


def _kmeans_round_arrow(base: DataFrame, centroids):
    """One Lloyd round as an Arrow partial-moment pass: per batch,
    assign via the mirror-exact ``((V-C)**2).sum`` argmin (ties to
    the lowest index, as np.argmin does) and emit one (cluster,
    sum-vector, count) row per non-empty cluster. Driver combines
    the ≤ #batches·k partials; empty clusters keep their centroid.
    """
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    k = len(centroids)

    def _partials(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf["_v"].to_list(), dtype=np.float64)
            d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            cl, s, n = [], [], []
            for c in np.unique(a):
                mem = V[a == c]
                cl.append(int(c))
                s.append(mem.sum(axis=0))
                n.append(len(mem))
            yield pd.DataFrame({"cluster": cl, "s": s, "n": n})

    rows = base.mapInPandas(
        _partials, "cluster int, s array<double>, n long"
    ).collect()
    tot_s = np.zeros_like(C)
    tot_n = np.zeros(k, dtype=np.int64)
    for r in rows:
        tot_s[r["cluster"]] += np.asarray(r["s"])
        tot_n[r["cluster"]] += r["n"]
    new = C.copy()
    nz = tot_n > 0
    new[nz] = tot_s[nz] / tot_n[nz, None]
    return [list(map(float, c)) for c in new]


def _kmeans_update(centroids, sums):
    new = [list(c) for c in centroids]  # empty cluster keeps old
    acc: dict[int, list] = {}
    for r in sums:
        acc.setdefault(r["cluster"], []).append(r)
    for cl, rows in acc.items():
        for r in rows:
            new[cl][r["dim"]] = r["s"] / r["n"]
    return new


def semantic_dedup(
    df: DataFrame,
    k: int = 10,
    iters: int = 5,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "arrow",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:
    2303.09540): k-means-cluster the embedding space, then inside each
    cluster drop every vector that has a higher-cosine-than-
    ``threshold`` neighbor with a SMALLER id. Returns the kept rows as
    ``(id, cluster)``.

    The clustering is the blocking structure: candidate pairs are
    generated per cluster, never across the full corpus — the same
    never-all-pairs discipline as the LSH/IVF family, with cluster
    population bounded by k chosen ~n/target_cluster_size. The drop
    rule ("exists a near-dup with a smaller id") is order-free and
    deterministic — no greedy sweep, so the result is independent of
    partitioning and reproducible by the NumPy oracle mirror.

    ``engine`` picks the per-cluster prune implementation:

    - ``"arrow"`` (default): one ``applyInPandas`` task per cluster
      running a blocked ``V @ V.T`` in BLAS. The c_i x c_i pair space
      never materializes as rows — only block-local score tiles — so
      the cost is c_i^2 * d FLOPs in vectorized native code instead of
      c_i^2 interpreted lambda folds; measured ~8x on the catalog
      entry. One cluster must fit one task (exactly SemDeDup's own
      deployment contract — k is chosen to make clusters task-sized).
    - ``"sql"``: pure-Catalyst cluster-key self-join with a zip_with/
      aggregate cosine. No per-task memory requirement beyond the
      join's own spill path; use when clusters may exceed task memory.
    """
    assigned = kmeans_lloyd(df, k, iters, id_col, vec_col).select(
        id_col, "cluster"
    )
    v = F.col(vec_col).cast("array<double>")
    if engine == "arrow":
        import numpy as np

        t = float(threshold)
        raw = df.select(
            F.col(id_col).alias("_id"), v.alias("_v")
        ).join(
            assigned.select(F.col(id_col).alias("_id"), "cluster"), "_id"
        )

        def _prune(pdf):
            pdf = pdf.sort_values("_id")
            V = np.array(pdf["_v"].to_list(), dtype=np.float64)
            n = len(pdf)
            keep = np.ones(n, dtype=bool)
            if n > 1:
                norms = np.linalg.norm(V, axis=1, keepdims=True)
                norms[norms == 0.0] = 1.0  # zero vecs: cos -> 0, kept
                V /= norms
                # Block rows so scratch stays O(block * c), not c^2:
                # row i is dropped iff any j < i has cos >= t —
                # comparisons against already-dropped j still count
                # (the order-free "exists smaller id" rule, matching
                # the sql engine and the NumPy oracle mirror).
                B = 1024
                for s in range(1, n, B):
                    e = min(s + B, n)
                    G = V[s:e] @ V[:e].T
                    for r in range(e - s):
                        if (G[r, : s + r] >= t).any():
                            keep[s + r] = False
            return pdf.loc[keep, ["_id", "cluster"]]

        # id field type follows the input column (string/int/long ids
        # all valid) — a hardcoded 'long' would Arrow-mismatch at run
        idt = df.schema[id_col].dataType.simpleString()
        kept = raw.groupBy("cluster").applyInPandas(
            _prune, f"_id {idt}, cluster int"
        )
        return kept.select(F.col("_id").alias(id_col), "cluster")
    pts = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        # bind the norm in its own projection so the normalize lambda
        # reads a materialized scalar — an aggregate() inside the
        # transform body would re-run per ELEMENT, O(d^2)/row (lambda
        # bodies get no CSE — see ivf_assign)
        .withColumn("_n", _norm(F.col("_v")))
        .select(
            "_id",
            F.transform(
                F.col("_v"), lambda x: x / F.col("_n")
            ).alias("_unit"),
        )
    ).join(
        assigned.select(
            F.col(id_col).alias("_id"), F.col("cluster")
        ),
        "_id",
    )
    a = pts.select(
        F.col("cluster"),
        F.col("_id").alias("a_id"),
        F.col("_unit").alias("_ua"),
    )
    b = pts.select(
        F.col("cluster"),
        F.col("_id").alias("b_id"),
        F.col("_unit").alias("_ub"),
    )
    cos = F.aggregate(
        F.zip_with(F.col("_ua"), F.col("_ub"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dropped = (
        a.join(b, ["cluster"])
        .where(F.col("a_id") < F.col("b_id"))
        .where(cos >= F.lit(float(threshold)))
        .select(F.col("b_id").alias("_id"))
        .distinct()
    )
    return (
        pts.select("_id", "cluster")
        .join(dropped, "_id", "left_anti")
        .select(F.col("_id").alias(id_col), "cluster")
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    sample: bool = True,
) -> DataFrame:
    """The d×d covariance matrix of an embedding column as
    ``(i, j, cov)`` rows — the PCA/whitening-prep moment computation.

    Scale shape: one Arrow-batched ``mapInPandas`` pass emits a
    PARTIAL moment row per batch — ``(n, Σx (d), ΣxxT (d²
    flattened))``, computed as one ``X.T @ X`` BLAS call per batch —
    and the driver combines the partials (#partitions × d² doubles,
    model-sized, never data) before the closed-form
    ``(ΣxxT − ΣxΣxT/n) / (n−1)``. This is the same partial+final
    contract as a Spark agg, expressed at matrix granularity: adding
    data grows only the number of constant-size partials.
    """
    import numpy as np
    from pyspark.sql import types as T

    d_probe = df.select(
        F.size(F.col(vec_col)).alias("d")
    ).limit(1).collect()
    if not d_probe:
        return local_frame(df.sparkSession, [], "i int, j int, cov double")
    d = int(d_probe[0]["d"])
    part_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("xx", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "xx": [(X.T @ X).ravel().tolist()],
                }
            )

    import pandas as pd

    rows = df.select(vec_col).mapInPandas(partials, part_schema).collect()
    if not rows:
        return local_frame(df.sparkSession, [], "i int, j int, cov double")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    xx = np.sum([np.array(r["xx"]) for r in rows], axis=0).reshape(d, d)
    denom = (n - 1) if (sample and n > 1) else n
    cov = (xx - np.outer(s, s) / n) / denom
    out = [
        (i, j, float(cov[i, j])) for i in range(d) for j in range(d)
    ]
    return local_frame(df.sparkSession, out, "i int, j int, cov double")


def pq_train_codebooks(sample_v, m: int = 8, nbits: int = 4, iters: int = 10):
    """Train product-quantization codebooks (Jégou et al. 2011, "PQ
    for nearest neighbor search") on a DRIVER-SIDE sample: split the
    d dims into ``m`` subspaces and k-means each to ``2**nbits``
    centroids. Returns an ``(m, 2**nbits, d//m)`` float64 ndarray.

    Deterministic contract (mirrors ``kmeans_lloyd``): init = first
    2**nbits sample rows per subspace, fixed ``iters`` Lloyd rounds,
    argmin ties to the lowest index, empty clusters keep their
    centroid. Training is config-sized by construction — the sample
    is hundreds of rows regardless of corpus scale (the classic PQ
    deployment: codebooks are model state, not data state).
    """
    import numpy as np

    V = np.asarray(sample_v, dtype=np.float64)
    n, d = V.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ksub, dsub = 1 << nbits, d // m
    if n < ksub:
        raise ValueError(f"need >= {ksub} training rows, got {n}")
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        X = V[:, j * dsub : (j + 1) * dsub]
        C = X[:ksub].copy()
        for _ in range(iters):
            dist = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = dist.argmin(axis=1)
            for c in range(ksub):
                mem = X[a == c]
                if len(mem):
                    C[c] = mem.mean(axis=0)
        books[j] = C
    return books


def pq_encode(
    df: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes: ``(id, codes array<int>)`` where
    ``codes[j]`` is the nearest subspace-``j`` centroid. One Arrow-
    batched ``mapInPandas`` pass, one BLAS-shaped argmin per subspace
    per batch; output is ``m`` small ints per vector — a 32x storage
    cut at d=64/float32/m=8, which is the whole point at 100 TB: the
    code table (not the raw embeddings) is what query scans read.
    """
    import numpy as np

    B = np.asarray(books, dtype=np.float64)
    m, ksub, dsub = B.shape
    idt = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {idt}, codes array<int>"

    def _enc(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                X = V[:, j * dsub : (j + 1) * dsub]
                d = ((X[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(_enc, out_schema)


def pq_adc_topk(
    codes_df: DataFrame,
    books,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: build the
    ``(m, 2**nbits)`` lookup table of squared distances from the
    UNQUANTIZED query to every centroid (driver-side, model-sized),
    then score each row as ``sum_j LUT[j, codes[j]]`` in one Arrow
    pass and take the k smallest via ``orderBy().limit(k)`` —
    TakeOrderedAndProject, the same bounded-heap plan as the exact
    cosine baseline. Ties break by id for full determinism.
    """
    import numpy as np

    B = np.asarray(books, dtype=np.float64)
    m, ksub, dsub = B.shape
    q = np.asarray(query_vec, dtype=np.float64)
    lut = np.empty((m, ksub))
    for j in range(m):
        lut[j] = ((B[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)

    def _score(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            C = np.array(pdf["codes"].to_list(), dtype=np.int64)
            dist = lut[np.arange(m)[None, :], C].sum(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "adc_dist": dist}
            )

    idt = codes_df.schema[id_col].dataType.simpleString()
    scored = codes_df.mapInPandas(
        _score, f"{id_col} {idt}, adc_dist double"
    )
    return scored.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc()).limit(k)


def _query_vector(df: DataFrame, query_id, id_col: str, vec_col: str):
    """The query's vector as a list of floats, looked up by id."""
    qrow = (
        df.where(F.col(id_col) == query_id)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    if not qrow:
        raise ValueError(f"query id {query_id} not found")
    return qrow[0][0]


def pq_topk(
    df: DataFrame,
    k: int = 10,
    m: int = 8,
    nbits: int = 4,
    train_rows: int = 256,
    query_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """End-to-end PQ ANN: train codebooks on the ``train_rows``
    smallest-id vectors (deterministic, driver-sized), encode the
    corpus, and answer the query "nearest to vector ``query_id``" by
    ADC — ``(id, adc_dist)`` ascending. In production the encode step
    runs once and the code table is stored; queries touch only codes
    (see ``pq_encode``/``pq_adc_topk`` for the split lifecycle).
    """
    sample = [
        r[0]
        for r in df.select(F.col(vec_col).cast("array<double>"))
        .orderBy(id_col)
        .limit(train_rows)
        .collect()
    ]
    books = pq_train_codebooks(sample, m=m, nbits=nbits)
    q = _query_vector(df, query_id, id_col, vec_col)
    codes = pq_encode(df, books, id_col, vec_col)
    return pq_adc_topk(codes, books, q, k, id_col)


def ivfpq_topk(
    df: DataFrame,
    query_id,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 8,
    nbits: int = 4,
    train_rows: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN — the standard 100 TB index shape (Jégou et al.
    2011): a coarse quantizer prunes to ``nprobe`` of ``nlist`` cells,
    and product-quantized RESIDUALS (vector minus its cell centroid)
    are scored by asymmetric distance within the probed cells only.
    Composition of the proven halves: IVF cell blocking (x33) over
    :func:`pq_train_codebooks`/ADC (y22), with the residual twist that
    makes the codes cell-local and much tighter than global PQ.

    Deterministic contract (mirrorable in NumPy): coarse centroids are
    the ``nlist`` smallest-id vectors; PQ codebooks train on the
    residuals of the ``train_rows`` smallest-id vectors; all argmins
    break ties first-min; final ties break by id.

    Scale shape: both models (nlist×d centroids, m×2^nbits×dsub
    codebooks) are driver-sized and ride into tasks as closures; the
    corpus is encoded in ONE Arrow pass to (id, cell, m×nbits-bit
    codes) — in production that table is stored once and queries
    never touch raw vectors; a query reads only the probed cells'
    code rows (cell-partitioned storage prunes the rest), builds the
    per-cell LUT driver-side, and takes top-k via
    ``orderBy().limit(k)`` (TakeOrderedAndProject). No pairwise
    row-space ever exists.
    """
    q = _query_vector(df, query_id, id_col, vec_col)
    return _ivfpq_topk(
        df, q, k, nlist, nprobe, m, nbits, train_rows, id_col, vec_col
    )


def _ivfpq_topk(
    df, qvec, k, nlist, nprobe, m, nbits, train_rows, id_col, vec_col
) -> DataFrame:
    """:func:`ivfpq_topk` for an already looked-up query vector."""
    import numpy as np

    # --- driver-side models (both bounded, never data-sized) -------
    small = (
        df.select(id_col, F.col(vec_col).cast("array<double>"))
        .orderBy(id_col)
        .limit(max(nlist, train_rows))
        .collect()
    )
    C = np.array([r[1] for r in small[:nlist]], dtype=np.float64)
    T = np.array([r[1] for r in small[:train_rows]], dtype=np.float64)
    tc = ((T[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    books = pq_train_codebooks(
        (T - C[tc]).tolist(), m=m, nbits=nbits
    )
    B = np.asarray(books, dtype=np.float64)
    _, ksub, dsub = B.shape

    q = np.asarray(qvec, dtype=np.float64)

    # --- one Arrow encode pass: (id, cell, codes) ------------------
    idt = df.schema[id_col].dataType.simpleString()

    def _enc(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            cell = (
                ((V[:, None, :] - C[None, :, :]) ** 2)
                .sum(axis=2)
                .argmin(axis=1)
            )
            R = V - C[cell]
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                X = R[:, j * dsub : (j + 1) * dsub]
                d = ((X[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell": cell.astype("int32"),
                    "codes": list(codes),
                }
            )

    encoded = df.select(id_col, vec_col).mapInPandas(
        _enc, f"{id_col} {idt}, cell int, codes array<int>"
    )

    # --- probe: nprobe nearest cells, per-cell LUT, ADC ------------
    cd = ((q[None, :] - C) ** 2).sum(axis=1)
    probe = np.argsort(cd, kind="stable")[:nprobe]
    luts = {}
    for c in probe:
        r = q - C[c]
        lut = np.empty((m, ksub))
        for j in range(m):
            lut[j] = ((B[j] - r[j * dsub : (j + 1) * dsub]) ** 2).sum(
                axis=1
            )
        luts[int(c)] = lut

    def _score(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            out_id, out_d = [], []
            for rid, cell, codes in zip(
                pdf[id_col], pdf["cell"], pdf["codes"]
            ):
                lut = luts[int(cell)]
                out_id.append(rid)
                out_d.append(
                    float(
                        lut[np.arange(m), np.asarray(codes)].sum()
                    )
                )
            yield pd.DataFrame({id_col: out_id, "adc_dist": out_d})

    probed = encoded.where(
        F.col("cell").isin(*[int(c) for c in probe])
    )
    scored = probed.mapInPandas(
        _score, f"{id_col} {idt}, adc_dist double"
    )
    return scored.orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    ).limit(k)


def ivfpq_topk_rerank(
    df: DataFrame,
    query_id,
    k: int = 10,
    rerank: int = 50,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 8,
    nbits: int = 4,
    train_rows: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval — the standard production ANN shape: an
    IVF-PQ ADC shortlist of ``rerank`` (> k) candidates, then an EXACT
    float re-score of only those rows, returning the top ``k`` by true
    squared L2 (ties by id) as ``(id, adc_dist, exact_dist)``.

    Why it works: the shortlist is a superset of plain
    :func:`ivfpq_topk`'s answer, and any true neighbor the shortlist
    contains survives the exact re-sort — so recall is provably >= the
    single-stage index at the cost of re-reading ``rerank`` raw
    vectors (a broadcast-joined handful, not a scan: at 100 TB the
    vector table is fetched by id from the probed cells only, and the
    exact arithmetic is a Catalyst ``zip_with``/``aggregate`` over
    ``rerank`` rows — no UDF, no extra shuffle beyond the shortlist's
    own TakeOrderedAndProject).
    """
    if rerank < k:
        raise ValueError(
            f"rerank window ({rerank}) must be >= k ({k})"
        )
    q = _query_vector(df, query_id, id_col, vec_col)
    shortlist = _ivfpq_topk(
        df, q, rerank, nlist, nprobe, m, nbits, train_rows, id_col, vec_col
    )
    qarr = F.array(*[F.lit(float(x)) for x in q])
    exact = (
        df.select(
            id_col, F.col(vec_col).cast("array<double>").alias("_v")
        )
        .join(F.broadcast(shortlist), id_col)
        .withColumn(
            "exact_dist",
            F.aggregate(
                F.zip_with("_v", qarr, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .select(id_col, "adc_dist", "exact_dist")
    )
    return exact.orderBy(
        F.col("exact_dist").asc(), F.col(id_col).asc()
    ).limit(k)


def _unit_label_side(
    src: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    idn: str,
    vecn: str,
    labn: str,
) -> DataFrame:
    """(id, unit-normalized vector, label) projection shared by the
    triplet miners. The norm is bound as a projected attribute FIRST,
    so the divide lambda references a column — inlining the norm into
    the transform would recompute it per element (64×). A zero
    vector has no direction: it maps to the zero unit vector (cosine
    0 vs everything) instead of dividing by 0 (ANSI mode raises
    DIVIDE_BY_ZERO)."""
    base = src.select(
        F.col(id_col).alias(idn),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col(label_col).alias(labn),
    ).withColumn(
        "_nm",
        F.when(_norm(F.col("_v")) > 0, _norm(F.col("_v"))).otherwise(
            F.lit(1.0)
        ),
    )
    return base.select(
        idn,
        F.transform(
            F.col("_v"), lambda x: x / F.col("_nm")
        ).alias(vecn),
        labn,
    )


def contrastive_triplets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_rows: int | None = 100_000,
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Hard-triplet mining for embedding-model training (FaceNet /
    sentence-encoder recipe): for every labeled anchor, ``pos`` is
    its most-similar SAME-label neighbor and ``neg`` its
    most-similar DIFFERENT-label neighbor — the hardest negative,
    the one sitting closest to the anchor on the wrong side of the
    boundary. ``margin = pos_score - neg_score`` (cosine); rows with
    ``margin <= 0`` are the active triplets a triplet/InfoNCE loss
    actually learns from, and a corpus whose margins are all large
    has no hard examples left to mine. Ties break on the lowest
    neighbor id (deterministic across engines). Unlabeled rows
    (NULL ``label_col``) are excluded from BOTH sides — a NULL label
    can neither certify a positive nor a negative. Anchors missing
    either side (singleton label, or a single-label corpus) are
    dropped with the join.

    Scale warning: O(n²) brute-force scoring — the evaluation
    baseline, guarded by ``max_rows`` exactly like :func:`knn_join`
    (raise it deliberately, or ``None`` to skip the guard and its
    extra action). The 100 TB path mines within LSH / IVF buckets
    first (:func:`random_hyperplane_lsh`, :func:`ivf_assign`) and
    runs THIS operator per bucket: hard positives and hard negatives
    are by definition near the anchor, so bucketing loses only the
    easy pairs a hard-mining pass ignores anyway. And bound the
    ANCHOR side with ``anchors`` (a subset frame with the same
    columns) when only a probe set needs triplets — neighbors still
    come from ALL of ``df``, but cost drops to |anchors| × |corpus|;
    the guard counts the anchor side, which is the broadcast side.

    Plan shape (r14): the anchor side is collected to the driver
    (it is the broadcast side either way — the ``max_rows`` guard
    bounds it) and shipped as a NumPy matrix in a Spark broadcast;
    the corpus side flows through ONE Arrow ``mapInPandas`` pass
    that unit-normalizes each batch and scores it against every
    anchor with a single float64 GEMM (guide-§4.2 shape: whole
    batches into vectorized native code — the per-pair
    ``zip_with``/``aggregate`` fold this replaced is interpreted
    per element and measured 9× slower at 1000×2000×64), emitting
    at most one same-label and one different-label candidate per
    (anchor, batch): a model-sized stream into the same
    map-side-combinable conditional-extremes hash aggregate
    (``min`` over ``struct(-score, id)`` — highest score, ties to
    the lowest id; argmax over an id-sorted batch picks the lowest
    id within a batch, the struct min across batches). Zero-norm
    vectors keep cosine 0; NaN scores are demoted below every real
    score exactly like the struct ordering (NaN sorts last under
    ``min``).
    """
    import numpy as np
    import pandas as pd

    labeled = df.where(F.col(label_col).isNotNull())
    a_src = (
        labeled
        if anchors is None
        else anchors.where(F.col(label_col).isNotNull())
    )
    id_type = df.schema[id_col].dataType.simpleString()

    proj = a_src.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col(label_col).alias("_lab"),
    )
    a_rows = (
        proj.limit(max_rows + 1) if max_rows is not None else proj
    ).collect()
    if max_rows is not None and len(a_rows) > max_rows:
        raise ValueError(
            f"contrastive_triplets input has more than "
            f"{max_rows} labeled rows; this is the O(n^2) "
            "evaluation baseline. Bucket with LSH/IVF and mine "
            "per bucket, pass a larger max_rows deliberately, "
            "or max_rows=None to skip the guard."
        )
    spark = df.sparkSession
    empty_out = (
        f"anchor_id {id_type}, pos_id {id_type}, pos_score double,"
        f" neg_id {id_type}, neg_score double, margin double"
    )
    if not a_rows:
        return local_frame(spark, [], empty_out)

    def _unit_rows(mat: "np.ndarray") -> "np.ndarray":
        nm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        nm[nm <= 0.0] = 1.0
        return mat / nm[:, None]

    a_ids = np.array([r["_id"] for r in a_rows], dtype=np.int64)
    a_mat = _unit_rows(
        np.array([r["_v"] for r in a_rows], dtype=np.float64)
    )
    # dense label codes: dict-keyed like Spark's EqualTo (NaN equals
    # itself — Spark SQL NaN semantics), batch labels outside the
    # anchor set code to -1 (never equal to any anchor code >= 0)
    a_code_of: dict = {}
    for r in a_rows:
        a_code_of.setdefault(r["_lab"], len(a_code_of))
    a_codes = np.array(
        [a_code_of[r["_lab"]] for r in a_rows], dtype=np.int64
    )
    bc = spark.sparkContext.broadcast(
        (a_ids, a_mat, a_codes, a_code_of)
    )

    cand_schema = (
        f"anchor_id {id_type}, _same boolean, score double,"
        f" other_id {id_type}"
    )

    def _score_batches(batches):
        ids_b, mat_b, codes_b, code_of = bc.value
        k = len(ids_b)
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            order = np.argsort(
                pdf["_id"].to_numpy(), kind="stable"
            )
            ids = pdf["_id"].to_numpy()[order]
            labs = pdf["_lab"].to_numpy()[order]
            vecs = _unit_rows(
                np.array(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v in pdf["_v"].to_numpy()[order]
                    ]
                )
            )
            codes = np.array(
                [code_of.get(l, -1) for l in labs], dtype=np.int64
            )
            out: dict = {
                "anchor_id": [], "_same": [], "score": [],
                "other_id": [],
            }
            # chunk rows so the m×k score block stays ~32 MB
            step = max(1, (4 << 20) // max(k, 1))
            for s in range(0, m, step):
                e = min(m, s + step)
                sc = vecs[s:e] @ mat_b.T
                sc[np.isnan(sc)] = -np.inf
                sc[ids[s:e, None] == ids_b[None, :]] = -np.inf
                same = codes[s:e, None] == codes_b[None, :]
                for mask, flag in ((same, True), (~same, False)):
                    msc = np.where(mask, sc, -np.inf)
                    best = np.argmax(msc, axis=0)
                    top = msc[best, np.arange(k)]
                    hit = top > -np.inf
                    if not hit.any():
                        continue
                    out["anchor_id"].extend(ids_b[hit].tolist())
                    out["_same"].extend([flag] * int(hit.sum()))
                    out["score"].extend(top[hit].tolist())
                    out["other_id"].extend(
                        ids[s:e][best[hit]].tolist()
                    )
            if out["anchor_id"]:
                yield pd.DataFrame(out)

    pairs = labeled.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col(label_col).alias("_lab"),
    ).mapInPandas(_score_batches, cand_schema)
    ext = F.struct(
        (-F.col("score")).alias("ns"), F.col("other_id").alias("i")
    )
    agg = pairs.groupBy("anchor_id").agg(
        F.min(F.when(F.col("_same"), ext)).alias("_p"),
        F.min(F.when(~F.col("_same"), ext)).alias("_n"),
    )
    return agg.where(
        F.col("_p").isNotNull() & F.col("_n").isNotNull()
    ).select(
        "anchor_id",
        F.col("_p.i").alias("pos_id"),
        (-F.col("_p.ns")).alias("pos_score"),
        F.col("_n.i").alias("neg_id"),
        (-F.col("_n.ns")).alias("neg_score"),
        (F.col("_n.ns") - F.col("_p.ns")).alias("margin"),
    )


def contrastive_triplets_bucketed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """The 100 TB path of :func:`contrastive_triplets` — the shipped
    operator for what that docstring prescribed in prose: mine hard
    positives/negatives WITHIN similarity buckets instead of the
    O(n²) brute cross join. Hard pairs are by definition NEAR the
    anchor, so bucketing loses only the easy pairs a hard-mining
    pass ignores anyway; candidate recall is tuned with ``n_tables``
    independent SRP-LSH tables (each a different seed — a boundary
    that splits a true neighbor in one table rarely splits it in
    all) or, with ``centroids`` given, IVF assignment with the
    anchor probing its ``nprobe`` nearest cells.

    Same contract as the brute baseline wherever the candidate sets
    agree: per anchor the highest-scoring same-label and
    different-label neighbors over the candidate union, ties to the
    LOWEST neighbor id (one conditional extremes hash agg — the
    identical struct trick, so results are comparable row-for-row);
    unlabeled rows excluded from both sides; anchors missing either
    side in every bucket drop with the join. Duplicate candidate
    pairs from overlapping tables/probes are NOT deduplicated first
    — ``min`` over a duplicated pair is the same extreme, and the
    dedup would cost an extra pair-keyed shuffle.

    Scale shape: map-only bucket projections (hyperplane/centroid
    models are seeded driver-side literals), then ONE bucket-keyed
    equi self-join per table/probe (pairs bounded by the bucket's
    occupancy, NEVER all-pairs — the z92 quadratic term is gone)
    feeding the same map-side-combinable extremes agg. Skewed
    buckets (a dense embedding mode) are AQE skew-join territory;
    raise ``n_bits``/``nlist`` to split hot buckets, raise
    ``n_tables``/``nprobe`` to buy recall.
    """
    labeled = df.where(F.col(label_col).isNotNull())
    u = _unit_label_side(
        labeled, id_col, vec_col, label_col, "_id", "_uv", "_lab"
    )
    if centroids is None:
        # all n_tables bucket ids from ONE projection, posexploded
        # into (table, bucket) keyed rows — the table id IN the join
        # key, since bucket value 5 of table 0 and table 1 come from
        # different hyperplanes and must not pool. Same row multiset
        # as the former union of per-table streams, but the plan
        # carries ONE scan and ONE copy of the k×d literal plane
        # expressions per join side instead of n_tables of each —
        # driver plan-analysis cost was the dominant term at small
        # scale (§7.3), and at scale this also cuts the map-side
        # source evaluations per join side from n_tables to one.
        cand = u.select(
            "_id",
            "_uv",
            "_lab",
            F.posexplode(
                F.expr(
                    "array("
                    + ",".join(
                        _srp_bucket_sql(dim, n_bits, "_uv", seed + t)
                        for t in range(int(n_tables))
                    )
                    + ")"
                )
            ).alias("_tb", "_bk"),
        )
        anchor = cand
    else:
        neigh = ivf_assign(u, centroids, vec_col="_uv",
                           cluster_col="_bk")
        cand = neigh.withColumn("_tb", F.lit(0))
        if int(nprobe) <= 1:
            anchor = cand
        else:
            # anchor probes its nprobe nearest cells: scores bound
            # to a projected array first (no per-centroid re-cast),
            # (−score, cell) structs sorted so ties take the lowest
            # cell id, then exploded into one candidate key per probe
            scores = F.expr(
                _scores_sql(
                    "_pv",
                    [list(map(float, c)) for c in centroids],
                    "x * y",
                    [
                        math.sqrt(sum(x * x for x in c)) or 1.0
                        for c in centroids
                    ],
                )
            )
            probes = F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("_sc"),
                            lambda x, i: F.struct(
                                (-x).alias("s"), i.alias("c")
                            ),
                        )
                    ),
                    1,
                    int(nprobe),
                ),
                lambda s: s["c"],
            )
            anchor = (
                u.withColumn("_pv", F.col("_uv"))
                .withColumn("_sc", scores)
                .withColumn("_bk", F.explode(probes))
                .withColumn("_tb", F.lit(0))
                .drop("_pv", "_sc")
            )
    a = anchor.select(
        "_tb",
        F.col("_bk"),
        F.col("_id").alias("anchor_id"),
        F.col("_uv").alias("_av"),
        F.col("_lab").alias("_al"),
    )
    b = cand.select(
        "_tb",
        F.col("_bk"),
        F.col("_id").alias("other_id"),
        F.col("_uv").alias("_bv"),
        F.col("_lab").alias("_bl"),
    )
    score = F.aggregate(
        F.zip_with("_av", "_bv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(b, ["_tb", "_bk"])
        .where(F.col("anchor_id") != F.col("other_id"))
        .select(
            "anchor_id",
            (F.col("_al") == F.col("_bl")).alias("_same"),
            score.alias("score"),
            "other_id",
        )
    )
    ext = F.struct(
        (-F.col("score")).alias("ns"), F.col("other_id").alias("i")
    )
    agg = pairs.groupBy("anchor_id").agg(
        F.min(F.when(F.col("_same"), ext)).alias("_p"),
        F.min(F.when(~F.col("_same"), ext)).alias("_n"),
    )
    return agg.where(
        F.col("_p").isNotNull() & F.col("_n").isNotNull()
    ).select(
        "anchor_id",
        F.col("_p.i").alias("pos_id"),
        (-F.col("_p.ns")).alias("pos_score"),
        F.col("_n.i").alias("neg_id"),
        (-F.col("_n.ns")).alias("neg_score"),
        (F.col("_n.ns") - F.col("_p.ns")).alias("margin"),
    )


def cluster_balanced_sample(
    df: DataFrame,
    centroids: list[list[float]],
    k_per_cluster: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-balanced corpus sampling (the DataComp / SemDeDup-
    family recipe's selection half): assign every row to its nearest
    centroid (:func:`kmeans_assign` — centroids from
    :func:`kmeans_lloyd` or :func:`sample_centroids`), then keep a
    deterministic ≤``k_per_cluster`` uniform sample PER CLUSTER by
    smallest md5(id) — so no embedding-space mode dominates the
    sample the way a global uniform draw lets the head cluster
    dominate a web corpus. Appends ``cluster``, ``dist_sq`` and the
    1-based ``sample_rank``; reproducible across runs, partitionings,
    and engines (content-hash order, never ``rand()``).

    Scale shape: assignment is map-only with the k×d centroid model
    riding as literals; the cap is one ``row_number`` window per
    cluster that Spark >= 3.5 evaluates map-side (WindowGroupLimit —
    at most k rows per cluster per input partition reach the
    shuffle), so the sample never materializes a cluster.
    """
    from topn_spark.operators.pipeline import sample_k_per_group

    if k_per_cluster < 1:
        raise ValueError(
            f"k_per_cluster must be >= 1, got {k_per_cluster}"
        )
    assigned = kmeans_assign(
        df, centroids, id_col=id_col, vec_col=vec_col
    )
    return sample_k_per_group(
        assigned,
        ["cluster"],
        int(k_per_cluster),
        id_col,
        rank_col="sample_rank",
    )


def mmr_rerank(
    df: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "cand_id",
    rel_col: str = "rel_score",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity pass retrieval training data needs between
    ANN shortlist and final top-k (a plain cosine top-k returns ten
    near-copies of the best hit; MMR trades relevance against
    redundancy): greedily select ``k`` candidates per query, each
    pick maximizing ``lam * rel - (1 - lam) * max cosine to the
    already-selected set`` (first pick: relevance alone scaled by
    ``lam``; ties break on lowest candidate id). Emits ``mmr_rank``
    (1-based selection order) and ``mmr_score`` (the criterion value
    at selection) alongside the input relevance.

    Scale shape: ONE shuffle keyed by ``query_col`` into an
    Arrow-batched ``applyInPandas`` — the greedy loop is inherently
    sequential but only over a SHORTLIST (each group is the ANN
    top-m for one query, m ~ tens, by construction upstream), so
    per-group work is O(k·m·d) NumPy and groups are embarrassingly
    parallel. Never feed a whole corpus as one query's candidate
    set — shortlist first (:func:`ivf_topk` / :func:`pq_topk`).
    """
    if not 0.0 <= float(lam) <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import numpy as np
    import pandas as pd

    dtypes = dict(df.dtypes)
    out_schema = (
        f"{query_col} {dtypes[query_col]}, {id_col} {dtypes[id_col]},"
        " mmr_rank int, rel_score double, mmr_score double"
    )
    kk, lm = int(k), float(lam)

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
        )
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        nv = v / norms[:, None]
        sims = nv @ nv.T
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        m = len(ids)
        chosen: list[int] = []
        scores: list[float] = []
        free = list(range(m))
        while free and len(chosen) < kk:
            best_i, best_s = None, None
            for i in free:
                pen = (
                    max(float(sims[i, j]) for j in chosen)
                    if chosen
                    else 0.0
                )
                s = lm * float(rel[i]) - (1.0 - lm) * pen
                if (
                    best_s is None
                    or s > best_s
                    or (s == best_s and ids[i] < ids[best_i])
                ):
                    best_i, best_s = i, s
            chosen.append(best_i)
            scores.append(best_s)
            free.remove(best_i)
        q = pdf[query_col].iloc[0]
        return pd.DataFrame(
            {
                query_col: [q] * len(chosen),
                id_col: ids[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1),
                "rel_score": rel[chosen],
                "mmr_score": scores,
            }
        )

    return df.groupBy(query_col).applyInPandas(_mmr, out_schema)
