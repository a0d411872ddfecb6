"""Iterative graph operators over edge-list DataFrames.

Companions to :func:`topn_spark.operators.dedup.connected_components`
(the dedup-clustering fixpoint): the same driver-drives-iterations /
data-stays-on-executors shape, used where a corpus has link structure
(citation graphs, near-dup graphs, user-interaction graphs).

Iterative float algorithms are NOT hash-matchable cross-engine
(SURVEY.md §2.4 rule 3 — accumulation order changes low bits), so
these ship with property tests (mass conservation, convergence,
known-graph fixtures) instead of SQL oracles — the driver records the
weaker rows-only check by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topn_spark.plans import local_frame


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
    tol: float | None = 1e-6,
) -> DataFrame:
    """PageRank over a directed edge list → ``(id, rank)``.

    Standard power iteration: each round every node keeps
    ``(1-d)/N`` and receives ``d × Σ rank(in-neighbor)/out-degree``;
    dangling-node mass is redistributed uniformly so ranks always sum
    to 1. Stops after ``max_iter`` rounds or when the L1 delta drops
    below ``tol``.

    Scale shape: per round, one join (ranks ⋈ edges, both hash-
    partitioned on the node id — AQE reuses the partitioning) and one
    aggregation, materialized exactly once (the inbound-mass table is
    checkpointed, truncating lineage; everything else in the round is
    a projection over checkpointed frames). State is O(nodes + edges)
    on executors; the driver only sees the scalar delta. This is the canonical Spark iterative-
    algorithm formulation (same skeleton as connected_components).
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges with per-source degree, reused every round
    contrib_edges = e.join(out_deg, "src").localCheckpoint(eager=True)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(max_iter):
        # ONE materialization per round (the connected_components
        # lesson): checkpoint the round's join+aggregate once, then
        # the dangling-mass probe, the new-rank projection and the
        # optional delta probe all read the checkpointed node-sized
        # rows. The previous shape ran the join+agg TWICE per round
        # (once under the flowed collect, again under the new_ranks
        # checkpoint). new_ranks itself needs no checkpoint: its
        # lineage is two checkpointed frames and a projection, so
        # plan depth stays constant across rounds.
        inbound = (
            contrib_edges.join(
                ranks.withColumnRenamed("id", "src"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("m"))
            .localCheckpoint(eager=True)
        )
        # dangling mass = 1 - mass that flowed along edges
        flowed = inbound.agg(F.sum("m")).collect()[0][0] or 0.0
        dangling = 1.0 - flowed
        base = (1.0 - damping) / n + damping * dangling / n
        new_ranks = nodes.join(
            inbound.withColumnRenamed("dst", "id"), "id", "left"
        ).select(
            "id",
            (
                F.lit(base) + F.lit(damping) * F.coalesce("m", F.lit(0.0))
            ).alias("rank"),
        )
        if tol is not None:
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "id")
                .agg(
                    F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d")
                )
                .collect()[0][0]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_edge_limit: int = 1_000_000,
    broadcast_node_limit: int = 1_000_000,
) -> DataFrame:
    """Exact triangle count over an undirected edge list → one row
    ``(n_nodes, n_edges, n_triangles)``.

    Compact-forward, edge-iterator formulation: rank nodes by
    (degree, id), orient every edge from lower to higher rank, build
    each node's out-neighbor array, and for every oriented edge
    (u, v) count ``|N+(u) ∩ N+(v)|`` — each triangle is counted
    exactly once, at its lowest-ranked edge.

    The degree orientation is the scale lever: total intersection
    work is bounded by wedge volume Σ out_deg², and orienting toward
    higher degree caps out-degree at O(√m) for any graph — O(m^1.5)
    instead of (max degree)·m of a naive orientation, the difference
    between feasible and not on a power-law 100 TB edge list.

    Why intersections instead of materializing wedges and semi-joining
    them back to the edge set (this operator's previous shape): the
    wedge stream has Σ out_deg² ROWS — 411M rows for the 12M-edge
    co-purchase graph at sf1 — and every one of them must flow
    through the closing join as a real row even when fully map-side.
    The adjacency form keeps the big term inside a per-row
    ``array_intersect`` (hash-set probe per neighbor, no row
    materialization): measured 174 s → ~60 s at sf1, identical count.

    Physical strategy is picked on EXACT sizes (counted off the
    persisted sets — the counts are part of the result anyway, and
    the hints bypass ``autoBroadcastJoinThreshold`` so they must be
    sized on the materialized ``BroadcastHashedRelation``, not raw
    bytes): the degree table broadcasts when ``n_nodes`` ≤
    ``broadcast_node_limit`` (one (id, count) row per node, ~60–100 B
    hashed each). The closing pass explodes the adjacency table — the
    probe side carries N+(u) for free as the exploded row's parent —
    and joins the v-side adjacency, broadcast when ``n_edges`` ≤
    ``broadcast_edge_limit`` (the hashed adjacency relation is ~8 B
    per edge in array payload + ~100 B per node row: the 1M default
    is tens of MB, safe on default 1–4 GB executors; callers on fat
    executors should opt up explicitly — 12M edges ≈ ~400 MB hashed).
    Above the limits everything falls back to shuffled equi-joins:
    the exploded probe stream shuffles Σ out_deg² longs of array
    payload — the same bytes the wedge stream would shuffle, so the
    fallback is never worse than the wedge form, and it is the
    100 TB-safe path. No iteration, no driver-side state.
    """
    # canonical undirected edge set: (lo, hi), dedup'd, self-loops out.
    # Persisted: consumed by the degree agg, the orientation join, the
    # closing join, and the edge count.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    # n_nodes is part of the result anyway; knowing it exactly lets
    # the orientation joins go map-side (degree table broadcast: one
    # (id, count) row per node) instead of shuffling the edge set
    # twice. Past the limit, shuffled equi-joins — the scale path.
    # Both counts come from ONE node-sized aggregate over the cached
    # degree table (Σdeg = 2m) — the former separate e.count() was an
    # extra edge-sized pass per call (§1.2 step 1: count the passes).
    nrow = deg.agg(
        F.count(F.lit(1)).alias("n"), F.sum("deg").alias("s")
    ).first()
    n_nodes = nrow["n"]
    n_edges = int(nrow["s"] or 0) // 2
    # orient a→b iff rank(a) < rank(b), rank = (deg, id)
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    if n_nodes <= broadcast_node_limit:
        da, db = F.broadcast(da), F.broadcast(db)
    fwd = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    # ONE materialization of the oriented graph: its adjacency form.
    # (The oriented edge list itself is recovered below by exploding
    # the arrays, with the u-side neighbor array attached for free.)
    adj = fwd.groupBy("u").agg(F.collect_list("v").alias("nb")).persist()
    bcast = n_edges <= broadcast_edge_limit
    if not bcast:
        # Fallback path only: materialize the cache before the probe
        # and build sides race to compute it inside one job. On the
        # broadcast path the build-side broadcast job runs first and
        # fills the cache itself, so a separate pass is pure waste.
        adj.count()
    probe = adj.select(
        F.col("nb").alias("nbu"), F.explode("nb").alias("v")
    )
    build = adj.select(F.col("u").alias("v"), F.col("nb").alias("nbv"))
    if bcast:
        build = F.broadcast(build)
    # inner join: a v with no out-neighbors closes no triangles
    n_tris = (
        probe.join(build, "v")
        .select(F.size(F.array_intersect("nbu", "nbv")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t"))
        .first()[0]
    )
    e.unpersist()
    adj.unpersist()
    deg.unpersist()
    return local_frame(
        edges.sparkSession,
        [(n_nodes, n_edges, n_tris)],
        "n_nodes bigint, n_edges bigint, n_triangles bigint",
    )


def bfs_hops(
    edges: DataFrame,
    sources: list,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Breadth-first hop distance from a seed set → ``(id, hops)``
    for every node reachable within ``max_hops`` (seeds at 0). The
    neighborhood-expansion primitive: "everything within k links of
    these users/documents" for influence radii, contamination spread,
    or graph-local sampling.

    Level-synchronous frontier expansion — the canonical distributed
    BFS: per hop, ONE equi-join of the current frontier against the
    (pre-checkpointed) adjacency list, an anti-join against the
    settled distance table, and a distinct. Everything is hash-
    partitioned on the node id; the driver sees only the frontier
    COUNT (the loop-termination scalar), never rows. Distance table
    and frontier are localCheckpoint-ed per round to truncate lineage
    (same skeleton as ``pagerank`` / ``connected_components``).
    Unlike the recursive-CTE formulation, state is O(nodes) —
    visited nodes are never re-expanded.

    Integer output: exactly hash-matchable against a recursive-SQL
    oracle (no float accumulation — contrast ``pagerank``).
    """
    if not sources:
        raise ValueError("bfs_hops needs at least one source node")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.union(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    adj = e.distinct().localCheckpoint(eager=True)
    spark = edges.sparkSession
    seeds = [(s, 0) for s in sources]
    # the column types Spark infers from the Python seed values
    dist = local_frame(
        spark, seeds, spark._inferSchemaFromList(seeds, ["id", "hops"])
    ).localCheckpoint(eager=True)
    frontier = dist.select("id")
    for d in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, frontier["id"] == adj["a"])
            .select(F.col("b").alias("id"))
            .distinct()
            .join(dist, "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        dist = dist.union(
            nxt.withColumn("hops", F.lit(d))
        ).localCheckpoint(eager=True)
        frontier = nxt
    return dist
