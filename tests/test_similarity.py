"""Similarity-search tests: brute-force cosine vs NumPy oracle
(tolerance — float scores are never hash-matched, SURVEY.md §2.6),
IVF pruning recall, knn join, SRP-LSH near-dup recovery."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from topn_spark.catalog import load_table
from topn_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    knn_join,
    sample_centroids,
)


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, mat


def _np_topk(ids, mat, qvec, k):
    q = np.asarray(qvec, dtype=np.float64)
    scores = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -scores))[:k]
    return list(ids[order]), scores[order]


def test_cosine_topk_matches_numpy(emb, emb_np):
    ids, mat = emb_np
    qvec = [float(x) for x in mat[0]]
    got = cosine_topk(emb, qvec, k=10).collect()
    want_ids, want_scores = _np_topk(ids, mat, qvec, 10)
    assert [r.vec_id for r in got] == want_ids
    assert np.allclose([r.score for r in got], want_scores, atol=1e-9)


def test_ivf_topk_recall(emb, emb_np):
    ids, mat = emb_np
    qvec = [float(x) for x in mat[3]]
    cents = sample_centroids(emb, nlist=8)
    approx = {r.vec_id for r in ivf_topk(emb, qvec, k=10, nlist=8, nprobe=4, centroids=cents).collect()}
    exact, _ = _np_topk(ids, mat, qvec, 10)
    # probing half the cells should keep decent recall on 500 vectors
    assert len(approx & set(exact)) >= 5


def test_knn_join_self(spark):
    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_join(df, df, k=1)
    nearest = {r.left_id: r.right_id for r in out.collect()}
    assert nearest == {1: 2, 2: 1, 3: 4, 4: 3}


def test_embedding_near_dup_pairs(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # plant 5 near-duplicates: tiny perturbations of vectors 0-4
    for i in range(5):
        rows.append((100 + i, [float(x) for x in base[i] + rng.normal(scale=0.01, size=16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.98, n_bits=8, dim=16
        ).collect()
    }
    planted = {(i, 100 + i) for i in range(5)}
    assert len(planted & pairs) >= 4  # LSH recall with 8 bits
    assert all(a < 100 <= b or (a < 100 and b < 100) is False or True for a, b in pairs)


def test_cosine_topk_plan_is_take_ordered(emb):
    qvec = [0.1] * 64
    plan = cosine_topk(emb, qvec, k=5)._sc is not None and cosine_topk(
        emb, qvec, k=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_edit_distance_join_neighborhood_is_lossless(spark):
    from topn_spark.operators.similarity import edit_distance_join

    rows = [
        (1, "kitten", "g1"),
        (2, "sitten", "g1"),   # substitution, d=1
        (3, "kitte", "g1"),    # deletion, d=1 (cross-length)
        (4, "kittens", "g1"),  # insertion, d=1 (cross-length)
        (5, "sittin", "g1"),   # d=2 from kitten — must NOT match it
        (6, "kitten", "g2"),   # exact text but different block
    ]
    df = spark.createDataFrame(rows, "id int, s string, blk string")
    got = {
        (r.k1, r.k2, r.d)
        for r in edit_distance_join(
            df, "id", "s", block_cols=("blk",), max_dist=1
        ).collect()
    }
    # brute-force oracle within blocks
    import itertools

    def ed(a, b):
        import functools

        @functools.lru_cache(None)
        def rec(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(
                rec(i - 1, j) + 1,
                rec(i, j - 1) + 1,
                rec(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )

        return rec(len(a), len(b))

    want = {
        (x[0], y[0], ed(x[1], y[1]))
        for x, y in itertools.combinations(rows, 2)
        if x[2] == y[2] and ed(x[1], y[1]) <= 1
    }
    assert got == want
    assert (1, 2, 1) in got and (1, 3, 1) in got and (1, 4, 1) in got
    assert not any({a, b} == {1, 5} or {a, b} == {1, 6} for a, b, _ in got)


def test_edit_distance_join_block_on_text_col(spark, tmp_path):
    """A block column that is also the id or text column is projected
    once: no plan node carries one attribute twice (the spread
    shuffle would move the text twice, and engines that do not fold
    same-attribute duplicates raise AMBIGUOUS_REFERENCE). Blocking on
    the text itself pairs only identical texts."""
    from topn_spark.operators.similarity import edit_distance_join

    path = str(tmp_path / "one_split")
    spark.createDataFrame(
        [(1, "abc"), (2, "abc"), (3, "abd")], "id int, s string"
    ).coalesce(1).write.parquet(path)
    out = edit_distance_join(
        spark.read.parquet(path), "id", "s", block_cols=("s",)
    )
    assert {(r.k1, r.k2, r.d) for r in out.collect()} == {(1, 2, 0)}

    def doubled(node):
        attrs = node.output()
        ids = [attrs.apply(i).exprId().id() for i in range(attrs.size())]
        kids = node.children()
        return len(ids) != len(set(ids)) or any(
            doubled(kids.apply(i)) for i in range(kids.size())
        )

    assert not doubled(out._jdf.queryExecution().optimizedPlan())


def test_edit_distance_join_rejects_unsupported_dist(spark):
    import pytest
    from topn_spark.operators.similarity import edit_distance_join

    df = spark.createDataFrame([(1, "a")], "id int, s string")
    with pytest.raises(ValueError, match="max_dist=1"):
        edit_distance_join(df, "id", "s", max_dist=2)


class TestKMeans:
    def test_matches_numpy_mirror_and_descends(self, spark):
        """Assignments equal a NumPy replay of the same deterministic
        contract, and inertia is monotone non-increasing in rounds
        (Lloyd's invariant). Planted-label purity is NOT asserted:
        the synthetic blobs overlap heavily (assigning every point to
        its TRUE label centroid only reaches ~41% purity), so label
        recovery would test the data, not the operator."""
        import numpy as np

        from tests.conftest import SF_ORACLE
        from topn_spark.catalog import load_table
        from topn_spark.operators.similarity import kmeans_lloyd

        emb = load_table(spark, SF_ORACLE, "embeddings")
        rows = sorted(
            emb.select("vec_id", "embedding").collect(),
            key=lambda r: r.vec_id,
        )
        V = np.array([r.embedding for r in rows], dtype=np.float32).astype(
            np.float64
        )

        def mirror(iters):
            C = V[:10].copy()
            for _ in range(iters):
                d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = d.argmin(axis=1)
                for c in range(10):
                    m = V[a == c]
                    if len(m):
                        C[c] = m.mean(axis=0)
            d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            return d.argmin(axis=1), d.min(axis=1).sum()

        got = {
            r.vec_id: (r.cluster, r.dist_sq)
            for r in kmeans_lloyd(emb, 10, iters=5).collect()
        }
        want_assign, want_inertia = mirror(5)
        assert len(got) == len(V)
        assert [got[i][0] for i in range(len(V))] == list(want_assign)
        inertia = sum(d for _, d in got.values())
        assert abs(inertia - want_inertia) <= 1e-6 * want_inertia
        _, inertia1 = mirror(1)
        assert want_inertia <= inertia1 + 1e-9

    def test_empty_cluster_keeps_centroid_and_determinism(self, spark):
        from topn_spark.operators.similarity import kmeans_lloyd

        # 4 identical points, k=3: clusters 1,2 go empty immediately
        # (all points argmin to the first tied centroid) and must keep
        # their init centroids without crashing; all points land in 0.
        df = spark.createDataFrame(
            [(i, [1.0, 2.0]) for i in range(4)],
            "vec_id long, embedding array<float>",
        )
        out = kmeans_lloyd(df, 3, iters=2).collect()
        assert {r.cluster for r in out} == {0}
        assert all(r.dist_sq == 0.0 for r in out)
        again = kmeans_lloyd(df, 3, iters=2).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_semantic_dedup_drops_planted_near_dups(spark):
    import random

    from topn_spark.operators.similarity import semantic_dedup

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(30)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant exact copies (cosine 1.0) of vectors 0..4 at ids 100..104
    rows += [(100 + i, [float(x) for x in base[i]]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {r.vec_id for r in semantic_dedup(df, k=3, iters=3, threshold=0.999).collect()}
    # every planted copy has a smaller-id near-dup (same vector ->
    # same cluster, cosine 1) and must be dropped; originals survive
    assert {100, 101, 102, 103, 104}.isdisjoint(kept)
    assert {0, 1, 2, 3, 4} <= kept
    assert len(kept) == 30


def test_embedding_covariance_matches_numpy_across_partitions(spark):
    import numpy as np

    from topn_spark.operators.similarity import embedding_covariance

    rng = np.random.default_rng(11)
    V = rng.normal(size=(101, 7))  # odd count: exercises uneven batches
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8)  # partial-combine across many batches
    got = {(r.i, r.j): r.cov for r in embedding_covariance(df).collect()}
    want = np.cov(V, rowvar=False, ddof=1)
    assert len(got) == 49
    for (i, j), c in got.items():
        assert abs(c - want[i, j]) <= 1e-9 * max(1.0, abs(want[i, j]))

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_covariance(empty).count() == 0


class TestProductQuantization:
    def test_copy_of_query_ranks_first_and_deterministic(self, spark):
        import random

        from topn_spark.operators.similarity import pq_topk

        rng = random.Random(7)
        # two well-separated blobs so quantization cells are clean
        rows = []
        for i in range(40):
            center = 10.0 if i % 2 else -10.0
            rows.append(
                (i, [center + rng.gauss(0, 0.5) for _ in range(16)])
            )
        rows.append((100, list(rows[0][1])))  # exact copy of vec 0
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        got = pq_topk(
            df, k=5, m=4, nbits=4, train_rows=41, query_id=0
        ).collect()
        # identical vectors get identical codes -> identical ADC
        # distance; ids 0 and 100 must share the minimum, tie by id
        assert got[0].vec_id == 0
        assert 100 in {r.vec_id for r in got[:2]}
        assert abs(got[0].adc_dist - got[1].adc_dist) <= 1e-12
        # same-blob neighbors fill the rest of the top-5
        assert all(r.vec_id % 2 == 0 for r in got if r.vec_id != 100)
        # stable under repartitioning (no rand(), argmin ties fixed)
        again = pq_topk(
            df.repartition(7), k=5, m=4, nbits=4, train_rows=41,
            query_id=0,
        ).collect()
        assert [(r.vec_id, r.adc_dist) for r in got] == [
            (r.vec_id, r.adc_dist) for r in again
        ]

    def test_encode_shape_and_validation(self, spark):
        import numpy as np
        import pytest

        from topn_spark.operators.similarity import (
            pq_encode,
            pq_train_codebooks,
        )

        rng = np.random.default_rng(3)
        V = rng.normal(size=(32, 8))
        df = spark.createDataFrame(
            [(i, [float(x) for x in V[i]]) for i in range(32)],
            "vec_id long, embedding array<float>",
        )
        books = pq_train_codebooks(
            np.array(V, dtype=np.float32).astype(np.float64),
            m=2, nbits=2,
        )
        assert books.shape == (2, 4, 4)
        codes = pq_encode(df, books).collect()
        assert len(codes) == 32
        assert all(
            len(r.codes) == 2 and all(0 <= c < 4 for c in r.codes)
            for r in codes
        )
        with pytest.raises(ValueError, match="not divisible"):
            pq_train_codebooks(V, m=3, nbits=2)
        with pytest.raises(ValueError, match="training rows"):
            pq_train_codebooks(V[:2], m=2, nbits=2)


def test_arrow_kernels_accept_string_ids(spark):
    """The Arrow kernel output schemas derive the id field type from
    the input column — string (or int) ids must not Arrow-mismatch
    against a hardcoded 'long' (semantic_dedup, pq_encode/pq_adc_topk
    are id-type-agnostic like the rest of the library)."""
    import random

    from topn_spark.operators.similarity import pq_topk, semantic_dedup

    rng = random.Random(5)
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(16)]
    rows = [(f"doc-{i:03d}", [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(f"dup-{i}", [float(x) for x in base[i]]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")

    kept = {
        r.vec_id
        for r in semantic_dedup(df, k=2, iters=2, threshold=0.999).collect()
    }
    # 'doc-00x' < 'dup-x' lexically: originals keep, planted copies drop
    assert {"doc-000", "doc-001", "doc-002"} <= kept
    assert kept.isdisjoint({"dup-0", "dup-1", "dup-2"})

    got = pq_topk(
        df, k=3, m=4, nbits=4, train_rows=19, query_id="doc-000"
    ).collect()
    assert got[0].vec_id in ("doc-000", "dup-0")
    assert isinstance(got[0].vec_id, str)


def test_knn_join_row_cap_guard(spark):
    """The documented 'eval-only' contract is mechanical: above
    max_left_rows the O(|L|x|R|) cross join refuses instead of
    silently launching over a corpus."""
    import pytest

    from topn_spark.operators.similarity import knn_join

    rows = [(i, [float(i), 1.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="ivf_topk/pq_topk/ivfpq_topk"):
        knn_join(df, df, k=2, max_left_rows=10)
    # explicit opt-in still works
    out = knn_join(df, df, k=2, max_left_rows=30)
    assert out.where("rn = 1").count() == 30
    # max_left_rows=None skips the guard (and its extra action)
    # entirely — for callers that already bounded the probe side
    out2 = knn_join(df, df, k=2, max_left_rows=None)
    assert out2.where("rn = 1").count() == 30
    # the guard leaves NO cached blocks behind (the old persisted
    # probe leaked one per call with no handle to release it)
    cached_after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert cached_after == cached_before


def test_ivfpq_rerank_recall_never_below_plain(spark):
    """Exact re-rank of the ADC shortlist provably never loses a true
    neighbor plain ivfpq found (shortlist superset + exact ordering);
    measured recall vs brute-force ground truth must reflect that."""
    import random

    import pytest

    from topn_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_topk_rerank,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(16)])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = rows[0][1]
    truth = sorted(
        range(200),
        key=lambda i: (
            sum((a - b) ** 2 for a, b in zip(rows[i][1], q)),
            i,
        ),
    )[:10]
    kw = dict(nlist=8, nprobe=3, m=8, nbits=4, train_rows=64)
    plain = {
        r.vec_id for r in ivfpq_topk(df, 0, k=10, **kw).collect()
    }
    rer = ivfpq_topk_rerank(df, 0, k=10, rerank=60, **kw).collect()
    rr = {r.vec_id for r in rer}
    recall_plain = len(plain & set(truth)) / 10
    recall_rerank = len(rr & set(truth)) / 10
    assert recall_rerank >= recall_plain
    # exact distances are genuinely exact and ascending
    dists = [r.exact_dist for r in rer]
    assert dists == sorted(dists)
    i0 = rer[0].vec_id
    want = sum((a - b) ** 2 for a, b in zip(rows[i0][1], q))
    assert abs(rer[0].exact_dist - want) < 1e-9
    with pytest.raises(ValueError, match="rerank window"):
        ivfpq_topk_rerank(df, 0, k=10, rerank=5, **kw)


def test_ivfpq_rerank_looks_up_query_once(spark):
    """``ivfpq_topk_rerank`` reads the query vector once and shares it
    with the shortlist: two collects (the training sample and the
    lookup), and its rows are the exact re-sort of plain
    ``ivfpq_topk``'s shortlist."""
    import pandas as pd

    from topn_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_topk_rerank,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(200, 16))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(200), "embedding": list(vecs)}),
        "vec_id long, embedding array<double>",
    )
    kw = dict(nlist=8, nprobe=3, m=8, nbits=4, train_rows=64)
    cls = type(df)
    calls = []
    orig = cls.collect
    cls.collect = lambda self: (calls.append(1), orig(self))[1]
    try:
        plan = ivfpq_topk_rerank(df, 5, k=10, rerank=40, **kw)
    finally:
        cls.collect = orig
    assert len(calls) == 2
    got = plan.collect()
    short = ivfpq_topk(df, 5, k=40, **kw).collect()
    exact = {
        r.vec_id: float(((vecs[r.vec_id] - vecs[5]) ** 2).sum())
        for r in short
    }
    want = sorted(short, key=lambda r: (exact[r.vec_id], r.vec_id))[:10]
    assert [(r.vec_id, r.adc_dist) for r in got] == [
        (r.vec_id, r.adc_dist) for r in want
    ]
    for r in got:
        assert abs(r.exact_dist - exact[r.vec_id]) < 1e-9
    with pytest.raises(ValueError, match="query id 999 not found"):
        ivfpq_topk_rerank(df, 999, k=10, rerank=40, **kw)


class TestIvfPq:
    def test_copy_of_query_ranks_first_with_recall(self, spark):
        """IVF-PQ on two separated blobs: the query's exact copy shares
        the minimum ADC distance (identical cell + codes), ties break
        by id, and top-k recall vs brute-force euclidean is high
        because probed cells cover the query's blob."""
        import random

        import numpy as np

        from topn_spark.operators.similarity import ivfpq_topk

        rng = random.Random(13)
        rows = []
        for i in range(60):
            center = 10.0 if i % 2 else -10.0
            rows.append(
                (i, [center + rng.gauss(0, 0.5) for _ in range(16)])
            )
        rows.append((100, list(rows[0][1])))  # exact copy of vec 0
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        got = ivfpq_topk(
            df, query_id=0, k=8, nlist=4, nprobe=2, m=8, nbits=5,
            train_rows=61,
        ).collect()
        assert got[0].vec_id == 0
        assert got[1].vec_id == 100
        assert abs(got[0].adc_dist - got[1].adc_dist) <= 1e-12
        # brute-force euclidean top-8 (float32-quantized input like
        # the Spark path reads)
        V = {
            i: np.asarray(v, dtype=np.float32).astype(np.float64)
            for i, v in rows
        }
        q = V[0]
        brute = sorted(
            V, key=lambda i: (float(((V[i] - q) ** 2).sum()), i)
        )[:8]
        recall = len({r.vec_id for r in got} & set(brute)) / 8
        assert recall >= 0.75
        # deterministic under repartitioning
        again = ivfpq_topk(
            df.repartition(7), query_id=0, k=8, nlist=4, nprobe=2,
            m=8, nbits=5, train_rows=61,
        ).collect()
        assert [(r.vec_id, r.adc_dist) for r in got] == [
            (r.vec_id, r.adc_dist) for r in again
        ]

    def test_string_ids_and_missing_query(self, spark):
        import pytest

        from topn_spark.operators.similarity import ivfpq_topk

        rows = [
            (f"v{i:02d}", [float(i % 7), float(i % 5), 1.0, 0.0])
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "vec_id string, embedding array<float>"
        )
        got = ivfpq_topk(
            df, query_id="v03", k=3, nlist=4, nprobe=4, m=2, nbits=4,
            train_rows=40,
        ).collect()
        assert got[0].vec_id == "v03"
        with pytest.raises(ValueError, match="not found"):
            ivfpq_topk(df, query_id="nope", nlist=4, m=2, train_rows=40)


def test_contrastive_triplets_hand_case(spark):
    from topn_spark.operators.similarity import contrastive_triplets

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.9, 0.1], 0),
            (3, [0.0, 1.0], 1),
            (4, [0.1, 0.9], 1),
            (5, [0.5, 0.5], None),  # unlabeled: excluded both sides
            (6, [-1.0, 0.0], 2),    # singleton label: no positive
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    out = {r.anchor_id: r for r in contrastive_triplets(df).collect()}
    # singleton label 2 has no same-label neighbor -> dropped
    assert set(out) == {1, 2, 3, 4}
    assert out[1].pos_id == 2 and out[2].pos_id == 1
    # hardest negative for (1,0)-ish anchors is the (0.1, 0.9) vec
    assert out[1].neg_id == 4 and out[2].neg_id == 4
    # anchor 3's hardest negative is the (0.9, 0.1) label-0 vec;
    # the labeled singleton (6) is a VALID negative, just not nearest
    assert out[3].pos_id == 4 and out[3].neg_id == 2
    for r in out.values():
        assert r.margin == r.pos_score - r.neg_score
        assert r.margin > 0  # well-separated fixture
        assert r.neg_id != 5  # NULL label never a negative


def test_contrastive_triplets_guard(spark):
    import pytest

    from topn_spark.operators.similarity import contrastive_triplets

    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(10)],
        "vec_id bigint, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="max_rows"):
        contrastive_triplets(df, max_rows=5)
    assert contrastive_triplets(df, max_rows=None).count() == 10


def test_cluster_balanced_sample_caps_every_cluster(spark):
    from topn_spark.operators.similarity import (
        cluster_balanced_sample,
        kmeans_assign,
    )

    # 30 vecs hugging centroid 0, 3 hugging centroid 1: the cap
    # stops the head cluster dominating the sample
    rows = [(i, [1.0 + 0.001 * i, 0.0], 0) for i in range(30)]
    rows += [(100 + i, [0.0, 1.0 + 0.001 * i], 0) for i in range(3)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = cluster_balanced_sample(df, cents, 5).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r.sample_rank)
    assert len(by_cluster[0]) == 5  # capped
    assert sorted(by_cluster[0]) == [1, 2, 3, 4, 5]
    assert len(by_cluster[1]) == 3  # smaller cluster kept whole
    # sample is a subset of the assignment, cluster labels agree
    assign = {
        r.vec_id: r.cluster for r in kmeans_assign(df, cents).collect()
    }
    assert all(assign[r.vec_id] == r.cluster for r in out)

    import pytest

    with pytest.raises(ValueError, match="k_per_cluster"):
        cluster_balanced_sample(df, cents, 0)


def test_mmr_rerank_diversifies(spark):
    from topn_spark.operators.similarity import mmr_rerank

    # candidates: two near-identical top hits + one orthogonal.
    # plain relevance order: 10, 11, 12 — MMR must demote the
    # near-copy 11 below the diverse 12.
    rows = [
        (1, 10, 0.99, [1.0, 0.0]),
        (1, 11, 0.98, [0.999, 0.001]),
        (1, 12, 0.60, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows,
        "query_id bigint, cand_id bigint, rel_score double,"
        " embedding array<double>",
    )
    out = sorted(
        mmr_rerank(df, k=3, lam=0.5).collect(),
        key=lambda r: r.mmr_rank,
    )
    assert [r.cand_id for r in out] == [10, 12, 11]
    # first pick's criterion is lam * rel
    assert abs(out[0].mmr_score - 0.5 * 0.99) < 1e-12
    assert out[0].mmr_rank == 1


def test_mmr_rerank_caps_ties_and_validates(spark):
    import pytest

    from topn_spark.operators.similarity import mmr_rerank

    rows = [
        (7, 1, 0.5, [1.0, 0.0]),
        (7, 2, 0.5, [0.0, 1.0]),  # tied rel: lowest id first
        (8, 9, 0.1, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows,
        "query_id bigint, cand_id bigint, rel_score double,"
        " embedding array<double>",
    )
    out = mmr_rerank(df, k=1, lam=1.0).collect()
    got = {r.query_id: r.cand_id for r in out}
    assert got == {7: 1, 8: 9}  # k cap per query, tie -> lowest id
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(df, lam=1.5)
    with pytest.raises(ValueError, match="k"):
        mmr_rerank(df, k=0)


def test_contrastive_triplets_anchor_subset_consistent(spark):
    """anchors= bounds the probe side only: results for the probed
    anchors equal the full run's rows for those anchors (neighbors
    still drawn from the whole table)."""
    from topn_spark.operators.similarity import contrastive_triplets

    rows = [
        (i, [float((i * 7) % 13), float((i * 11) % 17)], i % 3)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    full = {
        r.anchor_id: (r.pos_id, r.neg_id)
        for r in contrastive_triplets(df).collect()
    }
    sub = {
        r.anchor_id: (r.pos_id, r.neg_id)
        for r in contrastive_triplets(
            df, anchors=df.where("vec_id < 10")
        ).collect()
    }
    assert set(sub) == {k for k in full if k < 10}
    assert all(sub[k] == full[k] for k in sub)


def _clustered_vectors(n=120, dim=8, k=4, jitter=0.05, shared=0.0):
    """Deterministic labeled clusters, each vector = optional shared
    base direction + its label's component + small hash jitter.
    ``shared=0`` gives well-separated clusters (cross-label cosine
    ~0); ``shared>0`` overlaps them (hard negatives genuinely NEAR
    the anchor — the regime bucketed hard mining targets)."""
    rows = []
    for i in range(n):
        lab = i % k
        vec = [0.0] * dim
        vec[0] += shared
        vec[lab] += 1.0
        vec[(lab + 4) % dim] += 0.3
        for d in range(dim):
            h = (i * 31 + d * 17) % 97
            vec[d] += jitter * ((h / 96.0) - 0.5)
        rows.append((i, vec, f"c{lab}"))
    return rows


def test_contrastive_triplets_bucketed_recall_vs_brute(spark):
    from topn_spark.operators.similarity import (
        contrastive_triplets,
        contrastive_triplets_bucketed,
    )

    # overlapping clusters (strong shared direction): the hardest
    # negative IS near the anchor, the regime bucketing targets
    df = spark.createDataFrame(
        _clustered_vectors(shared=2.0),
        "vec_id bigint, embedding array<double>, label string",
    )
    brute = {
        r.anchor_id: r for r in contrastive_triplets(df).collect()
    }
    lsh = {
        r.anchor_id: r
        for r in contrastive_triplets_bucketed(
            df, dim=8, n_bits=4, n_tables=6
        ).collect()
    }
    # every brute anchor is recovered (enough tables on separated
    # clusters), and the candidate-subset property holds: bucketed
    # extremes can never EXCEED the brute extremes
    assert set(lsh) == set(brute)
    hit_pos = hit_neg = 0
    for aid, b in brute.items():
        l = lsh[aid]
        assert l.pos_score <= b.pos_score + 1e-12
        assert l.neg_score <= b.neg_score + 1e-12
        hit_pos += l.pos_id == b.pos_id
        hit_neg += l.neg_id == b.neg_id
    # planted hard pairs recovered: high recall of the exact ids
    assert hit_pos >= 0.9 * len(brute)
    assert hit_neg >= 0.9 * len(brute)


def test_contrastive_triplets_bucketed_ivf_probes(spark):
    from topn_spark.operators.similarity import (
        contrastive_triplets,
        contrastive_triplets_bucketed,
    )

    df = spark.createDataFrame(
        _clustered_vectors(),
        "vec_id bigint, embedding array<double>, label string",
    )
    # centroids = the true planted centers -> IVF cells == clusters;
    # nprobe=2 lets each anchor see its neighboring cell too, which
    # is where its hardest NEGATIVE lives
    cents = []
    for lab in range(4):
        c = [0.0] * 8
        c[lab] = 1.0
        c[(lab + 4) % 8] = 0.3
        cents.append(c)
    brute = {
        r.anchor_id: r for r in contrastive_triplets(df).collect()
    }
    ivf = {
        r.anchor_id: r
        for r in contrastive_triplets_bucketed(
            df, centroids=cents, nprobe=2
        ).collect()
    }
    assert set(ivf) == set(brute)
    # positives live in the anchor's own cell: exact recovery
    assert all(
        ivf[a].pos_id == brute[a].pos_id
        and abs(ivf[a].pos_score - brute[a].pos_score) < 1e-12
        for a in brute
    )
    # subset property for negatives
    assert all(
        ivf[a].neg_score <= brute[a].neg_score + 1e-12 for a in brute
    )
    hit = sum(ivf[a].neg_id == brute[a].neg_id for a in brute)
    assert hit >= 0.8 * len(brute)


def test_contrastive_triplets_bucketed_contracts(spark):
    from topn_spark.operators.similarity import (
        contrastive_triplets_bucketed,
    )

    rows = _clustered_vectors(n=40)
    # NULL label excluded from both sides; zero vector guarded
    rows.append((1000, [0.0] * 8, None))
    rows.append((1001, [0.0] * 8, "c0"))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    out = {
        r.anchor_id: r
        for r in contrastive_triplets_bucketed(
            df, dim=8, n_bits=3, n_tables=4
        ).collect()
    }
    assert 1000 not in out
    assert all(r.pos_id != 1000 and r.neg_id != 1000 for r in out.values())
    # single-label corpus -> no negatives anywhere -> empty output
    single = spark.createDataFrame(
        [(i, v, "only") for i, v, _ in _clustered_vectors(n=20)],
        "vec_id bigint, embedding array<double>, label string",
    )
    assert contrastive_triplets_bucketed(
        single, dim=8, n_bits=3, n_tables=2
    ).count() == 0
