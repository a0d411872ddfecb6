"""Corpus-preparation pipeline operator tests (operators/pipeline.py).

The x34-x40 catalog queries hash-match these ops against DuckDB;
tests here pin the semantic properties the oracles can't express:
chunk reconstruction, split stability under repartitioning, packing
budget invariants, redaction completeness.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from topn_spark.operators.pipeline import (
    assign_split,
    chunk_documents,
    hash_sample,
    pack_sequences,
    scrub_pii,
    token_heavy_hitters,
)


def _docs(spark):
    rows = [
        (i, "word%d " % i + "lorem ipsum dolor sit amet " * (i % 7 + 1))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunks_reassemble_to_document(spark):
    df = _docs(spark)
    chunks = chunk_documents(df, size=20, overlap=5)
    # Strip each chunk's 5-char overlap with its predecessor and
    # concatenate in order → must equal the original text.
    glued = (
        chunks.withColumn(
            "piece",
            F.when(F.col("chunk_idx") == 0, F.col("chunk")).otherwise(
                F.expr("substring(chunk, 6, 100)")
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("chunk_idx", "piece")))
                .getField("piece")
            ).alias("rebuilt")
        )
    )
    joined = df.join(glued, "doc_id")
    assert joined.where(F.col("text") != F.col("rebuilt")).count() == 0


def test_chunk_bounds(spark):
    chunks = chunk_documents(_docs(spark), size=20, overlap=5).collect()
    assert all(1 <= r.chunk_len <= 20 for r in chunks)
    # chunk indexes are dense from 0; a non-final chunk always spans
    # past the next chunk's start, so its length exceeds step (=15)
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        assert all(r.chunk_len >= 16 for r in rows[:-1])


def test_hash_sample_is_stable_under_repartition(spark):
    df = _docs(spark)
    a = {r.doc_id for r in hash_sample(df, "doc_id", "80").collect()}
    b = {
        r.doc_id
        for r in hash_sample(df.repartition(7), "doc_id", "80").collect()
    }
    assert a == b
    assert 0 < len(a) < 40  # ~50% threshold actually samples


def test_split_partitions_every_row_exactly_once(spark):
    df = assign_split(_docs(spark), "doc_id")
    counts = {r.split: r.n for r in
              df.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 40
    assert set(counts) <= {"train", "val", "test"}
    assert counts.get("train", 0) > counts.get("val", 0)


def test_packing_budget_invariant(spark):
    df = _docs(spark).withColumn(
        "n_tokens", F.size(F.split("text", " ")).cast("bigint")
    )
    packed = pack_sequences(df, "n_tokens", budget=30).collect()
    packed.sort(key=lambda r: r.doc_id)
    # bin ids are non-decreasing in fill order, start at 0, and every
    # bin's tokens-before-start is below its bin boundary (contiguous
    # fill: a bin closes only once the budget is crossed).
    assert packed[0].bin_id == 0
    cum = 0
    for r in packed:
        assert r.bin_id == cum // 30
        cum += r.n_tokens


def test_redaction_scrubs_all_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "see https://a.example.com/p?q=1#f and call 5551234567"),
            (3, "short digits 123456 stay"),
        ],
        "id long, text string",
    )
    out = {r.id: r.clean for r in
           df.select("id", scrub_pii("text").alias("clean")).collect()}
    assert out[1] == "mail <EMAIL> now"
    assert out[2] == "see <URL> and call <ID>"
    assert out[3] == "short digits 123456 stay"  # runs < 7 digits kept


def test_heavy_hitters_exact_counts(spark):
    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "b a c c d")], "doc_id long, text string"
    )
    top = token_heavy_hitters(df, "text", k=3).collect()
    assert [(r.token, r.n) for r in top] == [("a", 4), ("b", 3), ("c", 3)]


def test_stratified_sample_exact_rate_and_stable(spark):
    df = _docs(spark).withColumn(
        "lang", (F.col("doc_id") % 3).cast("string")
    )
    from topn_spark.operators.pipeline import stratified_sample

    got = stratified_sample(df, ("lang",), 0.25, "doc_id")
    per = {r.lang: r.n for r in
           got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    import math
    want = {r.lang: math.ceil(r.n * 0.25) for r in
            df.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per == want
    again = {r.doc_id for r in
             stratified_sample(df.repartition(5), ("lang",), 0.25, "doc_id")
             .collect()}
    assert again == {r.doc_id for r in got.collect()}


def test_merge_upsert_source_wins_and_others_pass(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, s string, v double",
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    from topn_spark.operators.pipeline import merge_upsert

    out = {r["k"]: (r["s"], r["v"]) for r in merge_upsert(
        target, source, ["k"]
    ).collect()}
    assert out == {
        1: ("a", 10.0),
        2: ("B", 99.0),
        3: ("c", 30.0),
        4: ("d", 40.0),
    }


def test_merge_upsert_rejects_missing_columns(spark):
    target = spark.createDataFrame([(1, "a")], "k long, s string")
    source = spark.createDataFrame([(1,)], "k long")
    from topn_spark.operators.pipeline import merge_upsert

    try:
        merge_upsert(target, source, ["k"])
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "s" in str(e)


def test_resample_ffill_grid_and_carry(spark):
    from topn_spark.operators.pipeline import resample_ffill

    rows = [
        (1, "2024-01-01 00:10:00", 5.0),
        (1, "2024-01-01 03:20:00", 7.0),  # hours 1-2 are gaps
        (2, "2024-01-01 10:00:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, value double"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
    out = resample_ffill(df, "ts", ["user_id"], F.max("value")).orderBy(
        "user_id", "bucket"
    ).collect()
    u1 = [(r["bucket"].hour, r["value"], r["ffilled"]) for r in out
          if r["user_id"] == 1]
    assert u1 == [
        (0, 5.0, False),
        (1, 5.0, True),   # gap hour carries the last observation
        (2, 5.0, True),
        (3, 7.0, False),
    ]
    u2 = [(r["bucket"].hour, r["value"], r["ffilled"]) for r in out
          if r["user_id"] == 2]
    assert u2 == [(10, 1.0, False)]  # span is per key, not global


def test_resample_interpolate_linear_and_edges(spark):
    from topn_spark.operators.pipeline import resample_interpolate

    rows = [
        (1, "2024-01-01 00:10:00", 4.0),
        (1, "2024-01-01 03:20:00", 10.0),  # hours 1-2 interpolate
        (1, "2024-01-01 05:00:00", 0.0),   # hour 4 interpolates down
        (2, "2024-01-01 10:00:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, value double"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
    out = resample_interpolate(
        df, "ts", ["user_id"], F.max("value")
    ).orderBy("user_id", "bucket").collect()
    u1 = [
        (r["bucket"].hour, r["value"], r["interpolated"])
        for r in out
        if r["user_id"] == 1
    ]
    assert u1 == [
        (0, 4.0, False),
        (1, 6.0, True),   # 4 + (10-4) * 1/3
        (2, 8.0, True),   # 4 + (10-4) * 2/3
        (3, 10.0, False),
        (4, 5.0, True),   # 10 + (0-10) * 1/2
        (5, 0.0, False),
    ]
    # single-observation key: grid is one row, nothing to fill
    u2 = [(r["bucket"].hour, r["value"]) for r in out if r["user_id"] == 2]
    assert u2 == [(10, 1.0)]
    # matches pandas resample().interpolate() on the same series
    pd_vals = (
        pd.Series(
            [4.0, 10.0, 0.0],
            index=pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 03:00", "2024-01-01 05:00"]
            ),
        )
        .resample("1h")
        .mean()
        .interpolate("linear")
    )
    assert [v for _, v, _ in u1] == pytest.approx(list(pd_vals))


def test_histogram_bucket_semantics(spark):
    from topn_spark.operators.pipeline import histogram

    df = spark.createDataFrame(
        [(-1.0,), (0.0,), (9.99,), (10.0,), (99.0,), (100.0,), (250.0,)],
        "x double",
    )
    out = {r["bucket"]: r["n"] for r in histogram(
        df, "x", 0.0, 100.0, 10
    ).collect()}
    # -1 underflows; 0 and 9.99 → bucket 1; 10 → bucket 2 (inclusive
    # lower edge); 99 → bucket 10; 100 and 250 overflow.
    assert out == {0: 1, 1: 2, 2: 1, 10: 1, 11: 2}


def test_zscore_normalizes_per_group(spark):
    from topn_spark.operators.pipeline import zscore

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 10.0), ("c", 7.0)],
        "g string, v double",
    )
    out = {(r["g"], r["v"]): r["z"] for r in zscore(
        df, "v", ["g"]
    ).collect()}
    import math

    assert math.isclose(out[("a", 1.0)], -math.sqrt(0.5), rel_tol=1e-9)
    assert math.isclose(out[("a", 3.0)], math.sqrt(0.5), rel_tol=1e-9)
    assert out[("b", 10.0)] is None  # stddev 0 → null, not inf
    assert out[("c", 7.0)] is None  # group of 1 → stddev undefined


def test_contamination_finds_planted_overlap(spark):
    from topn_spark.operators.pipeline import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "totally unrelated text about spark partitions here"),
            # shares 'quick brown fox jumps over' (and 1 more 5-gram)
            (2, "a quick brown fox jumps over everything today"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_shared_grams"] for r in contamination_check(
        train, bench, n=5
    ).collect()}
    assert 1 not in out
    assert out[2] >= 1


def test_winsorize_clamps_to_group_bounds(spark):
    from topn_spark.operators.pipeline import winsorize

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)], "g string, v double"
    )
    out = winsorize(df, "v", ["g"], 0.05, 0.95, round_bounds=6).collect()
    los = {r["clip_lo"] for r in out}
    his = {r["clip_hi"] for r in out}
    assert los == {5.95} and his == {95.05}  # interpolated p05/p95 of 1..100
    clipped = sorted(r["v_clipped"] for r in out)
    assert clipped[0] == 5.95 and clipped[-1] == 95.05
    assert all(5.95 <= c <= 95.05 for c in clipped)
    untouched = [r for r in out if 6 <= r["v"] <= 95]
    assert all(r["v_clipped"] == r["v"] for r in untouched)


def test_approx_heavy_hitters_agrees_with_exact(spark):
    from topn_spark.catalog import load_table
    from topn_spark.operators.pipeline import (
        token_heavy_hitters,
        token_heavy_hitters_approx,
    )

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    exact = {
        r["token"]: r["n"]
        for r in token_heavy_hitters(docs, k=10).collect()
    }
    approx = {
        r["token"]: r["n_approx"]
        for r in token_heavy_hitters_approx(docs, k=30).collect()
    }
    missing = set(exact) - set(approx)
    assert not missing, f"true heavy hitters absent from sketch: {missing}"
    for tok, n in exact.items():
        assert abs(approx[tok] - n) <= max(5, 0.05 * n), (tok, approx[tok], n)


def test_chunk_by_tokens_reassembles_without_overlap(spark):
    from topn_spark.operators.pipeline import chunk_by_tokens
    from topn_spark.operators.textstats import tokens

    df = _docs(spark)
    chunks = chunk_by_tokens(df, size=7, overlap=0)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk"))
                ).getField("chunk"),
            ).alias("r")
        )
    )
    orig = df.select(
        "doc_id", F.concat_ws(" ", tokens("text")).alias("o")
    )
    bad = rebuilt.join(orig, "doc_id").where(
        F.col("r") != F.col("o")
    ).count()
    assert bad == 0


def test_chunk_by_tokens_budget_and_overlap(spark):
    from topn_spark.operators.pipeline import chunk_by_tokens

    df = _docs(spark)
    chunks = chunk_by_tokens(df, size=10, overlap=4).collect()
    assert all(r["n_chunk_tokens"] <= 10 for r in chunks)
    # consecutive chunks start 6 tokens apart: chunk i begins with the
    # last 4 tokens of chunk i-1 when both are full
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["chunk_idx"])
        for a, b in zip(rows, rows[1:]):
            if a["n_chunk_tokens"] == 10:
                assert b["chunk"].split(" ")[:4] == a["chunk"].split(" ")[6:10]


def _updates(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, s)
    rows = [
        # key 1: A -> A (no-op, collapsed) -> B -> B (no-op) -> C
        (1, 1, t(0), "A"),
        (1, 2, t(1), "A"),
        (1, 3, t(2), "B"),
        (1, 4, t(3), "B"),
        (1, 5, t(4), "C"),
        # key 2: single state, stays current
        (2, 6, t(0), "X"),
        # key 3: null attr then value (null-safe change detection)
        (3, 7, t(0), None),
        (3, 8, t(1), None),
        (3, 9, t(2), "Y"),
    ]
    return spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, state string"
    )


def test_scd2_collapses_and_closes_intervals(spark):
    from topn_spark.operators.pipeline import scd2

    hist = scd2(
        _updates(spark), ["user_id"], ["state"], ts_col="ts",
        tiebreak=["event_id"],
    )
    collected = hist.collect()
    rows = {(r["user_id"], r["state"]): r for r in collected}
    # no-op updates collapsed: exactly one row per state interval
    assert len(collected) == len(rows) == 6  # A,B,C / X / null,Y
    a, b, c = rows[(1, "A")], rows[(1, "B")], rows[(1, "C")]
    # contiguous intervals: each closes at the NEXT CHANGE, skipping no-ops
    assert a["eff_to"] == b["eff_from"] and b["eff_to"] == c["eff_from"]
    assert c["eff_to"] is None and c["is_current"]
    assert not a["is_current"] and not b["is_current"]
    assert rows[(2, "X")]["is_current"]
    # null -> null collapsed; null -> Y is a change
    n, y = rows[(3, None)], rows[(3, "Y")]
    assert n["eff_to"] == y["eff_from"] and y["is_current"]


def test_scd2_single_exchange_plan(spark):
    from topn_spark.operators.pipeline import scd2

    hist = scd2(
        _updates(spark), ["user_id"], ["state"], ts_col="ts",
        tiebreak=["event_id"],
    )
    plan = hist._jdf.queryExecution().executedPlan().toString()
    # both windows share one hash-partitioning on the key: exactly one
    # shuffle, and the sort is not repeated after the filter
    assert plan.count("Exchange hashpartitioning") == 1


def test_scd2_validation(spark):
    from topn_spark.operators.pipeline import scd2

    with pytest.raises(ValueError, match="at least one key"):
        scd2(_updates(spark), [], ["state"])


def test_equidepth_histogram_depth_and_approx(spark):
    from topn_spark.operators.pipeline import equidepth_histogram

    df = spark.range(1, 1001).select(F.col("id").cast("double").alias("v"))
    exact = {r.bucket: r for r in equidepth_histogram(df, "v", 10).collect()}
    # 10 buckets, ~equal depth, contiguous coverage
    assert sorted(exact) == list(range(1, 11))
    assert all(90 <= exact[b].n <= 110 for b in exact)
    assert exact[1].lo == 1.0 and exact[10].hi == 1000.0
    for b in range(1, 10):
        assert exact[b].hi < exact[b + 1].lo
    # approx mode: same bucket count, depths within sketch tolerance
    approx = {r.bucket: r for r in equidepth_histogram(df, "v", 10, approx=True).collect()}
    assert sorted(approx) == list(range(1, 11))
    assert all(abs(approx[b].n - 100) <= 20 for b in approx)
    with pytest.raises(ValueError, match="k >= 2"):
        equidepth_histogram(df, "v", 1)


def test_funnel_greedy_semantics(spark):
    import datetime as dt

    from topn_spark.operators.pipeline import funnel

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1 completes a->b->c in order
        (1, t(0), "a"), (1, t(1), "b"), (1, t(2), "c"),
        # u2: b before a, then no c -> reaches only 'a' (via t(3)) then b@t(4)
        (2, t(1), "b"), (2, t(3), "a"), (2, t(4), "b"),
        # u3: a then c SIMULTANEOUS with b is not allowed; b@t1, c@t1 ->
        # strict increase means c at the same ts as b doesn't count
        (3, t(0), "a"), (3, t(1), "b"), (3, t(1), "c"),
        # u4: only c -> reaches nothing
        (4, t(0), "c"),
        # u5: a,a,b -> greedy takes earliest a, b after it counts
        (5, t(0), "a"), (5, t(1), "a"), (5, t(2), "b"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, step string")
    got = {r.step_name: r.n_keys for r in funnel(df, "user_id", "ts", "step", ["a", "b", "c"]).collect()}
    # a: u1,u2,u3,u5 ; b: u1,u2,u3,u5 ; c: u1 only
    assert got == {"a": 4, "b": 4, "c": 1}
    with pytest.raises(ValueError, match="at least one step"):
        funnel(df, "user_id", "ts", "step", [])
    with pytest.raises(ValueError, match="quotes"):
        funnel(df, "user_id", "ts", "step", ["a'b"])


def test_retention_cohorts_and_periods(spark):
    import datetime as dt

    from topn_spark.operators.pipeline import retention

    d = lambda day: dt.datetime(2024, 1, day, 12, 0)
    rows = [
        (1, d(1)), (1, d(2)), (1, d(8)),   # cohort 1/1: offsets 0,1,7
        (2, d(1)), (2, d(1)),              # same-day repeat counts once
        (3, d(2)), (3, d(9)),              # cohort 1/2: offsets 0,7
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    got = {
        (str(r.cohort), r.period_offset): r.n_active
        for r in retention(df, "user_id", "ts", "day").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2, ("2024-01-01", 1): 1, ("2024-01-01", 7): 1,
        ("2024-01-02", 0): 1, ("2024-01-02", 7): 1,
    }
    wk = {
        (str(r.cohort), r.period_offset): r.n_active
        for r in retention(df, "user_id", "ts", "week").collect()
    }
    # week of 2024-01-01: users 1,2,3 active week 0; users 1,3 in week 1
    assert wk == {("2024-01-01", 0): 3, ("2024-01-01", 1): 2}
    with pytest.raises(ValueError, match="period"):
        retention(df, "user_id", "ts", "hour")


def test_event_transitions_counts_and_normalization(spark):
    import datetime as dt

    from topn_spark.operators.pipeline import event_transitions

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, 10, t(0), "a"), (1, 11, t(1), "b"), (1, 12, t(2), "a"),
        (2, 20, t(0), "a"), (2, 21, t(1), "b"),
        (3, 30, t(0), "b"),  # single event: no transition
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, step string"
    )
    got = {
        (r.from_step, r.to_step): (r.n, r.p)
        for r in event_transitions(
            df, "user_id", "ts", "step", tiebreak=["event_id"]
        ).collect()
    }
    # a->b twice (u1,u2), b->a once (u1); no cross-user transitions
    assert got == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}
    # probabilities sum to 1 per from_step on real data shapes too
    multi = df.union(
        spark.createDataFrame(
            [(1, 13, t(3), "c")],
            "user_id int, event_id int, ts timestamp, step string",
        )
    )
    out = event_transitions(multi, "user_id", "ts", "step", tiebreak=["event_id"])
    sums = out.groupBy("from_step").agg(F.round(F.sum("p"), 6).alias("s")).collect()
    assert all(r.s == 1.0 for r in sums)


def test_sample_k_per_group_deterministic_and_capped(spark):
    from topn_spark.operators.pipeline import sample_k_per_group

    df = spark.range(0, 500).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS grp"
    )
    out = sample_k_per_group(df, ["grp"], 10, "id")
    rows = out.collect()
    from collections import Counter

    per = Counter(r.grp for r in rows)
    assert set(per.values()) == {10}
    # schema passthrough without rank_col
    assert out.columns == df.columns
    # stable across repartitioning (no rand())
    again = sample_k_per_group(df.repartition(13), ["grp"], 10, "id")
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in rows}
    # small group: emits all rows, never pads
    tiny = spark.createDataFrame([(1, "a"), (2, "a")], "id long, grp string")
    assert sample_k_per_group(tiny, ["grp"], 10, "id").count() == 2


def test_sample_k_per_group_plans_window_group_limit(spark):
    from topn_spark.operators.pipeline import sample_k_per_group

    df = spark.range(0, 1000).selectExpr("id", "id % 5 AS grp")
    plan = (
        sample_k_per_group(df, ["grp"], 3, "id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


# ---------------------------------------------------------------------------
# dedup_lines (x91) and weighted_sample_k (x92)
# ---------------------------------------------------------------------------

def test_dedup_lines_removes_cross_doc_boilerplate(spark):
    from topn_spark.operators.pipeline import dedup_lines

    rows = [
        (1, "unique alpha\nCOMMON FOOTER\nunique beta"),
        (2, "COMMON FOOTER\nonly in two"),
        (3, "only in two\nunique gamma\nunique gamma"),
        (4, "COMMON FOOTER"),  # all lines boilerplate -> empty text
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in dedup_lines(df, max_docs=1).collect()
    }
    assert out[1]["text"] == "unique alpha\nunique beta"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_removed"]) == (2, 1)
    # 'only in two' is in 2 distinct docs -> removed at max_docs=1
    assert out[2]["text"] == ""
    assert out[2]["n_lines_removed"] == 2
    # within-doc repeat counts once (COUNT DISTINCT doc): kept, twice,
    # in order
    assert out[3]["text"] == "unique gamma\nunique gamma"
    assert out[4]["text"] == "" and out[4]["n_lines_kept"] == 0
    # at max_docs=2 the two-doc line survives but the 3-doc footer dies
    out2 = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(df, max_docs=2).collect()
    }
    assert out2[2] == "only in two"
    assert "COMMON FOOTER" not in out2[1]


def test_dedup_lines_order_preserved_and_custom_sep(spark):
    from topn_spark.operators.pipeline import dedup_lines

    # '.' sep must be treated literally, not as a regex wildcard
    rows = [(1, "b.z.a"), (2, "z")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(df, sep=".", max_docs=1).collect()
    }
    assert out[1] == "b.a"  # z removed (2 docs), original order kept


def test_weighted_sample_k_deterministic_and_bounded(spark):
    from topn_spark.operators.pipeline import weighted_sample_k

    rows = [(i, "g%d" % (i % 3), float(1 + i % 7)) for i in range(300)]
    rows += [(900, "g0", 0.0), (901, "g1", None)]  # excluded
    df = spark.createDataFrame(rows, "id long, grp string, w double")
    a = weighted_sample_k(df, 10, "w", "id", key_cols=["grp"])
    got = a.orderBy("grp", "id").collect()
    assert len(got) == 30
    assert {r["grp"] for r in got} == {"g0", "g1", "g2"}
    assert all(r["id"] < 900 for r in got)
    # partitioning-invariant: same selection after a repartition
    b = weighted_sample_k(
        df.repartition(13), 10, "w", "id", key_cols=["grp"]
    )
    assert sorted((r["grp"], r["id"]) for r in got) == sorted(
        (r["grp"], r["id"]) for r in b.collect()
    )
    # schema passthrough: no helper columns leak
    assert a.columns == ["id", "grp", "w"]


def test_weighted_sample_k_global_and_bias(spark):
    from topn_spark.operators.pipeline import weighted_sample_k

    # two weight classes: heavy rows (w=50) should dominate a k=100
    # sample of 150 heavy + 150 light (w=1) rows
    rows = [(i, 50.0 if i < 150 else 1.0) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample_k(df, 100, "w", "id").collect()
    assert len(got) == 100
    heavy = sum(1 for r in got if r["id"] < 150)
    assert heavy > 80  # P(this failing under correct weighting) ~ 0
    # global path plans as TakeOrderedAndProject, not a full sort
    plan = weighted_sample_k(df, 100, "w", "id")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_robust_zscore_planted_and_constant_group(spark):
    from topn_spark.operators.pipeline import robust_zscore

    # group a: values 1..7 plus outlier 1000 -> median 4.5 of
    # {1..7,1000}? No: 8 values {1,2,3,4,5,6,7,1000}, interpolated
    # median = 4.5; |x-4.5| = {3.5,2.5,1.5,.5,.5,1.5,2.5,995.5},
    # median = 2.0. Outlier barely moves the scale (vs stddev ~352).
    rows = [("a", float(v)) for v in (1, 2, 3, 4, 5, 6, 7, 1000)]
    rows += [("c", 9.0), ("c", 9.0)]  # constant group: MAD 0 -> NULL
    df = spark.createDataFrame(rows, "grp string, v double")
    out = robust_zscore(df, "v", ["grp"]).collect()
    a = {r.v: r for r in out if r.grp == "a"}
    assert a[1.0].med == 4.5 and a[1.0].mad == 2.0
    want = (1.0 - 4.5) / (1.4826 * 2.0)
    assert abs(a[1.0].v_rz - want) <= 1e-12
    assert abs(a[1000.0].v_rz - (995.5 / (1.4826 * 2.0))) <= 1e-12
    for r in out:
        if r.grp == "c":
            assert r.mad == 0.0 and r.v_rz is None


def test_mixture_sample_quotas_determinism_and_plan(spark):
    from topn_spark.operators.pipeline import mixture_sample
    from topn_spark.plans import formatted_plan

    rows = [(i, f"s{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    weights = {"s0": 0.6, "s1": 0.4}  # s2 unconfigured -> dropped
    out = mixture_sample(df, weights, total=50)
    counts = {
        r.source: r.n
        for r in out.groupBy("source").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert counts == {"s0": 30, "s1": 20}
    # deterministic under repartitioning
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in mixture_sample(df.repartition(7), weights, 50).collect()
    )
    assert a == b
    # quota caps, not guarantees: tiny group yields all its rows
    few = mixture_sample(
        df.where(F.col("doc_id") < 3), {"s0": 1.0}, total=50
    )
    assert few.count() == 1  # only doc_id 0 is s0 among 0,1,2
    # the literal max-quota cut must reach WindowGroupLimit (map-side)
    assert "WindowGroupLimit" in formatted_plan(out)


def test_table_diff_statuses_and_null_sentinel(spark):
    from topn_spark.operators.pipeline import table_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", None), (3, "c", "z"), (5, "a", None)],
        "k long, c1 string, c2 string",
    )
    new = spark.createDataFrame(
        [(1, "a", "x"), (2, None, "b"), (4, "d", "w"), (5, "a", None)],
        "k long, c1 string, c2 string",
    )
    got = {r.k: r.status for r in table_diff(old, new, ["k"]).collect()}
    assert got == {
        1: "unchanged",
        # ('b', NULL) vs (NULL, 'b') must be CHANGED, not a
        # concat_ws-collapsed false match
        2: "changed",
        3: "removed",
        4: "added",
        5: "unchanged",
    }


def test_ohlc_bars_known_series(spark):
    import datetime

    from topn_spark.operators.pipeline import ohlc_bars

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        ("k", t0 + datetime.timedelta(minutes=m), v)
        for m, v in [(5, 3.0), (10, 9.0), (20, 1.0), (50, 4.0),
                     (65, 7.0), (80, 2.0)]
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        r.bar.hour: (r.open, r.high, r.low, r.close, r.n)
        for r in ohlc_bars(df, "ts", "v", ["k"]).collect()
    }
    assert out == {
        10: (3.0, 9.0, 1.0, 4.0, 4),  # open@:05, close@:50
        11: (7.0, 7.0, 2.0, 2.0, 2),
    }


def test_scd2_as_of_point_in_time(spark):
    import datetime

    from topn_spark.operators.pipeline import scd2, scd2_as_of

    t = lambda d: datetime.datetime(2024, 1, d)  # noqa: E731
    rows = [
        (1, 100, t(1), "bronze"),
        (1, 101, t(5), "silver"),
        (1, 102, t(9), "gold"),
        (2, 200, t(3), "bronze"),
    ]
    hist = scd2(
        spark.createDataFrame(
            rows, "k long, uid long, ts timestamp, tier string"
        ),
        ["k"],
        ["tier"],
        ts_col="ts",
        tiebreak=["uid"],
    )
    # at Jan 6: key 1 is silver (5 <= 6 < 9), key 2 bronze (current)
    got = {
        (r.k, r.tier)
        for r in scd2_as_of(hist, "2024-01-06 00:00:00").collect()
    }
    assert got == {(1, "silver"), (2, "bronze")}
    # before any history: empty; after all: current rows
    assert scd2_as_of(hist, "2023-12-31 00:00:00").count() == 0
    cur = {
        (r.k, r.tier)
        for r in scd2_as_of(hist, "2024-12-01 00:00:00").collect()
    }
    assert cur == {(1, "gold"), (2, "bronze")}
    # boundary: eff_from inclusive, eff_to exclusive
    at5 = {
        (r.k, r.tier)
        for r in scd2_as_of(hist, "2024-01-05 00:00:00").collect()
    }
    assert (1, "silver") in at5 and (1, "bronze") not in at5


def test_stratified_split_exact_proportions_and_partition(spark):
    from topn_spark.operators.pipeline import stratified_split

    # stratum sizes chosen so frac*n hits integers (the float-ceil
    # trap): n=10 -> 8/1/1; n=25 -> 20/3/2
    rows = [(i, "a") for i in range(10)] + [
        (100 + i, "b") for i in range(25)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_split(
        df, ["source"], {"train": 0.8, "val": 0.1, "test": 0.1},
        "doc_id",
    )
    counts = {
        (r.source, r.split): r.n
        for r in out.groupBy("source", "split").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert counts[("a", "train")] == 8
    assert counts[("a", "val")] == 1
    assert counts[("a", "test")] == 1
    assert counts[("b", "train")] == 20
    assert counts.get(("b", "val"), 0) + counts.get(("b", "test"), 0) == 5
    # exactly-once partition: every row in exactly one split
    assert out.count() == 35
    # deterministic under repartitioning
    a = sorted((r.doc_id, r.split) for r in out.collect())
    b = sorted(
        (r.doc_id, r.split)
        for r in stratified_split(
            df.repartition(7), ["source"],
            {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id",
        ).collect()
    )
    assert a == b
    import pytest

    with pytest.raises(ValueError, match="sum to 1"):
        stratified_split(df, ["source"], {"train": 0.5}, "doc_id")


def test_url_features_shapes_and_domain_filter(spark):
    from topn_spark.operators.pipeline import domain_filter, url_features

    rows = [
        (1, "https://www.example.co.uk:8080/a/b/c?x=1&y=2"),
        (2, "http://sub.spam.com/page"),
        (3, "ftp://192.168.0.1/files"),
        (4, "not a url"),
        (5, "https://localhost/x"),
        (6, "HTTPS://User:pw@Mixed.Case.ORG/p?"),
        (7, None),
        (8, "https://a.b.co.jp"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r for r in url_features(df).collect()}
    r1 = got[1]
    assert (r1.scheme, r1.host, r1.registered_domain) == (
        "https", "www.example.co.uk", "example.co.uk",
    )
    assert (r1.path_depth, r1.n_params, r1.is_ip) == (3, 2, False)
    assert got[2].registered_domain == "spam.com"
    assert got[3].is_ip and got[3].registered_domain == "192.168.0.1"
    assert got[4].scheme is None and got[4].path_depth == 0
    assert got[5].registered_domain == "localhost"
    # userinfo stripped, case folded, empty query -> 0 params
    assert got[6].host == "mixed.case.org"
    assert got[6].registered_domain == "case.org"
    assert got[6].n_params == 0
    assert got[7].registered_domain is None
    # two-level TLD with no path
    assert got[8].registered_domain == "b.co.jp"
    assert got[8].path_depth == 0

    kept = {r.id for r in domain_filter(df, ["spam.com"]).collect()}
    # unparseable (4) and null (7) fail closed by default
    assert kept == {1, 3, 5, 6, 8}

    # RFC 3986 edges (regression: ADVICE r6 lows)
    edge_rows = [
        # '?' inside the fragment is NOT a query
        (1, "http://ex.com/a#frag?x=1&y=2"),
        # query before fragment still counts; fragment '&' ignored
        (2, "http://ex.com/a?x=1#frag&y=2"),
        # IPv6 bracket literal + port: host is the unbracketed address
        (3, "https://[2001:db8::1]:8443/p?q=1"),
        # IPv6 bracket literal, no port
        (4, "https://[::1]/p"),
        # IPv6 with userinfo
        (5, "https://u:p@[fe80::a]:80/x/y"),
    ]
    edf = spark.createDataFrame(edge_rows, "id long, url string")
    e = {r.id: r for r in url_features(edf).collect()}
    assert e[1].n_params == 0 and e[1].path_depth == 1
    assert e[2].n_params == 1
    assert (e[3].host, e[3].is_ip, e[3].n_params) == (
        "2001:db8::1", True, 1,
    )
    assert e[3].registered_domain == "2001:db8::1"
    assert (e[4].host, e[4].is_ip) == ("::1", True)
    assert (e[5].host, e[5].path_depth) == ("fe80::a", 2)
    kept_open = {
        r.id
        for r in domain_filter(
            df, ["spam.com"], keep_unparseable=True
        ).collect()
    }
    assert kept_open == {1, 3, 4, 5, 6, 7, 8}
    # output schema is the input schema (features are internal)
    assert domain_filter(df, ["spam.com"]).columns == ["id", "url"]


def test_temperature_rebalance_flattens(spark):
    import pytest

    from topn_spark.operators.pipeline import temperature_rebalance

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    rows.append((1000, None))  # null group: dropped
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_rebalance(
        df, total=200, alpha=0.3, group_col="lang"
    )
    got = out.groupBy("lang").count().collect()
    counts = {r.lang: r["count"] for r in got}
    # alpha=0.3 flattening: small group (10% of rows) gets far more
    # than 10% of the sample; shares follow n^0.3 (900^0.3 vs 100^0.3)
    assert set(counts) == {"big", "small"}
    small_share = counts["small"] / sum(counts.values())
    assert small_share > 0.25  # vs 0.10 empirical
    # exact quota arithmetic
    z = 900.0**0.3 + 100.0**0.3
    assert counts["big"] == int(round(200 * 900.0**0.3 / z))
    assert counts["small"] == int(round(200 * 100.0**0.3 / z))
    # deterministic under repartitioning
    again = temperature_rebalance(
        df.repartition(13), total=200, alpha=0.3, group_col="lang"
    )
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, out.collect())
    )
    with pytest.raises(ValueError, match="alpha"):
        temperature_rebalance(df, total=10, alpha=1.5)
    with pytest.raises(ValueError, match="total"):
        temperature_rebalance(df, total=0)
    # quota caps at group size: a huge total keeps everything non-null
    assert (
        temperature_rebalance(df, total=10**6, group_col="lang").count()
        == 1000
    )


def test_export_training_shards_roundtrip(spark, tmp_path):
    from topn_spark.operators.pipeline import (
        export_training_shards,
        verify_shards,
    )

    df = spark.createDataFrame(
        [(i, f"doc number {i} words here", i % 7 + 3) for i in range(100)],
        "doc_id long, text string, n_toks long",
    )
    out = str(tmp_path / "shards")
    manifest = export_training_shards(
        df, out, n_shards=4, token_col="n_toks"
    )
    m = {r.shard: r for r in manifest.collect()}
    assert sum(r.n_docs for r in m.values()) == 100
    # every shard dir exists and the read-back matches the manifest
    data = spark.read.parquet(out)
    assert data.count() == 100
    assert data.select("shard").distinct().count() == 4
    chk = verify_shards(spark, out, token_col="n_toks").collect()
    assert all(r.ok for r in chk)


def test_shard_assignment_is_reproducible_and_salted(spark):
    from topn_spark.operators.pipeline import shard_assignment

    df = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    a = {r.doc_id: r.shard for r in shard_assignment(df, 8).collect()}
    b = {r.doc_id: r.shard for r in shard_assignment(df, 8).collect()}
    assert a == b  # stateless determinism: re-run == same layout
    c = {
        r.doc_id: r.shard
        for r in shard_assignment(df, 8, salt="v2").collect()
    }
    assert a != c  # salt rotates the layout
    assert set(a.values()) == set(range(8))


def test_verify_shards_flags_tampering(spark, tmp_path):
    from topn_spark.operators.pipeline import export_training_shards, verify_shards

    df = spark.createDataFrame(
        [(i, i % 5 + 1) for i in range(50)], "doc_id long, n_toks long"
    )
    out = str(tmp_path / "shards2")
    export_training_shards(df, out, n_shards=2, token_col="n_toks")
    # simulate a torn export: drop one shard's files
    import glob
    import os

    victim = glob.glob(f"{out}/shard=0/*.parquet")
    assert victim
    for f in victim:
        os.remove(f)
        crc = os.path.join(
            os.path.dirname(f), "." + os.path.basename(f) + ".crc"
        )
        if os.path.exists(crc):
            os.remove(crc)
    chk = {r.shard: r.ok for r in verify_shards(
        spark, out, token_col="n_toks"
    ).collect()}
    assert chk[1] is True
    assert chk[0] is False


def test_leakage_safe_split_groups_near_dups(spark):
    from topn_spark.operators.pipeline import (
        assign_split,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 9, 40)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    out = {
        r.doc_id: r for r in leakage_safe_split(docs, pairs).collect()
    }
    # the whole near-dup chain shares one component and one split
    assert out[1].component == out[2].component == out[3].component == 1
    assert out[1].split == out[2].split == out[3].split
    # singletons: component = own id, split = the plain id-keyed rule
    plain = {
        r.doc_id: r.split
        for r in assign_split(docs, "doc_id").collect()
    }
    for d in (9, 40):
        assert out[d].component == d and out[d].split == plain[d]


def test_corpus_report_metrics(spark):
    from topn_spark.operators.pipeline import corpus_report

    good = (
        "this is a perfectly reasonable document with plenty of words"
    )
    df = spark.createDataFrame(
        [
            (1, good, "en"),
            (2, good, "en"),  # exact dup of 1
            (3, "@@ ##", "de"),
            (4, None, None),
        ],
        "doc_id long, text string, lang string",
    )
    m = {r.metric: r.value for r in corpus_report(df).collect()}
    assert m["n_docs"] == 4.0
    assert m["n_null_text"] == 1.0
    assert m["exact_dup_frac"] == round(1 / 3, 6)
    assert m["quality_keep_frac"] == round(2 / 3, 6)
    assert m["lang_frac:en"] == 0.5
    assert m["lang_frac:null"] == 0.25
    # no lang column -> scalar card only
    m2 = {
        r.metric
        for r in corpus_report(df.drop("lang")).collect()
    }
    assert not any(k.startswith("lang_frac") for k in m2)


def test_corpus_overlap_estimate_bounds(spark):
    from topn_spark.operators.pipeline import corpus_overlap_estimate

    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, text string"
    )
    base = "alpha beta gamma delta epsilon zeta eta theta " * 3
    a = mk([(i, base + f"tail a {i}") for i in range(20)])
    # identical corpora: intersection == union, jaccard == 1
    same = corpus_overlap_estimate(a, a, n=3).collect()[0]
    assert same.ndv_a == same.ndv_b == same.ndv_union
    assert same.jaccard_est == 1.0 and same.containment_a == 1.0
    # disjoint vocab: estimated intersection ~0 (clamped, never neg)
    b = mk([(i, "one two three four five six seven " * 4) for i in range(20)])
    dis = corpus_overlap_estimate(a, b, n=3).collect()[0]
    assert dis.est_intersection >= 0
    assert dis.est_intersection <= 0.05 * dis.ndv_union


def test_pack_token_sequences_known_layout(spark):
    """Hand-checkable concat-and-chunk: docs split across sequence
    boundaries, no token dropped, every non-final sequence full."""
    from topn_spark.operators.pipeline import (
        pack_token_sequences,
        packed_doc_spans,
    )

    rows = [
        (1, ["a", "b", "c", "d", "e"]),
        (2, ["f", "g"]),
        (3, []),  # empty doc contributes nothing
        (4, ["h", "i", "j", "k", "l", "m", "n"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    seqs = {
        r.seq_id: r
        for r in pack_token_sequences(df, seq_len=4).collect()
    }
    assert seqs[0].tokens == ["a", "b", "c", "d"]
    assert seqs[1].tokens == ["e", "f", "g", "h"] and seqs[1].n_docs == 3
    assert seqs[2].tokens == ["i", "j", "k", "l"]
    assert seqs[3].tokens == ["m", "n"] and seqs[3].n_tokens == 2
    # padding fills ONLY the final short sequence; n_tokens stays real
    padded = {
        r.seq_id: r
        for r in pack_token_sequences(
            df, seq_len=4, pad_token="<pad>"
        ).collect()
    }
    assert padded[3].tokens == ["m", "n", "<pad>", "<pad>"]
    assert padded[3].n_tokens == 2 and padded[0].tokens == seqs[0].tokens
    # boundary metadata: doc 4 spans sequences 1..3 with contiguous
    # doc_start offsets — what attention-mask resets consume
    spans = [
        (r.seq_id, r.seq_start, r.doc_start, r.n_tokens)
        for r in packed_doc_spans(df, seq_len=4)
        .where("doc_id = 4")
        .orderBy("seq_id")
        .collect()
    ]
    assert spans == [(1, 3, 0, 1), (2, 0, 1, 4), (3, 0, 5, 2)]
    # conservation: total packed tokens == total input tokens
    total_in = sum(len(t) for _, t in rows)
    assert sum(r.n_tokens for r in seqs.values()) == total_in


def test_pack_token_sequences_by_groups_and_validation(spark):
    import pytest

    from topn_spark.operators.pipeline import pack_token_sequences

    rows = [
        (1, "s1", ["a", "b", "c"]),
        (2, "s1", ["d", "e"]),
        (3, "s2", ["x", "y", "z", "w"]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, shard string, tokens array<string>"
    )
    out = {
        (r.shard, r.seq_id): r.tokens
        for r in pack_token_sequences(
            df, seq_len=3, by=("shard",)
        ).collect()
    }
    # sequences number independently per group (the per-shard window)
    assert out[("s1", 0)] == ["a", "b", "c"]
    assert out[("s1", 1)] == ["d", "e"]
    assert out[("s2", 0)] == ["x", "y", "z"]
    assert out[("s2", 1)] == ["w"]
    with pytest.raises(ValueError, match="seq_len"):
        pack_token_sequences(df, seq_len=0)


def test_export_packed_shards_token_exact_and_tamper_detect(
    spark, tmp_path
):
    """pack -> shard -> manifest composition: the manifest token
    total equals the input corpus token count exactly, verify_shards
    is green, and deleting a shard file fails the recount loudly."""
    import glob
    import os

    from topn_spark.operators.pipeline import (
        export_packed_shards,
        verify_shards,
    )

    rows = [(i, [f"t{i}_{j}" for j in range(i % 7 + 1)]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    out = str(tmp_path / "packed")
    manifest = export_packed_shards(df, out, n_shards=4, seq_len=8)
    total_in = sum(len(t) for _, t in rows)
    got = manifest.agg(F.sum("n_tokens")).collect()[0][0]
    assert got == total_in  # token-exact, pads never counted
    v = verify_shards(spark, out, token_col="n_tokens")
    assert all(r.ok for r in v.collect())
    # tamper: drop one data file -> that shard's recount mismatches
    victim = sorted(glob.glob(f"{out}/shard=*/part-*.parquet"))[0]
    os.remove(victim)
    v2 = verify_shards(spark, out, token_col="n_tokens")
    assert not all(r.ok for r in v2.collect())


def test_token_budget_mixture(spark):
    """Each group fills to AT LEAST its token quota in md5(id) order
    (boundary doc included, overshoot < one doc); unlisted groups
    drop; an exhausted group yields everything it has."""
    import hashlib

    import pytest

    from topn_spark.operators.pipeline import token_budget_mixture

    rows = [(i, "a" if i < 20 else "b", 10) for i in range(24)]
    rows.append((100, "c", 10))  # unlisted group
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long"
    )
    out = token_budget_mixture(
        df, {"a": 0.5, "b": 0.5}, 100
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.source, []).append(r.doc_id)
    # quota 50 tokens = 5 docs of 10 each, exactly (no crossing)
    assert len(got["a"]) == 5
    # group b has only 4 docs x 10 = 40 < 50: exhausted, all kept
    assert sorted(got["b"]) == [20, 21, 22, 23]
    assert "c" not in got
    # md5 order: the kept a-docs are the 5 smallest by md5(doc_id)
    order = sorted(
        range(20), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    assert sorted(got["a"]) == sorted(order[:5])
    # boundary crossing: uneven doc sizes overshoot by < one doc
    df2 = spark.createDataFrame(
        [(1, "a", 30), (2, "a", 30), (3, "a", 30)],
        "doc_id long, source string, n_tokens long",
    )
    out2 = token_budget_mixture(df2, {"a": 1.0}, 40).collect()
    assert sum(r.n_tokens for r in out2) == 60  # 30 < 40 -> next included
    with pytest.raises(ValueError, match="weight"):
        token_budget_mixture(df, {}, 10)


def test_epoch_mixture_repeats_and_truncates(spark):
    """epoch_mixture: a group smaller than its quota repeats (full
    epochs + md5-order partial prefix, token totals hit the quota
    exactly up to one boundary doc); a group at its quota runs one
    epoch; max_epochs caps; truncation degenerates to
    token_budget_mixture's prefix."""
    from topn_spark.operators.pipeline import (
        epoch_mixture,
        token_budget_mixture,
    )

    rows = [(i, "web", 10) for i in range(10)] + [
        (100 + i, "wiki", 10) for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens int"
    )
    got = {
        r.doc_id: r.n_epochs
        for r in epoch_mixture(
            df, {"web": 0.5, "wiki": 0.5}, 200
        ).collect()
    }
    # web: quota 100 == group tokens -> exactly one epoch each
    assert all(got[i] == 1 for i in range(10))
    # wiki: quota 100 over 30 tokens -> 3 full epochs + 10-token
    # remainder -> exactly one doc at 4
    assert sorted(got[100 + i] for i in range(3)) == [3, 3, 4]
    assert sum(e * 10 for d, e in got.items() if d >= 100) == 100
    capped = {
        r.doc_id: r.n_epochs
        for r in epoch_mixture(
            df, {"web": 0.5, "wiki": 0.5}, 200, max_epochs=2
        ).collect()
        if r.doc_id >= 100
    }
    assert set(capped.values()) == {2}
    t1 = epoch_mixture(df, {"web": 1.0}, 50)
    t2 = token_budget_mixture(df, {"web": 1.0}, 50)
    assert sorted(r.doc_id for r in t1.collect()) == sorted(
        r.doc_id for r in t2.collect()
    )
    assert all(r.n_epochs == 1 for r in t1.collect())

    import pytest

    with pytest.raises(ValueError, match="max_epochs"):
        epoch_mixture(df, {"web": 1.0}, 50, max_epochs=0)


def test_expand_epochs_materializes_and_interleaves(spark):
    """expand_epochs: one row per (doc, epoch) with epoch in
    [0, n_epochs); zero/NULL counts dropped; order_key is the
    md5(id:epoch||salt) interleave — deterministic, salt-sensitive,
    and distinct per copy."""
    import hashlib

    from topn_spark.operators.pipeline import expand_epochs

    df = spark.createDataFrame(
        [(1, 3), (2, 1), (3, 0), (4, None)],
        "doc_id long, n_epochs long",
    )
    rows = expand_epochs(df).collect()
    got = sorted((r.doc_id, r.epoch) for r in rows)
    assert got == [(1, 0), (1, 1), (1, 2), (2, 0)]
    keys = {(r.doc_id, r.epoch): r.order_key for r in rows}
    assert keys[(1, 2)] == hashlib.md5(b"1:2").hexdigest()
    assert len(set(keys.values())) == 4  # every copy distinct
    salted = {
        (r.doc_id, r.epoch): r.order_key
        for r in expand_epochs(df, salt="run7").collect()
    }
    assert salted[(1, 2)] == hashlib.md5(b"1:2run7").hexdigest()
    assert salted[(1, 2)] != keys[(1, 2)]


def test_epoch_mixture_stage_expand(spark):
    """EpochMixture plugin expand='true': the stage emits the
    trainer stream (epoch + order_key); invalid expand collects."""
    import pytest

    from topn_spark.errors import ValidationError
    from topn_spark.pipelines import run_pipeline_with_source

    df = spark.createDataFrame(
        [(1, "web", 10), (2, "web", 10)],
        "doc_id long, source string, n_tokens int",
    )

    def spec(props):
        return {
            "stages": [
                {"name": "src", "plugin": "File",
                 "properties": {"path": "x"}},
                {"name": "mix", "plugin": "EpochMixture",
                 "properties": {"weights": "web:1.0",
                                "totalTokens": "40", **props}},
            ],
            "connections": [{"from": "src", "to": "mix"}],
        }

    out = run_pipeline_with_source(
        spark, spec({"expand": "true"}), "src", df
    )["mix"]
    assert {"epoch", "order_key"} <= set(out.columns)
    # quota 40 over 20 tokens -> 2 epochs each -> 4 stream rows
    assert out.count() == 4
    with pytest.raises(ValidationError, match="expand"):
        run_pipeline_with_source(
            spark, spec({"expand": "maybe"}), "src", df
        )


def test_ngram_decontaminate_flags_and_drops(spark):
    """ngram_decontaminate: a 13-word eval span quoted inside a
    training page is one colliding instance; repeated quoting counts
    instances; min_hits thresholds; drop returns the input schema;
    too-short docs can't collide; bad params fail loudly."""
    import pytest

    from topn_spark.operators.dedup import ngram_decontaminate

    quote = (
        "the quick brown fox jumps over the lazy dog near the"
        " river bank"
    )
    ev = spark.createDataFrame(
        [(1, quote + " today indeed")], "qid long, text string"
    )
    tr = spark.createDataFrame(
        [
            (1, "intro " + quote + " outro words here"),
            (2, "totally clean text with many plain words but no"
                " overlap with anything evaluated"),
            (3, "twice " + quote + " and again " + quote + " end"),
            (4, "short text"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_contam_grams, r.contaminated)
        for r in ngram_decontaminate(tr, ev, n=13).collect()
    }
    assert got[1] == (1, True)
    assert got[2] == (0, False)
    assert got[3][0] >= 2 and got[3][1]
    assert got[4] == (0, False)
    # min_hits=2 clears the single-quote page
    got2 = {
        r.doc_id: r.contaminated
        for r in ngram_decontaminate(tr, ev, n=13, min_hits=2).collect()
    }
    assert got2[1] is False and got2[3] is True
    dropped = ngram_decontaminate(tr, ev, n=13, action="drop")
    assert dropped.columns == tr.columns
    assert sorted(r.doc_id for r in dropped.collect()) == [2, 4]
    with pytest.raises(ValueError, match="action"):
        ngram_decontaminate(tr, ev, action="purge")
    with pytest.raises(ValueError, match="min_hits"):
        ngram_decontaminate(tr, ev, min_hits=0)
    # successive gates against DIFFERENT benchmarks compose via
    # renamed outputs; reusing the default names would clobber the
    # first pass's verdicts -> loud
    ev2 = spark.createDataFrame(
        [(1, "totally clean text with many plain words but no"
             " overlap with anything evaluated")],
        "qid long, text string",
    )
    first = ngram_decontaminate(tr, ev, n=13)
    with pytest.raises(ValueError, match="already exist"):
        ngram_decontaminate(first, ev2, n=13)
    both = {
        r.doc_id: (r.contaminated, r.c2)
        for r in ngram_decontaminate(
            first, ev2, n=13, count_col="n2", flag_col="c2"
        ).collect()
    }
    assert both[1] == (True, False)
    assert both[2] == (False, True)
    assert both[4] == (False, False)


def test_score_bin_sample_recipe(spark):
    """score_bin_sample: bin 1 holds the best scores; rates 1/0 keep/
    drop wholesale; fractional rates are deterministic under
    repartitioning; NULL scores drop; bad rates fail loudly."""
    import pytest

    from topn_spark.operators.pipeline import score_bin_sample

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 41)] + [(99, None)],
        "doc_id long, score double",
    )
    out = score_bin_sample(df, "score", [1.0, 0.0]).collect()
    got = {r.doc_id: r.score_bin for r in out}
    # 40 scored docs, 2 bins: top 20 scores (21..40) = bin 1, kept;
    # bin 2 dropped; the NULL-score doc never binned
    assert sorted(got) == list(range(21, 41))
    assert set(got.values()) == {1}
    half = score_bin_sample(df, "score", [0.5])
    kept1 = sorted(r.doc_id for r in half.collect())
    kept2 = sorted(
        r.doc_id
        for r in score_bin_sample(
            df.repartition(7), "score", [0.5]
        ).collect()
    )
    assert kept1 == kept2  # partitioning-independent
    assert 0 < len(kept1) < 40
    with pytest.raises(ValueError, match="outside"):
        score_bin_sample(df, "score", [1.5])
    with pytest.raises(ValueError, match="at least one"):
        score_bin_sample(df, "score", [])


def test_pack_masked_sequences_alignment(spark):
    """pack_masked_sequences: the mask rides through concat-and-chunk
    aligned (including documents split across boundaries), separators
    carry the sep_supervised policy, pads are never supervised,
    n_supervised counts per sequence, and NULL/misaligned masks fail
    loudly with the document id."""
    import pytest
    from pyspark.sql import functions as F

    from topn_spark.operators.pipeline import pack_masked_sequences

    df = spark.createDataFrame(
        [
            (1, ["p1", "p2", "a1", "a2", "a3"],
             [False, False, True, True, True]),
            (2, ["q1", "b1", "b2"], [False, True, True]),
            (3, ["r1", "r2", "c1"], [False, False, True]),
        ],
        "doc_id long, tokens array<string>, loss_mask array<boolean>",
    )
    out = {
        r.seq_id: r
        for r in pack_masked_sequences(
            df, id_col="doc_id", order_col="doc_id", seq_len=4,
            pad_token="<pad>",
        ).collect()
    }
    # 11 tokens -> seqs of 4/4/3+pad; doc 1 splits across seqs 0/1
    assert [out[i].tokens for i in range(3)] == [
        ["p1", "p2", "a1", "a2"],
        ["a3", "q1", "b1", "b2"],
        ["r1", "r2", "c1", "<pad>"],
    ]
    assert [list(out[i].loss_mask) for i in range(3)] == [
        [False, False, True, True],
        [True, False, True, True],
        [False, False, True, False],
    ]
    assert [out[i].n_supervised for i in range(3)] == [2, 3, 1]
    # pads never count as real tokens
    assert out[2].n_tokens == 3

    # sep_supervised=True: the EOS after each doc is a learned token
    sep = pack_masked_sequences(
        df, id_col="doc_id", order_col="doc_id", seq_len=7,
        sep_token="</s>", sep_supervised=True,
    ).collect()
    assert sum(r.n_tokens for r in sep) == 11 + 3
    assert sum(r.n_supervised for r in sep) == 6 + 3
    for r in sep:
        assert len(r.tokens) == len(r.loss_mask)

    # misaligned mask -> loud, names the document
    bad = df.withColumn(
        "loss_mask",
        F.when(F.col("doc_id") == 2, F.slice("loss_mask", 1, 1))
        .otherwise(F.col("loss_mask")),
    )
    with pytest.raises(Exception, match="misaligned.*2"):
        pack_masked_sequences(
            bad, id_col="doc_id", order_col="doc_id", seq_len=4
        ).collect()
    null_mask = df.withColumn(
        "loss_mask",
        F.when(F.col("doc_id") != 3, F.col("loss_mask")),
    )
    with pytest.raises(Exception, match="loss mask for id 3"):
        pack_masked_sequences(
            null_mask, id_col="doc_id", order_col="doc_id", seq_len=4
        ).collect()


def test_fim_transform_determinism_and_reconstruction(spark):
    """fim_transform: every transformed document reconstructs to the
    original text by undoing its style's rearrangement (so no char is
    lost or duplicated); rate 0/1 behave as gates; the choice is
    deterministic under repartitioning; NULL/empty text never
    transforms; bad rates fail loudly."""
    import pytest
    from pyspark.sql import functions as F

    from topn_spark.operators.pipeline import fim_transform

    rows = [(i, f"doc {i} " + "abcdefghij" * 5) for i in range(40)]
    rows += [(100, None), (101, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = fim_transform(df, rate=1.0).collect()
    orig = dict(rows)
    seen = set()
    P, S, M = "<fim_prefix>", "<fim_suffix>", "<fim_middle>"
    for r in out:
        if r.doc_id >= 100:
            assert r.fim_style is None and r.text == orig[r.doc_id]
            continue
        seen.add(r.fim_style)
        assert r.text.startswith(P)
        body = r.text[len(P):]
        if r.fim_style == "psm":
            pre, rest = body.split(S, 1)
            suf, mid = rest.split(M, 1)
        else:
            assert body.startswith(S)
            rest = body[len(S):]
            suf, premid = rest.split(M, 1)
            # SPM joins prefix+middle; split is not recoverable from
            # the rendered text alone — reconstruct via the suffix
            pre, mid = "", premid
        assert pre + mid + suf == orig[r.doc_id]
    assert seen == {"psm", "spm"}

    none = fim_transform(df, rate=0.0).collect()
    assert all(r.fim_style is None for r in none)
    assert all(r.text == orig[r.doc_id] for r in none)

    # deterministic under partitioning
    a = {r.doc_id: r.text for r in fim_transform(df).collect()}
    b = {
        r.doc_id: r.text
        for r in fim_transform(df.repartition(13)).collect()
    }
    assert a == b

    with pytest.raises(ValueError, match="rate"):
        fim_transform(df, rate=1.5)
    with pytest.raises(ValueError, match="spm_rate"):
        fim_transform(df, spm_rate=-0.1)


def test_conversation_report_counts(spark):
    from topn_spark.operators.sft import conversation_report

    df = spark.createDataFrame(
        [
            (1, [("system", "be nice"), ("user", "hi"),
                 ("assistant", "hello")]),
            (2, [("user", "abc"), ("tool", "xx"),
                 ("assistant", "defgh")]),
            (3, []),
            (4, None),
        ],
        "conv_id long, "
        "messages array<struct<role:string,content:string>>",
    )
    r = conversation_report(df).collect()[0]
    assert r.n_conversations == 4
    assert r.n_null == 1 and r.n_empty == 1
    assert r.n_turns == 6
    assert (r.n_user_turns, r.n_assistant_turns, r.n_system_turns) == (
        2, 2, 1,
    )
    assert r.n_other_turns == 1  # the 'tool' turn, not folded away
    assert r.max_turns == 3 and r.mean_turns == 2.0
    assert r.assistant_chars == len("hello") + len("defgh")
    assert r.total_chars == sum(
        len(c) for c in
        ("be nice", "hi", "hello", "abc", "xx", "defgh")
    )
    assert r.assistant_char_ratio == round(
        r.assistant_chars / r.total_chars, 6
    )


def test_token_windows_coverage_and_edges(spark):
    """token_windows: short docs yield one whole window; long docs
    cover every token with stride-overlap and no sliver tails;
    NULL/empty arrays yield nothing; bad params fail loudly."""
    import pytest

    from topn_spark.operators.pipeline import token_windows

    df = spark.createDataFrame(
        [
            (1, [f"t{i}" for i in range(10)]),   # == window
            (2, [f"t{i}" for i in range(23)]),   # clipped tail
            (3, [f"t{i}" for i in range(3)]),    # short
            (4, []),
            (5, None),
        ],
        "doc_id long, tokens array<string>",
    )
    rows = token_windows(df, window=10, stride=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert sorted(by_doc) == [1, 2, 3]
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_tokens == 10
    assert len(by_doc[3]) == 1 and by_doc[3][0].tokens == ["t0", "t1", "t2"]
    w2 = sorted(by_doc[2], key=lambda r: r.win_idx)
    # starts 0,4,8,12,16: last covers 16..22 (7 tokens > window-stride)
    assert [r.win_start for r in w2] == [0, 4, 8, 12, 16]
    assert [r.n_tokens for r in w2] == [10, 10, 10, 10, 7]
    # every token position covered, overlap included
    covered = set()
    for r in w2:
        covered.update(range(r.win_start, r.win_start + r.n_tokens))
        assert r.tokens == [f"t{i}" for i in
                            range(r.win_start, r.win_start + r.n_tokens)]
    assert covered == set(range(23))
    with pytest.raises(ValueError, match="stride"):
        token_windows(df, window=10, stride=11)
    with pytest.raises(ValueError, match="window"):
        token_windows(df, window=0, stride=1)


def test_packing_report_reconciles(spark):
    from topn_spark.operators.pipeline import (
        pack_masked_sequences,
        packing_report,
    )

    df = spark.createDataFrame(
        [
            (1, ["a", "b", "c"], [True, False, True]),
            (2, ["d", "e"], [False, True]),
            (3, ["f"] * 5, [True] * 5),
        ],
        "doc_id long, tokens array<string>, loss_mask array<boolean>",
    )
    packed = pack_masked_sequences(
        df, id_col="doc_id", order_col="doc_id", seq_len=4
    )
    r = packing_report(packed, seq_len=4, mask_col="loss_mask").collect()[0]
    assert r.n_sequences == 3 and r.n_tokens == 10
    assert r.n_full_sequences == 2
    assert r.fill_ratio == round(10 / 12, 6)
    assert r.n_supervised == 8
    assert r.supervised_ratio == 0.8
    assert r.max_docs_per_seq == 2  # docs 1+2 share a boundary seq
    # without a mask the supervision columns are absent
    plain = packing_report(packed, seq_len=4).columns
    assert "n_supervised" not in plain


def test_corpus_diff_statuses(spark):
    """corpus_diff: added/removed/changed/unchanged classification,
    including the NULL-text sentinel (present-with-NULL is a change
    against text, not an add/remove)."""
    from topn_spark.operators.pipeline import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "now set"), (5, "new doc")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "unchanged", 2: "changed", 3: "removed",
        4: "changed", 5: "added",
    }


# ------------------------------------------------------ epoch_shuffle


def test_epoch_shuffle_deterministic_and_balanced(spark):
    from topn_spark.operators.pipeline import epoch_shuffle

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    a = epoch_shuffle(df, epoch=1, n_shards=4).collect()
    b = epoch_shuffle(df, epoch=1, n_shards=4).collect()
    # reproducible: same epoch -> identical assignment and order
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == {0, 1, 2, 3}
    for poss in by_shard.values():
        # exact 1..n positions within every shard
        assert sorted(poss) == list(range(1, len(poss) + 1))
        # hash balance: no shard grabs the corpus
        assert len(poss) < 120


def test_epoch_shuffle_changes_between_epochs(spark):
    from topn_spark.operators.pipeline import epoch_shuffle

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    e1 = {
        r.doc_id: (r.shard, r.pos)
        for r in epoch_shuffle(df, epoch=1, n_shards=4).collect()
    }
    e2 = {
        r.doc_id: (r.shard, r.pos)
        for r in epoch_shuffle(df, epoch=2, n_shards=4).collect()
    }
    moved = sum(1 for k in e1 if e1[k] != e2[k])
    assert moved > 50  # the salt actually permutes


def test_epoch_shuffle_validates(spark):
    import pytest

    from topn_spark.operators.pipeline import epoch_shuffle

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="n_shards"):
        epoch_shuffle(df, epoch=0, n_shards=0)


# -------------------------------------------------- curriculum_stages


def test_curriculum_stages_matches_window_ntile(spark):
    from pyspark.sql.window import Window

    from topn_spark.operators.pipeline import curriculum_stages

    df = spark.createDataFrame(
        [(i, (i * 37) % 11) for i in range(100)],
        "doc_id bigint, score bigint",
    )
    got = {
        r.doc_id: (r.rank, r.stage)
        for r in curriculum_stages(df, "score", 3).collect()
    }
    w = Window.orderBy(F.col("score").asc(), F.col("doc_id").asc())
    ref = {
        r.doc_id: (r.rank, r.stage)
        for r in df.select(
            "doc_id",
            F.row_number().over(w).cast("bigint").alias("rank"),
            F.ntile(3).over(w).cast("int").alias("stage"),
        ).collect()
    }
    assert got == ref


def test_curriculum_stages_descending_and_validation(spark):
    import pytest

    from topn_spark.operators.pipeline import curriculum_stages

    df = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 1)], "doc_id bigint, score bigint"
    )
    out = {
        r.doc_id: r.rank
        for r in curriculum_stages(
            df, "score", 2, ascending=False
        ).collect()
    }
    assert out == {2: 1, 1: 2, 3: 3}
    with pytest.raises(ValueError, match="n_stages"):
        curriculum_stages(df, "score", 0)


# -------------------------------------------------- attrition_report


def test_attrition_report_cumulative_and_null_flags(spark):
    import pytest

    from topn_spark.operators.pipeline import attrition_report

    df = spark.createDataFrame(
        [
            ("a", True, True), ("a", True, False), ("a", False, True),
            ("b", True, None), ("b", True, True),
        ],
        "source string, q boolean, d boolean",
    )
    rows = {
        (r.source, r.stage): r
        for r in attrition_report(
            df, ["q", "d"], group_col="source"
        ).collect()
    }
    assert rows[("a", 0)].n_docs == 3
    assert rows[("a", 1)].n_docs == 2  # q survivors
    assert rows[("a", 2)].n_docs == 1  # q AND d
    assert rows[("a", 2)].frac_of_input == 0.333333
    # NULL flag = not surviving (the abstaining gate admits nothing)
    assert rows[("b", 2)].n_docs == 1
    assert rows[("b", 1)].stage_name == "q"

    glob = {
        r.stage: r.n_docs
        for r in attrition_report(df, ["q", "d"]).collect()
    }
    assert glob == {0: 5, 1: 4, 2: 2}
    with pytest.raises(ValueError, match="stage_flags"):
        attrition_report(df, [])


# ----------------------------------------------------- canonical_url


def test_canonical_url_collapses_variants(spark):
    from topn_spark.operators.pipeline import canonical_url

    df = spark.createDataFrame(
        [
            (1, "http://Site.com/a/?utm_source=x&b=2&a=1#frag"),
            (2, "http://site.com:80/a?a=1&b=2"),
            (3, "http://site.com/a?b=2&a=1"),
            (4, "https://x.org:443/"),
            (5, "https://x.org/p?gclid=9&ref=h&z=1"),
            (6, "not a url"),
            (7, None),
            (8, "https://x.org"),
        ],
        "id bigint, url string",
    )
    out = {r.id: r.canonical_url for r in canonical_url(df).collect()}
    # variants 1-3 collapse to one key: host lowercased, default port
    # and fragment stripped, tracking params dropped, params sorted,
    # trailing slash removed
    assert out[1] == out[2] == out[3] == "http://site.com/a?a=1&b=2"
    assert out[4] == "https://x.org/"
    assert out[5] == "https://x.org/p?z=1"
    # malformed passes through unchanged; NULL stays NULL
    assert out[6] == "not a url" and out[7] is None
    # root page: the bare form (empty path) and the slash form are
    # the same page and MUST converge
    assert out[8] == out[4] == "https://x.org/"


# ----------------------------------------------- parallel_page_pairs


def test_parallel_page_pairs_matches_locales(spark):
    from topn_spark.operators.pipeline import parallel_page_pairs

    df = spark.createDataFrame(
        [
            (1, "https://en.shop.com/about", "en"),
            (2, "https://fr.shop.com/about", "fr"),
            (3, "https://shop.com/de/about", "de"),
            (4, "https://shop.com/other", "en"),
            (5, "https://shop.com/other", "en"),  # same lang: no pair
            (6, None, "ja"),
        ],
        "doc_id bigint, url string, lang string",
    )
    pairs = {
        (r.id_a, r.id_b): (r.lang_a, r.lang_b)
        for r in parallel_page_pairs(df).collect()
    }
    # subdomain and path variants all collapse to one page key
    assert set(pairs) == {(1, 2), (1, 3), (2, 3)}
    assert pairs[(1, 2)] == ("en", "fr")


def test_k_anonymity_check_flags_small_groups(spark):
    import pytest

    from topn_spark.operators.pipeline import k_anonymity_check

    df = spark.createDataFrame(
        [("us", "m")] * 5 + [("fr", "f")] * 2 + [(None, "m")],
        "zip string, sex string",
    )
    out = {
        (r.zip, r.sex): r
        for r in k_anonymity_check(df, ["zip", "sex"], k=3).collect()
    }
    assert out[("us", "m")].at_risk is False
    assert out[("fr", "f")].at_risk and out[("fr", "f")].group_size == 2
    # NULL is a combination value of its own — still audited
    assert out[(None, "m")].at_risk is True
    with pytest.raises(ValueError, match="quasi_cols"):
        k_anonymity_check(df, [])
    with pytest.raises(ValueError, match="k must"):
        k_anonymity_check(df, ["zip"], k=0)


def test_curriculum_then_epoch_shuffle_compose(spark):
    """The documented composition: curriculum decides BETWEEN-stage
    order, epoch_shuffle restores randomness WITHIN a stage — the
    stage boundary is preserved by the reshuffle."""
    from topn_spark.operators.pipeline import (
        curriculum_stages,
        epoch_shuffle,
    )

    df = spark.createDataFrame(
        [(i, (i * 31) % 97) for i in range(120)],
        "doc_id bigint, difficulty bigint",
    )
    staged = curriculum_stages(df, "difficulty", 3)
    stage1 = staged.where("stage = 1")
    shuffled = epoch_shuffle(stage1, epoch=1, n_shards=4)
    rows = shuffled.collect()
    # membership preserved: the reshuffle permutes, never leaks
    assert {r.doc_id for r in rows} == {
        r.doc_id for r in stage1.collect()
    }
    assert len(rows) == 40  # ntile(3) of 120
    # and the within-stage order differs from the curriculum order
    by_pos = [
        r.doc_id
        for r in sorted(rows, key=lambda r: (r.shard, r.pos))
    ]
    by_rank = [
        r.doc_id for r in stage1.orderBy("rank").collect()
    ]
    assert by_pos != by_rank


# ------------------------------------- pack_multimodal_sequences


def test_pack_multimodal_binding_survives_boundaries(spark):
    from topn_spark.operators.pipeline import pack_multimodal_sequences

    rows = [
        (1, ["a", "<|image|>", "bb", "ccc", "<|image|>", "dd"],
         [False, False, True, True, False, True], [101, 102]),
        (2, ["xx", "yy"], [True, False], None),
        (3, ["<|image|>"], [False], [300]),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id bigint, tokens array<string>,"
        " loss_mask array<boolean>, asset_ids array<bigint>",
    )
    out = {
        r.seq_id: r
        for r in pack_multimodal_sequences(
            df, seq_len=4, sep_token="<eos>", sep_supervised=True
        ).collect()
    }
    # conv 1 splits across seq 0/1: its FIRST placeholder (asset
    # 101) lands in seq 0, its SECOND (102) in seq 1 — the binding
    # survives the boundary, which is the whole point
    assert out[0].tokens == ["a", "<|image|>", "bb", "ccc"]
    assert list(out[0].asset_ids) == [101]
    assert out[1].tokens[0] == "<|image|>"
    assert list(out[1].asset_ids) == [102]
    assert list(out[2].asset_ids) == [300]
    # masks aligned, separators supervised per policy, NULL assets
    # mean no images
    for r in out.values():
        assert len(r.tokens) == len(r.loss_mask)
        assert r.n_images == len(r.asset_ids)
    assert out[1].loss_mask == [False, True, True, True]


def test_pack_multimodal_glued_placeholder_raises(spark):
    import pytest as _pytest

    from topn_spark.operators.pipeline import pack_multimodal_sequences

    # the placeholder glued to markup is NOT its own token: the
    # count mismatch must raise with the id, never mis-bind
    df = spark.createDataFrame(
        [(7, ["<|image|><|im_end|>", "x"], [False, True], [1])],
        "conv_id bigint, tokens array<string>,"
        " loss_mask array<boolean>, asset_ids array<bigint>",
    )
    with _pytest.raises(Exception, match="mismatch for id 7"):
        pack_multimodal_sequences(df, seq_len=4).collect()
    # too many assets for the placeholders: same loud contract
    df2 = spark.createDataFrame(
        [(8, ["<|image|>", "x"], [False, True], [1, 2])],
        "conv_id bigint, tokens array<string>,"
        " loss_mask array<boolean>, asset_ids array<bigint>",
    )
    with _pytest.raises(Exception, match="mismatch for id 8"):
        pack_multimodal_sequences(df2, seq_len=4).collect()


def test_multimodal_chain_render_gate_pack_e2e(spark):
    """The VLM-SFT chain end-to-end: render_multimodal_chat ->
    special-token pre-split tokenization -> dangling-ref gate
    (validate_conversation_assets) -> pack_multimodal_sequences.
    The dangling reference is caught BEFORE packing; survivors pack
    with per-sequence manifests intact."""
    from pyspark.sql import functions as F

    from topn_spark.operators.pipeline import pack_multimodal_sequences
    from topn_spark.operators.sft import (
        render_multimodal_chat,
        validate_conversation_assets,
    )

    msgs = spark.createDataFrame(
        [
            (1, [("user", "describe this", None),
                 ("user", None, 11), ("assistant", "a cat photo", None)]),
            (2, [("user", None, 99),  # dangling: 99 not in registry
                 ("assistant", "hmm", None)]),
        ],
        "conv_id bigint, messages array<struct<role:string,"
        "content:string,asset_id:bigint>>",
    )
    assets = spark.createDataFrame(
        [(11,), (12,)], "asset_id bigint"
    )
    gated = validate_conversation_assets(msgs, assets)
    flags = {r.conv_id: r.assets_ok for r in gated.collect()}
    assert flags == {1: True, 2: False}
    ok = gated.where("assets_ok")
    rendered = render_multimodal_chat(ok)
    # special-token pre-split: the placeholder becomes its own token
    toks = F.filter(
        F.split(
            F.regexp_replace(
                "text", r"(<\|image\|>)", r" $1 "
            ),
            r"\s+",
        ),
        lambda t: t != "",
    )
    tok_df = rendered.select(
        "conv_id",
        toks.alias("tokens"),
        "asset_ids",
    ).withColumn(
        "loss_mask",
        F.transform("tokens", lambda t: F.length(t) >= 4),
    )
    packed = pack_multimodal_sequences(
        tok_df, seq_len=6, sep_token="<eos>"
    ).collect()
    # conversation 1's single image appears in exactly one manifest
    all_assets = [a for r in packed for a in r.asset_ids]
    assert all_assets == [11]
    n_ph = sum(r.tokens.count("<|image|>") for r in packed)
    assert n_ph == 1


def _canon_md5(df):
    """md5 of a frame's canonical form: its column names in output
    order, then its rows sorted by their JSON text."""
    import hashlib
    import json

    rows = sorted(json.dumps(list(r)) for r in df.collect())
    return hashlib.md5(
        json.dumps([df.columns, rows]).encode()
    ).hexdigest()


def test_packers_pinned(spark):
    """Row-level pins of the sequence-packing family across code
    versions: the three packers with padding and separators (by
    groups on the token and masked packers; a NULL asset list and a
    conversation split across a boundary on the multimodal one), and
    the token and masked unpack round trips."""
    from topn_spark.operators.pipeline import (
        pack_masked_sequences,
        pack_multimodal_sequences,
        pack_token_sequences,
        packed_doc_spans,
        unpack_masked_sequences,
        unpack_sequences,
    )

    rows = []
    for i in range(1, 13):
        toks = [f"t{i}_{j}" for j in range((i * 5) % 7)]
        mask = [(i + j) % 3 == 0 for j in range(len(toks))]
        rows.append((i, f"g{i % 2}", toks, mask))
    df = spark.createDataFrame(
        rows,
        "doc_id long, grp string, tokens array<string>,"
        " loss_mask array<boolean>",
    )
    by = ("grp",)
    kw = dict(seq_len=5, by=by, pad_token="<pad>", sep_token="</s>")

    packed = pack_token_sequences(df, **kw)
    assert _canon_md5(packed) == "c7727565df5fb2cc731612cade7735fe"
    masked = pack_masked_sequences(df, sep_supervised=True, **kw)
    assert _canon_md5(masked) == "9ad763b88630b3f9987d001d8ae4105e"

    mm = spark.createDataFrame(
        [
            (1, ["a", "<|image|>", "bb", "ccc", "<|image|>", "dd"],
             [False, False, True, True, False, True], [101, 102]),
            (2, ["xx", "yy"], [True, False], None),
            (3, ["<|image|>", "q"], [False, True], [300]),
            (4, ["r", "s", "<|image|>"], [True, True, False], [400]),
        ],
        "conv_id bigint, tokens array<string>,"
        " loss_mask array<boolean>, asset_ids array<bigint>",
    )
    assert _canon_md5(
        pack_multimodal_sequences(
            mm, seq_len=4, pad_token="<pad>", sep_token="<eos>"
        )
    ) == "43b7e596dfd7c814596fea610f58429b"

    spans = packed_doc_spans(
        df, seq_len=5, by=by, sep_token="</s>"
    )
    unpacked = unpack_sequences(packed, spans, by=by, sep_token="</s>")
    assert _canon_md5(unpacked) == "9c4ade75b608b31e5c25b4e4416af4d5"
    assert _canon_md5(unpacked) == _canon_md5(
        df.where("size(tokens) > 0").select("grp", "doc_id", "tokens")
    )
    unmasked = unpack_masked_sequences(
        masked, spans, by=by, sep_token="</s>"
    )
    assert _canon_md5(unmasked) == "c3be3bd1411f7e22c8940b802f81cfcb"
    assert _canon_md5(unmasked) == _canon_md5(
        df.where("size(tokens) > 0").select(
            "grp", "doc_id", "tokens", "loss_mask"
        )
    )


def test_one_packer_and_one_unpacker():
    """The sequence-packing family is single-sourced: one reassembly
    (shared by the three packers), one unpacker, one misalignment
    guard, one pad step, and one repeated-span remover in textstats.
    Pinned structurally so a re-grown copy turns the suite red."""
    import ast
    from pathlib import Path

    ops = Path(__file__).resolve().parent.parent / "topn_spark" / "operators"
    src = (ops / "pipeline.py").read_text()
    assert src.count('F.collect_list("_sp")') == 2
    assert src.count("F.raise_error(") == 1
    assert src.count("F.array_repeat(") == 1
    callers = [
        fn.name
        for fn in ast.walk(ast.parse(src))
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "_packed_spans"
    ]
    assert sorted(callers) == ["_pack_stream", "packed_doc_spans"]
    text = (ops / "textstats.py").read_text()
    assert text.count('Window.partitionBy("_h")') == 2
