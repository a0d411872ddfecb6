"""Golden-case parity with the reference's e2e tests (TopNTest.java:128-144)
plus determinism, empty-input, and float-special-value coverage the
reference lacks (SURVEY.md §5.2)."""

from __future__ import annotations

import math

import pytest

from topn_spark.operators.topn import topn, topn_grouped, topn_grouped_salted


def names(df):
    return {r["name"] for r in df.collect()}


def ordered_names(df):
    return [r["name"] for r in df.collect()]


# The five golden cases; expected sets from FIXTURES.md / TopNTest.java.
@pytest.mark.parametrize(
    "field,size,ignore_null,expected",
    [
        ("age", 4, True, {"Alice", "Eve", "Leo"}),
        ("age", 4, False, {"Alice", "Eve", "Leo", "Bob"}),
        ("id", 2, False, {"Alice", "Bob"}),
        ("kg", 2, False, {"Alice", "Bob"}),
        ("cm", 2, False, {"Alice", "Bob"}),
    ],
)
def test_golden_sets(people, field, size, ignore_null, expected):
    assert names(topn(people, field, size, ignore_null)) == expected


def test_emit_order_descending_null_last(people):
    # TopN.java:126-129 emit largest-first; null smallest (TopN.java:222-231)
    assert ordered_names(topn(people, "age", 4)) == ["Alice", "Eve", "Leo", "Bob"]


def test_schema_passthrough(people):
    # TopN.java:71
    assert topn(people, "kg", 2).schema == people.schema


def test_fewer_rows_than_size(people):
    assert names(topn(people, "id", 100)) == {"Leo", "Eve", "Bob", "Alice"}


def test_empty_input(spark, people):
    empty = people.where("id < 0")
    assert topn(empty, "id", 3).count() == 0


def test_default_size_is_one(people):
    # TopNConfig.java:121-123: size defaults to 1
    assert ordered_names(topn(people, "kg")) == ["Alice"]


def test_nan_sorts_above_inf(spark):
    # Float.compare sorts NaN > +Inf in the reference (TopN.java:162-179);
    # Spark's ordering agrees — regression-pin it (SURVEY.md §5.2).
    df = spark.createDataFrame(
        [("nan", float("nan")), ("inf", float("inf")), ("one", 1.0), ("null", None)],
        "name string, v double",
    )
    assert ordered_names(topn(df, "v", 4, tiebreak="name")) == [
        "nan",
        "inf",
        "one",
        "null",
    ]


def test_ignore_null_drops_all_null_rows(spark):
    df = spark.createDataFrame(
        [("a", None), ("b", None)], "name string, v double"
    )
    assert topn(df, "v", 5, ignore_null=True).count() == 0


def test_grouped_topn(spark):
    df = spark.createDataFrame(
        [("g1", "a", 1.0), ("g1", "b", 3.0), ("g1", "c", 2.0),
         ("g2", "d", 9.0), ("g2", "e", None)],
        "g string, name string, v double",
    )
    out = topn_grouped(df, "g", "v", 2, tiebreak="name", rank_col="rn")
    got = {(r["g"], r["name"], r["rn"]) for r in out.collect()}
    assert got == {("g1", "b", 1), ("g1", "c", 2), ("g2", "d", 1), ("g2", "e", 2)}


def test_grouped_salted_matches_plain(spark):
    import random

    rng = random.Random(7)
    rows = [(f"g{rng.randrange(3)}", i, rng.random()) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    plain = topn_grouped(df, "g", "v", 5, tiebreak="id")
    salted = topn_grouped_salted(df, "g", "v", 5, tiebreak="id")
    assert {tuple(r) for r in plain.collect()} == {
        tuple(r) for r in salted.collect()
    }


def test_rank_low_cardinality_equals_window_rank(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from topn_spark.operators.topn import rank_low_cardinality

    rows = [
        ("k%d" % (i % 3), i, float((i * 37) % 11))  # heavy value ties
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "k string, id long, v double")
    for asc in (True, False):
        got = {
            r["id"]: r["rank"]
            for r in rank_low_cardinality(
                df, ["k"], "v", ascending=asc, tiebreak=["id"], buckets=8
            ).collect()
        }
        order = F.col("v").asc() if asc else F.col("v").desc()
        w = Window.partitionBy("k").orderBy(order, F.col("id").asc())
        want = {
            r["id"]: r["rn"]
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        assert got == want, f"ascending={asc}"


def test_ntile_from_rank_equals_window_ntile(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from topn_spark.operators.topn import (
        ntile_from_rank,
        rank_low_cardinality,
    )

    # totals chosen to exercise divisible and non-divisible cases,
    # including total < n
    for total, n in [(2, 4), (12, 4), (13, 4), (25, 7), (7, 7), (1, 3)]:
        df = spark.createDataFrame(
            [(i, float(i % 9)) for i in range(total)], "id long, v double"
        )
        ranked = rank_low_cardinality(
            df, [], "v", tiebreak=["id"], buckets=4
        )
        got = {
            r["id"]: r["t"]
            for r in ranked.select(
                "id",
                ntile_from_rank(F.col("rank"), F.col("total"), n).alias("t"),
            ).collect()
        }
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        want = {
            r["id"]: r["t"]
            for r in df.select(
                "id", F.ntile(n).over(w).alias("t")
            ).collect()
        }
        assert got == want, (total, n)


class TestTopNWithTies:
    def _df(self, spark):
        rows = [
            ("a", 1, 50), ("a", 2, 50), ("a", 3, 49), ("a", 4, 48),
            ("b", 5, 10), ("b", 6, 9), ("b", 7, 9), ("b", 8, 8),
            ("c", 9, None), ("c", 10, 7),
        ]
        return spark.createDataFrame(rows, "g string, id int, v int")

    def test_grouped_keeps_ties_at_cut(self, spark):
        from topn_spark.operators.topn import topn_with_ties

        out = topn_with_ties(self._df(spark), "v", 2, group_by="g")
        got = sorted((r.g, r.id) for r in out.collect())
        # a: rank1={50,50}, rank2 skipped to 3 -> ids 1,2 only;
        # b: rank1=10, rank2={9,9} both kept;
        # c: rank1=7, rank2=null (nulls last, kept by rank<=2)
        assert got == [("a", 1), ("a", 2), ("b", 5), ("b", 6),
                       ("b", 7), ("c", 9), ("c", 10)]

    def test_global_matches_rank_window(self, spark):
        from topn_spark.operators.topn import topn_with_ties

        df = self._df(spark).where("v is not null")
        for n in (1, 2, 3, 5, 100):
            got = sorted(r.id for r in topn_with_ties(df, "v", n).collect())
            df.createOrReplaceTempView("tt_ties")
            want = sorted(
                r.id
                for r in spark.sql(
                    f"""SELECT id FROM (SELECT id, RANK() OVER
                        (ORDER BY v DESC) rk FROM tt_ties)
                        WHERE rk <= {n}"""
                ).collect()
            )
            assert got == want, n

    def test_global_null_at_cut_keeps_all(self, spark):
        from topn_spark.operators.topn import topn_with_ties

        df = spark.createDataFrame(
            [(1, 5), (2, None), (3, None)], "id int, v int"
        )
        # 2 nulls tie at rank 2 <= 3 -> every row qualifies
        assert topn_with_ties(df, "v", 3).count() == 3
        # size=1: only the non-null max
        assert [r.id for r in topn_with_ties(df, "v", 1).collect()] == [1]

    def test_ignore_null(self, spark):
        from topn_spark.operators.topn import topn_with_ties

        df = spark.createDataFrame(
            [(1, 5), (2, None), (3, None)], "id int, v int"
        )
        assert topn_with_ties(df, "v", 3, ignore_null=True).count() == 1


def test_topn_order_and_cut_live_once():
    """The top-N order and the windowed cut are written once in
    ``operators/topn.py``; the streaming merges sort nothing of their
    own; the transformWithState fork is gone."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "topn_spark"
    topn_src = (pkg / "operators" / "topn.py").read_text()
    assert topn_src.count("desc_nulls_last()") == 1
    assert topn_src.count(".where(F.col(rn) <= size)") == 1
    windowed = {
        fn.name
        for fn in ast.parse(topn_src).body
        if isinstance(fn, ast.FunctionDef)
        and "Window" in {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
    }
    assert windowed == {"_cut", "rank_low_cardinality"}
    for rel in ("streaming/stateful.py", "streaming/windows.py"):
        src = (pkg / rel).read_text()
        assert "sorted(" not in src and "heapq" not in src, rel
        assert "createDataFrame" not in src, rel
    stateful = (pkg / "streaming" / "stateful.py").read_text()
    assert "dropna" not in stateful.split("def streaming_ewma")[0]
    every = "".join(p.read_text() for p in pkg.rglob("*.py"))
    assert "grouped_running_topn_v2" not in every
    assert "transformWithState" not in every
