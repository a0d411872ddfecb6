"""The declared oracle-query catalog (SURVEY.md §2.5).

Each entry pairs a Spark-side builder — idiomatic DataFrame API (SQL
used only where it is genuinely the clearer entry point, e.g.
GROUPING SETS) — with the equivalent ANSI SQL that DuckDB runs as the
correctness oracle. Cross-engine determinism follows SURVEY.md §2.4:

- every query ends in a total ORDER BY (lineitem has no unique key —
  order by all output columns);
- explicit NULLS FIRST/LAST on any nullable sort key;
- no raw float aggregation (DECIMAL casts / ROUND);
- type alignment in the query text itself: computed integer columns
  are cast to BIGINT on BOTH sides (Spark rank/length/year return
  INT, DuckDB returns BIGINT), decimal sums pinned to DECIMAL(38,2),
  float array elements cast to DOUBLE before rounding;
- dialect pairs where names differ (get_json_object ↔
  json_extract_string; SIZE ↔ LEN; 0- vs 1-based array indexing;
  DuckDB regexp_replace needs the 'g' flag for replace-all).

Reference parity: q01–q03 are the reference's exact operator semantics
(TopN.java:98-130 — global top-N, null-smallest, ignoreNull); q04 is
its grouped generalization. Everything else is the engine surface the
reference delegates to its host framework (SURVEY.md §2.2-2.3).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from topn_spark.catalog import load_table
from topn_spark.operators.topn import topn, topn_grouped


@dataclass(frozen=True)
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-hash-matchable; driver does rows-only
    doc: str = ""
    # Tolerance oracle for the non-hash-matchable entries (approx
    # sketches, iterative float algorithms): an EXACT counterpart —
    # DuckDB SQL, or a callable (duckdb_con -> (colnames, rows)) for
    # logic SQL can't express (e.g. power iteration) — compared
    # numerically by tools/check_oracle.py: rows aligned on
    # ``tol_keys`` (exact match), every other numeric column within
    # relative error ``tolerance`` of the exact value. This is the
    # local gate's analogue of the pytest tolerance checks; the round
    # driver still records rows-only for these (oracle=None).
    tol_oracle: str | Callable | None = None
    tolerance: float = 0.0
    tol_keys: tuple[str, ...] = ()


QUERIES: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None,
    doc: str = "",
    tol_oracle: str | Callable | None = None,
    tolerance: float = 0.0,
    tol_keys: tuple[str, ...] = (),
):
    if name in QUERIES:
        raise ValueError(f"duplicate catalog entry name {name!r}")

    def deco(fn):
        QUERIES[name] = Query(
            name, fn, oracle, doc, tol_oracle, tolerance, tol_keys
        )
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# The reference operator (TopN.java) and its grouped generalization
# --------------------------------------------------------------------------

@query(
    "q01",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC LIMIT 10""",
    doc="Global top-N — the reference's exact semantics + unique tiebreak",
)
def q01(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return topn(orders, "o_totalprice", 10, tiebreak=F.col("o_orderkey").asc())


@query(
    "q02",
    """SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
FROM events ORDER BY v DESC NULLS LAST, event_id ASC LIMIT 20""",
    doc="Top-N keeping nulls as smallest (TopN.java:222-231)",
)
def q02(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return topn(ev, "v", 20, tiebreak=F.col("event_id").asc())


@query(
    "q03",
    """SELECT event_id, v FROM (
  SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
  FROM events) t
WHERE v IS NOT NULL ORDER BY v DESC, event_id ASC LIMIT 20""",
    doc="Top-N with ignoreNull=true (TopN.java:133-135)",
)
def q03(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return topn(ev, "v", 20, ignore_null=True, tiebreak=F.col("event_id").asc())


@query(
    "q04",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) t
WHERE rn <= 3 ORDER BY o_custkey ASC, rn ASC""",
    doc="Per-group top-N via WindowGroupLimit",
)
def q04(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    out = topn_grouped(
        orders,
        "o_custkey",
        "o_totalprice",
        3,
        tiebreak=F.col("o_orderkey").asc(),
        rank_col="rn",
    )
    return out.orderBy("o_custkey", "rn")


# --------------------------------------------------------------------------
# Projection / filter
# --------------------------------------------------------------------------

@query(
    "q05",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_quantity > 30 AND l_returnflag = 'R'
ORDER BY l_orderkey ASC, l_linenumber ASC, l_quantity ASC""",
    doc="Filter + projection (predicates push into the parquet scan)",
)
def q05(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_quantity") > 30) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

@query(
    "q06",
    """SELECT r_name, n_name, COUNT(*) AS n_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name ASC, n_name ASC""",
    doc="3-way inner equi-join + agg; dims broadcast",
)
def q06(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .orderBy("r_name", "n_name")
    )


@query(
    "q07",
    """SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey ORDER BY n_orders DESC, c.c_custkey ASC LIMIT 25""",
    doc="Left outer join + agg",
)
def q07(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("c_custkey").asc())
        .limit(25)
    )


@query(
    "q08",
    """SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
ORDER BY c_custkey ASC""",
    doc="Semi join (EXISTS)",
)
def q08(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_semi"
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q09",
    """SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
ORDER BY c_custkey ASC""",
    doc="Anti join (NOT EXISTS)",
)
def q09(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000)
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@query(
    "q10",
    """SELECT r1.r_name AS a, r2.r_name AS b
FROM region r1 JOIN region r2 ON r1.r_regionkey < r2.r_regionkey
ORDER BY a ASC, b ASC""",
    doc="Theta (non-equi) self-join → BroadcastNestedLoopJoin",
)
def q10(spark, sf_dir):
    region = _t(spark, sf_dir, "region")
    r1 = region.alias("r1")
    r2 = region.alias("r2")
    return (
        r1.join(r2, F.col("r1.r_regionkey") < F.col("r2.r_regionkey"))
        .select(F.col("r1.r_name").alias("a"), F.col("r2.r_name").alias("b"))
        .orderBy("a", "b")
    )


@query(
    "q11",
    """SELECT e.event_id,
       (SELECT MAX(o.o_orderdate) FROM orders o WHERE o.o_orderdate <= e.ts) AS last_order
FROM events e
WHERE e.event_type = 'purchase' AND e.event_id % 997 = 0
ORDER BY e.event_id ASC""",
    doc="As-of join (keyless, max-before) via time-bucketed equi-joins",
)
def q11(spark, sf_dir):
    # The correlated scalar subquery in the oracle SQL decorrelates to
    # a nested-loop range join — O(probe × build) and a full-build
    # broadcast. The engine instead buckets the time axis so every
    # data-sized operation is an equi-join or bounded aggregate
    # (operators/asof.py::asof_join_bucketed) — same results, linear
    # cost, no big broadcast.
    from topn_spark.operators.asof import asof_join_bucketed

    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders").select("o_orderdate")
    probe = events.where(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 997 == 0)
    ).select("event_id", "ts")
    return (
        asof_join_bucketed(
            probe, orders, "ts", "o_orderdate", left_id="event_id"
        )
        .select(
            "event_id", F.col("o_orderdate_asof").alias("last_order")
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------

@query(
    "q12",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag ASC, l_linestatus ASC""",
    doc="TPC-H Q1-style hash aggregate (partial+final, decimal-pinned)",
)
def q12(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("l_quantity").alias("min_q"),
            F.max("l_quantity").alias("max_q"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q13",
    """SELECT COUNT(DISTINCT o_custkey) AS n, COUNT(*) AS total FROM orders""",
    doc="Distinct aggregate",
)
def q13(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n"),
        F.count(F.lit(1)).alias("total"),
    )


@query(
    "q14",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY GROUPING(l_returnflag) ASC, GROUPING(l_linestatus) ASC,
         l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    doc="Rollup",
)
def q14(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.grouping("l_returnflag").alias("_g1"),
            F.grouping("l_linestatus").alias("_g2"),
        )
        .orderBy(
            F.col("_g1").asc(),
            F.col("_g2").asc(),
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
        .select("l_returnflag", "l_linestatus", "cnt")
    )


@query(
    "q15",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY GROUPING(o_orderstatus) ASC, GROUPING(o_orderpriority) ASC,
         o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    doc="Grouping sets (SQL entry point — the clearer formulation)",
)
def q15(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY GROUPING(o_orderstatus) ASC, GROUPING(o_orderpriority) ASC,
         o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""
    )


@query(
    "q16",
    None,  # HLL sketches differ by engine — tolerance-checked in tests
    doc="approx_count_distinct (rows-only for the driver; ≤5% rel. error "
    "asserted in tests/test_queries.py)",
    tol_oracle="SELECT COUNT(DISTINCT o_custkey) AS n_approx, "
    "COUNT(*) AS total FROM orders",
    tolerance=0.05,
)
def q16(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    # rsd=0.02: the default 0.05 sketch makes the documented ≤5%
    # error bound a 1σ claim (observed 6.7% at sf0.01); at rsd=0.02
    # the 5% tolerance is ~2.5σ — a bound, not a coin flip. Cost is
    # sketch width (a few KB per partial), not a different plan.
    return orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_approx"),
        F.count(F.lit(1)).alias("total"),
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

@query(
    "q17",
    """SELECT o_orderkey, o_orderpriority, RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk, ROW_NUMBER() OVER w AS rn
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
ORDER BY o_orderpriority ASC, rn ASC LIMIT 100""",
    doc="Ranking window functions",
)
def q17(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        # semantics-preserving rank cut: a row with rn > 100 can never
        # reach the global (priority, rn) LIMIT 100 — 100 same-priority
        # rows with smaller rn sort before it. The explicit filter is
        # what lets Catalyst plan a map-side WindowGroupLimit (the
        # final sort+limit alone cannot push through the window):
        # 6.9 s -> 1.1 s at 100x, identical rows.
        .where(F.col("rn") <= 100)
        .orderBy("o_orderpriority", "rn")
        .limit(100)
    )


@query(
    "q18",
    """SELECT user_id, event_id, LAG(event_type) OVER w AS prev_t,
       LEAD(event_type) OVER w AS next_t
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
ORDER BY user_id ASC, event_id ASC LIMIT 100""",
    doc="Analytic window functions (lag/lead)",
)
def q18(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        events.select(
            "user_id",
            "event_id",
            F.lag("event_type").over(w).alias("prev_t"),
            F.lead("event_type").over(w).alias("next_t"),
        )
        .orderBy("user_id", "event_id")
        .limit(100)
    )


@query(
    "q19",
    """SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS s3
FROM events ORDER BY user_id ASC, event_id ASC LIMIT 100""",
    doc="Explicit ROWS frame",
)
def q19(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        events.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 6).alias("s3"),
        )
        .orderBy("user_id", "event_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Sort / limit, set operations
# --------------------------------------------------------------------------

@query(
    "q20",
    """SELECT o_orderstatus, o_orderpriority, o_orderkey FROM orders
ORDER BY o_orderstatus ASC, o_totalprice DESC NULLS LAST, o_orderkey ASC LIMIT 50""",
    doc="Multi-key mixed-direction sort",
)
def q20(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(
            F.col("o_orderstatus").asc(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey").asc(),
        )
        .select("o_orderstatus", "o_orderpriority", "o_orderkey")
        .limit(50)
    )


@query(
    "q21",
    """SELECT c_custkey AS k FROM customer UNION ALL SELECT s_suppkey AS k FROM supplier
ORDER BY k ASC LIMIT 50""",
    doc="UNION ALL",
)
def q21(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    supplier = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k")
    )
    return customer.unionAll(supplier).orderBy("k").limit(50)


@query(
    "q22",
    """SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey AS k FROM supplier
ORDER BY k ASC""",
    doc="INTERSECT (distinct semantics)",
)
def q22(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k")
    )
    supplier = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k")
    )
    return customer.intersect(supplier).orderBy("k")


@query(
    "q23",
    """SELECT c_mktsegment AS v FROM customer EXCEPT SELECT o_orderstatus AS v FROM orders
ORDER BY v ASC""",
    doc="EXCEPT (distinct semantics)",
)
def q23(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("v")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("v")
    )
    return customer.subtract(orders).orderBy("v")


# --------------------------------------------------------------------------
# Scalar function surface
# --------------------------------------------------------------------------

@query(
    "q24",
    """SELECT c_custkey, UPPER(c_mktsegment) AS u, SUBSTR(c_name, 1, 8) AS pre,
       CAST(LENGTH(c_name) AS BIGINT) AS l, CONCAT(c_mktsegment, '-', c_custkey) AS ck
FROM customer ORDER BY c_custkey ASC LIMIT 25""",
    doc="String functions",
)
def q24(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    return (
        customer.select(
            "c_custkey",
            F.upper("c_mktsegment").alias("u"),
            F.substring("c_name", 1, 8).alias("pre"),
            F.length("c_name").cast("bigint").alias("l"),
            F.concat(
                F.col("c_mktsegment"), F.lit("-"), F.col("c_custkey")
            ).alias("ck"),
        )
        .orderBy("c_custkey")
        .limit(25)
    )


@query(
    "q25",
    """SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS y,
       CAST(MONTH(o_orderdate) AS BIGINT) AS m,
       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mstart,
       CAST(o_orderdate AS DATE) AS d
FROM orders ORDER BY o_orderkey ASC LIMIT 25""",
    doc="Date/time functions (type-normalized per §2.4 rule 4)",
)
def q25(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.year("o_orderdate").cast("bigint").alias("y"),
            F.month("o_orderdate").cast("bigint").alias("m"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("mstart"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .orderBy("o_orderkey")
        .limit(25)
    )


@query(
    "q26",
    """SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 1) AS r,
       ABS(l_discount - 0.05) > 0.02 AS far,
       CAST(FLOOR(l_quantity) AS BIGINT) AS f,
       CAST(CEIL(l_quantity) AS BIGINT) AS c, MOD(l_orderkey, 7) AS m
FROM lineitem ORDER BY l_orderkey ASC, l_linenumber ASC, r ASC, far ASC, f ASC LIMIT 50""",
    doc="Math functions",
)
def q26(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 1).alias("r"),
            (F.abs(F.col("l_discount") - 0.05) > 0.02).alias("far"),
            F.floor("l_quantity").cast("bigint").alias("f"),
            F.ceil("l_quantity").cast("bigint").alias("c"),
            (F.col("l_orderkey") % 7).alias("m"),
        )
        .orderBy("l_orderkey", "l_linenumber", "r", "far", "f")
        .limit(50)
    )


@query(
    "q27",
    """SELECT event_id, COALESCE(NULLIF(event_type, 'error'), 'ERR') AS t,
       CASE WHEN value >= 50 THEN 'hi' WHEN value >= 10 THEN 'mid' ELSE 'lo' END AS bucket
FROM events ORDER BY event_id ASC LIMIT 50""",
    doc="CASE / COALESCE / NULLIF",
)
def q27(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            "event_id",
            F.coalesce(
                F.nullif(F.col("event_type"), F.lit("error")), F.lit("ERR")
            ).alias("t"),
            F.when(F.col("value") >= 50, "hi")
            .when(F.col("value") >= 10, "mid")
            .otherwise("lo")
            .alias("bucket"),
        )
        .orderBy("event_id")
        .limit(50)
    )


@query(
    "q28",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events ORDER BY event_id ASC LIMIT 50""",
    doc="JSON extraction (dialect pair: get_json_object ↔ json_extract_string)",
)
def q28(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .orderBy("event_id")
        .limit(50)
    )


@query(
    "q29",
    """SELECT vec_id, CAST(LEN(embedding) AS BIGINT) AS dim,
       ROUND(CAST(embedding[1] AS DOUBLE), 5) AS e0
FROM embeddings ORDER BY vec_id ASC LIMIT 20""",
    doc="Array functions (dialect pair: SIZE↔LEN, 0- vs 1-based indexing; "
    "float element cast to DOUBLE before rounding for cross-engine repr)",
)
def q29(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.size("embedding").cast("bigint").alias("dim"),
            F.round(F.col("embedding").getItem(0).cast("double"), 5).alias(
                "e0"
            ),
        )
        .orderBy("vec_id")
        .limit(20)
    )


@query(
    "q30",
    """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS w, event_type, COUNT(*) AS cnt
FROM events GROUP BY 1, 2 ORDER BY w ASC, event_type ASC LIMIT 100""",
    doc="Tumbling window, batch-equivalent (streaming anchor)",
)
def q30(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("w", "event_type")
        .limit(100)
    )


# --------------------------------------------------------------------------
# LLM-pipeline north-star queries (documents)
# --------------------------------------------------------------------------

@query(
    "q31",
    """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT MD5(text)) AS n_unique
FROM documents GROUP BY source ORDER BY source ASC""",
    doc="Exact dedup accounting by content hash",
)
def q31(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_unique"),
        )
        .orderBy("source")
    )


@query(
    "q32",
    """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(MIN(LENGTH(text)) AS BIGINT) AS minlen,
       CAST(MAX(LENGTH(text)) AS BIGINT) AS maxlen
FROM documents GROUP BY lang ORDER BY lang ASC""",
    doc="Text statistics by language",
)
def q32(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.min(F.length("text")).cast("bigint").alias("minlen"),
            F.max(F.length("text")).cast("bigint").alias("maxlen"),
        )
        .orderBy("lang")
    )


# Extension queries (LLM-pipeline ops) register themselves into QUERIES
# on import; kept in their own module to keep this one at the SURVEY
# §2.5 contract.
from topn_spark import queries_ext  # noqa: E402,F401  (registration import)
