"""Oracle-parity tests for the declared query catalog at sf0.001.

Mirrors the driver's correctness gate: run each Spark builder and its
DuckDB oracle, compare row count + column names + order-insensitive
canonical value hash. q16 (approx_count_distinct) is tolerance-checked
instead (SURVEY.md §2.5).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from topn_spark.queries import QUERIES

duckdb = pytest.importorskip("duckdb")


@pytest.fixture(scope="module")
def duck():
    from topn_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    yield con
    con.close()


ORACLED = sorted(n for n, q in QUERIES.items() if q.oracle is not None)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    from tools.check_oracle import canon

    q = QUERIES[name]
    sdf = q.builder(spark, SF_SMALL)
    srows = sdf.collect()
    cur = duck.execute(q.oracle)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert canon(srows, sdf.columns) == canon(drows, dcols)


def test_every_entry_has_an_oracle():
    # every catalog entry is checkable: a hash-match oracle, or a
    # tolerance oracle (exact counterpart + declared error bound) for
    # the approx/iterative-float ops — tolerance 0 is legal and means
    # the tol-oracle compare is EXACT (y12's kept-set equality). No
    # unverifiable entries.
    for name, q in QUERIES.items():
        assert q.oracle is not None or q.tol_oracle is not None, (
            f"{name} has neither a hash-match nor a tolerance oracle"
        )


TOLERANCED = sorted(
    n for n, q in QUERIES.items() if q.oracle is None and q.tol_oracle
)


@pytest.mark.parametrize("name", TOLERANCED)
def test_query_within_tolerance(spark, duck, name):
    from tools.check_oracle import check_tolerance

    q = QUERIES[name]
    sdf = q.builder(spark, SF_SMALL)
    problems = check_tolerance(q, sdf, sdf.collect(), duck)
    assert not problems, problems


def test_q16_tolerance(spark, duck):
    row = QUERIES["q16"].builder(spark, SF_SMALL).collect()[0]
    exact = duck.execute(
        "SELECT COUNT(DISTINCT o_custkey) FROM orders"
    ).fetchone()[0]
    assert abs(row["n_approx"] - exact) / exact <= 0.05


def test_x18_tolerance(spark, duck):
    row = QUERIES["x18_approx_percentile"].builder(spark, SF_SMALL).collect()[0]
    exact = duck.execute(
        "SELECT quantile_cont(o_totalprice, 0.5), quantile_cont(o_totalprice, 0.95),"
        " quantile_cont(o_totalprice, 0.99) FROM orders"
    ).fetchone()
    for got, want in zip((row.p50, row.p95, row.p99), exact):
        assert abs(got - want) / want <= 0.02


def test_entry_contract(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    assert df.count() == 10
    qs, oracles = mod.queries(), mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 32


def test_sql_entry_point_matches_dataframe_builders(spark):
    """Dual entry points (SURVEY §3.2): for every catalog query whose
    declared oracle SQL is engine-portable (no DuckDB-only functions),
    running that exact SQL through spark.sql over registered views
    must equal the DataFrame-API builder row-for-row."""
    from topn_spark.catalog import register_views
    from topn_spark.queries import QUERIES

    shared_dialect = [
        "q01", "q05", "q06", "q08", "q09", "q10", "q12", "q14",
        "q17", "q20", "q21", "q22", "q23", "q24", "q27", "q31", "q32",
    ]
    register_views(spark, SF_SMALL)
    for name in shared_dialect:
        q = QUERIES[name]
        via_sql = [tuple(r) for r in spark.sql(q.oracle).collect()]
        via_df = [tuple(r) for r in q.builder(spark, SF_SMALL).collect()]
        assert via_sql == via_df, f"{name}: SQL and DataFrame paths differ"


def test_catalog_text_pinned():
    """Every entry's declared text is pinned: oracle SQL, tolerance
    oracle (a callable by its qualified name), doc, tolerance,
    tolerance keys and builder name, hashed in name order. A refactor
    of the catalog's builders or oracle-fragment helpers must render
    every entry byte-identically; no Spark is needed to check it."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(QUERIES):
        q = QUERIES[name]
        tol = (
            q.tol_oracle.__qualname__
            if callable(q.tol_oracle) else q.tol_oracle
        )
        h.update(repr((
            name, q.oracle, tol, q.doc, q.tolerance, tuple(q.tol_keys),
            q.builder.__qualname__,
        )).encode())
    assert len(QUERIES) == 301
    assert h.hexdigest() == (
        "d04119aee413b916acd09c18294e0e5dd4599e42cecb808e3098e2c838607084"
    )


def test_duplicate_entry_name_raises():
    """A copy-pasted entry name must not silently replace the earlier
    entry: ``query`` refuses it before the registry changes."""
    from topn_spark.queries import query

    before = QUERIES["q01"]
    with pytest.raises(ValueError, match="q01"):
        query("q01", "SELECT 1")(lambda spark, sf_dir: None)
    assert QUERIES["q01"] is before


def test_catalog_fixtures_and_oracle_fragments_live_once():
    """Each shared catalog fixture and oracle fragment is written
    once in ``queries_ext.py`` (the arena scores, the per-channel
    pixel stats, the planted HTML pages, the packing slice), and
    every entry registers through ``@query`` alone. Pinned
    structurally so a re-grown copy turns the suite red."""
    from pathlib import Path

    src = (
        Path(__file__).resolve().parent.parent
        / "topn_spark" / "queries_ext.py"
    ).read_text()
    for once in (
        "(d % 4 == 3) & (p % 3 == 0)",
        "def ch_min(c):",
        '"<html><head><title>Title "',
        "GREATEST(seq_id * 32 - off, 0) + 1 AS BIGINT",
    ):
        assert src.count(once) == 1, (once, src.count(once))
    for gone in (".__class__(", "oracle patched below", "QUERIES as _Q"):
        assert gone not in src, gone
