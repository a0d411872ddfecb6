"""Seeded benchmark inputs, built with DuckDB (no Spark).

``make_base`` writes the ten catalog tables (the schemas of
FIXTURES.md F4) at a given scale factor.  Every value is a function of
``hash(row, column, seed)``, so a seed always gives the same bytes, on
any thread count.  Files are written through Arrow with the column
types of the reference test data, so Spark reads them exactly as it
reads that data.

``make_copy`` writes an N-fold copy of a base directory the way
``tools/make_scale_data.py`` does: every key column in its
``KEY_COLS`` is shifted by ``copy * OFFSET``, so each copy is a
self-consistent universe.  The seed shapes the copy through its row
order, which decides how rows fall into files and row groups.

``oracle_digests`` runs catalog oracles on DuckDB over a directory and
returns the ``canon`` hashes of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from topn_spark.catalog import TABLES

VOCAB = (
    "a the big small fast slow hot cold red blue new old query stream"
    " customer row value batch filter order data hash column window agg"
    " sort merge part join table key vector spark scan line group dup"
).split()

_TS = pa.timestamp("us")

#: Arrow schema per table: the physical types of the reference data.
SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()),
         ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [("c_custkey", pa.int64()), ("c_name", pa.string()),
         ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
         ("c_mktsegment", pa.string())]
    ),
    "supplier": pa.schema(
        [("s_suppkey", pa.int64()), ("s_name", pa.string()),
         ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]
    ),
    "part": pa.schema(
        [("p_partkey", pa.int64()), ("p_name", pa.string()),
         ("p_brand", pa.string()), ("p_type", pa.string()),
         ("p_size", pa.int32()), ("p_retailprice", pa.float64())]
    ),
    "orders": pa.schema(
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
         ("o_orderdate", _TS), ("o_orderpriority", pa.string())]
    ),
    "lineitem": pa.schema(
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
         ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
         ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
         ("l_discount", pa.float64()), ("l_tax", pa.float64()),
         ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
         ("l_shipdate", _TS)]
    ),
    "events": pa.schema(
        [("event_id", pa.int64()), ("ts", _TS), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()),
         ("props", pa.string())]
    ),
    "documents": pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()),
         ("lang", pa.string()), ("source", pa.string()),
         ("n_chars", pa.int64())]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())]
    ),
}


def _rows(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _pick(words: list[str], h: str) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"([{lst}])[1 + ({h}) % {len(words)}]"


def _sql(seed: int, sf: float) -> dict[str, str]:
    n = _rows(sf)

    def h(col: str, key: str = "i") -> str:
        """A non-negative BIGINT drawn from hash(key, col, seed)."""
        return f"CAST(hash({key}, '{col}', {seed}) >> 1 AS BIGINT)"

    def u(col: str, key: str = "i") -> str:
        """Uniform in [0, 1) from hash(key, col, seed)."""
        return f"({h(col, key)} % 1000003) / 1000003.0"

    words = ", ".join(f"'{w}'" for w in VOCAB)
    day = "TIMESTAMP '1995-01-01' + to_days(CAST({} AS INTEGER))"
    return {
        "region": (
            "SELECT CAST(i AS INTEGER) AS r_regionkey, (['AFRICA',"
            " 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[i + 1] AS r_name"
            " FROM range(5) t(i)"
        ),
        "nation": (
            "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS"
            " n_name, CAST(i % 5 AS INTEGER) AS n_regionkey"
            " FROM range(25) t(i)"
        ),
        "customer": (
            "SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR),"
            f" 9, '0') AS c_name, CAST({h('n')} % 25 AS INTEGER) AS"
            f" c_nationkey, round(-999.99 + {u('bal')} * 10999.98, 2) AS"
            " c_acctbal, " + _pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], h("seg"))
            + f" AS c_mktsegment FROM range({n['customer']}) t(i)"
        ),
        "supplier": (
            "SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR),"
            f" 9, '0') AS s_name, CAST({h('n')} % 25 AS INTEGER) AS"
            f" s_nationkey, round(-999.99 + {u('bal')} * 10999.98, 2) AS"
            f" s_acctbal FROM range({n['supplier']}) t(i)"
        ),
        "part": (
            "SELECT i AS p_partkey, "
            + _pick(["small", "red", "blue", "hot", "old", "new", "cold",
                     "big"], h("adj")) + " || ' ' || "
            + _pick(["ring", "widget", "bolt", "gear", "gizmo", "rod",
                     "nut", "pipe"], h("noun"))
            + f" AS p_name, 'Brand#' || ({h('brand')} % 25 + 1) AS p_brand, "
            + _pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                     "PROMO"], h("type"))
            + f" AS p_type, CAST({h('size')} % 50 + 1 AS INTEGER) AS p_size,"
            " round(900 + (i % 1000) / 10.0, 1) AS p_retailprice"
            f" FROM range({n['part']}) t(i)"
        ),
        "orders": (
            f"SELECT i AS o_orderkey, {h('cust')} % {n['customer']} AS"
            " o_custkey, " + _pick(["F", "O", "P"], h("st"))
            + f" AS o_orderstatus, round(1000 + {u('price')} * 499000, 2)"
            " AS o_totalprice, "
            + day.format(f"{h('date')} % 2404")
            + " AS o_orderdate, "
            + _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"], h("prio"))
            + f" AS o_orderpriority FROM range({n['orders']}) t(i)"
        ),
        "lineitem": (
            f"SELECT {h('ord')} % {n['orders']} AS l_orderkey,"
            f" {h('part')} % {n['part']} AS l_partkey,"
            f" {h('supp')} % {n['supplier']} AS l_suppkey,"
            f" CAST({h('line')} % 7 + 1 AS INTEGER) AS l_linenumber,"
            f" CAST({h('qty')} % 50 + 1 AS DOUBLE) AS l_quantity,"
            f" round(900 + {u('ext')} * 104100, 2) AS l_extendedprice,"
            f" {h('disc')} % 11 / 100.0 AS l_discount,"
            f" {h('tax')} % 9 / 100.0 AS l_tax, "
            + _pick(["A", "N", "R"], h("rf")) + " AS l_returnflag, "
            + _pick(["F", "O"], h("ls")) + " AS l_linestatus, "
            + day.format(f"1 + {h('ship')} % 2499")
            + f" AS l_shipdate FROM range({n['lineitem']}) t(i)"
        ),
        "events": (
            "SELECT i AS event_id, TIMESTAMP '2024-01-01' + to_microseconds("
            f"CAST(i * (2592000000000 // {n['events']}) + {h('ts')} % 1000000"
            " AS BIGINT)) AS ts,"
            f" {h('user')} % {max(15, n['events'] // 67)} AS user_id, "
            + _pick(["click", "error", "purchase", "signup", "view"],
                    h("type"))
            + f" AS event_type, round({u('v')} * 560, 2) AS value,"
            f" '{{\"k\": ' || {h('k')} % 100 || '}}' AS props"
            f" FROM range({n['events']}) t(i)"
        ),
        "documents": (
            "SELECT i AS doc_id, text, "
            + _pick(["en", "en", "en", "de", "es", "fr", "zh"], h("lang"))
            + " AS lang, 'src' || " + f"{h('src')} % 20 AS source,"
            " CAST(length(text) AS BIGINT) AS n_chars FROM ("
            # every tenth document is its predecessor with the fourth
            # word redrawn: planted near-duplicates for the dedup entries
            f" SELECT i, array_to_string(list_transform(range(10 +"
            f" {h('len', 'b')} % 90), j -> ([{words}])[1 +"
            f" {h('w', 'CASE WHEN j = 3 THEN i ELSE b END, j')}"
            f" % {len(VOCAB)}]), ' ') AS text FROM (SELECT i, i - CAST("
            f"i % 10 = 9 AS BIGINT) AS b FROM range({n['documents']}) t(i)))"
        ),
        "embeddings": (
            "SELECT i AS vec_id, list_transform(v, x -> CAST(x / sqrt("
            "list_sum(list_transform(v, y -> y * y))) AS FLOAT)) AS"
            " embedding, CAST(label AS INTEGER) AS label FROM ("
            f" SELECT i, {h('label')} % 10 AS label, list_transform(range(64),"
            f" j -> ({h('c', 'j, ' + h('label') + ' % 10')} % 1000) / 1000.0"
            f" - 0.5 + ({h('e', 'i, j')} % 1000 / 1000.0 - 0.5) * 0.6)"
            f" AS v FROM range({n['embeddings']}) t(i))"
        ),
    }


def _write(con, sql: str, path: str, schema: pa.Schema) -> None:
    table = con.execute(sql).fetch_arrow_table()
    pq.write_table(table.cast(schema), path)


def make_base(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables at scale ``sf`` into ``out_dir``."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    for name, sql in _sql(seed, sf).items():
        _write(con, sql + " ORDER BY 1", f"{tmp}/{name}.parquet",
               SCHEMAS[name])
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def make_copy(src_dir: str, out_dir: str, copies: int, seed: int) -> None:
    """Write ``copies`` key-shifted copies of ``src_dir`` in a row order
    drawn from ``seed``."""
    from tools.make_scale_data import KEY_COLS, OFFSET

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    con = duckdb.connect()
    for name in TABLES:
        cols = [f.name for f in SCHEMAS[name]]
        shifted = ", ".join(
            f"{c} + c * {OFFSET} AS {c}" if c in KEY_COLS[name] else c
            for c in cols
        )
        keys = ", ".join(KEY_COLS[name])
        _write(
            con,
            f"SELECT {shifted} FROM read_parquet('{src_dir}/{name}.parquet'),"
            f" range({copies}) r(c) ORDER BY hash({keys}, c, {seed})",
            f"{out_dir}/{name}.parquet",
            SCHEMAS[name],
        )


def duck(sf_dir: str):
    """A DuckDB connection with the ten tables as views (UTC)."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def oracle_digests(con, queries) -> dict[str, tuple[list[str], int, str]]:
    """Hash oracle per hash-checked entry: (columns, rows, canon hash)."""
    from tools.check_oracle import canon

    out = {}
    for q in queries:
        if q.oracle is None:
            continue
        cur = con.execute(q.oracle)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[q.name] = (sorted(cols), len(rows), canon(rows, cols))
    return out
