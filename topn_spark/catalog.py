"""Table catalog over the Parquet test data.

Sources are plain ``spark.read.parquet`` scans — Catalyst pushes
predicates and prunes columns into the scan, so every query built on
these DataFrames gets pushdown for free. The one engine-level shim is
the ``events`` table: its ``ts`` column is nanosecond-precision, which
Spark's Parquet reader only surfaces as INT64 under
``spark.sql.legacy.parquet.nanosAsLong=true``; we rebuild it as a
microsecond timestamp (``timestamp_micros(ts div 1000)``) at load time
so downstream operators see a normal TimestampType column
(SURVEY.md §2.4 rule 6). A second normalization branch handles
µs-precision parquet written without the UTC-adjusted flag, which
surfaces as TIMESTAMP_NTZ: it is cast to the session-local
``TimestampType`` (an explicit LTZ cast, immune to
``spark.sql.timestampType=TIMESTAMP_NTZ`` sessions) so every operator
sees exactly one timestamp type regardless of source encoding.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: (session id, sf_dir, name) → DataFrame. A DataFrame is just a plan;
#: reusing it skips re-listing files and re-reading parquet footers on
#: every query that touches the same table in one session.
_table_cache: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; applies the events nanos→micros timestamp shim."""
    key = (id(spark), sf_dir, name)
    cached = _table_cache.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanosAsLong surfaced an ns epoch as bigint; rebuild as a
            # real timestamp (integer ns→us division, exact here).
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # µs-precision parquet without UTC adjustment surfaces as
            # TIMESTAMP_NTZ; normalize to session-local TIMESTAMP (the
            # session is pinned UTC, so values are unchanged) so every
            # operator sees one timestamp type regardless of how the
            # source file encoded it. Cast to the concrete TimestampType
            # (LTZ) rather than the "timestamp" alias: the alias resolves
            # through spark.sql.timestampType, so under a
            # TIMESTAMP_NTZ-defaulted session it would be a no-op.
            df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    _table_cache[key] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register temp views so ``spark.sql`` is a dual entry point."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
