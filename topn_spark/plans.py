"""Plan-inspection helpers: the engine's performance contract is
asserted, not hoped for. Also home of :func:`ensure_parallelism`, which
the operators call to spread a small input before CPU-heavy work, and
of :func:`local_frame`, the one way driver rows become a DataFrame.

Used by tests/test_plans.py to pin the physical shapes that matter at
100 TB: filters pushed into scans, column pruning, broadcast joins on
dims, WindowGroupLimit rank cuts, TakeOrderedAndProject bounded heaps,
whole-stage codegen coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def arrow_schema(ddl: str | T.StructType):
    """The Arrow schema of a DDL string (or a parsed schema), read by
    Spark's own parser — the column types a Spark write of the same
    DDL produces."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(ddl, str):
        ddl = T.StructType.fromDDL(ddl)
    return to_arrow_schema(ddl)


def local_frame(spark, rows, ddl: str | T.StructType) -> DataFrame:
    """Driver-sized rows (dicts by column name, or tuples in the DDL's
    column order) as a DataFrame of the DDL's schema.

    Built from an Arrow table, so the frame is a ``LocalTableScan``:
    collecting it runs no Spark job and starts no Python worker, and
    it keeps the driver's row order. A list-built frame is a Python
    RDD cut into ``defaultParallelism`` slices, whose every job costs
    one task per configured core. No rows give an empty frame of the
    same schema."""
    import pyarrow as pa

    schema = T.StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    names = schema.names
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows],
        schema=arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a low-partition-count input across the cluster before
    CPU-heavy per-row work (tokenize/shingle/hash).

    A small dimension-sized table often arrives as 1-2 parquet splits;
    hashing 10⁶ shingles on one core wastes the other 31. The
    repartition shuffle costs only the raw rows — cheap relative to
    the per-shingle hashing it parallelizes. At 100 TB inputs arrive
    as thousands of splits and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) < target:
        return df.repartition(target)
    return df


def num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan, read through the JVM
    query execution — ``df.rdd`` would wrap the plan in a
    Python-serialized RDD just to read a count off it."""
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def formatted_plan(df: DataFrame) -> str:
    """The formatted explain string (initial physical plan, pre-AQE)."""
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def assert_plan_contains(df: DataFrame, *needles: str) -> None:
    plan = formatted_plan(df)
    missing = [n for n in needles if n not in plan]
    assert not missing, f"plan missing {missing}:\n{plan}"


def assert_plan_lacks(df: DataFrame, *needles: str) -> None:
    plan = formatted_plan(df)
    present = [n for n in needles if n in plan]
    assert not present, f"plan unexpectedly contains {present}:\n{plan}"


def audit_scale(df: DataFrame) -> list[str]:
    """Mechanical scale-hazard lint of a DataFrame's physical plan.

    Returns ``WARN:``/``INFO:`` findings for the patterns that stay
    invisible at test scale and dominate at 100 TB:

    - ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — O(n·m)
      compare cost and (for BNLJ) a full build-side broadcast;
    - windows with an empty ``PARTITION BY`` — the whole dataset
      serializes through one task;
    - ``SinglePartition`` exchanges not explained by a final limit or
      a partially-aggregated input — a mid-plan global funnel;
    - scans whose ``PushedFilters`` is empty while a Filter sits in
      the plan — predicate not reaching the format reader;
    - total shuffle (``Exchange``) count, as INFO.

    A clean plan returns ``[]`` (possibly plus INFO lines). The checks
    are heuristic on plan *shape* — a keyless window over a known-tiny
    bounded domain (e.g. a time-bucket table) trips the funnel check
    by design; the auditor surfaces candidates, the engineer confirms
    cardinality. This is a development/CI aid — the engine's own
    operators keep their plans clean via tests/test_plans.py; use it
    on user-composed queries.
    """
    plan = formatted_plan(df)
    findings: list[str] = []

    # Parse the tree header into id -> (name, child ids) so checks can
    # look at an operator's input without brittle section math.
    import re as _re

    nodes: dict[int, str] = {}
    children: dict[int, list[int]] = {}
    stack: list[tuple[int, int]] = []  # (indent, id)
    for line in plan.splitlines():
        m = _re.match(r"^([ +:*-]*)([A-Za-z][A-Za-z0-9_ ]*) \((\d+)\)\s*$", line)
        if not m:
            if line.startswith("("):
                break  # reached the per-node detail sections
            continue
        indent, name, nid = len(m.group(1)), m.group(2).strip(), int(m.group(3))
        nodes[nid] = name
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if stack:
            children.setdefault(stack[-1][1], []).append(nid)
        stack.append((indent, nid))

    if "CartesianProduct" in plan:
        findings.append(
            "WARN: CartesianProduct — O(left x right) row pairs; add an "
            "equi-condition or broadcast+filter a bounded side"
        )
    if "BroadcastNestedLoopJoin" in plan:
        findings.append(
            "WARN: BroadcastNestedLoopJoin — non-equi join broadcasts a "
            "whole side and rescans it per probe row; consider "
            "time/range bucketing to make it an equi-join "
            "(operators/asof.py::asof_join_bucketed pattern)"
        )

    # A SinglePartition exchange is every "all rows through one task"
    # hazard in one signature: keyless windows, global sorts feeding
    # non-limit consumers. Benign shapes excluded: an exchange whose
    # input is a (partial) aggregate carries one row per upstream
    # partition, not the dataset; one exchange is expected when the
    # query ends in a global limit/order.
    single_ids = {
        int(m)
        for m in _re.findall(
            r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: SinglePartition",
            plan,
        )
    }
    benign = {
        nid
        for nid in single_ids
        if any("Aggregate" in nodes.get(c, "") for c in children.get(nid, []))
    }
    n_single = len(single_ids - benign)
    has_global_limit = "GlobalLimit" in plan or "TakeOrderedAndProject" in plan
    if n_single > (1 if has_global_limit else 0):
        findings.append(
            f"WARN: {n_single} SinglePartition exchange(s) over "
            "unaggregated input — the whole dataset funnels through one "
            "task (keyless window / global sort); partition by a key or "
            "bucket the domain first"
        )

    if "PushedFilters: []" in plan and "Filter" in plan:
        findings.append(
            "INFO: a scan has no pushed filters while the plan filters "
            "rows — check the predicate is pushdown-eligible (no UDF / "
            "cast on the scan column)"
        )

    n_exchange = plan.count("Exchange")
    findings.append(f"INFO: {n_exchange} Exchange (shuffle) boundaries")
    return findings


def enable_runtime_bloom_filters(
    spark,
    application_side_scan_threshold: str = "0",
    creation_side_threshold: str | None = None,
) -> None:
    """Arm Spark's runtime row-level filtering (SPARK-32268) for
    shuffle joins with a selective build side.

    When a fact⋈dim join is too big to broadcast, the optimizer can
    inject a bloom filter built from the dim's (filtered) join keys
    as a semi-join reduction on the fact scan: fact rows failing
    ``might_contain(bloom, xxhash64(key))`` are dropped *before* the
    shuffle, which is the difference between shuffling 100 TB and
    shuffling the ~1% that joins. The feature is ON by default but
    gated by size thresholds tuned for clusters
    (``applicationSideScanSizeThreshold`` defaults to 10 GiB, so
    local-scale tests never see it trigger); this helper lowers the
    gates so plan tests — and small-cluster deployments with
    selective dims — get the injected filter deterministically.

    Broadcast-hash joins don't need it (the broadcast itself prunes
    at the probe); it matters exactly when the plan degrades to
    SortMergeJoin/ShuffledHashJoin.
    """
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        application_side_scan_threshold,
    )
    if creation_side_threshold is not None:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            creation_side_threshold,
        )
