"""The reference operator: top-N by a numeric field, rebuilt Spark-first.

Semantics contract (reference TopN.java:98-130, TopNConfig.java:62-104;
SURVEY.md §2.1):

- Global top-N, descending by the configured numeric field, emitted
  largest→smallest (TopN.java:126-129).
- Null is the smallest value (TopN.java:222-231); with
  ``ignore_null=True`` null rows are dropped (TopN.java:133-135).
- Output schema == input schema (TopN.java:71) — row-selecting only.
- ``size`` in [1, 1048576], default 1 (TopNConfig.java:34,121-123).
- Sort field must exist and be a bare INT/LONG/FLOAT/DOUBLE — DATE is
  rejected even though physically INT (TopNConfig.java:75-84).
- Ties are unordered in the reference; we expose an explicit
  ``tiebreak`` argument for deterministic output.

Physical strategy: the reference funnels ALL rows through one reducer
holding a bounded heap (TopN.java:93-94, 117-118). We instead declare
``orderBy(desc_nulls_last).limit(n)`` and let Spark plan
``TakeOrderedAndProject`` — the same bounded-heap algorithm but run
per-partition with a driver-side merge of k-row heaps: no full shuffle,
no single-reducer bottleneck, O(k) memory per partition. This strictly
dominates the reference's plan at any scale.

For grouped top-N, ``row_number() OVER (PARTITION BY ...)`` + filter
plans a ``WindowGroupLimit`` (Spark ≥3.5): the rank-k cut is pushed
below the shuffle so each map task ships at most k rows per group.
For pathologically hot keys there is an opt-in two-phase salted
variant, ``topn_grouped_salted``.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, replace
from typing import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from topn_spark.errors import (
    FailureCollector,
    contains_macro,
    substitute_macros,
)

#: reference TopNConfig.java:34 — MAX_TOP = 1024 * 1024
MAX_TOP = 1024 * 1024

#: reference TopN.java:144-179 — comparator dispatch covers exactly these
_NUMERIC_SORT_TYPES = (
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
)


def validate_topn(
    schema: T.StructType,
    field: str,
    size: int,
    collector: FailureCollector | None = None,
) -> FailureCollector:
    """Reference-parity config validation (TopNConfig.java:62-104).

    All failures are collected, not raised one at a time; call
    ``collector.get_or_throw()`` to surface them together.
    """
    collector = collector or FailureCollector()
    _validate_field(schema, field, collector)
    _validate_size(size, collector)
    return collector


def _validate_field(
    schema: T.StructType, field: str, collector: FailureCollector
) -> None:
    names = {f.name: f for f in schema.fields}
    if field not in names:
        # TopNConfig.java:66-70
        collector.add_failure(
            f"Field '{field}' does not exist in the input schema.",
            "Set the top field to an existing numeric field.",
            property_name="field",
        )
    else:
        dtype = names[field].dataType
        if not isinstance(dtype, _NUMERIC_SORT_TYPES):
            # TopNConfig.java:75-84: bare INT/LONG/FLOAT/DOUBLE only;
            # logical types (DATE over INT etc.) rejected. Spark's
            # DateType/TimestampType/DecimalType are all distinct types
            # here, so the isinstance check reproduces that rule.
            collector.add_failure(
                f"Field '{field}' is of unsupported type "
                f"'{dtype.simpleString()}'.",
                "Top field must be of type int, long, float, or double.",
                property_name="field",
            )


def _validate_size(size: int, collector: FailureCollector) -> None:
    if size < 1:
        # TopNConfig.java:89-95
        collector.add_failure(
            f"Invalid size {size}.",
            "Size must be at least 1.",
            property_name="size",
        )
    elif size > MAX_TOP:
        # TopNConfig.java:97-103
        collector.add_failure(
            f"Invalid size {size}.",
            f"Size must be no more than {MAX_TOP}.",
            property_name="size",
        )


@dataclass(frozen=True)
class TopNConfig:
    """Reference config parity including ``@Macro`` deferral.

    Every reference property is ``@Macro`` (TopNConfig.java:39-54): it
    may hold an unresolved ``${name}`` placeholder when the pipeline is
    deployed, in which case that property's validation is skipped (the
    ``containsMacro`` guards, TopNConfig.java:64,88,97) and runs again
    at run preparation after substitution (TopN.java:74-82 re-validates
    and throws the whole collected batch). Lifecycle here:

    - :meth:`validate` = ``configurePipeline``-time check — skips any
      property still carrying a macro;
    - :meth:`resolve` = macro substitution — returns a literal config;
    - :func:`topn_configured` wires both around the operator, so a
      config deployed with ``size="${n}"`` defers the size bounds check
      until the run provides ``n``, exactly as the reference does.

    ``size``/``ignore_null`` accept their natural types or strings
    (the post-substitution form); defaults when None are size=1,
    ignore_null=False (TopNConfig.java:110-123).
    """

    field: str = ""
    size: int | str | None = None
    ignore_null: bool | str | None = None

    def contains_macro(self, prop: str) -> bool:
        """Reference ``containsMacro(name)`` for ``field`` / ``size`` /
        ``ignore_null``."""
        return contains_macro(getattr(self, prop))

    @property
    def top_size(self) -> int:
        """TopNConfig.java:115-118 — null size defaults to 1."""
        if self.size is None:
            return 1
        return int(self.size)

    @property
    def top_ignore_null(self) -> bool:
        """TopNConfig.java:120-123 — null ignoreNull defaults to false."""
        if self.ignore_null is None:
            return False
        if isinstance(self.ignore_null, bool):
            return self.ignore_null
        return str(self.ignore_null).strip().lower() == "true"

    def validate(
        self,
        schema: T.StructType,
        collector: FailureCollector | None = None,
    ) -> FailureCollector:
        """Collect every config failure, skipping macro'd properties
        (TopNConfig.java:62-104 with its ``containsMacro`` guards)."""
        collector = collector or FailureCollector()
        if not self.contains_macro("field"):
            _validate_field(schema, self.field, collector)
        if not self.contains_macro("size"):
            try:
                _validate_size(self.top_size, collector)
            except (TypeError, ValueError):
                collector.add_failure(
                    f"Invalid size '{self.size}'.",
                    "Size must be a whole number.",
                    property_name="size",
                )
        if not self.contains_macro("ignore_null"):
            raw = self.ignore_null
            if isinstance(raw, str) and raw.strip().lower() not in (
                "true",
                "false",
            ):
                collector.add_failure(
                    f"Invalid ignoreNull '{raw}'.",
                    "ignoreNull must be 'true' or 'false'.",
                    property_name="ignoreNull",
                )
        return collector

    def resolve(self, substitutions: Mapping[str, str]) -> "TopNConfig":
        """Substitute macros into every property → a literal config
        (the prepareRun-time view). Unresolvable macros raise with the
        full failure batch, like the reference's run-preparation
        ``getOrThrowException`` (TopN.java:81)."""
        collector = FailureCollector()
        resolved = replace(
            self,
            **{
                prop: substitute_macros(
                    getattr(self, prop), substitutions, collector, prop
                )
                for prop in ("field", "size", "ignore_null")
            },
        )
        collector.get_or_throw()
        return resolved


def topn_configured(
    df: DataFrame,
    config: TopNConfig,
    substitutions: Mapping[str, str] | None = None,
    tiebreak=None,
) -> DataFrame:
    """Run :func:`topn` through the reference's two-phase config
    lifecycle: deploy-time validation with macro'd properties skipped
    (TopN.java:64-72), macro substitution, then full re-validation of
    the literal config before execution (TopN.java:74-82)."""
    config.validate(df.schema).get_or_throw()
    resolved = config.resolve(substitutions or {})
    resolved.validate(df.schema).get_or_throw()
    return topn(
        df,
        resolved.field,
        resolved.top_size,
        resolved.top_ignore_null,
        tiebreak=tiebreak,
    )


def _prologue(
    df: DataFrame, field: str, size: int, ignore_null: bool, group_by=None
) -> tuple[DataFrame, list | None]:
    """Shared entry of every top-N variant: validate, drop null rows
    when asked (TopN.java:133-135), normalise ``group_by`` to a list."""
    validate_topn(df.schema, field, size).get_or_throw()
    if ignore_null:
        df = df.where(F.col(field).isNotNull())
    if isinstance(group_by, str):
        group_by = [group_by]
    return df, group_by


def _order(field: str, tiebreak=None) -> list[Column]:
    """The top-N order: ``field`` descending, nulls smallest
    (TopN.java:222-231), then the tiebreak column(s)."""
    if isinstance(tiebreak, (str, Column)):
        tiebreak = [tiebreak]
    ties = [F.col(c) if isinstance(c, str) else c for c in tiebreak or []]
    return [F.col(field).desc_nulls_last(), *ties]


def _driver_topn(rows, field, size: int, tiebreak=None) -> list:
    """Driver twin of :func:`_order` and the cut, over rows already on
    the driver: ``field`` descending with NaN above +inf and nulls
    last, then each ``tiebreak`` name ascending with nulls first, as
    Spark sorts. ``rows`` are indexable by those names (``Row``
    objects, or tuples by position). A bounded heap (TopN.java:117)."""

    def asc(v):
        return (0,) if v is None else (2,) if v != v else (1, v)

    def key(row):
        v = row[field]
        head = (2,) if v is None else (0,) if v != v else (1, -v)
        return (head, *(asc(row[t]) for t in tiebreak or ()))

    return heapq.nsmallest(size, rows, key=key)


def _cut(
    df: DataFrame, keys, order, size: int, ties=False, rank_col=None
) -> DataFrame:
    """The windowed top-N cut: ``row_number()`` (BIGINT) or, with
    ``ties``, ``rank()`` ``OVER (PARTITION BY keys ORDER BY order) <=
    size``, the rank dropped unless kept as ``rank_col``. Spark >=3.5
    plans either as a ``WindowGroupLimit`` below the shuffle."""
    rn = "__rk" if rank_col is None else rank_col
    w = Window.partitionBy(*keys).orderBy(*order)
    rank = F.rank().over(w) if ties else F.row_number().over(w).cast("bigint")
    out = df.withColumn(rn, rank).where(F.col(rn) <= size)
    return out.drop(rn) if rank_col is None else out


def topn(
    df: DataFrame,
    field: str,
    size: int = 1,
    ignore_null: bool = False,
    tiebreak=None,
) -> DataFrame:
    """Global top-``size`` rows by ``field`` descending, nulls smallest.

    Plans as ``TakeOrderedAndProject``: per-partition bounded heap +
    driver merge — the reference's heap (TopN.java:117-118) without its
    single-reducer shuffle (TopN.java:93-94). Schema passes through
    unchanged (TopN.java:71).

    ``tiebreak``: optional column(s) ordering ties deterministically;
    the reference leaves ties unordered (SURVEY.md §2.1 #4).
    """
    df, _ = _prologue(df, field, size, ignore_null)
    return df.orderBy(*_order(field, tiebreak)).limit(size)


def topn_grouped(
    df: DataFrame,
    group_by,
    field: str,
    size: int = 1,
    ignore_null: bool = False,
    tiebreak=None,
    rank_col: str | None = None,
) -> DataFrame:
    """Per-group generalization: top-``size`` rows per ``group_by`` key.

    Declared as ``row_number() OVER (PARTITION BY keys ORDER BY field
    DESC NULLS LAST)`` + filter; Spark ≥3.5 plans a ``WindowGroupLimit``
    that evaluates the rank cut map-side before the shuffle, so at most
    ``size`` rows per group per input partition are exchanged — the
    grouped analogue of the bounded heap.

    If ``rank_col`` is given, the 1-based rank is kept as that column
    (BIGINT); otherwise output schema == input schema.
    """
    df, keys = _prologue(df, field, size, ignore_null, group_by)
    return _cut(df, keys, _order(field, tiebreak), size, rank_col=rank_col)


def topn_grouped_salted(
    df: DataFrame,
    group_by,
    field: str,
    size: int = 1,
    ignore_null: bool = False,
    tiebreak=None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase grouped top-N for pathologically skewed keys.

    Phase 1 ranks within (key, salt) — ``salt_buckets`` parallel
    sub-partitions per hot key — keeping at most ``size`` rows each;
    phase 2 re-ranks the surviving ``size * salt_buckets`` rows per key.
    Use when a single group's row count dwarfs the others and even
    WindowGroupLimit's map-side cut leaves one reducer hot. AQE's skew
    handling covers joins, not windows — this is the window-side
    escape hatch (SURVEY.md §4.2).
    """
    df, keys = _prologue(df, field, size, ignore_null, group_by)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)
    )
    order = _order(field, tiebreak)
    salted = df.withColumn("__salt", salt)
    partial = _cut(salted, [*keys, "__salt"], order, size).drop("__salt")
    return _cut(partial, keys, order, size)


def topn_with_ties(
    df: DataFrame,
    field: str,
    size: int = 1,
    group_by=None,
    ignore_null: bool = False,
) -> DataFrame:
    """Top-``size`` rows by ``field`` descending, KEEPING ties — the
    ``FETCH FIRST n ROWS WITH TIES`` / ``RANK() <= n`` semantics the
    reference's unordered-tie heap (TopN.java:117-118) silently
    truncates: if the size-th and (size+1)-th rows compare equal, the
    reference drops an arbitrary one; this variant returns both.

    Grouped path: ``rank() OVER (PARTITION BY keys ...) <= size`` —
    Spark ≥3.5 plans a ``WindowGroupLimit`` for rank() exactly as for
    row_number(), so the cut still happens map-side before the shuffle
    (ties inflate only the per-group survivor count, never the scan).

    Global path: a global rank window would serialize every row
    through ONE task. Instead: (1) ``TakeOrderedAndProject`` fetches
    the top ``size`` values only (bounded heap, no shuffle), (2) the
    size-th value becomes a scalar threshold, (3) one scan-local
    ``filter(field >= threshold)`` emits every qualifying row — rank
    semantics without a global sort; the driver holds ``size`` values,
    never data. Two jobs, both scale-safe at 100 TB.
    """
    df, keys = _prologue(df, field, size, ignore_null, group_by)
    if keys is not None:
        return _cut(df, keys, _order(field), size, ties=True)
    # Global: threshold = the size-th distinct-position value (nulls
    # sort last, so a null threshold means fewer than `size` non-null
    # rows — keep nulls too, matching rank() over desc_nulls_last).
    top = df.select(field).orderBy(*_order(field)).limit(size)
    row = top.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(field).alias("n_nonnull"),
        F.min(field).alias("thr"),
    ).collect()[0]  # 3 scalars — bounded driver traffic
    if row["n"] < size or row["n_nonnull"] < row["n"]:
        # Fewer than `size` rows total, or a null reached the top
        # `size` (i.e. fewer than `size` non-null values): nulls sort
        # last and all tie at rank n_nonnull+1 <= size, so EVERY row
        # ranks within `size`.
        return df
    return df.where(F.col(field) >= F.lit(row["thr"]))


def rank_low_cardinality(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ascending: bool = True,
    tiebreak: list[str] | None = None,
    buckets: int = 64,
    rank_col: str = "rank",
    total_col: str = "total",
) -> DataFrame:
    """Exact dense ranking (1..N per key, no gaps — a total order is
    required) that stays parallel when ``keys`` has FEW distinct
    values — including none at all (global rank).

    A plain ``row_number() OVER (PARTITION BY keys ORDER BY ...)``
    sorts each key on ONE task: with 5 keys and 60M rows that is 5
    tasks (measured ~89x degradation at 100x data, SCALING.md §2).
    This operator range-buckets the order value first, so the sort
    parallelism is ``keys x buckets``:

    1. per-key min/max/count (one hash agg, broadcast back);
    2. monotonic bucket id from the value's position in [min, max];
    3. per-(key, bucket) counts -> cumulative offsets (a window over
       the tiny bucket table);
    4. ``row_number`` within (key, bucket) + offset = exact global
       rank within the key.

    ``tiebreak`` columns (ascending) must make the order total —
    the same requirement every deterministic ranking here has.
    Value skew concentrates rows in few buckets (bucket widths are
    equal in VALUE space, not row space); for pathological skew,
    raise ``buckets``.
    """
    tiebreak = tiebreak or []
    v = F.col(value_col).cast("double")
    if not ascending:
        v = -v
    span = df.groupBy(*keys).agg(
        F.min(v).alias("_lo"),
        F.max(v).alias("_hi"),
        F.count(F.lit(1)).alias(total_col),
    )
    j = (
        df.join(F.broadcast(span), keys)
        if keys
        else df.crossJoin(F.broadcast(span))
    )
    width = F.col("_hi") - F.col("_lo")
    bkt = (
        F.when(width <= 0, F.lit(1))
        .otherwise(
            F.least(
                F.lit(buckets),
                (F.lit(1) + F.floor((v - F.col("_lo")) * buckets / width)),
            )
        )
        .cast("int")
    )
    j = j.withColumn("_bkt", bkt)
    counts = j.groupBy(*keys, "_bkt").agg(F.count(F.lit(1)).alias("_n"))
    woff = (
        Window.partitionBy(*keys)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *keys,
        "_bkt",
        F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off"),
    )
    wloc = Window.partitionBy(*keys, "_bkt").orderBy(
        v.asc(), *[F.col(t).asc() for t in tiebreak]
    )
    out = j.join(F.broadcast(offsets), [*keys, "_bkt"]).withColumn(
        rank_col, F.row_number().over(wloc) + F.col("_off")
    )
    return out.drop("_lo", "_hi", "_bkt", "_off")


def ntile_from_rank(rank: Column, total: Column, n: int) -> Column:
    """SQL ``NTILE(n)`` from an exact rank and group size: the first
    ``total % n`` tiles hold ``floor(total/n) + 1`` rows, the rest
    ``floor(total/n)`` — reproduces the window function exactly, so
    :func:`rank_low_cardinality` + this == ``ntile().over(...)`` at
    any parallelism."""
    bs = F.floor(total / n)
    r = total - bs * n
    big = r * (bs + 1)
    return (
        F.when(rank <= big, F.ceil(rank / (bs + 1)))
        .otherwise(r + F.ceil((rank - big) / F.greatest(bs, F.lit(1))))
        .cast("int")
    )
