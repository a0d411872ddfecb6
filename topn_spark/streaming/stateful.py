"""Custom stateful streaming operator: per-key running top-N via
``applyInPandasWithState``.

``streaming_topn_sink`` (windows.py) maintains a GLOBAL top-N on the
driver; this operator keeps a top-N PER KEY inside Spark's state
store — state lives with the executors, scales with the key space,
and survives checkpoint/restart. The merge is the reference's bounded
heap (TopN.java:117-118) applied to (held state ∪ new batch rows) per
key per micro-batch, under ``operators.topn``'s own order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from topn_spark.operators.topn import _driver_topn


def grouped_running_topn(
    stream: DataFrame,
    key_col: str,
    id_col: str,
    field: str,
    size: int,
) -> DataFrame:
    """Per-key running top-``size`` over a stream.

    Emits, on every micro-batch that touches a key, that key's current
    top rows as ``(key, version, ids array, values array)`` where
    ``version`` is the total row count processed for the key (a
    monotone watermark for "which emission is newest"). The rows are
    those of ``topn_grouped(ignore_null=True, tiebreak=id_col)``:
    null ``field`` rows are dropped, NaN ranks above every number, ties
    go to the smaller id. Null-ness enters, and NaN leaves, the pandas
    kernel as a flag: pandas conversion conflates NaN and null.

    State per key is two ``size``-bounded lists — O(keys × size)
    across the cluster's state stores.
    """
    out_schema = (
        f"{key_col} string, version bigint, ids array<bigint>, "
        f"vals array<double>, nan array<boolean>"
    )
    state_schema = "ids array<bigint>, vals array<double>, n bigint"

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ids, vals, seen = state.get if state.exists else ([], [], 0)
        held = list(zip(ids, vals))
        for pdf in pdfs:
            seen += len(pdf)
            sub = pdf[~pdf["__null"]]
            held += zip(sub[id_col].astype("int64"), sub[field])
        # (id, value) pairs under topn's order: value desc, id asc
        top = _driver_topn(held, 1, size, tiebreak=[0])
        ids = [int(i) for i, _ in top]
        vals = [float(v) for _, v in top]
        state.update((ids, vals, seen))
        # pandas output turns NaN into null: ship NaN as a flag
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "version": [seen],
                "ids": [ids],
                "vals": [[0.0 if v != v else v for v in vals]],
                "nan": [[v != v for v in vals]],
            }
        )

    flagged = stream.select(
        key_col, id_col, field, F.col(field).isNull().alias("__null")
    )
    out = flagged.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    nan = F.lit(float("nan"))
    vals = F.zip_with("vals", "nan", lambda v, n: F.when(n, nan).otherwise(v))
    return out.select(key_col, "version", "ids", vals.alias("vals"))


def streaming_ewma(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    z_threshold: float | None = 3.0,
) -> DataFrame:
    """Per-key streaming EWMA with online anomaly flagging: for each
    row (in event-time order within a key), emit the smoothed value
    ``ewma ← α·x + (1−α)·ewma`` plus an ``anomaly`` flag when the
    standardized residual ``|x − ewma_prev| / σ_prev`` exceeds
    ``z_threshold`` (σ tracked as an EW variance with the same α —
    the classic EWMA control chart). The streaming counterpart of
    batch ``pipeline.ewma``: same recurrence, state carried across
    micro-batches in the state store instead of an array fold.

    State per key is three floats + a count — O(keys) cluster-wide,
    checkpoint-durable. Within a micro-batch rows are sorted by
    ``ts_col`` before folding, so replaying N batches equals one big
    batch exactly (the replay-equivalence test contract); late rows
    ARRIVING in a later batch fold in arrival order — pair with a
    watermark + dropDuplicates upstream when the feed can reorder
    across batches.
    """
    out_schema = (
        f"{key_col} string, {ts_col} timestamp, x double, ewma double, "
        "z double, anomaly boolean"
    )
    state_schema = "m double, s2 double, n bigint"
    a = float(alpha)

    def fn(key, pdfs, state):
        if state.exists:
            m, s2, n = state.get
        else:
            m, s2, n = 0.0, 0.0, 0
        rows = {"ts": [], "x": [], "ewma": [], "z": [], "an": []}
        for pdf in pdfs:
            sub = pdf[[ts_col, value_col]].dropna(subset=[value_col])
            sub = sub.sort_values(ts_col)
            for t, x in zip(sub[ts_col], sub[value_col]):
                x = float(x)
                if n == 0:
                    z = None
                    an = False
                    m, s2 = x, 0.0
                else:
                    resid = x - m
                    sd = s2 ** 0.5
                    z = abs(resid) / sd if sd > 0 else None
                    an = (
                        z_threshold is not None
                        and z is not None
                        and z > z_threshold
                    )
                    m = a * x + (1 - a) * m
                    s2 = a * resid * resid + (1 - a) * s2
                n += 1
                rows["ts"].append(t)
                rows["x"].append(x)
                rows["ewma"].append(m)
                rows["z"].append(z)
                rows["an"].append(bool(an))
        state.update((m, s2, n))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(rows["ts"]),
                ts_col: rows["ts"],
                "x": rows["x"],
                "ewma": rows["ewma"],
                "z": rows["z"],
                "anomaly": rows["an"],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
