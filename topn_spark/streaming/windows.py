"""Event-time windowed aggregations + streaming top-N.

Each builder works on BOTH a batch DataFrame and a streaming
DataFrame (``window``/``session_window`` are plan-level constructs) —
that duality is the replay-equivalence test surface. On a stream,
pass ``watermark=`` to bound state: windows older than
max(event time) - delay are finalized and dropped from the state
store; later-arriving rows for them are discarded (the documented
late-data contract).

Scale: windowed aggregation shuffles on (window, keys) — state is
O(open windows × keys) per executor, bounded by the watermark.
Session windows additionally merge adjacent state entries per key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _window_counts(
    df: DataFrame,
    ts_col: str,
    win: Column,
    group_cols: list[str] | None,
    watermark: str | None,
    prefix: str,
) -> DataFrame:
    """The one body of the window-count builders: watermark (on a
    stream), ``groupBy(win, *group_cols)``, count, then the window's
    bounds as ``<prefix>_start`` / ``<prefix>_end``."""
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    cols = group_cols or []
    out = df.groupBy(win.alias("w"), *cols).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return out.select(
        F.col("w.start").alias(f"{prefix}_start"),
        F.col("w.end").alias(f"{prefix}_end"),
        *cols,
        "cnt",
    )


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    group_cols: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window counts:
    ``(window_start, window_end, *group_cols, cnt)``."""
    return _window_counts(
        df, ts_col, F.window(ts_col, window), group_cols, watermark,
        "window",
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    group_cols: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Sliding event-time window counts (each row lands in
    window/slide overlapping windows)."""
    return _window_counts(
        df, ts_col, F.window(ts_col, window, slide), group_cols,
        watermark, "window",
    )


def session_counts(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "5 minutes",
    group_cols: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Session windows: per key, rows within ``gap`` of each other
    merge into one session → ``(session_start, session_end, *keys,
    cnt)``. Streaming requires a watermark (state must be bounded)."""
    return _window_counts(
        df, ts_col, F.session_window(ts_col, gap), group_cols,
        watermark, "session",
    )


def streaming_topn_sink(
    field: str,
    size: int,
    tiebreak: list[str] | None = None,
) -> tuple[Callable[[DataFrame, int], None], Callable[[], list]]:
    """Incremental global top-N over a stream via ``foreachBatch``.

    Returns ``(batch_fn, results_fn)``: attach ``batch_fn`` with
    ``stream.writeStream.foreachBatch(batch_fn)``; ``results_fn()``
    yields the current top-N rows.

    Semantics: the running result is the reference's bounded heap
    (TopN.java:117-118) carried across micro-batches — each batch's
    candidate top-N is merged with the held top-N and re-cut to
    ``size``. Monotone and exactly equal to batch top-N over the
    union of all processed batches (top-N is a commutative,
    idempotent merge — no retraction needed).

    One Spark action per batch (the candidate's ``collect``); the merge
    runs on the driver over <= 2*size rows under ``topn``'s order. The
    held state is <= ``size`` driver-side rows, by construction.
    """
    from topn_spark.operators.topn import _driver_topn, topn

    state: dict[str, list] = {"rows": []}

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        rows = topn(batch_df, field, size, tiebreak=tiebreak).collect()
        held = state["rows"] + rows
        state["rows"] = _driver_topn(held, field, size, tiebreak)

    def results_fn() -> list:
        return list(state["rows"])

    return batch_fn, results_fn
