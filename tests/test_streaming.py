"""Structured Streaming tests: replay-equivalence vs batch (the only
honest streaming correctness check — SURVEY.md §5.3), watermark
late-data semantics, and the foreachBatch streaming top-N."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from topn_spark.catalog import load_table
from topn_spark.operators.topn import topn
from topn_spark.streaming import (
    session_counts,
    sliding_counts,
    streaming_topn_sink,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_batch(spark):
    # released at teardown: a cached events relation left behind would
    # stand in for the scan in later modules' plans
    df = load_table(spark, SF_SMALL, "events").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def events_stream_dir(spark, events_batch, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    events_batch.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _run_stream(spark, stream_df, name, mode="complete"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_tumbling_replay_equivalence(spark, events_batch, events_stream_dir):
    stream = spark.readStream.schema(events_batch.schema).parquet(
        events_stream_dir
    )
    got = _run_stream(
        spark,
        tumbling_counts(stream, group_cols=["event_type"]),
        "t_tumbling",
    )
    want = tumbling_counts(events_batch, group_cols=["event_type"])
    assert _rows(got, "window_start", "event_type") == _rows(
        want, "window_start", "event_type"
    )


def test_sliding_replay_equivalence(spark, events_batch, events_stream_dir):
    stream = spark.readStream.schema(events_batch.schema).parquet(
        events_stream_dir
    )
    got = _run_stream(
        spark,
        sliding_counts(stream, window="2 hours", slide="30 minutes"),
        "t_sliding",
    )
    want = sliding_counts(events_batch, window="2 hours", slide="30 minutes")
    assert _rows(got, "window_start") == _rows(want, "window_start")


def test_session_replay_equivalence(spark, events_batch, events_stream_dir):
    stream = spark.readStream.schema(events_batch.schema).parquet(
        events_stream_dir
    )
    got = _run_stream(
        spark,
        session_counts(
            stream,
            gap="10 minutes",
            group_cols=["user_id"],
            watermark="100 days",
        ),
        "t_session",
        mode="complete",
    )
    want = session_counts(events_batch, gap="10 minutes", group_cols=["user_id"])
    assert _rows(got, "user_id", "session_start") == _rows(
        want, "user_id", "session_start"
    )


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode tumbling agg with a tight watermark: an event
    arriving after its window's watermark has passed is dropped —
    the documented late-data contract."""
    import shutil

    d = str(tmp_path / "late")
    os.makedirs(d)
    schema = "event_id long, ts timestamp, v double"

    def write_file(rows, name, mtime):
        # Write a single bare parquet FILE (not a directory) so the
        # file-stream source sees exactly one admissible file per
        # micro-batch, ordered by the mtime we pin.
        tmp = str(tmp_path / f"_stage_{name}")
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            os.path.join(tmp, f_)
            for f_ in os.listdir(tmp)
            if f_.endswith(".parquet")
        )
        dest = os.path.join(d, name)
        shutil.copyfile(part, dest)
        os.utime(dest, (mtime, mtime))

    from datetime import datetime

    def ts(h, m=0):
        return datetime.fromisoformat(f"2024-01-01 {h:02d}:{m:02d}:00")

    on_time = [(i, ts(0, i), 1.0) for i in range(10)] + [
        (100 + i, ts(1, i), 1.0) for i in range(10)
    ] + [(200 + i, ts(5, i), 1.0) for i in range(5)]
    mid = [(250, ts(5, 30), 1.0)]
    late = [(300 + i, ts(1, 30 + i), 1.0) for i in range(3)]
    now = time.time()
    # Watermark actions lag one micro-batch: the hour-5 data in f1
    # advances the watermark, but hour-1's state is only evicted at
    # the END of the batch that runs WITH that watermark (f2's). The
    # buffer batch makes f3's late rows verifiably droppable.
    write_file(on_time, "f1.parquet", now - 1000)
    write_file(mid, "f2.parquet", now - 500)
    write_file(late, "f3.parquet", now)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    got = _run_stream(
        spark,
        tumbling_counts(stream, window="1 hour", watermark="1 second"),
        "t_late",
        mode="append",
    )
    counts = {r.window_start.hour: r.cnt for r in got.collect()}
    # hour-0 and hour-1 windows closed by the watermark (hour-5 data
    # advanced it); the 3 late hour-1 events were dropped; the hour-5
    # window is still open so append mode has not emitted it.
    assert counts == {0: 10, 1: 10}


def test_streaming_topn_matches_batch(spark, events_batch, events_stream_dir):
    stream = spark.readStream.schema(events_batch.schema).parquet(
        events_stream_dir
    )
    batch_fn, results = streaming_topn_sink(
        "value", 15, tiebreak=["event_id"]
    )
    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = topn(events_batch, "value", 15, tiebreak=["event_id"]).collect()
    got = results()
    assert [(r.event_id, r.value) for r in got] == [
        (r.event_id, r.value) for r in want
    ]


def test_streaming_topn_scans_each_batch_once(spark, events_batch):
    """``batch_fn`` merges the held top-N with the batch's COLLECTED
    candidate, so each batch is evaluated once: its rows pass a
    counting UDF exactly once, and the two-batch result still equals
    batch top-N over the union."""
    from pyspark.sql.types import DoubleType

    seen = spark.sparkContext.accumulator(0)

    def count(v):
        seen.add(1)
        return v

    counted = F.udf(count, DoubleType()).asNondeterministic()
    halves = events_batch.randomSplit([0.5, 0.5], seed=7)
    batch_fn, results = streaming_topn_sink(
        "value", 15, tiebreak=["event_id"]
    )
    n_rows = 0
    for batch_id, half in enumerate(halves):
        half = half.cache()
        n_rows += half.count()
        batch_fn(half.withColumn("value", counted("value")), batch_id)
        assert seen.value == n_rows
    want = topn(events_batch, "value", 15, tiebreak=["event_id"]).collect()
    assert [(r.event_id, r.value) for r in results()] == [
        (r.event_id, r.value) for r in want
    ]


def _scored(spark, first_id, vals):
    """A pandas-built (id, v) frame; ``None`` in ``vals`` is a null,
    ``nan`` a NaN."""
    import numpy as np
    import pandas as pd

    v = pd.arrays.FloatingArray(
        np.array([0.0 if x is None else x for x in vals]),
        np.array([x is None for x in vals]),
    )
    ids = range(first_id, first_id + len(vals))
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "v": v}), "id long, v double"
    )


def test_streaming_topn_nulls_nan_and_ties_across_batches(spark):
    """NaN ranks above every number, nulls last, ties across batches
    go to the smaller id — the driver merge keeps ``topn``'s order —
    and each batch runs exactly one Spark action."""
    nan = float("nan")
    batches = [
        _scored(spark, 1, [5.0, nan, None, 3.0, 5.0, 1.0]),
        _scored(spark, 7, [nan, 5.0, None, 3.0, 4.0, 2.0]),
    ]
    union = batches[0].unionByName(batches[1])
    cls = type(union)
    calls = []
    orig = {name: getattr(cls, name) for name in ("collect", "count")}

    def counted(name):
        return lambda self: (calls.append(name), orig[name](self))[1]

    for size in (4, 11):
        batch_fn, results = streaming_topn_sink("v", size, tiebreak=["id"])
        for name in orig:
            setattr(cls, name, counted(name))
        try:
            for batch_id, batch in enumerate(batches):
                calls.clear()
                batch_fn(batch, batch_id)
                assert calls == ["collect"], (size, batch_id, calls)
        finally:
            for name, fn in orig.items():
                setattr(cls, name, fn)
        want = topn(union, "v", size, tiebreak=["id"]).collect()
        got = [(r.id, repr(r.v)) for r in results()]
        assert got == [(r.id, repr(r.v)) for r in want]
    assert [r.id for r in want] == [2, 7, 1, 5, 8, 11, 4, 10, 12, 6, 3]
