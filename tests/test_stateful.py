"""Stateful streaming operator test: per-key running top-N via
applyInPandasWithState, replay-checked against batch grouped top-N."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from topn_spark.catalog import load_table
from topn_spark.operators.topn import topn_grouped
from topn_spark.streaming.stateful import grouped_running_topn


def test_grouped_running_topn_matches_batch(spark, tmp_path):
    ev = load_table(spark, SF_SMALL, "events")
    d = str(tmp_path / "stream")
    ev.repartition(3).write.mode("overwrite").parquet(d)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = grouped_running_topn(stream, "event_type", "event_id", "value", 3)
    q = (
        out.writeStream.format("memory")
        .queryName("running_topn")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = spark.table("running_topn").collect()
    # multiple emissions per key (one per touching micro-batch);
    # the max-version row is the final state
    final = {}
    for r in emitted:
        if r.event_type not in final or r.version > final[r.event_type].version:
            final[r.event_type] = r
    # versions must sum to the full row count per key
    batch_counts = {
        r.event_type: r.cnt
        for r in ev.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert {k: v.version for k, v in final.items()} == batch_counts

    want = topn_grouped(
        ev.select("event_type", "event_id", "value"),
        "event_type",
        "value",
        3,
        tiebreak="event_id",
    )
    want_by_key = {}
    for r in want.collect():
        want_by_key.setdefault(r.event_type, []).append((r.event_id, r.value))
    got_by_key = {
        k: list(zip(v.ids, v.vals)) for k, v in final.items()
    }
    assert got_by_key == want_by_key


def test_grouped_running_topn_ranks_nan_like_batch(spark, tmp_path):
    """NaN is a value, null is not: the stream keeps NaN (above every
    number) and drops nulls, exactly as
    ``topn_grouped(ignore_null=True)`` does — pandas reads both as
    NaN, so the operator must not tell them apart on the pandas side."""
    import numpy as np
    import pandas as pd

    vals = pd.arrays.FloatingArray(
        np.array([1.0, np.nan, 5.0, 0.0, 3.0]),
        np.array([False, False, False, True, False]),
    )
    pdf = pd.DataFrame({"k": ["a"] * 5, "id": range(1, 6), "v": vals})
    df = spark.createDataFrame(pdf, "k string, id long, v double")
    d = str(tmp_path / "nan_stream")
    for part in (df.where("id <= 2"), df.where("id > 2")):
        part.coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        grouped_running_topn(stream, "k", "id", "v", 2)
        .writeStream.format("memory")
        .queryName("running_topn_nan")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = spark.table("running_topn_nan").collect()
    final = max(emitted, key=lambda r: r.version)
    want = topn_grouped(df, "k", "v", 2, ignore_null=True, tiebreak="id")
    assert sorted(r.id for r in want.collect()) == [2, 3]
    assert final.version == 5
    assert final.ids == [2, 3]
    assert np.isnan(final.vals[0]) and final.vals[1] == 5.0


def test_streaming_ewma_replay_equals_single_pass_and_flags_spike(
    spark, tmp_path
):
    import datetime
    import time as _time

    from topn_spark.streaming.stateful import streaming_ewma

    t0 = datetime.datetime(2024, 1, 1)
    # key "a": stable around 10 then a planted spike at minute 25;
    # key "b": short series (cold-start path)
    series = [("a", m, 10.0 + (m % 3) * 0.1) for m in range(24)]
    series.append(("a", 25, 60.0))  # the spike
    series += [("b", m, 5.0) for m in range(3)]
    rows = [
        (k, t0 + datetime.timedelta(minutes=m), v) for k, m, v in series
    ]
    d = str(tmp_path / "ewma_stream")
    # three time-sliced files written in order (modTime ascending) so
    # micro-batches arrive in event-time order — the documented
    # contract for cross-batch equivalence
    import os

    os.makedirs(d)
    slices = [
        [r for r in rows if r[1].minute < 10],
        [r for r in rows if 10 <= r[1].minute < 20],
        [r for r in rows if r[1].minute >= 20],
    ]
    for i, sl in enumerate(slices):
        spark.createDataFrame(
            sl, "k string, ts timestamp, v double"
        ).coalesce(1).write.parquet(f"{d}/s{i}")
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema("k string, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/s*")
    )
    out = streaming_ewma(stream, "k", "ts", "v", alpha=0.3)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.k, r.ts): (r.x, r.ewma, r.z, r.anomaly)
        for r in spark.table("ewma_out").collect()
    }
    assert len(got) == len(rows)

    # single-pass model: same recurrence over the full per-key series
    def model(vals):
        m, s2, n, out = 0.0, 0.0, 0, []
        for x in vals:
            if n == 0:
                out.append((x, x, None, False))
                m, s2 = x, 0.0
            else:
                resid = x - m
                sd = s2 ** 0.5
                z = abs(resid) / sd if sd > 0 else None
                an = z is not None and z > 3.0
                m = 0.3 * x + 0.7 * m
                s2 = 0.3 * resid * resid + 0.7 * s2
                out.append((x, m, z, an))
            n += 1
        return out

    for key in ("a", "b"):
        ks = sorted(
            [r for r in rows if r[0] == key], key=lambda r: r[1]
        )
        want = model([r[2] for r in ks])
        for (k, ts, _v), w in zip(ks, want):
            g = got[(key, ts)]
            assert g[0] == w[0] and g[1] == w[1]
            assert (g[2] is None) == (w[2] is None)
            if w[2] is not None:
                assert abs(g[2] - w[2]) <= 1e-12
            assert g[3] == w[3]
    # the planted spike is flagged, with the largest z on the board
    # (warm-up rows may also trip the chart — the model agrees row
    # for row above, which is the contract)
    spike_ts = t0 + datetime.timedelta(minutes=25)
    assert got[("a", spike_ts)][3] is True
    zmax = max(g[2] for g in got.values() if g[2] is not None)
    assert got[("a", spike_ts)][2] == zmax
