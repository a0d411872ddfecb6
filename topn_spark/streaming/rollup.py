"""Continuous rollup maintenance: the streaming half of the
hypertable pattern (operators/rollup.py).

Each micro-batch is rolled up to the store's granularity and MERGED
into the persisted rollup — partials add, sketches union — touching
only the date partitions the batch lands in (dynamic partition
overwrite). The store therefore always answers the same queries as a
from-scratch :func:`topn_spark.operators.rollup.rollup` over all data
seen so far, while per-batch work is O(batch + touched buckets),
independent of history size.

Delivery guarantee — effectively-once with a narrow at-least-once
window: a processed-batch ledger (marker files keyed by the
checkpointed epoch id) makes foreachBatch replays of fully-committed
batches no-ops. The residual window is the gap between the data
commit and the marker write: a crash inside it (or mid-way through a
multi-partition overwrite, which is not atomic as a job) replays the
batch against a store that already absorbed some/all of the delta,
double-counting those partitions. A production deployment closes the
window with a transactional table format (Delta/Iceberg MERGE, where
data + ledger commit atomically); the merge logic is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topn_spark.operators.rollup import BUCKET_COL, RollupSpec, re_rollup, rollup
from topn_spark.streaming.ingest import start_batches
from topn_spark.streaming.statestore import _hadoop

_PART = "_pdate"  # date partition column: dynamic overwrite granularity


def rollup_batch(
    batch: DataFrame,
    store_dir: str,
    ts_col: str,
    bucket: str,
    spec: RollupSpec,
) -> None:
    """Merge one micro-batch into the persisted rollup store.

    Only the not-yet-created store routes to the delta-only branch —
    tested explicitly, never inferred from an exception. Any failure
    while reading/merging an EXISTING store propagates, so the batch
    fails and the stream retries instead of overwriting accumulated
    history with delta-only data.
    """
    spark = batch.sparkSession
    delta = rollup(batch, ts_col, bucket, spec).withColumn(
        _PART, F.col(BUCKET_COL).cast("date")
    )
    fs, root = _hadoop(spark, store_dir)
    if fs.exists(root):
        cur = spark.read.parquet(store_dir)
        touched = [r[0] for r in delta.select(_PART).distinct().collect()]
        if not touched:
            return
        cur = cur.where(F.col(_PART).isin(touched))
        merged = re_rollup(
            cur.unionByName(delta), bucket, spec, source_bucket=bucket
        ).withColumn(_PART, F.col(BUCKET_COL).cast("date"))
        # materialize BEFORE the write: the merge reads the very
        # partitions the overwrite replaces (self-overwrite is
        # otherwise rejected/unsafe); the checkpointed frame is tiny
        # (touched buckets only)
        merged = merged.localCheckpoint(eager=True)
    else:  # first batch: no store yet
        merged = delta
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(_PART).parquet(store_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def apply_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    ledger_dir: str,
    ts_col: str,
    bucket: str,
    spec: RollupSpec,
) -> None:
    """Merge a batch at-most-once per marker: a post-marker replay is
    skipped; a crash BEFORE the data commit replays cleanly against
    the pre-merge store. The honest caveat: a crash between the data
    commit (or a partial multi-partition commit — the overwrite is
    atomic per partition, not per job) and the marker write replays
    into an already-merged store and double-counts those partitions.
    See the module docstring; a transactional table format closes
    this window."""
    marker = os.path.join(ledger_dir, str(batch_id))
    if os.path.exists(marker):
        return  # replay of an already-merged epoch
    rollup_batch(batch, store_dir, ts_col, bucket, spec)
    os.makedirs(ledger_dir, exist_ok=True)
    open(marker, "w").close()


def read_rollup(spark, store_dir: str) -> DataFrame:
    """The queryable rollup table (partition column dropped)."""
    return spark.read.parquet(store_dir).drop(_PART)


def continuous_rollup_sink(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    ts_col: str,
    bucket: str,
    spec: RollupSpec,
):
    """Wire an event stream into :func:`rollup_batch` via
    ``foreachBatch`` (availableNow-compatible). Returns the started
    ``StreamingQuery``.

    The ledger lives UNDER the checkpoint directory because batch ids
    are checkpoint-scoped: a resumed stream replaying epoch N finds
    the marker and skips; a brand-new checkpoint is a new stream and
    legitimately merges whatever its source delivers.
    """
    ledger = os.path.join(checkpoint_dir, "applied_batches")

    def _process(batch: DataFrame, batch_id: int) -> None:
        apply_batch(batch, batch_id, store_dir, ledger, ts_col, bucket, spec)

    return start_batches(stream, _process, checkpoint_dir)
