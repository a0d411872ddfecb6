"""Structured Streaming surface: windowed aggregations, watermarks,
and streaming top-N.

The reference's only streaming capability is "this plugin may be
placed in a cdap-data-streams pipeline" (reference pom.xml:39-42) —
the operator itself is batch logic re-run per micro-batch. We expose
the real Spark streaming model instead: event-time windows +
watermarks for late data, and a ``foreachBatch`` top-N that maintains
the reference's semantics incrementally.

Correctness strategy (SURVEY.md §5.3): every streaming op here has a
batch-equivalent formulation (``window``/``session_window`` work on
batch DataFrames too); tests replay the same data through both paths
and assert equality — the only honest check for streaming semantics.
"""

from topn_spark.streaming.ingest import (
    ingest_batch,
    start_batches,
)
from topn_spark.streaming.joins import (
    enrich_stream,
    interval_join,
    streaming_dedup,
)
from topn_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    streaming_topn_sink,
    tumbling_counts,
)

__all__ = [
    "tumbling_counts",
    "sliding_counts",
    "session_counts",
    "streaming_topn_sink",
    "enrich_stream",
    "interval_join",
    "streaming_dedup",
    "ingest_batch",
    "start_batches",
]
