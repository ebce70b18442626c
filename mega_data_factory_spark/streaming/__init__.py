"""Structured Streaming mode.

The reference is a streaming-batch hybrid: loaders stream records, stages
process continuously, dedup keeps unbounded seen-state, and per-shard
checkpoints provide resume (SURVEY §2.9). Under Spark this maps exactly to
Structured Streaming:

  * incremental pipelined execution  -> micro-batches (``foreachBatch``);
  * per-shard checkpoint/resume      -> ``checkpointLocation`` (source
    offsets + state store; exactly-once file sinks);
  * unbounded dedup seen-set         -> the store-backed dedups' seen-key
    store (``IncrementalExactDeduplicator`` and its siblings), looked up by
    each micro-batch's tag and appended after its sinks land;
  * beyond the reference: real event-time semantics — watermarks, tumbling
    windows, session windows.

``StreamingPipeline`` reuses the SAME operator instances and YAML contract
as the batch runner: filters/refiners are narrow and apply to streaming
frames unchanged; dedup runs per micro-batch inside ``foreachBatch`` with
first-wins semantics *within* each batch, and a store-backed dedup also
rejects keys earlier batches admitted: the runner appends each batch's
new keys to the store (``Pipeline.update_stores``) once its sinks land.
The event-time helpers below (``stream_exact_dedup`` and the
grouped-state ``stream_dedup_with_reps*``) are standalone
``dropDuplicates``/state-store examples outside that runner.
"""

from mega_data_factory_spark.streaming.listener import StreamingMetricsListener
from mega_data_factory_spark.streaming.runner import (
    StreamingPipeline,
    session_window_agg,
    stateful_user_totals,
    stream_dedup_with_reps,
    stream_dedup_with_reps_ttl,
    stream_enrich,
    stream_exact_dedup,
    windowed_agg,
)

__all__ = [
    "StreamingPipeline",
    "StreamingMetricsListener",
    "windowed_agg",
    "session_window_agg",
    "stream_exact_dedup",
    "stateful_user_totals",
    "stream_enrich",
    "stream_dedup_with_reps",
    "stream_dedup_with_reps_ttl",
]
