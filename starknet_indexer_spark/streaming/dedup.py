"""Streaming exact deduplication with bounded state.

The streaming counterpart of the batch ``dedup_exact`` query
(queries/pipeline_text.py): a crawler/feed re-emits the same document
(retries, mirror fetches, at-least-once delivery), and the pipeline
must pass each key through exactly once.

``dropDuplicatesWithinWatermark`` keeps per-key state only until the
event-time watermark passes the key's first-seen timestamp + the
watermark delay, so state is bounded by the duplicate-arrival skew —
NOT by history length. Plain ``dropDuplicates`` on a stream would grow
state forever. Duplicates farther apart than the watermark are the
residual risk (indistinguishable from a legitimate new row without
unbounded memory), and the batch recompute (``dedup_exact``) is the
periodic ground-truth sweep, exactly like the reference's
incremental-table-vs-view oracle pattern (src/dao.ts:510-515). The
reference's idempotent insert path (ON CONFLICT DO NOTHING on event
inserts) solves the same redelivery problem with a storage-side unique
index; this is the stream-side equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def deduped_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """First arrival per key passes; re-arrivals within the watermark
    window are dropped. Works in append mode (rows emit immediately;
    only the dedup state waits on the watermark). State: one entry per
    distinct key inside the horizon — bounded by arrival rate x delay,
    independent of stream length."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)
