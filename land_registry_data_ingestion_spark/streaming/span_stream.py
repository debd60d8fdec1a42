"""Streaming exact-substring dedup: ``SpanStore`` behind a checkpointed
``foreachBatch`` — each micro-batch of documents is probed for token
spans duplicated within the batch OR anywhere in the accepted corpus,
and its gram counts fold into the persistent index.

Same contract as the other streaming sinks (`cdc_sink`, `corpus_stream`):
at-least-once delivery from the checkpoint, exactly-once effect from
batch-id-addressed index writes (a replayed batch overwrites its own
partition and probes against everything EXCEPT it). The effect callback
receives the batch's detected spans so callers can route them (trim,
quarantine, metrics) without a second detection pass.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from land_registry_data_ingestion_spark.operators.span_store import SpanStore


def run_span_dedup_stream(
    stream: DataFrame,
    store: SpanStore,
    checkpoint_dir: str,
    on_spans: Callable[[DataFrame, int], None] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int = 32,
) -> StreamingQuery:
    """Start the span-dedup sink. ``on_spans(spans_df, batch_id)`` runs
    AFTER the batch's counts are committed to the index.

    ``compact_every``: once the index accumulates this many live
    per-batch partitions they are folded into one pre-aggregated
    partition (``SpanStore.compact``) before the next ingest — without
    it, every batch's probe re-plans O(batches) directories and the
    per-batch wall time creeps up (measured by the 100-batch soak,
    ``scripts/soak_streams.py``). Compaction runs at the TOP of the
    batch with the in-flight batch excluded: everything else is
    checkpoint-committed, so no foldable partition can ever be
    replayed. ``0`` disables."""
    from land_registry_data_ingestion_spark.streaming.identity import (
        stream_identity,
    )

    # Index partitions are addressed by STREAM-scoped batch keys: with a
    # bare batch id, a recreated checkpoint (ids restart at 0) would
    # overwrite the original stream's batch=0 gram counts — silently
    # corrupting the accepted-corpus index. See streaming/identity.py.
    stream_tag = stream_identity(checkpoint_dir)

    def _effect(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        from land_registry_data_ingestion_spark.util import release_caches

        try:
            batch_tag = f"{stream_tag}-{batch_id:08d}"
            if compact_every:
                store.compact(
                    exclude_batch=batch_tag, min_partitions=compact_every
                )
            spans = store.ingest_batch(
                batch,
                batch_tag,
                text_col=text_col,
                id_col=id_col,
            )
            if on_spans is not None:
                on_spans(spans, batch_id)
        finally:
            # ingest_batch barriers its k-gram frame; without an explicit
            # release a long-running stream accumulates one DISK_ONLY
            # cache per batch (same discipline as corpus_stream.py).
            release_caches()

    return (
        stream.writeStream.foreachBatch(_effect)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
