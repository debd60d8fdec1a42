"""Streaming CDC → ManifestStore sink: continuous A/C/D ingestion into
the partition-incremental state store.

The reference's updater is a batch job over a monthly file
(`LRD/database_updater.py`); at a streaming cadence the same contract
becomes: per micro-batch, conflate to the newest op per key (the batch
boundary is the drain, as in `streaming/conflate.py`), then CDC-merge
into the store under a batch-derived run id. Idempotence lives in the
ledger — after a crash Structured Streaming re-delivers the last batch,
`merge_update_frame` sees the accepted run_id and does nothing — so the
pipeline is at-least-once delivery with exactly-once state effects, the
same discipline as the reference's commit-after-effect Kafka consumer
(`LRD/lib_land_registry_data/lib_kafka.py:30-32`).

Scale shape per batch: one ledger lookup, one conflation shuffle over
the (small) batch, then the ManifestStore merge — which writes only the
``data_year`` partitions the batch touches, so a steady stream of small
batches never rewrites the 100 TB state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from land_registry_data_ingestion_spark.operators.ingest import merge_update_frame
from land_registry_data_ingestion_spark.operators.state import ManifestStore
from land_registry_data_ingestion_spark.streaming.conflate import conflate_latest

# Every ledger row the sink writes has a run id starting "stream-".
RUN_PREFIX = "stream"


def run_cdc_stream(
    stream: DataFrame,
    store: ManifestStore,
    checkpoint_dir: str,
    ts_col: str | None = None,
) -> StreamingQuery:
    """Start the CDC sink and drain what ``stream`` has available now.
    ``stream`` rows carry the key ``transaction_unique_id``, the state's
    value columns, ``record_op`` (A/C/D) and optionally ``ts_col``, by
    which each micro-batch keeps only the newest row per key (omit it
    only if the source already guarantees ≤1 row per key per batch)."""

    # Run ids must be STREAM-unique, not just batch-unique: a bare
    # f"{RUN_PREFIX}-{batch_id}" would match a stale ledger row after a
    # checkpoint recreation (batch ids restart at 0) and silently no-op
    # genuinely new data. See streaming/identity.py for the tag's
    # lifetime contract.
    from land_registry_data_ingestion_spark.streaming.identity import (
        stream_identity,
    )

    stream_tag = stream_identity(checkpoint_dir)

    def _effect(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if ts_col is not None:
            batch = conflate_latest(batch, ["transaction_unique_id"], ts_col)
        merge_update_frame(
            store, batch, run_id=f"{RUN_PREFIX}-{stream_tag}-{batch_id:08d}"
        )

    return (
        stream.writeStream.foreachBatch(_effect)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
