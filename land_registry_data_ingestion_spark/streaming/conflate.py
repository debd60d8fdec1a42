"""Trigger conflation + foreachBatch pipeline (SURVEY §2.9).

The reference buffers notifications while busy and, after draining, keeps
only the LAST trigger of the right type
(``LRD/land_registry_pp_complete_downloader.py:132-155,247-281``). In
Structured Streaming the equivalent is per-microbatch ``max_by`` conflation
inside ``foreachBatch`` — the batch boundary plays the role of the drain.

Sources are pluggable (`kafka` in production, file/rate/memory in tests —
this container has no Kafka broker, so tests drive the same logic through
a memory/file stream).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def conflate_latest(batch: DataFrame, key_cols: list[str], ts_col: str) -> DataFrame:
    """Keep only the newest row per key within one microbatch (max_by)."""
    others = [c for c in batch.columns if c not in key_cols]
    agg = [F.max_by(F.struct(*others), F.col(ts_col)).alias("_latest")]
    return (
        batch.groupBy(*key_cols)
        .agg(*agg)
        .select(*key_cols, *[F.col(f"_latest.{c}").alias(c) for c in others])
    )


def run_conflated_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    effect: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Wire a stream through conflation into an idempotent ``effect``,
    draining what the stream has available now.

    ``effect(conflated_batch, batch_id)`` must be idempotent per batch_id —
    the checkpoint replays the last batch after a crash (at-least-once
    delivery, exactly-once effect), exactly the reference's
    commit-after-effect contract (lib_kafka.py:30-32, downloader:238).
    """

    def _foreach(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        effect(conflate_latest(batch, key_cols, ts_col), batch_id)

    return (
        stream.writeStream.foreachBatch(_foreach)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
