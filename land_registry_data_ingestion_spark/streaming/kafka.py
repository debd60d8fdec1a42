"""Kafka wiring for the event pipeline (SURVEY S14, §2.9).

The reference talks to Kafka through confluent-kafka with a fixed
discipline (``lib_kafka.py:6-56``): consumers start at ``earliest`` with
``enable.auto.commit=False`` + ``read_committed`` (commit only after the
effect), producers set ``enable.idempotence``. Structured Streaming keeps
the same guarantees with different machinery, mapped here explicitly:

- ``auto.offset.reset=earliest``      → ``startingOffsets=earliest``
- manual commit-after-effect          → checkpointed ``foreachBatch``
  (offsets live in the checkpoint, advanced only after the batch effect
  succeeds — see ``streaming/conflate.py``)
- ``isolation.level=read_committed``  → ``kafka.isolation.level`` option
- idempotent producer                 → idempotent per-batch_id effects
  (the sink may re-send a batch after crash; effects dedup on batch_id)

The wire-format parse is a PURE function over the kafka reader's fixed
schema (key/value binary + topic/partition/offset/timestamp), so the
whole transformation is testable on static frames without a broker —
only ``.load()`` against a live broker is environment-dependent. Tests
construct the reader (options + parse) and skip the live round-trip when
the ``spark-sql-kafka`` package / a broker is absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Columns the Spark Kafka source emits — the wire contract parse_* rely on.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)


def parse_kafka_events(
    wire: DataFrame, value_schema: T.StructType
) -> DataFrame:
    """Decode kafka wire rows into typed event rows.

    JSON-in-value (the reference's DTO encoding, SURVEY F13) is parsed
    with ``from_json`` against an explicit schema — malformed payloads
    flag ``_corrupt`` (via the PERMISSIVE-mode corrupt-record column;
    ``from_json`` never fails the stream) so callers can route them to a
    dead-letter sink. Kafka metadata (topic/partition/offset/timestamp)
    is preserved for provenance + replay bookkeeping.
    """
    schema_with_corrupt = T.StructType(
        list(value_schema.fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    parsed = wire.select(
        F.col("key").cast("string").alias("event_key"),
        F.from_json(
            F.col("value").cast("string"),
            schema_with_corrupt,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("_ev"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("kafka_timestamp"),
    )
    return parsed.select(
        "event_key",
        F.struct(
            *[F.col(f"_ev.{f.name}") for f in value_schema.fields]
        ).alias("event"),
        "topic",
        "partition",
        "offset",
        "kafka_timestamp",
        F.col("_ev._corrupt_record").isNotNull().alias("_corrupt"),
    )


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = True,
):
    """Configured (unstarted) kafka stream reader with the reference's
    consumer discipline. Returns a ``DataStreamReader``; call ``.load()``
    where a broker (and the kafka connector package) exists."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("kafka.isolation.level", "read_committed")
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )


def to_kafka_wire(
    df: DataFrame, key_col: str, topic: str | None = None
) -> DataFrame:
    """Encode rows for the kafka sink: key from ``key_col``, value = JSON
    of every other column (the DTO encode direction of F13)."""
    payload = [c for c in df.columns if c != key_col]
    out = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*payload)).alias("value"),
    )
    if topic is not None:
        out = out.withColumn("topic", F.lit(topic))
    return out


def kafka_sink_writer(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
):
    """Configured (unstarted) kafka stream writer. Exactly-once effects
    come from the checkpoint + Kafka's transactional/idempotent producer
    on the connector side; this engine's effects additionally dedup per
    batch_id (conflate.py contract)."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )
