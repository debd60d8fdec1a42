"""Streaming CDC sink (streaming/cdc_sink.py): micro-batched A/C/D
merges into the ManifestStore must equal the batch merge of the same
updates, touch only batch partitions, and replay as no-ops."""

from __future__ import annotations

import hashlib
import os

import pytest

from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.operators.ingest import (
    ingest_snapshot,
    merge_update_frame,
)
from land_registry_data_ingestion_spark.operators.state import ManifestStore
from land_registry_data_ingestion_spark.sources.csv import read_price_paid_csv
from land_registry_data_ingestion_spark.streaming.cdc_sink import run_cdc_stream

from tests.test_manifest_state import MONTHLY, SNAP, _line, _write


@pytest.fixture()
def booted(spark, tmp_path):
    store = ManifestStore(spark=spark, root=str(tmp_path / "store"))
    snap = _write(tmp_path, "snap.csv", SNAP)
    ingest_snapshot(store, snap, run_id="r-snap")
    return store


def _updates_df(spark, tmp_path, name, lines):
    path = _write(tmp_path, name, lines)
    return read_price_paid_csv(spark, path, n_columns=16)


BATCH2 = [
    _line("T0002", 222000, "2015-06-06", "C"),
    _line("T0006", 600000, "2018-03-03", "A"),
]


def _state_rows(store):
    df = store.current_state().filter(~F.col("is_deleted"))
    return sorted(
        (r.transaction_unique_id, r.price) for r in df.collect()
    )


def test_stream_batches_equal_sequential_frame_merges(
    spark, tmp_path, booted
):
    store = booted
    # stage each micro-batch as one parquet file; maxFilesPerTrigger=1
    # makes the file boundary the batch boundary
    in_dir = tmp_path / "incoming"
    schema = None
    for i, lines in enumerate([MONTHLY, BATCH2]):
        df = _updates_df(spark, tmp_path, f"b{i}.csv", lines)
        schema = df.schema
        df.coalesce(1).write.mode("append").parquet(str(in_dir))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    q = run_cdc_stream(
        stream, store, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    # expected: both batches applied (order of the two parquet files is
    # not guaranteed, but the key sets are disjoint so the end state is
    # order-independent)
    expect = {
        ("{T0001}", 150000),  # C in MONTHLY
        ("{T0002}", 222000),  # C in BATCH2
        # T0003 deleted by MONTHLY
        ("{T0004}", 400000),  # untouched
        ("{T0005}", 500000),  # A in MONTHLY
        ("{T0006}", 600000),  # A in BATCH2
    }
    assert set(_state_rows(store)) == expect
    log = store.file_log().filter(F.col("decision") == "archive")
    assert log.filter(F.col("run_id").startswith("stream-")).count() == 2


def test_replayed_batch_is_noop(spark, tmp_path, booted):
    store = booted
    upd = _updates_df(spark, tmp_path, "m.csv", MONTHLY)
    first = merge_update_frame(store, upd, run_id="stream-00000000")
    state_after = _state_rows(store)
    ledger_n = store.file_log().count()

    replay = merge_update_frame(store, upd, run_id="stream-00000000")
    assert replay["state_location"] == first["state_location"]
    assert _state_rows(store) == state_after
    assert store.file_log().count() == ledger_n  # no new ledger row


def test_invalid_op_batch_rejected_before_any_write(
    spark, tmp_path, booted
):
    store = booted
    bad = _updates_df(
        spark, tmp_path, "bad.csv", [_line("T0001", 1, "2015-01-05", "X")]
    )
    before = _state_rows(store)
    with pytest.raises(ValueError, match="outside A/C/D"):
        merge_update_frame(store, bad, run_id="stream-bad")
    assert _state_rows(store) == before
    assert (
        store.file_log().filter(F.col("run_id") == "stream-bad").count() == 0
    )
    # nothing of the rejected run remains: no parts, no manifest, no counters
    run_dir = f"run={hashlib.sha256(b'stream-bad').hexdigest()[:12]}"
    assert not os.path.exists(os.path.join(store.root, "parts", run_dir))
    assert not os.path.exists(os.path.join(store.root, "manifests", run_dir))
    assert (
        store.operation_log().filter(F.col("run_id") == "stream-bad").count() == 0
    )


def test_null_key_batch_rejected_before_any_write(spark, tmp_path, booted):
    store = booted
    bad = _updates_df(
        spark, tmp_path, "nokey.csv", [_line("T0001", 1, "2015-01-05", "C")]
    ).withColumn("transaction_unique_id", F.lit(None).cast("string"))
    before = _state_rows(store)
    with pytest.raises(ValueError, match="NULL transaction_unique_id"):
        merge_update_frame(store, bad, run_id="stream-nokey")
    assert _state_rows(store) == before
    run_dir = f"run={hashlib.sha256(b'stream-nokey').hexdigest()[:12]}"
    assert not os.path.exists(os.path.join(store.root, "parts", run_dir))
    assert (
        store.operation_log().filter(F.col("run_id") == "stream-nokey").count() == 0
    )


def test_restart_from_checkpoint_processes_only_new_files(
    spark, tmp_path, booted
):
    store = booted
    in_dir = tmp_path / "inc2"
    ckpt = str(tmp_path / "ckpt2")
    df1 = _updates_df(spark, tmp_path, "r0.csv", MONTHLY)
    schema = df1.schema
    df1.coalesce(1).write.mode("append").parquet(str(in_dir))

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(in_dir))
        )
        q = run_cdc_stream(stream, store, checkpoint_dir=ckpt)
        q.awaitTermination(120)

    _run()
    n_runs_1 = (
        store.file_log()
        .filter(F.col("run_id").startswith("stream-"))
        .count()
    )
    assert n_runs_1 == 1

    _updates_df(spark, tmp_path, "r1.csv", BATCH2).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    _run()  # restart against the same checkpoint

    log = store.file_log().filter(F.col("run_id").startswith("stream-"))
    # batch 0 NOT reprocessed: exactly one new ledger row, batch ids move on
    assert log.count() == 2
    assert set(_state_rows(store)) == {
        ("{T0001}", 150000),
        ("{T0002}", 222000),
        ("{T0004}", 400000),
        ("{T0005}", 500000),
        ("{T0006}", 600000),
    }
