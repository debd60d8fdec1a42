"""Price-paid CSV reader tests (S3/S4/P9/P10/F2 semantics)."""

from __future__ import annotations

import datetime

from land_registry_data_ingestion_spark.sources.csv import read_price_paid_text

LINE_16 = (
    '"{8AF5A37D-B36C-4EC6-9BE8-9F4PP0001}","95000","2015-01-16 00:00","SW1A 1AA",'
    '"T","N","F","10","","DOWNING STREET","","LONDON","CITY OF WESTMINSTER",'
    '"GREATER LONDON","A","A"'
)
LINE_15 = (
    '"{8AF5A37D-B36C-4EC6-9BE8-9F4PP0002}","120000","2016-03-04 00:00","EC1A 1BB",'
    '"F","Y","L","FLAT 2","BUILDING","HIGH STREET","","LONDON","ISLINGTON",'
    '"GREATER LONDON","C"'
)


def test_read_16_column(spark):
    df = read_price_paid_text(spark, [LINE_16], n_columns=16)
    row = df.collect()[0]
    assert row["price"] == 95000
    assert row["transaction_date"] == datetime.datetime(2015, 1, 16, 0, 0)
    assert row["postcode"] == "SW1A 1AA"
    assert row["ppd_cat"] == "A"
    assert row["record_op"] == "A"
    # NA string columns filled to '' (merge-equality semantics)
    assert row["secondary_address_object_name"] == ""
    assert row["locality"] == ""


def test_read_15_column_adds_null_ppd_cat(spark):
    df = read_price_paid_text(spark, [LINE_15], n_columns=15)
    row = df.collect()[0]
    assert row["price"] == 120000
    # 15-col files: last field is record_op; ppd_cat injected as '' post-fill
    assert row["record_op"] == "C"
    assert row["ppd_cat"] == ""
    assert row["transaction_date"] == datetime.datetime(2016, 3, 4, 0, 0)
    # schema identical to the 16-column read
    df16 = read_price_paid_text(spark, [LINE_16], n_columns=16)
    assert df.schema == df16.schema


def test_bad_rows_yield_nulls_not_errors(spark):
    bad = '"{X}","not_a_number","garbage date","PC","D","N","F",' + ",".join(
        ['""'] * 9
    )
    df = read_price_paid_text(spark, [bad], n_columns=16)
    row = df.collect()[0]
    assert row["price"] is None
    assert row["transaction_date"] is None


def test_rejects_capture_bad_price_and_date(spark, tmp_path):
    from land_registry_data_ingestion_spark.sources.csv import (
        read_price_paid_csv_with_rejects,
    )

    lines = [
        '"{T1}","100000","2015-01-05 00:00","SW1A 1AA","T","N","F","10","",'
        '"S","","L","D","C","A","A"',
        '"{T2}","not-a-number","2015-01-05 00:00","SW1A 1AA","T","N","F","10",'
        '"","S","","L","D","C","A","A"',
        '"{T3}","100000","05/01/2015","SW1A 1AA","T","N","F","10","","S","",'
        '"L","D","C","A","A"',
    ]
    p = tmp_path / "bad.csv"
    p.write_text("\n".join(lines) + "\n")
    records, rejects = read_price_paid_csv_with_rejects(spark, str(p))
    got = {r["transaction_unique_id"]: r["reject_reason"] for r in rejects.collect()}
    assert got == {"{T2}": "bad_price", "{T3}": "bad_date"}
    assert records.count() == 3  # records frame still carries all rows


def test_strict_ingest_rejects_malformed_batch(spark, tmp_path):
    import datetime

    import pytest

    from land_registry_data_ingestion_spark.operators.ingest import ingest_snapshot
    from land_registry_data_ingestion_spark.operators.state import ManifestStore

    p = tmp_path / "bad.csv"
    p.write_text(
        '"{T9}","oops","2015-01-05 00:00","SW1A 1AA","T","N","F","10","","S",'
        '"","L","D","C","A","A"\n'
    )
    store = ManifestStore(spark=spark, root=str(tmp_path / "root"))
    with pytest.raises(ValueError, match="bad_price"):
        ingest_snapshot(store, str(p), "r1", now=datetime.datetime(2024, 1, 1))
    # nothing was written: no ledger, no state
    assert store.last_accepted() is None
