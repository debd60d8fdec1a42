"""Daily pipeline shell (§3.1): fetch → decide → ingest → archive/GC as
one cycle, including the sha short-circuit on a re-run."""

from __future__ import annotations

import datetime
import os

import pytest

from land_registry_data_ingestion_spark.operators.pipeline import (
    make_store,
    run_monthly_cycle,
    run_snapshot_cycle,
)
from land_registry_data_ingestion_spark.operators.state import ManifestStore
from tests.test_fetch import FlakyTransport
from tests.test_ingest import MONTHLY, SNAP1


@pytest.fixture()
def store(spark, tmp_path):
    # The pipeline's one store, exercised end-to-end by the cycle suite.
    s = make_store(spark, str(tmp_path / "store"))
    assert isinstance(s, ManifestStore)
    return s


def test_snapshot_cycle_archives_staged_file(spark, store, tmp_path):
    payload = ("\n".join(SNAP1) + "\n").encode()
    row = run_snapshot_cycle(
        store,
        "http://example.invalid/pp-complete.txt",
        str(tmp_path / "staging"),
        str(tmp_path / "archive"),
        "r1",
        transport=FlakyTransport(payload, n_failures=2),
        now=datetime.datetime(2024, 1, 1),
        sleep=lambda s: None,
    )
    assert row["decision"] == "archive" and row["row_count"] == 3
    assert os.path.basename(row["archived_path"]) == "r1-pp-complete.csv"
    # staged file moved, not copied
    assert not os.path.exists(str(tmp_path / "staging" / "r1-pp-complete.csv"))
    assert os.path.exists(row["archived_path"].replace("file:", ""))
    assert store.current_state().count() == 3


def test_rerun_same_content_garbage_collects(spark, store, tmp_path):
    payload = ("\n".join(SNAP1) + "\n").encode()
    args = dict(
        transport=FlakyTransport(payload, n_failures=0),
        sleep=lambda s: None,
    )
    run_snapshot_cycle(
        store,
        "http://example.invalid/pp-complete.txt",
        str(tmp_path / "staging"),
        str(tmp_path / "archive"),
        "r1",
        now=datetime.datetime(2024, 1, 1),
        **args,
    )
    row2 = run_snapshot_cycle(
        store,
        "http://example.invalid/pp-complete.txt",
        str(tmp_path / "staging"),
        str(tmp_path / "archive"),
        "r2",
        now=datetime.datetime(2024, 1, 2),
        transport=FlakyTransport(payload, n_failures=0),
        sleep=lambda s: None,
    )
    assert row2["decision"] == "garbage_collect"
    assert row2["archived_path"] is None
    # GC'd staged file removed; first run's archive retained
    assert not os.path.exists(str(tmp_path / "staging" / "r2-pp-complete.csv"))
    assert os.path.exists(str(tmp_path / "archive" / "r1-pp-complete.csv"))
    # state unchanged (pointer still at r1's snapshot)
    assert store.current_state().count() == 3


def test_monthly_cycle_merges_and_archives(spark, store, tmp_path):
    run_snapshot_cycle(
        store,
        "http://example.invalid/pp-complete.txt",
        str(tmp_path / "staging"),
        str(tmp_path / "archive"),
        "r1",
        transport=FlakyTransport(("\n".join(SNAP1) + "\n").encode(), 0),
        now=datetime.datetime(2024, 1, 1),
        sleep=lambda s: None,
    )
    row = run_monthly_cycle(
        store,
        "http://example.invalid/pp-monthly.txt",
        str(tmp_path / "staging"),
        str(tmp_path / "archive"),
        "r2",
        transport=FlakyTransport(("\n".join(MONTHLY) + "\n").encode(), 0),
        now=datetime.datetime(2024, 2, 1),
        sleep=lambda s: None,
    )
    assert row["decision"] == "archive"
    assert row["row_count"] == 4  # 3 + 1 insert (delete is soft)
    assert store.current_state().filter("is_deleted").count() == 1
