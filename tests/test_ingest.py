"""End-to-end ingestion pipeline tests (SURVEY §3.1 main path + §5.2
invariants): sha dedup short-circuit, idempotent replays, CDC merge into
the snapshot, reconcile-clean after load."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.operators.ingest import (
    ingest_monthly_update,
    ingest_snapshot,
)
from land_registry_data_ingestion_spark.operators.reconcile import reconcile
from land_registry_data_ingestion_spark.operators.state import ManifestStore
from land_registry_data_ingestion_spark.sources.csv import read_price_paid_csv


def _line(tuid: str, price: int, date: str, op: str = "A") -> str:
    return (
        f'"{{{tuid}}}","{price}","{date} 00:00","SW1A {tuid[-2:]}","T","N","F",'
        f'"10","","STREET","","LONDON","DIST","COUNTY","A","{op}"'
    )


SNAP1 = [
    _line("T0001", 100000, "2015-01-05"),
    _line("T0002", 200000, "2015-01-06"),
    _line("T0003", 300000, "2015-01-07"),
]
# monthly: change T0002, delete T0003, add T0004
MONTHLY = [
    _line("T0002", 250000, "2015-01-06", "C"),
    _line("T0003", 300000, "2015-01-07", "D"),
    _line("T0004", 400000, "2015-02-01", "A"),
]


@pytest.fixture()
def store(spark, tmp_path):
    return ManifestStore(spark=spark, root=str(tmp_path / "store"))


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def _run_dirs(store) -> set[str]:
    """The run directories under the store's parts/ and manifests/."""
    return {
        os.path.join(sub, d)
        for sub in ("parts", "manifests")
        if os.path.isdir(os.path.join(store.root, sub))
        for d in os.listdir(os.path.join(store.root, sub))
    }


def test_snapshot_then_dedup_then_update(spark, store, tmp_path):
    snap = _write(tmp_path, "pp-complete-1.csv", SNAP1)
    t0 = datetime.datetime(2024, 1, 1)

    row1 = ingest_snapshot(store, snap, "r1", now=t0)
    assert row1["decision"] == "archive"
    assert row1["row_count"] == 3
    assert store.current_state().count() == 3

    # identical re-download → garbage_collect, no new state
    row2 = ingest_snapshot(store, snap, "r2", now=t0 + datetime.timedelta(days=1))
    assert row2["decision"] == "garbage_collect"
    assert store.last_accepted()["run_id"] == "r1"

    # reconcile engine state vs the raw file → zero diffs (SURVEY Q6 self-test)
    file_df = read_price_paid_csv(spark, snap).drop("record_op")
    state = store.current_state().filter(~F.col("is_deleted")).select(
        file_df.columns
    )
    counts = {
        r["presence"]: r["n_rows"]
        for r in reconcile(state, file_df).counts.collect()
    }
    assert counts == {"both": 3}

    # monthly update: C/D/A applied via CDC merge
    monthly = _write(tmp_path, "pp-monthly-1.csv", MONTHLY)
    row3 = ingest_monthly_update(
        store, monthly, "r3", now=t0 + datetime.timedelta(days=30)
    )
    assert row3["decision"] == "archive"
    state = {
        r["transaction_unique_id"]: r.asDict()
        for r in store.current_state().collect()
    }
    assert state["{T0002}"]["price"] == 250000
    assert state["{T0003}"]["is_deleted"] is True
    assert state["{T0004}"]["price"] == 400000
    assert state["{T0001}"]["price"] == 100000
    # live-row ledger: 3 - 1 deleted + 1 added = 3 live, 4 total
    live = store.current_state().filter(~F.col("is_deleted")).count()
    assert (live, store.current_state().count()) == (3, 4)

    # operation log recorded the outcome counters
    oplog = spark.read.parquet(f"{store.root}/operation_log")
    got = {r["outcome"]: r["n_rows"] for r in oplog.collect()}
    assert got == {"change_change": 1, "delete_delete": 1, "add_insert": 1}

    # file_log is an append-only ledger with every run
    log = store.file_log().orderBy("run_datetime").collect()
    assert [r["run_id"] for r in log] == ["r1", "r2", "r3"]


def test_changed_snapshot_supersedes(spark, store, tmp_path):
    snap1 = _write(tmp_path, "s1.csv", SNAP1)
    snap2 = _write(tmp_path, "s2.csv", SNAP1 + [_line("T0009", 900000, "2015-03-01")])
    ingest_snapshot(store, snap1, "r1", now=datetime.datetime(2024, 1, 1))
    ingest_snapshot(store, snap2, "r2", now=datetime.datetime(2024, 1, 2))
    assert store.last_accepted()["run_id"] == "r2"
    assert store.current_state().count() == 4
    # both run-addressed state dirs exist (history retained)
    log = store.file_log().filter(F.col("decision") == "archive").collect()
    assert len({r["state_location"] for r in log}) == 2


def test_monthly_update_rejects_duplicate_keys(spark, store, tmp_path):
    """A monthly file with a duplicated transaction_unique_id must fail
    the run before any state is written (reference crashes via .one())."""
    snap = _write(tmp_path, "pp-complete-dup.csv", SNAP1)
    t0 = datetime.datetime(2024, 1, 1)
    ingest_snapshot(store, snap, "r1", now=t0)
    dup_monthly = _write(
        tmp_path,
        "pp-monthly-dup.csv",
        [
            _line("T0002", 250000, "2015-01-06", "C"),
            _line("T0002", 260000, "2015-01-06", "C"),
        ],
    )
    with pytest.raises(ValueError, match="duplicate transaction_unique_id"):
        ingest_monthly_update(
            store, dup_monthly, "r2", now=datetime.datetime(2024, 2, 1)
        )
    # state unchanged, no ledger row appended for the rejected run
    assert store.current_state().count() == 3
    assert store.file_log().count() == 1


def test_snapshot_rejects_duplicate_keys(spark, store, tmp_path):
    dup_snap = _write(
        tmp_path,
        "pp-complete-dup2.csv",
        SNAP1 + [_line("T0001", 111111, "2015-03-01")],
    )
    with pytest.raises(ValueError, match="duplicate transaction_unique_id"):
        ingest_snapshot(store, dup_snap, "r1", now=datetime.datetime(2024, 1, 1))


def test_ingest_never_rereads_state_for_row_count(spark, store, tmp_path, monkeypatch):
    """Row counts come from df.observe() during the write — never a
    read-back count() (at 100 TB that is a second full table scan).

    The snapshot run IS allowed exactly one read of its freshly written
    state: the round-4 single-parse gate probes key uniqueness against
    the written parquet (a dictionary-encoded single-column scan) instead
    of running a second full CSV parse before the write — strictly
    cheaper, and the ledger append still only happens after the probe
    passes. The monthly path must not re-read its state at all."""
    from pyspark.sql.readwriter import DataFrameReader

    read_paths: list[str] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)

    def reads_of(row):
        parts = store._parts_dir(row["state_location"])
        return [p for p in read_paths if p.startswith(parts)]

    snap = _write(tmp_path, "pp-complete-obs.csv", SNAP1)
    t0 = datetime.datetime(2024, 1, 1)
    row1 = ingest_snapshot(store, snap, "r1", now=t0)
    assert row1["row_count"] == 3  # from observe, not the probe read
    assert reads_of(row1) == [os.path.join(store._parts_dir(row1["state_location"]),
                                           "data_year=2015")]

    monthly = _write(tmp_path, "pp-monthly-obs.csv", MONTHLY)
    read_paths.clear()
    row2 = ingest_monthly_update(
        store, monthly, "r2", now=datetime.datetime(2024, 2, 1)
    )
    assert row2["row_count"] == 4  # 3 + insert (delete is soft)
    assert reads_of(row2) == []


def test_compact_file_log_bounds_files_and_preserves_latest(spark, store, tmp_path):
    """100 appended runs end as a bounded file count with last_accepted()
    (and the full ledger contents) unchanged."""
    import datetime as _dt

    for i in range(100):
        store._append_log(
            {
                "run_id": f"r{i:03d}",
                "source_path": f"/staged/{i}.csv",
                "file_kind": "complete",
                "sha256": f"{i:064x}",
                "decision": "archive" if i % 3 == 0 else "garbage_collect",
                "row_count": i if i % 3 == 0 else None,
                "state_location": f"/state/{i}" if i % 3 == 0 else None,
                "run_datetime": _dt.datetime(2024, 1, 1) + _dt.timedelta(days=i),
            }
        )
    parts = lambda: sum(  # noqa: E731
        1
        for f in os.listdir(store.file_log_path)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert parts() == 100
    before_last = store.last_accepted()
    before_rows = sorted(r["run_id"] for r in store.file_log().collect())

    assert store.compact_file_log() == 100
    assert parts() == 1
    assert store.last_accepted() == before_last
    assert sorted(r["run_id"] for r in store.file_log().collect()) == before_rows

    # the threshold probe: under the bound → no-op, over → compacts
    assert store.maybe_compact_file_log() is False
    for i in range(100, 170):
        store._append_log(
            {
                "run_id": f"r{i:03d}",
                "source_path": f"/staged/{i}.csv",
                "file_kind": "monthly",
                "sha256": f"{i:064x}",
                "decision": "garbage_collect",
                "row_count": None,
                "state_location": None,
                "run_datetime": _dt.datetime(2024, 1, 1) + _dt.timedelta(days=i),
            }
        )
    assert parts() == 71
    assert store.maybe_compact_file_log() is True
    assert parts() == 1
    assert store.file_log().count() == 170


def test_rejected_snapshot_discards_uncommitted_state(spark, store, tmp_path):
    """The single-parse gate writes state BEFORE validating; a rejected
    snapshot must leave no ledger row AND no orphan state on disk
    (neither manifest nor parts)."""
    dup_snap = _write(
        tmp_path,
        "pp-complete-dup3.csv",
        SNAP1 + [_line("T0001", 111111, "2015-03-01")],
    )
    with pytest.raises(ValueError, match="duplicate transaction_unique_id"):
        ingest_snapshot(store, dup_snap, "r1", now=datetime.datetime(2024, 1, 1))
    assert store.file_log().count() == 0
    loc = store.state_path("r1")
    assert not os.path.exists(loc)
    assert not os.path.exists(store._parts_dir(loc))
    assert _run_dirs(store) == set()


def test_empty_snapshot_accepted_not_crashed(spark, store, tmp_path):
    """Zero-row snapshot: F.sum over no rows observes NULL — the gate
    must read that as 0 bad rows (the reference accepts an empty file),
    not raise TypeError and strand the orphan state dir."""
    empty = _write(tmp_path, "pp-complete-empty.csv", [])
    row = ingest_snapshot(store, empty, "r_empty", now=datetime.datetime(2024, 1, 1))
    assert row["decision"] == "archive"
    assert row["row_count"] == 0
    # the empty state is READABLE, not a footer-less dir
    assert store.current_state().count() == 0
