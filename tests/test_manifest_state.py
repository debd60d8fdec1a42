"""ManifestStore tests: the incremental CDC write must produce the
expected rows and the golden outcome counters while physically touching
ONLY the partitions the batch can affect — unchanged ``data_year``
partitions are carried by reference to the run that last wrote them —
and its control plane (ledger, operation log, manifests, part counts)
must run without a Spark job."""

from __future__ import annotations

import contextlib
import datetime
import os
import time

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.operators.ingest import (
    ingest_monthly_update,
    ingest_snapshot,
    merge_update_frame,
)
from land_registry_data_ingestion_spark.operators.state import (
    FILE_LOG_MAX_PARTS,
    ManifestStore,
    _index_path,
    _read_key_index,
    _write_key_index,
)


def _line(tuid: str, price: int, date: str, op: str = "A") -> str:
    return (
        f'"{{{tuid}}}","{price}","{date} 00:00","SW1A {tuid[-2:]}","T","N","F",'
        f'"10","","STREET","","LONDON","DIST","COUNTY","A","{op}"'
    )


# years: 2015 (T0001, T0002), 2016 (T0003), 2017 (T0004)
SNAP = [
    _line("T0001", 100000, "2015-01-05"),
    _line("T0002", 200000, "2015-06-06"),
    _line("T0003", 300000, "2016-03-07"),
    _line("T0004", 400000, "2017-08-01"),
]
# change in 2015, delete in 2016, insert into new year 2018; 2017 untouched
MONTHLY = [
    _line("T0001", 150000, "2015-01-05", "C"),
    _line("T0003", 300000, "2016-03-07", "D"),
    _line("T0005", 500000, "2018-02-01", "A"),
]


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()), key=repr
    )


def _part_years(parts_dir: str) -> list[str]:
    if not os.path.isdir(parts_dir):
        return []
    return sorted(d for d in os.listdir(parts_dir) if d.startswith("data_year="))


def _state(df) -> dict[str, tuple]:
    """key → (price, transaction year, is_deleted) of every state row."""
    cols = ["transaction_unique_id", "price", F.year("transaction_date"), "is_deleted"]
    return {k: (p, y, d) for k, p, y, d in df.select(cols).collect()}


def _counters(store, run_id: str) -> dict[tuple, int]:
    return {
        (r["record_op"], r["outcome"]): r["n_rows"]
        for r in store.operation_log().collect()
        if r["run_id"] == run_id
    }


SNAP_STATE = {
    "{T0001}": (100000, 2015, False),
    "{T0002}": (200000, 2015, False),
    "{T0003}": (300000, 2016, False),
    "{T0004}": (400000, 2017, False),
}
MONTHLY_STATE = {
    "{T0001}": (150000, 2015, False),
    "{T0002}": (200000, 2015, False),
    "{T0003}": (300000, 2016, True),
    "{T0004}": (400000, 2017, False),
    "{T0005}": (500000, 2018, False),
}
MONTHLY_COUNTERS = {
    ("C", "change_change"): 1,
    ("D", "delete_delete"): 1,
    ("A", "add_insert"): 1,
}


@pytest.fixture()
def store(spark, tmp_path):
    return ManifestStore(spark=spark, root=str(tmp_path / "mani"))


def test_snapshot_parity_and_manifest(spark, store, tmp_path):
    snap = _write(tmp_path, "s.csv", SNAP)
    row = ingest_snapshot(store, snap, "r1", now=datetime.datetime(2024, 1, 1))
    assert row["row_count"] == 4
    assert _state(store.current_state()) == SNAP_STATE
    assert "data_year" not in store.current_state().columns
    entries = store._manifest_entries(row["state_location"])
    assert [(e["data_year"], e["row_count"]) for e in entries] == [
        (2015, 2),
        (2016, 1),
        (2017, 1),
    ]


# One batch that reaches all 12 merge outcomes through the store (the
# golden matrix of tests/test_merge.py, on price-paid rows spread over
# years so that 2018 stays untouched). K03, K05 and K12 are deleted by a
# first merge so the batch can meet deleted rows.
GOLDEN_SNAP = [
    _line("K0001", 100, "2015-01-01"),
    _line("K0002", 200, "2015-02-01"),
    _line("K0003", 300, "2016-01-01"),
    _line("K0004", 400, "2016-02-01"),
    _line("K0005", 500, "2016-03-01"),
    _line("K0006", 600, "2017-01-01"),
    _line("K0009", 900, "2017-02-01"),
    _line("K0010", 1000, "2018-01-01"),
    _line("K0011", 1100, "2017-03-01"),
    _line("K0012", 1200, "2016-04-01"),
]
GOLDEN_DELETES = [
    _line("K0003", 300, "2016-01-01", "D"),
    _line("K0005", 500, "2016-03-01", "D"),
    _line("K0012", 1200, "2016-04-01", "D"),
]
GOLDEN_BATCH = [  # (update line, the outcome it must take)
    (_line("K0001", 100, "2015-01-01", "A"), "add_ignore"),
    (_line("K0002", 201, "2015-02-01", "A"), "add_change"),
    (_line("K0003", 301, "2016-01-01", "A"), "add_undelete_change"),
    (_line("K0007", 700, "2019-01-01", "A"), "add_insert"),
    (_line("K0004", 400, "2016-02-01", "C"), "change_ignore"),
    (_line("K0006", 601, "2017-01-01", "C"), "change_change"),
    (_line("K0005", 501, "2016-03-01", "C"), "change_ignore_deleted"),
    (_line("K0008", 800, "2019-02-01", "C"), "change_insert"),
    (_line("K0009", 900, "2017-02-01", "D"), "delete_delete"),
    (_line("K0011", 1101, "2017-03-01", "D"), "delete_change_delete"),
    (_line("K0012", 1201, "2016-04-01", "D"), "delete_ignore_deleted"),
    (_line("K0013", 1300, "2019-03-01", "D"), "delete_ignore_missing"),
]
GOLDEN_STATE = {
    "{K0001}": (100, 2015, False),
    "{K0002}": (201, 2015, False),
    "{K0003}": (301, 2016, False),
    "{K0004}": (400, 2016, False),
    "{K0005}": (500, 2016, True),
    "{K0006}": (601, 2017, False),
    "{K0007}": (700, 2019, False),
    "{K0008}": (800, 2019, False),
    "{K0009}": (900, 2017, True),
    "{K0010}": (1000, 2018, False),
    "{K0011}": (1101, 2017, True),
    "{K0012}": (1200, 2016, True),
}


def test_merge_parity_and_partition_reuse(spark, store, tmp_path):
    t = datetime.datetime(2024, 1, 1)
    snap_row = ingest_snapshot(store, _write(tmp_path, "g.csv", GOLDEN_SNAP), "r1", now=t)
    ingest_monthly_update(
        store, _write(tmp_path, "d.csv", GOLDEN_DELETES), "r2",
        now=t + datetime.timedelta(days=1),
    )
    row = ingest_monthly_update(
        store, _write(tmp_path, "b.csv", [line for line, _ in GOLDEN_BATCH]), "r3",
        now=t + datetime.timedelta(days=2),
    )
    assert _counters(store, "r3") == {
        (line[-2], outcome): 1 for line, outcome in GOLDEN_BATCH
    }
    assert _state(store.current_state()) == GOLDEN_STATE
    assert row["row_count"] == len(GOLDEN_STATE)

    # the merge run physically wrote ONLY the touched years
    merge_parts = store._parts_dir(row["state_location"])
    assert _part_years(merge_parts) == [
        "data_year=2015",
        "data_year=2016",
        "data_year=2017",
        "data_year=2019",
    ]
    # 2018 is carried by reference to the snapshot run's partition dir
    entries = {
        e["data_year"]: e for e in store._manifest_entries(row["state_location"])
    }
    snap_parts = store._parts_dir(snap_row["state_location"])
    assert entries[2018]["path"] == os.path.join(snap_parts, "data_year=2018")
    for y in (2015, 2016, 2017, 2019):
        assert entries[y]["path"].startswith(merge_parts)
    assert entries[2016]["row_count"] == 4  # soft-deleted rows stay

    # a parts dir is hive-partitioned: a year predicate prunes at the scan
    df = spark.read.parquet(merge_parts).filter("data_year = 2016")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "data_year" in plan.split("PartitionFilters: [")[1].split("]")[0]
    assert df.count() == 4


def test_year_moving_change_rewrites_both_years(spark, store, tmp_path):
    """A C op that moves transaction_date across years must drop the row
    from the old partition and land it in the new one — the old year is
    'touched' via the key scan even though no update row targets it."""
    snap = _write(tmp_path, "s.csv", SNAP)
    move = _write(
        tmp_path, "mv.csv", [_line("T0004", 400000, "2019-08-01", "C")]
    )
    ingest_snapshot(store, snap, "r1", now=datetime.datetime(2024, 1, 1))
    ingest_monthly_update(store, move, "r2", now=datetime.datetime(2024, 2, 1))
    assert _state(store.current_state()) == dict(
        SNAP_STATE, **{"{T0004}": (400000, 2019, False)}
    )

    row_m = store.last_accepted()
    entries = {
        e["data_year"]: e for e in store._manifest_entries(row_m["state_location"])
    }
    # 2017 emptied out entirely → no manifest entry; 2019 holds the row
    assert sorted(entries) == [2015, 2016, 2019]
    assert entries[2019]["row_count"] == 1
    # only the moved row's years were written by the merge run
    assert _part_years(store._parts_dir(row_m["state_location"])) == [
        "data_year=2019"
    ]
    moved = store.current_state().filter(
        F.col("transaction_unique_id") == "{T0004}"
    ).collect()
    assert [r["transaction_date"].year for r in moved] == [2019]


def test_vacuum_keeps_referenced_partitions(spark, store, tmp_path):
    snap = _write(tmp_path, "s.csv", SNAP)
    upd = _write(tmp_path, "m.csv", MONTHLY)
    snap_row = ingest_snapshot(store, snap, "r1", now=datetime.datetime(2024, 1, 1))
    ingest_monthly_update(store, upd, "r2", now=datetime.datetime(2024, 2, 1))

    before = _rows(store.current_state())
    removed = store.vacuum(keep_runs=1)
    # the snapshot's 2015/2016 partitions are superseded → removed;
    # its 2017 partition is still referenced by the merge manifest → kept
    snap_parts = store._parts_dir(snap_row["state_location"])
    assert sorted(os.path.basename(p) for p in removed) == [
        "data_year=2015",
        "data_year=2016",
    ]
    assert all(p.startswith(snap_parts) for p in removed)
    assert _part_years(snap_parts) == ["data_year=2017"]
    assert _rows(store.current_state()) == before

    # a second vacuum finds nothing left to delete
    assert store.vacuum(keep_runs=1) == []


def test_insert_only_batch_reads_no_old_partitions(spark, store, tmp_path):
    """A batch whose keys are all new and whose years are all new must
    not rewrite any existing partition."""
    snap = _write(tmp_path, "s.csv", SNAP)
    ins = _write(
        tmp_path, "ins.csv", [_line("T0009", 900000, "2020-05-01", "A")]
    )
    snap_row = ingest_snapshot(store, snap, "r1", now=datetime.datetime(2024, 1, 1))
    row = ingest_monthly_update(store, ins, "r2", now=datetime.datetime(2024, 2, 1))
    assert row["row_count"] == 5
    assert _part_years(store._parts_dir(row["state_location"])) == [
        "data_year=2020"
    ]
    entries = {
        e["data_year"]: e["path"]
        for e in store._manifest_entries(row["state_location"])
    }
    snap_parts = store._parts_dir(snap_row["state_location"])
    for y in (2015, 2016, 2017):
        assert entries[y].startswith(snap_parts)


def test_state_as_of_time_travel(spark, store, tmp_path):
    """Any un-vacuumed accepted run is readable as-of: the snapshot run's
    state must be re-readable unchanged after a later merge."""
    snap = _write(tmp_path, "s.csv", SNAP)
    upd = _write(tmp_path, "m.csv", MONTHLY)
    ingest_snapshot(store, snap, "r1", now=datetime.datetime(2024, 1, 1))
    before = _rows(store.current_state())
    ingest_monthly_update(store, upd, "r2", now=datetime.datetime(2024, 2, 1))

    assert _rows(store.state_as_of("r1")) == before
    assert _rows(store.state_as_of("r2")) == _rows(store.current_state())
    with pytest.raises(KeyError):
        store.state_as_of("no-such-run")


def _files(store) -> dict[str, float]:
    """Every file under the store's parts/ and manifests/, with its mtime."""
    out = {}
    for sub in ("parts", "manifests"):
        for d, _, names in os.walk(os.path.join(store.root, sub)):
            for n in names:
                out[os.path.join(d, n)] = os.stat(os.path.join(d, n)).st_mtime_ns
    return out


def test_monthly_redelivery_of_an_older_file_keeps_that_runs_state(
    spark, store, tmp_path
):
    """A monthly file byte-identical to an OLDER accepted one (not the
    last) is a new run: it gets a state location of its own, and the
    older run's state reads back unchanged."""
    t0 = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    m1 = _write(tmp_path, "m1.csv", [_line("T0001", 150000, "2015-01-05", "C")])
    m2 = _write(tmp_path, "m2.csv", [_line("T0002", 1, "2015-06-06", "C")])
    ingest_snapshot(store, _write(tmp_path, "s.csv", SNAP), "r1", now=t0)
    r2 = ingest_monthly_update(store, m1, "r2", now=t0 + day)
    r2_rows = _rows(store.state_as_of("r2"))
    ingest_monthly_update(store, m2, "r3", now=t0 + 2 * day)
    r4 = ingest_monthly_update(store, m1, "r4", now=t0 + 3 * day)

    assert r4["decision"] == "archive"
    assert r4["state_location"] != r2["state_location"]
    assert _rows(store.state_as_of("r2")) == r2_rows
    assert _state(store.state_as_of("r2"))["{T0002}"] == (200000, 2015, False)
    assert _state(store.current_state())["{T0002}"] == (1, 2015, False)


def test_snapshot_redelivery_of_an_older_file_keeps_that_runs_state(
    spark, store, tmp_path
):
    """A snapshot byte-identical to an OLDER accepted one gets its own
    state location and leaves the older run's rows (audit stamps
    included) as they were; re-running a committed run_id returns its
    ledger row and rewrites nothing."""
    t0 = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    s1 = _write(tmp_path, "s1.csv", SNAP)
    s2 = _write(tmp_path, "s2.csv", SNAP[:3])
    a = ingest_snapshot(store, s1, "a", now=t0)
    a_rows = _rows(store.state_as_of("a"))
    ingest_snapshot(store, s2, "b", now=t0 + day)
    c = ingest_snapshot(store, s1, "c", now=t0 + 2 * day)

    assert c["decision"] == "archive"
    assert c["state_location"] != a["state_location"]
    # every column, a's created_datetime stamps included (c's time when
    # c rewrote a's directory)
    assert _rows(store.state_as_of("a")) == a_rows

    files, n_ledger = _files(store), store.file_log().count()
    assert ingest_snapshot(store, s1, "a", now=t0 + 3 * day) == a
    assert _files(store) == files
    assert store.file_log().count() == n_ledger


def test_replay_of_a_committed_run_runs_no_spark_job(spark, store, tmp_path):
    """Re-running a committed run_id returns its ledger row before the
    parse and before the gate, through every entry point."""
    from land_registry_data_ingestion_spark.sources.csv import read_price_paid_csv

    t0 = datetime.datetime(2024, 1, 1)
    snap = _write(tmp_path, "s.csv", SNAP)
    upd = _write(tmp_path, "m.csv", MONTHLY)
    rows = {
        "r1": ingest_snapshot(store, snap, "r1", now=t0),
        "r2": ingest_monthly_update(store, upd, "r2", now=t0 + datetime.timedelta(days=1)),
    }
    frame = read_price_paid_csv(spark, upd)
    rows["r3"] = merge_update_frame(store, frame, run_id="r3")
    later = t0 + datetime.timedelta(days=5)
    calls = {
        "r1": lambda: ingest_snapshot(store, snap, "r1", now=later),
        "r2": lambda: ingest_monthly_update(store, upd, "r2", now=later),
        "r3": lambda: merge_update_frame(store, frame, run_id="r3", now=later),
    }
    n_ledger = store.file_log().count()
    for run_id, call in calls.items():
        row, n_jobs = _jobs_in_group(spark, f"replay-{run_id}", call)
        assert n_jobs == 0, run_id
        assert row == rows[run_id]
    assert store.file_log().count() == n_ledger


def test_schema_evolution_across_carried_partitions(spark, tmp_path):
    """A column added by a later merge must surface (as NULL) on rows in
    carried-by-reference partitions written before it existed."""
    import datetime as _dt

    from land_registry_data_ingestion_spark.operators.ingest import record_run

    store = ManifestStore(spark=spark, root=str(tmp_path / "evo"))
    v1 = spark.createDataFrame(
        [
            ("K1", _dt.datetime(2015, 1, 5), 100),
            ("K2", _dt.datetime(2016, 3, 7), 200),
        ],
        "k string, transaction_date timestamp, price int",
    )
    loc1 = str(tmp_path / "evo" / "m1")
    assert store.write_state(v1, loc1, "k") == 2
    record_run(
        store, "r1", "frame", "complete", "a" * 64, _dt.datetime(2024, 1, 1), 2, loc1
    )

    v2 = spark.createDataFrame(
        [("K2", _dt.datetime(2016, 3, 7), 250, "web")],
        "k string, transaction_date timestamp, price int, channel string",
    )
    _, batch = store.probe_batch(v2, "k")
    carry = batch.carry
    assert len(carry) == 1 and carry[0]["data_year"] == 2015
    loc2 = str(tmp_path / "evo" / "m2")
    assert store.write_merged(v2, loc2, batch) == 2
    record_run(
        store, "r2", "frame", "monthly", "b" * 64, _dt.datetime(2024, 2, 1), 2, loc2
    )

    out = store._read_parts(
        [e["path"] for e in store._manifest_entries(loc2)]
    )
    assert "channel" in out.columns
    rows = {r.k: r for r in out.collect()}
    assert rows["K1"].channel is None and rows["K1"].price == 100
    assert rows["K2"].channel == "web" and rows["K2"].price == 250
    _assert_indexed(spark, store, key_col="k")


def test_empty_merge_into_empty_state_stays_readable(spark, tmp_path):
    """A merge producing an empty new_state with NO carry entries (empty
    accepted snapshot, then a batch whose only row is a D for a missing
    key in the NULL-year partition) must write the schema-only leaf like
    write_state's zero-row gate — an empty manifest would make every
    later read_state_at call spark.read.parquet() with zero paths."""
    from land_registry_data_ingestion_spark.sources.csv import (
        read_price_paid_csv,
    )

    store = ManifestStore(spark=spark, root=str(tmp_path / "empty_merge"))
    empty = _write(tmp_path, "empty.csv", [])
    ingest_snapshot(store, empty, "r0", now=datetime.datetime(2024, 1, 1))
    assert store.current_state().count() == 0

    # D for a key that doesn't exist, with a NULL transaction_date: its
    # update year is the NULL_YEAR partition, so the empty state's one
    # schema-only entry counts as touched (carry = []) and the ignored
    # delete leaves new_state empty — the exact zero-leaf shape.
    upd = (
        read_price_paid_csv(
            spark, _write(tmp_path, "d.csv", [_line("T0009", 1, "2020-01-01", "D")])
        )
        .withColumn("transaction_date", F.lit(None).cast("timestamp"))
    )
    row = merge_update_frame(store, upd, run_id="r1")
    assert row["row_count"] == 0
    assert store.current_state().count() == 0  # readable, not a crash
    assert store.state_as_of("r1").count() == 0


def test_merge_that_writes_no_leaf_commits(spark, store, tmp_path):
    """A batch whose only row is a D for a missing key dated in a year
    the state lacks touches no year: the merge writes no leaf, carries
    every partition, and still commits (the reference ignores such a
    delete)."""
    t0 = datetime.datetime(2024, 1, 1)
    ingest_snapshot(store, _write(tmp_path, "s.csv", SNAP), "r1", now=t0)
    row = ingest_monthly_update(
        store, _write(tmp_path, "d.csv", [_line("T0009", 1, "2030-01-01", "D")]),
        "r2", now=t0 + datetime.timedelta(days=1),
    )
    assert row["decision"] == "archive"
    assert row["row_count"] == 4
    assert store.last_accepted()["run_id"] == "r2"
    assert _state(store.current_state()) == SNAP_STATE
    assert _counters(store, "r2") == {("D", "delete_ignore_missing"): 1}
    assert _part_years(store._parts_dir(row["state_location"])) == []


def _ledger_row(run_id: str, when: datetime.datetime, **kw) -> dict:
    row = {
        "run_id": run_id,
        "source_path": f"/staged/{run_id}.csv",
        "file_kind": "monthly",
        "sha256": run_id.encode().hex().ljust(64, "0"),
        "decision": "archive",
        "row_count": 1,
        "state_location": f"/state/{run_id}",
        "run_datetime": when,
    }
    row.update(kw)
    return row


def _jobs_in_group(spark, name: str, call):
    """``call()``'s result and the number of Spark jobs it scheduled,
    counted through a job group of its own."""
    sc = spark.sparkContext
    group = f"job-budget-{name}"
    sc.setJobGroup(group, name)
    try:
        result = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_control_plane_runs_no_spark_job(spark, store, tmp_path):
    """Ledger, operation-log, manifest and part-count calls are driver
    file I/O: each one, inside its own job group, schedules no Spark job."""
    snap = _write(tmp_path, "s.csv", SNAP)
    t0 = datetime.datetime(2024, 1, 1)
    loc = ingest_snapshot(store, snap, "r1", now=t0)["state_location"]
    entries = store._manifest_entries(loc)
    # ledger parts up to the compaction bound; r2's append crosses it
    for i in range(FILE_LOG_MAX_PARTS - 1):
        store._append_log(_ledger_row(f"g{i:02d}", t0, decision="garbage_collect"))
    calls = {
        "last_accepted": store.last_accepted,
        "accepted_run": lambda: store.accepted_run("r1"),
        "_append_log": lambda: store._append_log(
            _ledger_row("r2", t0 + datetime.timedelta(days=1))
        ),
        "_append_operation_log": lambda: store._append_operation_log(
            "r2", [{"record_op": "A", "outcome": "add_insert", "n_rows": 1}]
        ),
        "_manifest_entries": lambda: store._manifest_entries(loc),
        "_write_manifest": lambda: store._write_manifest(
            store.state_path("f" * 64), entries
        ),
        "_scan_part_counts": lambda: store._scan_part_counts(store._parts_dir(loc)),
        "maybe_compact_file_log": store.maybe_compact_file_log,
    }
    results = {}
    for name, call in calls.items():
        results[name], n_jobs = _jobs_in_group(spark, name, call)
        assert n_jobs == 0, name
    assert results["last_accepted"]["run_id"] == "r1"
    assert results["accepted_run"]["state_location"] == loc
    assert results["_scan_part_counts"] == entries
    assert store._manifest_entries(store.state_path("f" * 64)) == entries
    assert results["maybe_compact_file_log"] is True
    assert len(os.listdir(store.file_log_path)) == 1
    assert store.last_accepted()["run_id"] == "r2"


def test_state_reads_run_no_spark_job(spark, store, tmp_path):
    """Building a state read is driver work: its schema comes from one
    parquet footer per leaf, not a mergeSchema job. current_for_merge
    handed the gate's probed batch plans its frame without a job too."""
    from land_registry_data_ingestion_spark.sources.csv import read_price_paid_csv

    t0 = datetime.datetime(2024, 1, 1)
    ingest_snapshot(store, _write(tmp_path, "s.csv", SNAP), "r1", now=t0)
    loc = ingest_monthly_update(
        store, _write(tmp_path, "m.csv", MONTHLY), "r2",
        now=t0 + datetime.timedelta(days=1),
    )["state_location"]
    updates = read_price_paid_csv(spark, _write(tmp_path, "u.csv", MONTHLY))
    cols, batch = store.probe_batch(updates, "transaction_unique_id")
    calls = {
        "current_state": store.current_state,
        "read_state_at": lambda: store.read_state_at(loc),
        "current_for_merge": lambda: store.current_for_merge(batch),
        "probe_keys": lambda: store.probe_keys(
            store._manifest_entries(loc),
            cols.column("_hash").to_numpy(),
            cols.column("_year").to_numpy(),
            ("transaction_unique_id", "string"),
        ),
    }
    frames = {}
    for name, call in calls.items():
        frames[name], n_jobs = _jobs_in_group(spark, name, call)
        assert n_jobs == 0, name
    assert _state(frames["current_state"]) == MONTHLY_STATE
    assert _rows(frames["read_state_at"]) == _rows(frames["current_state"])
    current, carry = frames["current_for_merge"], batch.carry
    assert sorted(_state(current)) == ["{T0001}", "{T0002}", "{T0003}", "{T0005}"]
    assert [e["data_year"] for e in carry] == [2017]
    # the index probe names the batch's own years and no other
    assert frames["probe_keys"].touched == {2015, 2016, 2018}


def test_snapshot_job_budget(spark, store, tmp_path):
    """A snapshot load is the state write (gate counters observed) plus
    the narrow job that builds the key index; key uniqueness is checked
    on the driver over that index. 2 jobs."""
    row, n_jobs = _jobs_in_group(
        spark, "snapshot", lambda: ingest_snapshot(
            store, _write(tmp_path, "g.csv", GOLDEN_SNAP), "r1",
            now=datetime.datetime(2024, 1, 1),
        )
    )
    assert row["row_count"] == len(GOLDEN_SNAP)
    assert n_jobs <= 2


def test_monthly_merge_job_budget(spark, store, tmp_path):
    """A warm monthly merge is two Spark actions (the gate's one collect
    of the batch's skinny columns, then the state write with its
    counters observed): 4 jobs on the golden batch. A second parse, a
    second merge join or a gate that reads the state fails this."""
    t = datetime.datetime(2024, 1, 1)
    ingest_snapshot(store, _write(tmp_path, "g.csv", GOLDEN_SNAP), "r1", now=t)
    ingest_monthly_update(
        store, _write(tmp_path, "d.csv", GOLDEN_DELETES), "r2",
        now=t + datetime.timedelta(days=1),
    )
    batch = _write(tmp_path, "b.csv", [line for line, _ in GOLDEN_BATCH])
    row, n_jobs = _jobs_in_group(
        spark, "golden", lambda: ingest_monthly_update(
            store, batch, "r3", now=t + datetime.timedelta(days=2)
        )
    )
    assert row["decision"] == "archive"
    assert n_jobs <= 4


def test_duplicate_key_rejection_runs_one_job(spark, store, tmp_path):
    """The gate samples a duplicate-key batch's keys from the key column
    its one collect already holds: rejecting the batch runs that collect
    and no second Spark query."""
    t = datetime.datetime(2024, 1, 1)
    ingest_snapshot(store, _write(tmp_path, "s.csv", SNAP), "r1", now=t)
    dup = _write(tmp_path, "dup.csv", [
        _line("T0002", 250000, "2015-06-06", "C"),
        _line("T0005", 500000, "2018-02-01", "A"),
        _line("T0002", 260000, "2015-06-06", "C"),
    ])

    def reject():
        with pytest.raises(ValueError) as err:
            ingest_monthly_update(store, dup, "r2", now=t + datetime.timedelta(days=1))
        return str(err.value)

    message, n_jobs = _jobs_in_group(spark, "duplicate", reject)
    assert message == (
        f"duplicate transaction_unique_id in update batch {dup} "
        "(e.g. {T0002}) — refusing to merge; the full-outer join would fan out"
    )
    assert n_jobs == 1
    assert store.last_accepted()["run_id"] == "r1"
    assert store.accepted_run("r2") is None


def test_ledger_row_round_trips_driver_and_dataframe(spark, store):
    """A ledger row written by the driver (pyarrow) reads back unchanged
    through last_accepted() and through the file_log() DataFrame view,
    NULL row_count and naive UTC run_datetime included."""
    now = datetime.datetime(2024, 3, 31, 23, 59, 58, 123456)
    row = _ledger_row("r1", now, row_count=None)
    store._append_log(row)
    assert store.last_accepted() == row
    assert [r.asDict() for r in store.file_log().collect()] == [row]
    assert store.accepted_run("r1") == row
    assert store.accepted_run("nope") is None


@contextlib.contextmanager
def _host_tz(name: str):
    """Run the block with the Python process's local time zone set to
    ``name`` (the JVM and the Spark session time zone keep theirs)."""
    saved = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = saved
        time.tzset()


def test_ledger_round_trips_and_matches_state_stamps_on_a_non_utc_host(
    spark, store, tmp_path
):
    """On a host whose local time zone is not UTC, a ledger row still
    reads back unchanged through the driver and the file_log() view, and
    a snapshot's audit stamps hold the same UTC instant as its ledger
    row's naive UTC run_datetime."""
    import pyarrow.parquet as pq

    now = datetime.datetime(2024, 3, 31, 23, 59, 58, 123456)
    with _host_tz("America/New_York"):
        row = _ledger_row("r0", now, row_count=None, decision="garbage_collect")
        store._append_log(row)
        assert [r.asDict() for r in store.file_log().collect()] == [row]
        snap = ingest_snapshot(store, _write(tmp_path, "s.csv", SNAP), "r1", now=now)
        assert store.last_accepted() == snap
        assert store.accepted_run("r1") == snap
        assert store.file_log().filter(F.col("run_id") == "r1").first()[
            "run_datetime"
        ] == now
        parts = store._parts_dir(snap["state_location"])
        stamps = pq.read_table(parts, columns=["created_datetime"]).column(0)
    assert {t.replace(tzinfo=None) for t in stamps.to_pylist()} == {now}


def test_ledger_orders_on_the_stored_instant_across_dst_gap(tmp_path):
    """Naive run_datetimes are UTC. On a Europe/London host, 00:50 and
    01:50 on 2024-03-31 straddle the spring-forward gap: read as
    host-local time both stored as 00:50Z, tied, and the run_id
    tie-break made the OLDER run the latest. Driver only: no Spark."""
    store = ManifestStore(spark=None, root=str(tmp_path / "dst"))
    with _host_tz("Europe/London"):
        store._append_log(_ledger_row("z-earlier", datetime.datetime(2024, 3, 31, 0, 50)))
        store._append_log(_ledger_row("a-later", datetime.datetime(2024, 3, 31, 1, 50)))
        accepted = store._accepted()
    assert [r["run_id"] for r in accepted] == ["a-later", "z-earlier"]
    # read back as written, whatever the host's time zone
    assert [r["run_datetime"] for r in accepted] == [
        datetime.datetime(2024, 3, 31, 1, 50),
        datetime.datetime(2024, 3, 31, 0, 50),
    ]


def test_crash_before_ledger_append_replays_once(spark, store, tmp_path, monkeypatch):
    """A crash after the operation-log append but before the ledger
    append (the commit point) leaves the run uncommitted; replaying it
    yields one ledger row, the same state, and single-run counters."""
    snap = _write(tmp_path, "s.csv", SNAP)
    upd = _write(tmp_path, "m.csv", MONTHLY)
    ingest_snapshot(store, snap, "r1", now=datetime.datetime(2024, 1, 1))

    append_log = ManifestStore._append_log
    crashed = []

    def crash_once(self, row):
        if row["run_id"] == "r2" and not crashed:
            crashed.append(row)
            raise OSError("crash before the ledger append")
        append_log(self, row)

    monkeypatch.setattr(ManifestStore, "_append_log", crash_once)
    t1 = datetime.datetime(2024, 2, 1)
    with pytest.raises(OSError, match="crash before the ledger append"):
        ingest_monthly_update(store, upd, "r2", now=t1)
    assert store.last_accepted()["run_id"] == "r1"
    assert store.accepted_run("r2") is None

    row = ingest_monthly_update(store, upd, "r2", now=t1)
    assert row["row_count"] == 5
    assert store.file_log().filter(F.col("run_id") == "r2").count() == 1
    assert _state(store.current_state()) == MONTHLY_STATE
    assert _counters(store, "r2") == MONTHLY_COUNTERS
    # the replay appended the counters a second time; the view dedups them
    raw = spark.read.parquet(store.operation_log_path)
    assert raw.filter(F.col("run_id") == "r2").count() == 2 * len(MONTHLY_COUNTERS)


# -- key index soundness ------------------------------------------------


def _assert_indexed(spark, store, key_col="transaction_unique_id"):
    """Every current leaf has a key index holding the hash of each of its
    keys (a superset is allowed: stale entries are false positives)."""
    for e in store._current_entries():
        index = _read_key_index(e["path"])
        assert index is not None, e["path"]
        hashes = spark.read.parquet(e["path"]).select(F.xxhash64(key_col)).collect()
        assert np.isin([h[0] for h in hashes], index).all(), e["path"]


def _golden_until_deletes(store, tmp_path, t):
    ingest_snapshot(store, _write(tmp_path, "g.csv", GOLDEN_SNAP), "r1", now=t)
    ingest_monthly_update(
        store, _write(tmp_path, "d.csv", GOLDEN_DELETES), "r2",
        now=t + datetime.timedelta(days=1),
    )


def _golden_batch(store, tmp_path, t):
    return ingest_monthly_update(
        store, _write(tmp_path, "b.csv", [line for line, _ in GOLDEN_BATCH]), "r3",
        now=t + datetime.timedelta(days=2),
    )


def _assert_golden(store, row):
    assert _counters(store, "r3") == {
        (line[-2], outcome): 1 for line, outcome in GOLDEN_BATCH
    }
    assert _state(store.current_state()) == GOLDEN_STATE
    assert row["row_count"] == len(GOLDEN_STATE)


def test_forced_false_positive_rewrites_only_that_year(spark, store, tmp_path):
    """A stale hash in an untouched year's index (the batch's K0007)
    makes the probe touch that year: it is rewritten, and the merged rows
    and all 12 outcome counters stay the golden ones."""
    t = datetime.datetime(2024, 1, 1)
    _golden_until_deletes(store, tmp_path, t)
    leaf_2018 = {e["data_year"]: e["path"] for e in store._current_entries()}[2018]
    stale = spark.range(1).select(F.xxhash64(F.lit("{K0007}"))).collect()[0][0]
    meta = pq.read_table(_index_path(leaf_2018)).schema.metadata
    _write_key_index(
        leaf_2018,
        np.union1d(_read_key_index(leaf_2018), [stale]),
        (meta[b"key_col"].decode(), meta[b"key_type"].decode()),
    )

    row = _golden_batch(store, tmp_path, t)
    _assert_golden(store, row)
    merge_parts = store._parts_dir(row["state_location"])
    assert _part_years(merge_parts) == [
        "data_year=2015", "data_year=2016", "data_year=2017",
        "data_year=2018", "data_year=2019",
    ]
    _assert_indexed(spark, store)


def test_year_moving_change_then_a_later_batch_finds_the_moved_key(
    spark, store, tmp_path
):
    """T0004 moves 2017 → 2019 (C); a later batch changes it again and
    names only 2017. Only 2019's index, written on the driver by the
    first merge, can send the probe to 2019 — which must drop the row."""
    t0 = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    ingest_snapshot(store, _write(tmp_path, "s.csv", SNAP), "r1", now=t0)
    ingest_monthly_update(
        store, _write(tmp_path, "m1.csv", [_line("T0004", 400000, "2019-08-01", "C")]),
        "r2", now=t0 + day,
    )
    _assert_indexed(spark, store)
    row = ingest_monthly_update(
        store, _write(tmp_path, "m2.csv", [_line("T0004", 450000, "2017-09-01", "C")]),
        "r3", now=t0 + 2 * day,
    )
    assert _state(store.current_state()) == dict(
        SNAP_STATE, **{"{T0004}": (450000, 2017, False)}
    )
    assert _counters(store, "r3") == {("C", "change_change"): 1}
    assert row["row_count"] == 4
    years = [e["data_year"] for e in store._manifest_entries(row["state_location"])]
    assert years == [2015, 2016, 2017]  # 2019 emptied out
    _assert_indexed(spark, store)


def test_delete_of_a_key_in_a_year_the_batch_does_not_name(spark, store, tmp_path):
    """A D op dated 2020 for T0003, which sits in 2016: only the index
    finds 2016, which must drop the row (its values differ, so the row
    is changed, moving to 2020, then deleted)."""
    t0 = datetime.datetime(2024, 1, 1)
    ingest_snapshot(store, _write(tmp_path, "s.csv", SNAP), "r1", now=t0)
    row = ingest_monthly_update(
        store, _write(tmp_path, "d.csv", [_line("T0003", 300000, "2020-01-01", "D")]),
        "r2", now=t0 + datetime.timedelta(days=1),
    )
    assert _state(store.current_state()) == dict(
        SNAP_STATE, **{"{T0003}": (300000, 2020, True)}
    )
    assert _counters(store, "r2") == {("D", "delete_change_delete"): 1}
    assert row["row_count"] == 4
    years = [e["data_year"] for e in store._manifest_entries(row["state_location"])]
    assert years == [2015, 2017, 2020]
    _assert_indexed(spark, store)


def test_batch_key_type_differs_from_the_state_key_type(spark, store, tmp_path):
    """An int-keyed batch against a bigint-keyed state: the batch key is
    hashed as a bigint, so a C op that moves key 2 out of 2016 (a year
    the batch does not name) still finds it there."""
    from land_registry_data_ingestion_spark.operators.ingest import record_run
    from land_registry_data_ingestion_spark.operators.merge import init_state

    ts = datetime.datetime
    state = spark.createDataFrame(
        [(1, ts(2015, 1, 5), 100), (2, ts(2016, 3, 7), 200), (3, ts(2017, 8, 1), 300)],
        "k bigint, transaction_date timestamp, price int",
    )
    loc = store.state_path("r1")
    n = store.write_state(init_state(state, F.lit(ts(2024, 1, 1))), loc, "k")
    record_run(store, "r1", "frame", "complete", "a" * 64, ts(2024, 1, 1), n, loc)
    batch = spark.createDataFrame(
        [(2, ts(2018, 2, 1), 250, "C")],
        "k int, transaction_date timestamp, price int, record_op string",
    )
    row = merge_update_frame(store, batch, run_id="r2", key_col="k", now=ts(2024, 2, 1))

    out = {
        r["k"]: (r["price"], r["transaction_date"].year)
        for r in store.current_state().collect()
    }
    assert out == {1: (100, 2015), 2: (250, 2018), 3: (300, 2017)}
    assert _counters(store, "r2") == {("C", "change_change"): 1}
    assert row["row_count"] == 3
    _assert_indexed(spark, store, key_col="k")


def test_unindexed_store_merges_the_same_and_gets_indexed(spark, store, tmp_path):
    """A store whose leaves have no key index (written before the index
    existed): every such leaf counts as touched, the merge result is the
    golden one, and afterwards every current leaf has an index."""
    import shutil

    t = datetime.datetime(2024, 1, 1)
    _golden_until_deletes(store, tmp_path, t)
    parts = os.path.join(store.root, "parts")
    for run in os.listdir(parts):
        shutil.rmtree(os.path.join(parts, run, "_key_index"), ignore_errors=True)

    row = _golden_batch(store, tmp_path, t)
    _assert_golden(store, row)
    assert "data_year=2018" in _part_years(store._parts_dir(row["state_location"]))
    _assert_indexed(spark, store)


def test_vacuum_removes_a_leafs_index_with_the_leaf(spark, store, tmp_path):
    """vacuum deletes the key index of each partition it removes and
    keeps the indexes of partitions a live manifest references."""
    snap_row = ingest_snapshot(
        store, _write(tmp_path, "s.csv", SNAP), "r1", now=datetime.datetime(2024, 1, 1)
    )
    ingest_monthly_update(
        store, _write(tmp_path, "m.csv", MONTHLY), "r2", now=datetime.datetime(2024, 2, 1)
    )
    removed = store.vacuum(keep_runs=1)
    assert len(removed) == 2
    for p in removed:
        assert not os.path.exists(os.path.dirname(_index_path(p)))
    snap_index = os.path.join(store._parts_dir(snap_row["state_location"]), "_key_index")
    assert os.listdir(snap_index) == ["data_year=2017"]
    _assert_indexed(spark, store)
