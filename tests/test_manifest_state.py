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

import pytest
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.operators.ingest import (
    IngestStore,
    ingest_monthly_update,
    ingest_snapshot,
)
from land_registry_data_ingestion_spark.operators.state import ManifestStore


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


def test_schema_evolution_across_carried_partitions(spark, tmp_path):
    """A column added by a later merge must surface (as NULL) on rows in
    carried-by-reference partitions written before it existed."""
    import datetime as _dt

    store = ManifestStore(spark=spark, root=str(tmp_path / "evo"))
    v1 = spark.createDataFrame(
        [
            ("K1", _dt.datetime(2015, 1, 5), 100),
            ("K2", _dt.datetime(2016, 3, 7), 200),
        ],
        "k string, transaction_date timestamp, price int",
    )
    loc1 = str(tmp_path / "evo" / "m1")
    assert store.write_state(v1, loc1) == 2

    entries = store._manifest_entries(loc1)
    carry = [e for e in entries if e["data_year"] == 2015]
    assert len(carry) == 1
    v2 = spark.createDataFrame(
        [("K2", _dt.datetime(2016, 3, 7), 250, "web")],
        "k string, transaction_date timestamp, price int, channel string",
    )
    loc2 = str(tmp_path / "evo" / "m2")
    assert store.write_merged(v2, loc2, carry) == 2

    out = store._read_parts(
        [e["path"] for e in store._manifest_entries(loc2)]
    )
    assert "channel" in out.columns
    rows = {r.k: r for r in out.collect()}
    assert rows["K1"].channel is None and rows["K1"].price == 100
    assert rows["K2"].channel == "web" and rows["K2"].price == 250


def test_empty_merge_into_empty_state_stays_readable(spark, tmp_path):
    """A merge producing an empty new_state with NO carry entries (empty
    accepted snapshot, then a batch whose only row is a D for a missing
    key in the NULL-year partition) must write the schema-only leaf like
    write_state's zero-row gate — an empty manifest would make every
    later read_state_at call spark.read.parquet() with zero paths."""
    from land_registry_data_ingestion_spark.operators.ingest import (
        merge_update_frame,
    )
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
        "maybe_compact_file_log": lambda: store.maybe_compact_file_log(max_files=1),
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
    assert store.last_accepted()["run_id"] == "r2"


def test_state_reads_run_no_spark_job(spark, store, tmp_path):
    """Building a state read is driver work: its schema comes from one
    parquet footer per leaf, not a mergeSchema job. current_for_merge
    handed the probed years plans its frame without a job too."""
    from land_registry_data_ingestion_spark.sources.csv import read_price_paid_csv

    t0 = datetime.datetime(2024, 1, 1)
    ingest_snapshot(store, _write(tmp_path, "s.csv", SNAP), "r1", now=t0)
    loc = ingest_monthly_update(
        store, _write(tmp_path, "m.csv", MONTHLY), "r2",
        now=t0 + datetime.timedelta(days=1),
    )["state_location"]
    updates = read_price_paid_csv(spark, _write(tmp_path, "u.csv", MONTHLY))
    calls = {
        "current_state": store.current_state,
        "read_state_at": lambda: store.read_state_at(loc),
        "current_for_merge": lambda: store.current_for_merge(
            updates, "transaction_unique_id", {2015, 2016, 2018}
        ),
    }
    frames = {}
    for name, call in calls.items():
        frames[name], n_jobs = _jobs_in_group(spark, name, call)
        assert n_jobs == 0, name
    assert _state(frames["current_state"]) == MONTHLY_STATE
    assert _rows(frames["read_state_at"]) == _rows(frames["current_state"])
    current, carry = frames["current_for_merge"]
    assert sorted(_state(current)) == ["{T0001}", "{T0002}", "{T0003}", "{T0005}"]
    assert [e["data_year"] for e in carry] == [2017]


def test_monthly_merge_job_budget(spark, store, tmp_path):
    """A warm monthly merge is two Spark actions (the gate's one collect,
    then the state write with its counters observed): 11 jobs on the
    golden batch. A second parse or a second merge join fails this."""
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
    assert n_jobs <= 11


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
    store = IngestStore(spark=None, root=str(tmp_path / "dst"))
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

    append_log = IngestStore._append_log
    crashed = []

    def crash_once(self, row):
        if row["run_id"] == "r2" and not crashed:
            crashed.append(row)
            raise OSError("crash before the ledger append")
        append_log(self, row)

    monkeypatch.setattr(IngestStore, "_append_log", crash_once)
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
