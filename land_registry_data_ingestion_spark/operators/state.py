"""The price-paid state store: run-addressed ``data_year`` partitions
resolved through per-run manifests (the table-format idea of
Iceberg/Delta snapshot reuse, with nothing but plain parquet). This
module is the only one that knows the layout.

Layout under the store root::

    file_log/                          ledger, one row per run  (driver)
    operation_log/                     merge-outcome counters   (driver)
    manifests/run=<id12>/              data_year, path, row_count (driver)
    parts/run=<id12>/data_year=YYYY/   state rows               (Spark)
    parts/run=<id12>/_key_index/data_year=YYYY/
                                       sorted xxhash64(key) of that leaf
                                                                (driver)

``<id12>`` is the first 12 hex digits of the sha256 of the ``run_id``
(:meth:`ManifestStore.state_path`):

- each run writes ONLY the partitions its batch touches, under its own
  ``parts/run=<id12>/`` directory. A run's directories are never
  written again once its ledger row is committed: a replay of a
  committed ``run_id`` returns that row, and a file byte-identical to an
  older accepted one gets directories of its own (the file's sha only
  feeds the data decision, never the address);
- the run's **manifest** maps every partition of that run's state to the
  run that last wrote it — unchanged partitions are carried by
  reference, never rewritten (at the reference's 28.9M-row snapshot a
  full rewrite spends ~80% of a monthly merge on years the batch never
  touches);
- "current" resolves ledger → manifest → partition paths. A run commits
  in the order state → operation log → ledger, so the pointer flip is
  the ledger append and a replay of an uncommitted run converges
  (reference ``...data_decision.py:143-174`` semantics).

The control plane — ledger, operation log, manifests, the per-partition
row counts (parquet footers) and the key index — is read and written on
the driver with ``pyarrow.parquet``; only state rows go through Spark.

Touched partitions for an A/C/D batch are exactly:

- the years of the batch rows' ``transaction_date`` (insert target, and
  the year a changed row will land in), **union**
- the years currently holding any key in the batch (a C op can MOVE a
  row across years — the old year must drop it; a D op must rewrite the
  year that holds the doomed row).

The **key index** finds the second set without reading the state. Each
leaf has one sibling file of the sorted ``xxhash64`` of its keys, under
the writing run's ``_key_index/`` (the ``_`` prefix keeps Spark readers
and the ``part-`` filters off it); a carried leaf carries its index by
reference, since the index path follows from the leaf path. The index
records the key column it hashes and that column's type. The probe
(:meth:`ManifestStore.probe_batch`) collects the batch's key hashes —
the key cast to the state's key type, so an int batch hashes like a
long state — and binary-searches each leaf's index on the driver. The
probe may only err towards MORE years:

- a hash collision or a stale entry only adds a touched year;
- a leaf with no index, or one hashing another column or type, counts
  as touched; that merge rewrites the leaf and indexes it anew.

Every leaf this store writes is indexed, so a leaf lacks an index only
when it was written before the index existed or its index file was
lost. A snapshot builds its index in one narrow Spark job over the
written leaves (key and date columns only). A merge builds it with no
job: a rewritten year's index is its old index ∪ the hashes of the batch
rows dated in that year. That is a superset of the year's keys after the
merge, because a merged row's ``transaction_date`` comes from its old
row or from its batch row; a key that moved out leaves a stale entry,
which is a false positive. A rewritten year whose old index is missing
or hashes another key type is indexed from its rows instead.

A monthly merge is one path (:func:`~.ingest.merge_update_frame`) and
two Spark actions: the gate's one collect of the batch's skinny columns
(:meth:`ManifestStore.probe_batch`), then the state write running the
merge join once, its outcome counters riding along as observed metrics.
The probe resolves the current manifest once; its :class:`BatchKeys`
carries those entries into :meth:`ManifestStore.current_for_merge` (the
touched leaves) and :meth:`ManifestStore.write_merged` (the carried
ones). Everything between the two actions — the index probe, the read
of the touched leaves and every state read's schema (the union of one
parquet footer per leaf) — is driver work that schedules no Spark job.

Merging only the touched partitions is sound because the CDC join is
keyed: a state row whose key is absent from the batch passes through
``cdc_merge`` unchanged, so restricting ``current`` to the partitions
above produces the same merged rows AND the same outcome/ledger counters
as a merge against the full state (tested against explicit rows and the
golden outcome matrix in ``tests/test_manifest_state.py``).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from land_registry_data_ingestion_spark.schema import OP_COLUMN

FILE_LOG_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("source_path", T.StringType(), False),
        T.StructField("file_kind", T.StringType(), False),  # complete|monthly
        T.StructField("sha256", T.StringType(), False),
        T.StructField("decision", T.StringType(), False),  # archive|garbage_collect
        T.StructField("row_count", T.LongType(), True),
        T.StructField("state_location", T.StringType(), True),
        T.StructField("run_datetime", T.TimestampType(), False),
    ]
)

OPERATION_LOG_SCHEMA = T.StructType(
    [
        T.StructField(OP_COLUMN, T.StringType(), True),
        T.StructField("outcome", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("data_year", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("row_count", T.LongType(), False),
    ]
)

# The footer key under which Spark records a data file's row schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# The ledger is rewritten as one file once it has more parts than this.
FILE_LOG_MAX_PARTS = 64

# Rows with NULL transaction_date get a concrete partition value so every
# state row lives in exactly one manifest entry.
NULL_YEAR = -1

# A leaf's key index lives at <run parts dir>/_key_index/<leaf>/keys.parquet.
_KEY_INDEX = "_key_index"


def _write_table(table: pa.Table, path: str, **options) -> None:
    """Write ``table`` as ONE parquet file at ``path``, atomically: the
    file is written under a hidden name in the same directory (Spark and
    pyarrow readers skip ``.``-prefixed files) and published with
    ``os.replace``, so a reader sees the old file or the new one, never a
    torn write."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp, **options)
    os.replace(tmp, path)


def write_parquet_file(rows: list[dict], schema: T.StructType, path: str) -> None:
    """Write ``rows`` as ONE parquet file at ``path``, atomically
    (:func:`_write_table`). Naive datetimes are UTC — the engine's
    convention (the default ``now`` is naive UTC) — never host-local
    time, which a DST gap makes ambiguous."""
    rows = [{f.name: _utc(r.get(f.name)) for f in schema.fields} for r in rows]
    _write_table(pa.Table.from_pylist(rows, to_arrow_schema(schema)), path)


def read_parquet_rows(path: str, schema: T.StructType) -> list[dict]:
    """Every row of the parquet files in directory ``path`` (``[]`` when
    it does not exist), timestamps as naive UTC datetimes — the values
    :func:`write_parquet_file` was given, whatever the host's time zone."""
    if not os.path.isdir(path):
        return []
    return [
        {k: _naive_utc(v) for k, v in r.items()}
        for r in pq.read_table(path, schema=to_arrow_schema(schema)).to_pylist()
    ]


def _utc(v):
    if not isinstance(v, datetime.datetime):
        return v
    if v.tzinfo is None:
        return v.replace(tzinfo=datetime.timezone.utc)
    return v.astimezone(datetime.timezone.utc)


def _naive_utc(v):
    if not isinstance(v, datetime.datetime):
        return v
    return _utc(v).replace(tzinfo=None)


def _part_name() -> str:
    return f"part-{uuid.uuid4().hex}.parquet"


def _year_col():
    return F.coalesce(F.year("transaction_date"), F.lit(NULL_YEAR))


def _index_path(leaf: str) -> str:
    return os.path.join(
        os.path.dirname(leaf), _KEY_INDEX, os.path.basename(leaf), "keys.parquet"
    )


def _write_key_index(leaf: str, hashes: np.ndarray, key: tuple[str, str]) -> None:
    """Store ``leaf``'s sorted key hashes, tagged with the ``(column,
    type)`` they hash. Sorted hashes delta-encode to ~5-6 bytes each."""
    table = pa.table({"h": pa.array(hashes, pa.int64())}).replace_schema_metadata(
        {"key_col": key[0], "key_type": key[1]}
    )
    _write_table(
        table, _index_path(leaf), use_dictionary=False, compression="none",
        column_encoding={"h": "DELTA_BINARY_PACKED"},
    )


def _read_key_index(leaf: str, key: tuple[str, str] | None = None) -> np.ndarray | None:
    """``leaf``'s sorted key hashes; None when it has no index, or (given
    ``key``) when its index hashes another column or type."""
    path = _index_path(leaf)
    if not os.path.exists(path):
        return None
    table = pq.read_table(path)
    meta = table.schema.metadata or {}
    if key is not None and (meta.get(b"key_col"), meta.get(b"key_type")) != (
        key[0].encode(), key[1].encode()
    ):
        return None
    return table.column("h").to_numpy()


def _holds_any(index: np.ndarray, hashes: np.ndarray) -> bool:
    """Whether the sorted ``index`` holds any of ``hashes``."""
    if not len(index) or not len(hashes):
        return False
    pos = np.minimum(np.searchsorted(index, hashes), len(index) - 1)
    return bool(np.any(index[pos] == hashes))


def _union_schema(paths: list[str]) -> T.StructType:
    """Union, by column name in first-seen order, of the Spark row schemas
    that the first data file of each leaf dir records in its footer."""
    fields: dict[str, T.StructField] = {}
    for leaf in paths:
        data = min(f for f in os.listdir(leaf) if f.startswith("part-"))
        meta = pq.read_schema(os.path.join(leaf, data)).metadata
        schema = T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
        for f in schema.fields:
            fields.setdefault(f.name, f)
    return T.StructType(list(fields.values()))


@dataclass(frozen=True)
class BatchKeys:
    """A batch's keys as the key index sees them, collected by
    :meth:`ManifestStore.probe_batch`: per batch row, the ``xxhash64`` of
    its key cast to the state's key type (``key`` names that column and
    type) and its ``data_year``. ``entries`` is the probed manifest, the
    current state the merge reads and extends; ``touched`` is the set of
    years the merge rewrites."""

    key: tuple[str, str]
    hashes: np.ndarray
    years: np.ndarray
    touched: set[int]
    entries: list[dict]

    @property
    def carry(self) -> list[dict]:
        """The untouched entries, carried by reference."""
        return [e for e in self.entries if e["data_year"] not in self.touched]


@dataclass
class ManifestStore:
    """The pipeline's state store: the ledger (``file_log/``, one row per
    run, and ``operation_log/``, per-run merge-outcome counters), read
    and written on the driver, plus manifest-resolved state whose monthly
    merge writes only touched partitions."""

    spark: SparkSession
    root: str

    @property
    def file_log_path(self) -> str:
        return os.path.join(self.root, "file_log")

    @property
    def operation_log_path(self) -> str:
        return os.path.join(self.root, "operation_log")

    # -- ledger ---------------------------------------------------------

    def file_log(self) -> DataFrame:
        """The ledger as a DataFrame view. Only the missing-path case
        (first run) yields an empty ledger; any other read failure
        (corrupt footer, permissions) must propagate — swallowing it would
        silently flip last_accepted() to None and re-ingest instead of
        failing the run.

        ``run_datetime`` reads as a TIMESTAMP_NTZ holding the naive UTC
        value the driver wrote and reads back: ``collect()`` would turn a
        TIMESTAMP into host-local time."""
        if not os.path.isdir(self.file_log_path):
            log = self.spark.createDataFrame([], FILE_LOG_SCHEMA)
        else:
            log = self.spark.read.schema(FILE_LOG_SCHEMA).parquet(self.file_log_path)
        ntz = F.col("run_datetime").cast("timestamp_ntz")  # session-time wall clock
        return log.withColumn(
            "run_datetime", F.convert_timezone(F.current_timezone(), F.lit("UTC"), ntz)
        )

    def _append_log(self, row: dict) -> None:
        write_parquet_file(
            [row], FILE_LOG_SCHEMA, os.path.join(self.file_log_path, _part_name())
        )

    def _accepted(self) -> list[dict]:
        """Archive-decision rows, latest first (W3: max over the ledger),
        ordered on the naive UTC ``run_datetime`` — host-local wall-clock
        times could tie or invert across a DST change."""
        rows = [
            r
            for r in read_parquet_rows(self.file_log_path, FILE_LOG_SCHEMA)
            if r["decision"] == "archive"
        ]
        return sorted(rows, key=lambda r: (r["run_datetime"], r["run_id"]), reverse=True)

    def last_accepted(self) -> dict | None:
        """Latest archive-decision row."""
        accepted = self._accepted()
        return accepted[0] if accepted else None

    def accepted_run(self, run_id: str) -> dict | None:
        """The ledger's archive row for ``run_id``, or None."""
        return next((r for r in self._accepted() if r["run_id"] == run_id), None)

    def operation_log(self) -> DataFrame:
        """Per-run merge-outcome stats, deduplicated by (run_id, outcome).

        Merge effects are three non-atomic writes ordered state →
        operation_log → ledger. A crash between the last two leaves the
        run unrecorded in the ledger, so the replay re-runs the merge —
        state converges (the location is run-addressed and overwritten
        bit-identically) but the stats rows append a second time. The
        replayed rows are exact duplicates (same batch vs the same
        converged state), so read-side dedup restores exactly-once
        semantics without a distributed transaction."""
        if not os.path.isdir(self.operation_log_path):
            return self.spark.createDataFrame([], OPERATION_LOG_SCHEMA)
        return (
            self.spark.read.schema(OPERATION_LOG_SCHEMA)
            .parquet(self.operation_log_path)
            .dropDuplicates(["run_id", OP_COLUMN, "outcome"])
        )

    def _append_operation_log(self, run_id: str, stats: list[dict]) -> None:
        """Append one run's ``(record_op, outcome, n_rows)`` counters."""
        write_parquet_file(
            [dict(r, run_id=run_id) for r in stats],
            OPERATION_LOG_SCHEMA,
            os.path.join(self.operation_log_path, _part_name()),
        )

    def compact_file_log(self) -> int:
        """Ledger maintenance: every run appends one tiny parquet file to
        ``file_log/``; at daily cadence that is 365 small files a year,
        all read by every ``last_accepted()`` call. Rewrites the ledger as
        a single file via staging-dir swap (write next to the live dir,
        two renames, remove the old) so a crash at any point leaves either
        the old or the new complete ledger on disk. Returns the number of
        ledger rows carried over.

        The reference has no analogue — its ledger is mutable DB rows —
        but at parquet-ledger cadence this is the same maintenance Delta/
        Iceberg call checkpoint/rewrite-manifests."""
        if not os.path.isdir(self.file_log_path):
            return 0
        tmp = self.file_log_path + ".compacting"
        old = self.file_log_path + ".old"
        for stale in (tmp, old):
            if os.path.isdir(stale):
                shutil.rmtree(stale)
        rows = read_parquet_rows(self.file_log_path, FILE_LOG_SCHEMA)
        write_parquet_file(rows, FILE_LOG_SCHEMA, os.path.join(tmp, _part_name()))
        os.rename(self.file_log_path, old)
        os.rename(tmp, self.file_log_path)
        shutil.rmtree(old)
        return len(rows)

    def maybe_compact_file_log(self) -> bool:
        """Compact when the ledger dir has fragmented past
        :data:`FILE_LOG_MAX_PARTS` parquet parts — an O(listdir) probe,
        so every ledger append can run it. Returns True when a compaction
        ran."""
        if not os.path.isdir(self.file_log_path):
            return False
        n = sum(
            1
            for f in os.listdir(self.file_log_path)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        if n <= FILE_LOG_MAX_PARTS:
            return False
        self.compact_file_log()
        return True

    # -- layout ---------------------------------------------------------

    def state_path(self, run_id: str) -> str:
        """``run_id``'s manifest dir: the ledger's ``state_location``.
        Run ids are caller-chosen strings (stream tags, prefixes), so the
        directory is named by a fixed-length, path-safe digest of the id.
        A replay of an uncommitted run converges on the same location."""
        token = hashlib.sha256(run_id.encode()).hexdigest()[:12]
        return os.path.join(self.root, "manifests", f"run={token}")

    def _parts_dir(self, location: str) -> str:
        return os.path.join(self.root, "parts", os.path.basename(location))

    # -- manifest I/O (driver) -----------------------------------------

    def _manifest_entries(self, manifest_path: str) -> list[dict]:
        rows = read_parquet_rows(manifest_path, MANIFEST_SCHEMA)
        return sorted(rows, key=lambda e: e["data_year"])

    def _write_manifest(self, manifest_path: str, entries: list[dict]) -> None:
        # One fixed file name: a replayed run replaces its manifest whole.
        write_parquet_file(
            entries, MANIFEST_SCHEMA, os.path.join(manifest_path, "part-00000.parquet")
        )

    def _read_parts(self, paths: list[str]) -> DataFrame:
        # Leaf ``data_year=YYYY`` dirs: no partition-column inference, so
        # the frame carries exactly the state schema regardless of which
        # runs the paths belong to. The schema is the union of the
        # leaves' schemas (a column added by a later merge exists only in
        # partitions written since — carried-by-reference older
        # partitions must still surface it, as NULL), read on the driver
        # from one footer per leaf, so the read schedules no Spark job.
        # Past 32 paths (spark.sql.sources.parallelPartitionDiscovery.
        # threshold) Spark still lists the leaves' files with a job.
        return self.spark.read.schema(_union_schema(paths)).parquet(*paths)

    def _scan_part_counts(self, parts_dir: str) -> list[dict]:
        """Per-partition row counts of a freshly written parts dir, summed
        from the parquet footers of its data files."""
        entries = []
        for d in sorted(os.listdir(parts_dir)):
            if d.startswith("data_year="):
                leaf = os.path.join(parts_dir, d)
                n = sum(
                    pq.read_metadata(os.path.join(leaf, f)).num_rows
                    for f in os.listdir(leaf)
                    if f.startswith("part-") and f.endswith(".parquet")
                )
                entries.append({"data_year": int(d[10:]), "path": leaf, "row_count": n})
        return entries

    # -- state read/write ----------------------------------------------

    def _current_entries(self) -> list[dict]:
        last = self.last_accepted()
        if last is None:
            raise FileNotFoundError("no accepted snapshot in the ledger yet")
        return self._manifest_entries(last["state_location"])

    def current_state(self) -> DataFrame:
        return self._read_parts([e["path"] for e in self._current_entries()])

    def write_state(self, state: DataFrame, location: str, key_col: str) -> int:
        """Full write (snapshot load): every partition lands under this
        run's parts dir and the manifest references only this run; one
        more narrow Spark job indexes the written leaves over ``key_col``
        (:meth:`_index_leaves`)."""
        n, written = self._write(state, location, [])
        self._index_leaves(location, written, key_col)
        return n

    def read_state_at(self, location: str) -> DataFrame:
        """State rows at a state_location — including one written but not
        yet committed to the ledger (the snapshot gate probes it)."""
        entries = self._manifest_entries(location)
        return self._read_parts([e["path"] for e in entries])

    def discard_state_at(self, location: str) -> None:
        """Best-effort removal of an UNCOMMITTED state write (the gate's
        failure path). Never call on a ledger-referenced location."""
        shutil.rmtree(self._parts_dir(location), ignore_errors=True)
        shutil.rmtree(location, ignore_errors=True)

    def duplicate_key_hashes(self, location: str) -> int:
        """How many rows of the indexed state at ``location`` repeat an
        earlier row's key hash — a duplicate key or a hash collision
        (0 proves the keys unique; a real duplicate cannot hide). Driver
        work over the key index: no Spark job."""
        h = np.sort(np.concatenate(
            [_read_key_index(e["path"]) for e in self._manifest_entries(location)]
        ))
        return int(np.count_nonzero(h[1:] == h[:-1]))

    def probe_batch(
        self, updates: DataFrame, key_col: str, extra: list[Column] = ()
    ) -> tuple[pa.Table, BatchKeys]:
        """The merge's first Spark action: ONE collect, as Arrow, of the
        batch's skinny columns — ``key_col``, its hash ``_hash`` (of the
        key cast to the state's key type, from the footers), its year
        ``_year`` and the caller's ``extra`` columns. Returns that table
        and the batch's keys probed against the key index of the current
        manifest, resolved once here (:meth:`probe_keys`); the state
        itself is not read."""
        entries = self._current_entries()
        key_type = _union_schema([e["path"] for e in entries])[key_col].dataType
        cols = updates.select(
            key_col,
            F.xxhash64(F.col(key_col).cast(key_type)).alias("_hash"),
            _year_col().alias("_year"),
            *extra,
        ).toArrow()
        batch = self.probe_keys(
            entries,
            cols.column("_hash").to_numpy(),
            cols.column("_year").to_numpy(),
            (key_col, key_type.simpleString()),
        )
        return cols, batch

    def probe_keys(
        self, entries: list[dict], hashes: np.ndarray, years: np.ndarray,
        key: tuple[str, str],
    ) -> BatchKeys:
        """The years a batch touches in the manifest ``entries``, on the
        driver: the batch's own ``years``, union every entry's year whose
        key index holds one of ``hashes`` or has no index over ``key``
        (column, type). Reads only the indexes of years the batch does
        not name; no Spark job."""
        touched = {int(y) for y in np.unique(years)}
        for e in entries:
            if e["data_year"] not in touched:
                index = _read_key_index(e["path"], key)
                if index is None or _holds_any(index, hashes):
                    touched.add(e["data_year"])
        return BatchKeys(key, hashes, years, touched, entries)

    def current_for_merge(self, batch: BatchKeys) -> DataFrame:
        """The state to feed ``cdc_merge``: the leaves of the gate's
        probed manifest in ``batch.touched`` (empty, with the state's
        schema, when none is). Schedules no Spark job."""
        paths = [e["path"] for e in batch.entries if e["data_year"] in batch.touched]
        if paths:
            return self._read_parts(paths)
        schema = _union_schema([e["path"] for e in batch.entries])
        return self.spark.createDataFrame([], schema)

    def write_merged(self, new_state: DataFrame, location: str, batch: BatchKeys) -> int:
        """Merge write: the touched partitions land under this run's parts
        dir; the manifest adds ``batch.carry`` by reference. Each written
        leaf is indexed on the driver as its year's old index ∪ the
        hashes of the batch rows dated in that year (a superset of its
        keys — module docstring). A leaf whose old index is missing or
        hashes another key type is indexed from its rows instead, in one
        Spark job for all such leaves. A merge may write no leaf at all
        (a batch of ignored deletes in years the state lacks)."""
        n, written = self._write(new_state, location, batch.carry)
        key_col, key_type = batch.key
        retyped = new_state.schema[key_col].dataType.simpleString() != key_type
        leaves = {e["data_year"]: e["path"] for e in batch.entries}
        batch_years = set(batch.years.tolist())
        rebuild = []
        for e in written:
            year = e["data_year"]
            if year in leaves:
                old = _read_key_index(leaves[year], batch.key)
            else:  # a year new to the state holds batch rows only
                old = np.empty(0, np.int64) if year in batch_years else None
            if old is None or retyped:
                rebuild.append(e)
            else:
                new = batch.hashes[batch.years == year]
                _write_key_index(e["path"], np.union1d(old, new), batch.key)
        if rebuild:
            self._index_leaves(location, rebuild, key_col)
        return n

    def _index_leaves(self, location: str, entries: list[dict], key_col: str) -> None:
        """Index the leaves ``entries`` of this run's parts dir from their
        rows: one narrow Spark job collects each row's ``data_year``
        (from its leaf's path) and key hash to the driver, which writes
        each leaf's sorted hashes. A duplicate key is kept, so that
        :meth:`duplicate_key_hashes` sees it."""
        paths = [e["path"] for e in entries]
        key_field = _union_schema(paths)[key_col]
        schema = T.StructType([key_field, T.StructField("data_year", T.IntegerType())])
        cols = (
            self.spark.read.schema(schema)
            .option("basePath", self._parts_dir(location))
            .parquet(*paths)
            .select("data_year", F.xxhash64(key_col).alias("h"))
            .toArrow()
        )
        years = cols.column("data_year").to_numpy()
        hashes = cols.column("h").to_numpy()
        order = np.lexsort((hashes, years))
        years, hashes = years[order], hashes[order]
        key = (key_col, key_field.dataType.simpleString())
        for e in entries:
            lo, hi = np.searchsorted(years, [e["data_year"], e["data_year"] + 1])
            _write_key_index(e["path"], hashes[lo:hi], key)

    def _write(
        self, state: DataFrame, location: str, carry: list[dict]
    ) -> tuple[int, list[dict]]:
        """Write ``state`` partitioned by ``data_year`` under the run's parts
        dir, then its manifest (written parts + ``carry``); returns the total
        row count, observed during the write, and the written entries."""
        parts_dir = self._parts_dir(location)
        state = state.withColumn("data_year", _year_col())
        obs = Observation()
        state.observe(obs, F.count(F.lit(1)).alias("n_rows")).write.mode(
            "overwrite"
        ).partitionBy("data_year").parquet(parts_dir)
        n = int(obs.get["n_rows"] or 0)
        if n == 0 and not carry:
            # Zero rows and nothing carried → the partitioned write emitted
            # no leaf dirs and no schema footer, and an empty manifest
            # would make read_state_at call spark.read.parquet() with zero
            # paths. Persist one schema-only leaf (file schema = state
            # schema minus the partition column, like every other leaf) so
            # the manifest references a readable empty state.
            leaf = os.path.join(parts_dir, f"data_year={NULL_YEAR}")
            state.drop("data_year").limit(0).write.mode("overwrite").parquet(leaf)
            written = [{"data_year": NULL_YEAR, "path": leaf, "row_count": 0}]
            self._write_manifest(location, written)
            return 0, written
        written = self._scan_part_counts(parts_dir)
        self._write_manifest(location, written + carry)
        return n + sum(e["row_count"] for e in carry), written

    # -- time travel ----------------------------------------------------

    def state_as_of(self, run_id: str) -> DataFrame:
        """Read the state exactly as accepted by ``run_id`` (snapshot
        isolation for free: manifests are immutable and partitions are
        addressed per run, so any un-vacuumed historical state is
        one manifest read away — the table-format time-travel idea).

        Complements ``operators/rewind.py`` (which reconstructs history
        from audit columns): this is an O(1) pointer lookup, that is an
        O(data) reconstruction."""
        row = self.accepted_run(run_id)
        if row is None:
            raise KeyError(f"no accepted run {run_id!r} in the ledger")
        return self.read_state_at(row["state_location"])

    # -- garbage collection --------------------------------------------

    def vacuum(self, keep_runs: int = 2) -> list[str]:
        """Delete partition dirs, with their key indexes, referenced by NO
        manifest of the latest ``keep_runs`` accepted runs. Manifests
        themselves are kept (tiny, and older ledger rows stay auditable);
        only their data partitions become unreadable once vacuumed — same
        contract as Delta/Iceberg ``VACUUM`` against time travel.

        This also garbage-collects ORPHANS: state written by a run that
        crashed between its state write and its ledger append (the
        commit point) belongs to no manifest and is swept here. Like
        Delta/Iceberg VACUUM, this assumes no ingest is in flight —
        a concurrent run's not-yet-committed parts look identical to
        orphans; the pipeline is single-writer by design (SURVEY §3.1's
        daily cycle)."""
        live: set[str] = set()
        for row in self._accepted()[:keep_runs]:
            live |= {
                e["path"] for e in self._manifest_entries(row["state_location"])
            }
        parts_root = os.path.join(self.root, "parts")
        removed: list[str] = []
        if not os.path.isdir(parts_root):
            return removed
        for run in sorted(os.listdir(parts_root)):
            run_dir = os.path.join(parts_root, run)
            for part in sorted(os.listdir(run_dir)):
                p = os.path.join(run_dir, part)
                if part.startswith("data_year=") and p not in live:
                    shutil.rmtree(p)
                    shutil.rmtree(os.path.dirname(_index_path(p)), ignore_errors=True)
                    removed.append(p)
            if not any(d.startswith("data_year=") for d in os.listdir(run_dir)):
                shutil.rmtree(run_dir)
        return removed
