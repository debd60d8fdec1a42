"""The ingestion pipeline (SURVEY §3.1) as a deterministic Spark DAG.

The reference runs this as six Kafka-connected microservices mutating a
shared file-log row (downloader → data-decision → archiver/GC → db-upload →
merge). Here the same stages are pure functions over one store with two
planes:

- **data plane** (Spark): content-addressed state partitions under
  ``parts/run=<sha12>/data_year=YYYY/``, resolved through a per-run
  manifest (:class:`~.state.ManifestStore`);
- **control plane** (driver, ``pyarrow.parquet``): the append-only
  ``file_log/`` ledger, one row per pipeline run (the reference's
  mutable ``PP*DownloadFileLog`` rows become immutable events; "latest"
  is a max over run timestamps — SURVEY W3), the ``operation_log/``
  outcome counters and the manifests. These hold a few hundred rows, so
  they are read and written on the driver without a Spark job; every
  file lands under a hidden temp name and is published by
  ``os.replace``. Resolution is ledger → manifest → partition paths, and
  the ledger append is the commit point.

Stage semantics preserved from the reference:
- sha256 content hash decides archive vs garbage_collect: equal to the
  previous accepted hash → the whole pipeline short-circuits
  (``land_registry_pp_complete_data_decision.py:143-174``);
- re-running a run is idempotent: state dirs are content-addressed and the
  decision consults the ledger, so a replay cannot double-apply
  (the reference enforces this with write-once asserts, :562-570);
- monthly updates CDC-merge into the current snapshot and append the
  17-counter operation ledger (§3.2, A8).
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from land_registry_data_ingestion_spark.operators.merge import (
    cdc_merge,
    init_state,
    observed_outcome_stats,
    validate_unique,
)
from land_registry_data_ingestion_spark.sources.csv import (
    read_price_paid_csv,
    read_price_paid_csv_with_rejects,
)

if TYPE_CHECKING:
    from land_registry_data_ingestion_spark.operators.state import ManifestStore

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
        T.StructField("record_op", T.StringType(), True),
        T.StructField("outcome", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)


def write_parquet_file(rows: list[dict], schema: T.StructType, path: str) -> None:
    """Write ``rows`` as ONE parquet file at ``path``, atomically: the file
    is written under a hidden name in the same directory (Spark and
    pyarrow readers skip ``.``-prefixed files) and published with
    ``os.replace``, so a reader sees the old file or the new one, never a
    torn write. Naive datetimes are UTC — the engine's convention (the
    default ``now`` is naive UTC) — never host-local time, which a DST
    gap makes ambiguous."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    rows = [{f.name: _utc(r.get(f.name)) for f in schema.fields} for r in rows]
    pq.write_table(pa.Table.from_pylist(rows, to_arrow_schema(schema)), tmp)
    os.replace(tmp, path)


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


@dataclass
class IngestStore:
    """The store's ledger: ``root/file_log/`` (one row per run) and
    ``root/operation_log/`` (per-run merge-outcome counters), both read
    and written on the driver. :class:`~.state.ManifestStore`, the one
    store the pipeline uses, adds the state layout on top."""

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
        state converges (the location is token-addressed and overwritten
        bit-identically) but the stats rows append a second time. The
        replayed rows are exact duplicates (same batch vs the same
        converged state), so read-side dedup restores exactly-once
        semantics without a distributed transaction."""
        if not os.path.isdir(self.operation_log_path):
            return self.spark.createDataFrame([], OPERATION_LOG_SCHEMA)
        return (
            self.spark.read.schema(OPERATION_LOG_SCHEMA)
            .parquet(self.operation_log_path)
            .dropDuplicates(["run_id", "record_op", "outcome"])
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

    def maybe_compact_file_log(self, max_files: int = 64) -> bool:
        """Compact when the ledger dir has fragmented past ``max_files``
        parquet parts — an O(listdir) probe, so callers can run it every
        cycle. Returns True when a compaction ran."""
        if not os.path.isdir(self.file_log_path):
            return False
        n = sum(
            1
            for f in os.listdir(self.file_log_path)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        if n <= max_files:
            return False
        self.compact_file_log()
        return True


def sha256_of_file(path: str, chunk: int = 1 << 20) -> str:
    """F1: content hash of a staged file (driver-side, streamed — the file
    was just fetched by the driver; row-level hashing uses F.sha2)."""
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(chunk)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


def record_run(
    store: IngestStore,
    run_id: str,
    source_path: str,
    file_kind: str,
    sha: str,
    now: datetime.datetime,
    row_count: int | None = None,
    location: str | None = None,
) -> dict:
    """Append the run's ledger row (the commit point) and return it: an
    ``archive`` row when the run wrote state at ``location``, otherwise
    ``garbage_collect``."""
    row = {
        "run_id": run_id,
        "source_path": source_path,
        "file_kind": file_kind,
        "sha256": sha,
        "decision": "archive" if location else "garbage_collect",
        "row_count": row_count,
        "state_location": location,
        "run_datetime": now,
    }
    store._append_log(row)
    return row


def _redelivered(
    store: IngestStore, csv_path: str, run_id: str, file_kind: str, now
) -> tuple[str, dict | None]:
    """The data decision: the staged file's sha256, plus the appended
    ``garbage_collect`` row when it equals the last accepted file's."""
    sha = sha256_of_file(csv_path)
    last = store.last_accepted()
    if last is not None and last["sha256"] == sha:
        return sha, record_run(store, run_id, csv_path, file_kind, sha, now)
    return sha, None


def ingest_snapshot(
    store: ManifestStore,
    csv_path: str,
    run_id: str,
    n_columns: int = 16,
    now: datetime.datetime | None = None,
    strict: bool = True,
) -> dict:
    """Full-snapshot ingestion: hash → dedup decision → load → ledger.

    Returns the appended file-log row (with ``decision``).
    """
    now = now or datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    sha, skipped = _redelivered(store, csv_path, run_id, "complete", now)
    if skipped:
        return skipped

    # Single-parse load (round 4): the snapshot is the one input big
    # enough that a separate gate pass matters (at 100 TB a second CSV
    # parse is hours), so the gate invariants ride the STATE WRITE as
    # observed metrics and are validated BEFORE the ledger append — which
    # is the commit point: a violated invariant deletes the orphan state
    # dir and raises, and since readers resolve state through the ledger
    # pointer, the partial write was never visible. Monthly batches keep
    # the up-front ``_gate_batch`` (they are small; failing before any
    # work is the better trade there, and its aggregate also finds the
    # partitions the merge touches).
    key = "transaction_unique_id"
    df = read_price_paid_csv(store.spark, csv_path, n_columns=n_columns)
    gate_obs = Observation()
    gate_aggs = [
        F.sum(
            (F.col("price").isNull() | F.col("transaction_date").isNull())
            .cast("long")
        ).alias("n_bad")
    ]
    df = df.observe(gate_obs, *gate_aggs)
    state = init_state(df.drop("record_op"), batch_timestamp=F.lit(_utc(now)))
    location = store.state_path(sha)
    row_count = store.write_state(state, location)

    # `or 0`: F.sum over a ZERO-ROW snapshot yields NULL — an empty file
    # is gate-clean (the reference accepts it too), not a TypeError.
    if strict and int(gate_obs.get["n_bad"] or 0):
        store.discard_state_at(location)
        # failure path only: re-parse for the quarantine sample
        _, rejects = read_price_paid_csv_with_rejects(
            store.spark, csv_path, n_columns=n_columns
        )
        bad = rejects.limit(5).collect()
        sample = ", ".join(
            f"{r['transaction_unique_id']}({r['reject_reason']})" for r in bad
        ) or "all-null after cast: grammar-broken or missing fields"
        raise ValueError(
            f"malformed values in {csv_path} (e.g. {sample}) — batch "
            f"rejected before any state was committed"
        )
    # Key uniqueness probes the WRITTEN parquet: one dictionary-encoded
    # column scan instead of a second CSV parse — the check the reference
    # enforces by `.one()` crashing mid-load. Two-tier: the happy path
    # distinct-counts 8-byte key HASHES (distinct hashes < rows implies a
    # possible duplicate OR a hash collision, never the reverse — a real
    # duplicate can't hide), and only that rare suspicion pays the exact
    # string-keyed confirm. At reference scale the hash pass shuffles
    # ~7× less than distinct-counting the 56-char keys directly.
    written = store.read_state_at(location)
    n_hashed = written.agg(
        F.count_distinct(F.xxhash64(F.col(key))).alias("n")
    ).collect()[0]["n"]
    if n_hashed < row_count:
        n_keys = written.agg(
            F.count_distinct(F.col(key)).alias("n")
        ).collect()[0]["n"]
        if n_keys < row_count:
            dups = validate_unique(written, key).limit(5).collect()
            store.discard_state_at(location)
            sample = ", ".join(str(r[key]) for r in dups)
            raise ValueError(
                f"duplicate {key} in snapshot file (e.g. {sample}) — "
                f"refusing to merge; the full-outer join would fan out"
            )

    return record_run(store, run_id, csv_path, "complete", sha, now, row_count, location)


def _assert_unique(df: DataFrame, key_col: str, what: str) -> None:
    """Standalone uniqueness probe for frames of untrusted provenance
    (``validate_current=True``); batch files get the fused gate below."""
    dups = validate_unique(df, key_col).limit(5).collect()
    if dups:
        sample = ", ".join(str(r[key_col]) for r in dups)
        raise ValueError(
            f"duplicate {key_col} in {what} (e.g. {sample}) — "
            f"refusing to merge; the full-outer join would fan out"
        )


def _gate_batch(
    store: ManifestStore,
    updates: DataFrame,
    key_col: str,
    op_col: str,
    what: str,
    rejects: DataFrame | None = None,
) -> set[int]:
    """The merge's first Spark action: enforce every batch invariant and
    find the partitions the merge touches in ONE collect
    (:meth:`~.state.ManifestStore.probe_batch`) — a one-row aggregate over
    the batch cross-joined with the one-row old-year probe. Returns the
    touched years. The invariants:

    - no row's price/date failed its cast, when ``rejects`` (the strict
      CSV parse's quarantine) is given — the reference crashes on such
      rows (DB constraint); this engine refuses with samples instead of
      silently nulling values into state;
    - no NULL key — the reference's key is NOT NULL, so its per-row path
      fails such a batch; a NULL key addresses no row;
    - ≤1 row per key (``count(key)`` against ``count_distinct(key)``) —
      the invariant the reference enforces via ``.one()`` crashing; a
      duplicate would fan out the merge join;
    - only A/C/D ops (reference RuntimeError,
      database_updater.py:1011-1013).

    Count and conditional-count aggregates partial-aggregate, so the
    shuffle is one row per task. Sample rows for the error message are
    fetched by a targeted query only on the failure path."""
    bad_op = ~F.coalesce(F.col(op_col).isin("A", "C", "D"), F.lit(False))
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.count(key_col).alias("n_keyed"),
        F.count_distinct(key_col).alias("n_keys"),
        F.count(F.when(bad_op, 1)).alias("n_bad_op"),
    ]
    if rejects is not None:
        bad = F.col("price").isNull() | F.col("transaction_date").isNull()
        aggs.append(F.count(F.when(bad, 1)).alias("n_bad"))
    g, years = store.probe_batch(updates, key_col, aggs)
    if rejects is not None and g["n_bad"]:
        bad = rejects.limit(5).collect()  # failure path only
        sample = ", ".join(
            f"{r['transaction_unique_id']}({r['reject_reason']})" for r in bad
        ) or "all-null after cast: grammar-broken or missing fields"
        raise ValueError(
            f"malformed values in {what} (e.g. {sample}) — batch "
            f"rejected before any state was written"
        )
    if g["n_keyed"] < g["n_rows"]:
        raise ValueError(
            f"{what} has {g['n_rows'] - g['n_keyed']} row(s) with a NULL "
            f"{key_col} — batch rejected before any state was written"
        )
    if g["n_keys"] < g["n_keyed"]:
        dups = validate_unique(updates, key_col).limit(5).collect()
        sample = ", ".join(str(r[key_col]) for r in dups)
        raise ValueError(
            f"duplicate {key_col} in {what} (e.g. {sample}) — "
            f"refusing to merge; the full-outer join would fan out"
        )
    if g["n_bad_op"]:
        bad = updates.filter(bad_op).limit(5).collect()  # failure path only
        sample = ", ".join(f"{r[key_col]}={r[op_col]!r}" for r in bad)
        raise ValueError(
            f"{what} contains ops outside A/C/D (e.g. {sample}) — batch "
            f"rejected, state unchanged"
        )
    return years


def ingest_monthly_update(
    store: ManifestStore,
    csv_path: str,
    run_id: str,
    n_columns: int = 16,
    now: datetime.datetime | None = None,
    validate_current: bool = False,
    strict: bool = True,
) -> dict:
    """Incremental A/C/D ingestion: CDC-merge into the current snapshot,
    write a new content-addressed state, append ledger + outcome counters.

    The staged file is parsed ONCE and persisted for the run's two Spark
    actions: the gate (:func:`_gate_batch`, which also finds the touched
    partitions) and the state write (:func:`merge_update_frame`).

    Invariant gates (the reference crashes via ``.one()``; here the run
    fails with an actionable error BEFORE any state is written):

    - the update batch must have no NULL key, ≤1 row per key and only
      A/C/D ops — probed every run (the batch is small, the probe is one
      aggregate over it);
    - the current state is unique *by induction*: validated when the
      snapshot was loaded (``ingest_snapshot``) and preserved by the
      merge (one output row per key). ``validate_current=True`` adds an
      explicit probe for state dirs of untrusted provenance — at 100 TB
      that is a full shuffle of the key column, which is why it is not
      the default.
    """
    now = now or datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    sha, skipped = _redelivered(store, csv_path, run_id, "monthly", now)
    if skipped:
        return skipped

    updates, rejects = read_price_paid_csv_with_rejects(
        store.spark, csv_path, n_columns=n_columns
    )
    updates = updates.persist()
    try:
        years = _gate_batch(
            store, updates, "transaction_unique_id", "record_op",
            f"monthly update batch {csv_path}", rejects=rejects if strict else None,
        )
        return merge_update_frame(
            store,
            updates,
            run_id=run_id,
            now=now,
            source="monthly",
            token=sha,
            source_path=csv_path,
            validate_current=validate_current,
            touched_years=years,
        )
    finally:
        updates.unpersist()


def merge_update_frame(
    store: ManifestStore,
    updates: DataFrame,
    run_id: str,
    key_col: str = "transaction_unique_id",
    op_col: str = "record_op",
    now: datetime.datetime | None = None,
    source: str = "stream",
    token: str | None = None,
    source_path: str | None = None,
    validate_current: bool = False,
    touched_years: set[int] | None = None,
) -> dict:
    """CDC-merge an already-typed A/C/D update FRAME into the store — the
    frame-level core of :func:`ingest_monthly_update`, shared by the
    streaming sink (`streaming/cdc_sink.py`), where batches arrive as
    DataFrames with no file to sha.

    Two Spark actions: the gate (:func:`_gate_batch`, which rejects a bad
    batch before any write; a caller that already ran it passes its
    ``touched_years`` instead) and the state write, whose per-(op,
    outcome) counters ride the write as observed metrics — no second join
    for the operation log.

    Exactly-once by ``run_id``: if the ledger already holds an accepted
    run with this id the call is a no-op returning that row — Structured
    Streaming replays the last micro-batch after a crash, and this is
    the idempotence check that turns at-least-once delivery into an
    exactly-once effect (one ≤ledger-sized lookup, no state touched).
    """
    now = now or datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    prior = store.accepted_run(run_id)
    if prior is not None:
        return prior

    if touched_years is None:
        touched_years = _gate_batch(
            store, updates, key_col, op_col, f"{source} update batch {run_id}"
        )
    current, carry = store.current_for_merge(updates, key_col, touched_years)
    if validate_current:
        _assert_unique(current, key_col, "current state")
    value_cols = [
        c
        for c in current.columns
        if c
        not in (
            key_col,
            "created_datetime",
            "updated_datetime",
            "deleted_datetime",
            "is_deleted",
        )
    ]
    result = cdc_merge(
        current,
        updates,
        key_col=key_col,
        value_cols=value_cols,
        op_col=op_col,
        batch_timestamp=F.lit(_utc(now)),
    )
    token = token or hashlib.sha256(run_id.encode()).hexdigest()
    location = store.state_path(token)
    obs = Observation()
    row_count = store.write_merged(result.observed_state(obs), location, carry)
    store._append_operation_log(run_id, observed_outcome_stats(obs.get, op_col))
    row = record_run(
        store, run_id, source_path or f"{source}:{run_id}", "monthly", token, now,
        row_count, location,
    )
    store.maybe_compact_file_log()
    return row
