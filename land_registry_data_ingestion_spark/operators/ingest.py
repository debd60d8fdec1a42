"""The ingestion pipeline (SURVEY §3.1) as a deterministic Spark DAG.

The reference runs this as six Kafka-connected microservices mutating a
shared file-log row (downloader → data-decision → archiver/GC → db-upload →
merge). Here the same stages are pure functions over one store,
:class:`~.state.ManifestStore`, with two planes:

- **data plane** (Spark): run-addressed state partitions under
  ``parts/run=<id12>/data_year=YYYY/``, resolved through a per-run
  manifest;
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
- a loaded run is never rewritten: state dirs are addressed by run, and a
  replay of a committed ``run_id`` returns its ledger row before any
  parse (the reference enforces this with write-once asserts, :562-570);
- monthly updates CDC-merge into the current snapshot and append the
  17-counter operation ledger (§3.2, A8).
"""

from __future__ import annotations

import datetime
import hashlib

import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.operators.merge import (
    cdc_merge,
    init_state,
    observed_outcome_stats,
    validate_unique,
)
from land_registry_data_ingestion_spark.operators.state import (
    BatchKeys,
    ManifestStore,
    _utc,
)
from land_registry_data_ingestion_spark.schema import AUDIT_COLUMNS, OP_COLUMN
from land_registry_data_ingestion_spark.sources.csv import (
    read_price_paid_csv_with_rejects,
)

# The store's former ledger-only class name. The benchmark
# (perfbench/workloads.py) wraps the ledger methods in spans through it;
# it goes when the benchmark reads spans kept by the engine.
IngestStore = ManifestStore


def sha256_of_file(path: str) -> str:
    """F1: content hash of a staged file (driver-side, streamed — the file
    was just fetched by the driver; row-level hashing uses F.sha2)."""
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(1 << 20)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


def record_run(
    store: ManifestStore,
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
    ``garbage_collect``. Ledger maintenance rides every append: one
    O(listdir) probe, a single-file rewrite only once fragmentation
    crosses the bound."""
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
    store.maybe_compact_file_log()
    return row


def _decide(
    store: ManifestStore, csv_path: str, run_id: str, file_kind: str, now
) -> tuple[str | None, dict | None]:
    """The data decision, before any parse. Returns ``(sha, row)``:
    ``row`` is the accepted ledger row when ``run_id`` is already
    committed (a replay, which rewrites nothing), or the appended
    ``garbage_collect`` row when the staged file's sha256 equals the last
    accepted file's; otherwise None, and the run goes on with ``sha``."""
    prior = store.accepted_run(run_id)
    if prior is not None:
        return None, prior
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
) -> dict:
    """Full-snapshot ingestion: hash → dedup decision → load → ledger.

    Two Spark jobs: the state write, with the gate's cast-failure count
    observed, and the narrow job that builds the key index from the
    written leaves. Key uniqueness is then checked on the driver over
    that index; only a suspected duplicate pays an exact Spark check.

    Returns the appended file-log row (with ``decision``), or the
    accepted row when ``run_id`` is already committed.
    """
    now = now or datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    sha, decided = _decide(store, csv_path, run_id, "complete", now)
    if decided is not None:
        return decided

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
    df, rejects = read_price_paid_csv_with_rejects(
        store.spark, csv_path, n_columns=n_columns
    )
    gate_obs = Observation()
    gate_aggs = [
        F.sum(
            (F.col("price").isNull() | F.col("transaction_date").isNull())
            .cast("long")
        ).alias("n_bad")
    ]
    df = df.observe(gate_obs, *gate_aggs)
    state = init_state(df.drop(OP_COLUMN), batch_timestamp=F.lit(_utc(now)))
    location = store.state_path(run_id)
    row_count = store.write_state(state, location, key)

    # `or 0`: F.sum over a ZERO-ROW snapshot yields NULL — an empty file
    # is gate-clean (the reference accepts it too), not a TypeError.
    if int(gate_obs.get["n_bad"] or 0):
        store.discard_state_at(location)
        raise _malformed(rejects, csv_path)
    # Key uniqueness — the check the reference enforces by `.one()`
    # crashing mid-load — reads the key index just written, on the
    # driver: no repeated key hash proves the keys unique (a real
    # duplicate can't hide), and only a repeat (a duplicate OR a hash
    # collision) pays the exact string-keyed confirm over the written
    # parquet.
    if store.duplicate_key_hashes(location):
        written = store.read_state_at(location)
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


def _malformed(rejects: DataFrame, what: str) -> ValueError:
    """The error for a batch whose price/date casts failed, sampled from
    the strict parse's quarantine ``rejects`` (failure path only)."""
    bad = rejects.limit(5).collect()
    sample = ", ".join(
        f"{r['transaction_unique_id']}({r['reject_reason']})" for r in bad
    ) or "all-null after cast: grammar-broken or missing fields"
    return ValueError(
        f"malformed values in {what} (e.g. {sample}) — batch "
        f"rejected before any state was committed"
    )


def _gate_batch(
    store: ManifestStore,
    updates: DataFrame,
    key_col: str,
    what: str,
    rejects: DataFrame | None = None,
) -> BatchKeys:
    """The merge's first Spark action: ONE collect of the batch's skinny
    columns (:meth:`~.state.ManifestStore.probe_batch`: key, key hash,
    year, op and the cast-failure flag), which also materialises a
    persisted parse. Every batch invariant is then checked on the driver,
    and the key index gives the partitions the merge touches. Returns
    the batch's keys with those years. The invariants:

    - no row's price/date failed its cast, when ``rejects`` (the strict
      CSV parse's quarantine) is given — the reference crashes on such
      rows (DB constraint); this engine refuses with samples instead of
      silently nulling values into state;
    - no NULL key — the reference's key is NOT NULL, so its per-row path
      fails such a batch; a NULL key addresses no row;
    - ≤1 row per key (exact, over the collected keys) — the invariant the
      reference enforces via ``.one()`` crashing; a duplicate would fan
      out the merge join;
    - only A/C/D ops (reference RuntimeError,
      database_updater.py:1011-1013).

    A duplicate key's sample comes from the collected keys; a bad op's
    sample rows are fetched by a targeted query, on that failure path
    only."""
    bad_op = ~F.coalesce(F.col(OP_COLUMN).isin("A", "C", "D"), F.lit(False))
    extra = [bad_op.alias("_bad_op")]
    if rejects is not None:
        bad = F.col("price").isNull() | F.col("transaction_date").isNull()
        extra.append(bad.alias("_bad"))
    cols, batch = store.probe_batch(updates, key_col, extra)
    if rejects is not None and pc.any(cols.column("_bad")).as_py():
        raise _malformed(rejects, what)
    keys = cols.column(key_col)
    if keys.null_count:
        raise ValueError(
            f"{what} has {keys.null_count} row(s) with a NULL "
            f"{key_col} — batch rejected before any state was written"
        )
    counts = pc.value_counts(keys)
    dups = counts.field("values").filter(pc.greater(counts.field("counts"), 1))
    if len(dups):
        sample = ", ".join(str(k) for k in dups[:5].to_pylist())
        raise ValueError(
            f"duplicate {key_col} in {what} (e.g. {sample}) — "
            f"refusing to merge; the full-outer join would fan out"
        )
    if pc.any(cols.column("_bad_op")).as_py():
        bad = updates.filter(bad_op).limit(5).collect()  # failure path only
        sample = ", ".join(f"{r[key_col]}={r[OP_COLUMN]!r}" for r in bad)
        raise ValueError(
            f"{what} contains ops outside A/C/D (e.g. {sample}) — batch "
            f"rejected, state unchanged"
        )
    return batch


def ingest_monthly_update(
    store: ManifestStore,
    csv_path: str,
    run_id: str,
    n_columns: int = 16,
    now: datetime.datetime | None = None,
) -> dict:
    """Incremental A/C/D ingestion: CDC-merge into the current snapshot,
    write the run's state, append ledger + outcome counters.

    The staged file is parsed ONCE and persisted for the run's two Spark
    actions in :func:`merge_update_frame`: the gate's collect of the
    batch's skinny columns (the key index then gives the touched
    partitions on the driver; here the gate also refuses price/date cast
    failures that the strict parse quarantined in ``rejects``) and the
    state write. The state is read only by the write, and only for the
    touched years.

    Invariant gates (the reference crashes via ``.one()``; here the run
    fails with an actionable error BEFORE any state is written):

    - the update batch must have no NULL key, ≤1 row per key and only
      A/C/D ops — checked every run on the driver, over the batch's
      collected skinny columns (the batch is small);
    - the current state is unique *by induction*: validated when the
      snapshot was loaded (``ingest_snapshot``) and preserved by the
      merge (one output row per key).
    """
    now = now or datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    sha, decided = _decide(store, csv_path, run_id, "monthly", now)
    if decided is not None:
        return decided

    updates, rejects = read_price_paid_csv_with_rejects(
        store.spark, csv_path, n_columns=n_columns
    )
    updates = updates.persist()
    try:
        return merge_update_frame(
            store, updates, run_id=run_id, now=now, sha=sha,
            source_path=csv_path, rejects=rejects,
        )
    finally:
        updates.unpersist()


def merge_update_frame(
    store: ManifestStore,
    updates: DataFrame,
    run_id: str,
    key_col: str = "transaction_unique_id",
    now: datetime.datetime | None = None,
    sha: str | None = None,
    source_path: str | None = None,
    rejects: DataFrame | None = None,
) -> dict:
    """CDC-merge an already-typed A/C/D update FRAME into the store — the
    frame-level core of :func:`ingest_monthly_update`, shared by the
    streaming sink (`streaming/cdc_sink.py`), where batches arrive as
    DataFrames with no file to sha (the ledger's ``sha256`` then holds
    the sha256 of ``run_id``).

    This is the engine's one merge path. Two Spark actions: the gate
    (:func:`_gate_batch`, one collect of the batch's skinny columns,
    which rejects a bad batch before any write and probes the key index
    of the current manifest for the touched years; ``rejects`` is the
    strict CSV parse's quarantine, when there is one) and the state
    write, whose per-(op, outcome) counters ride the write as observed
    metrics — no second join for the operation log. The gate's
    :class:`~.state.BatchKeys` drives both ends: the merge reads its
    touched leaves, and the write carries the rest by reference and
    extends the written leaves' key indexes from its key hashes.

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

    source_path = source_path or f"stream:{run_id}"
    batch = _gate_batch(
        store, updates, key_col, f"update batch {source_path}", rejects
    )
    current = store.current_for_merge(batch)
    value_cols = [c for c in current.columns if c not in (key_col, *AUDIT_COLUMNS)]
    result = cdc_merge(
        current,
        updates,
        key_col=key_col,
        value_cols=value_cols,
        batch_timestamp=F.lit(_utc(now)),
    )
    location = store.state_path(run_id)
    obs = Observation()
    row_count = store.write_merged(result.observed_state(obs), location, batch)
    store._append_operation_log(run_id, observed_outcome_stats(obs.get))
    return record_run(
        store, run_id, source_path, "monthly",
        sha or hashlib.sha256(run_id.encode()).hexdigest(), now, row_count, location,
    )
