"""The daily pipeline shell (SURVEY §3.1, §7 step 7): the reference's
six-service Kafka chain — downloader → data-decision → archiver /
garbage-collector → db-upload → merge — as ONE composed driver function
per file kind.

Stage mapping (reference file: this engine):

- downloader (retry loop)        : ``sources/fetch.fetch_with_retry``
- data decision (sha vs ledger)  : ``operators/ingest.ingest_*`` (the
  ledger row's ``decision`` field)
- archiver (move to archive)     : ``FS.move`` on decision=archive
  (``land_registry_pp_complete_archiver.py:204-216``)
- garbage collector (delete)     : ``FS.delete`` on decision=
  garbage_collect (``...garbage_collector.py:199-220``)
- db upload / merge              : snapshot load / CDC merge inside
  ``ingest_*``

The whole cycle is idempotent: a re-run of the same staged content
short-circuits at the sha decision and the staged file is simply
collected.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import SparkSession

from land_registry_data_ingestion_spark.operators.ingest import (
    ingest_monthly_update,
    ingest_snapshot,
)
from land_registry_data_ingestion_spark.operators.state import ManifestStore


def make_store(spark: SparkSession, root: str) -> ManifestStore:
    """Construct the pipeline's state store at ``root``: the ledger
    (``file_log/``, ``operation_log/``) plus manifest-resolved state
    (``manifests/run=*`` → ``parts/run=*/data_year=*``). A monthly CDC
    merge writes only the ``data_year`` partitions its batch touches and
    carries the rest by reference (see ``operators/state.py``); the
    ledger, operation log and manifests are read and written on the
    driver, without a Spark job."""
    return ManifestStore(spark=spark, root=root)
from land_registry_data_ingestion_spark.sources.fetch import (
    Transport,
    fetch_with_retry,
    urllib_transport,
)
from land_registry_data_ingestion_spark.sources.fs import FS


def _archive_or_collect(
    store: ManifestStore, staged_path: str, archive_dir: str, row: dict
) -> dict:
    fs = FS(store.spark, staged_path)
    if row["decision"] == "archive":
        dst = os.path.join(archive_dir, os.path.basename(staged_path))
        fs.move(staged_path, dst)
        row = dict(row, archived_path=dst)
    else:
        fs.delete(staged_path)
        row = dict(row, archived_path=None)
    # Ledger maintenance rides the cycle: one O(listdir) probe per run,
    # a single-file rewrite only once fragmentation crosses the bound.
    store.maybe_compact_file_log()
    return row


def run_snapshot_cycle(
    store: ManifestStore,
    url: str,
    staging_dir: str,
    archive_dir: str,
    run_id: str,
    transport: Transport = urllib_transport,
    n_columns: int = 16,
    now: datetime.datetime | None = None,
    **retry_kwargs,
) -> dict:
    """One full S1 snapshot cycle: fetch → stage → decide → load →
    archive-or-collect the staged file. Returns the ledger row plus
    ``archived_path`` (None when garbage-collected)."""
    staged = fetch_with_retry(
        url,
        os.path.join(staging_dir, f"{run_id}-pp-complete.csv"),
        transport=transport,
        **retry_kwargs,
    )
    row = ingest_snapshot(store, staged.path, run_id, n_columns=n_columns, now=now)
    return _archive_or_collect(store, staged.path, archive_dir, row)


def run_monthly_cycle(
    store: ManifestStore,
    url: str,
    staging_dir: str,
    archive_dir: str,
    run_id: str,
    transport: Transport = urllib_transport,
    n_columns: int = 16,
    now: datetime.datetime | None = None,
    **retry_kwargs,
) -> dict:
    """One full S2 monthly cycle: fetch → stage → decide → CDC-merge →
    archive-or-collect."""
    staged = fetch_with_retry(
        url,
        os.path.join(staging_dir, f"{run_id}-pp-monthly.csv"),
        transport=transport,
        **retry_kwargs,
    )
    row = ingest_monthly_update(
        store, staged.path, run_id, n_columns=n_columns, now=now
    )
    return _archive_or_collect(store, staged.path, archive_dir, row)
