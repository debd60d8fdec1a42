"""The price-paid state store: content-addressed ``data_year``
partitions resolved through per-run manifests (the table-format idea of
Iceberg/Delta snapshot reuse, with nothing but plain parquet).

Layout under the store root::

    file_log/                          ledger, one row per run  (driver)
    operation_log/                     merge-outcome counters   (driver)
    manifests/run=<sha12>/             data_year, path, row_count (driver)
    parts/run=<sha12>/data_year=YYYY/  state rows               (Spark)

- each run writes ONLY the partitions its batch touches, under its own
  content-addressed ``parts/run=<sha12>/`` directory;
- the run's **manifest** maps every partition of that run's state to the
  run that last wrote it — unchanged partitions are carried by
  reference, never rewritten (at the reference's 28.9M-row snapshot a
  full rewrite spends ~80% of a monthly merge on years the batch never
  touches);
- "current" resolves ledger → manifest → partition paths. A run commits
  in the order state → operation log → ledger, so the pointer flip is
  the ledger append and a replay of an uncommitted run converges
  (reference ``...data_decision.py:143-174`` semantics).

The control plane — ledger, operation log, manifests and the
per-partition row counts (parquet footers) — is read and written on the
driver with ``pyarrow.parquet``; only state rows go through Spark.

Touched partitions for an A/C/D batch are exactly:

- the years of the batch rows' ``transaction_date`` (insert target, and
  the year a changed row will land in), **union**
- the years currently holding any key in the batch (a C op can MOVE a
  row across years — the old year must drop it; a D op must rewrite the
  year that holds the doomed row).

Finding the second set is one column-pruned scan of
``(key, transaction_date)`` over the state with the (small) batch keys
broadcast — no shuffle of the state, no write. A per-partition key bloom
index is the next lever if even that scan hurts.

A monthly merge is therefore two Spark actions: :meth:`ManifestStore.
probe_batch` collects the batch's invariant aggregate and both year sets
in one row, then the state write runs the merge join once, its outcome
counters riding along as observed metrics. Everything between — the
manifest lookup, :meth:`ManifestStore.current_for_merge` given the probed
years, and every state read's schema (the union of one parquet footer per
leaf) — is driver work that schedules no Spark job.

Merging only the touched partitions is sound because the CDC join is
keyed: a state row whose key is absent from the batch passes through
``cdc_merge`` unchanged, so restricting ``current`` to the partitions
above produces the same merged rows AND the same outcome/ledger counters
as a merge against the full state (tested against explicit rows and the
golden outcome matrix in ``tests/test_manifest_state.py``).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from land_registry_data_ingestion_spark.operators.ingest import (
    IngestStore,
    read_parquet_rows,
    write_parquet_file,
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

# Rows with NULL transaction_date get a concrete partition value so every
# state row lives in exactly one manifest entry.
NULL_YEAR = -1


def _year_col():
    return F.coalesce(F.year("transaction_date"), F.lit(NULL_YEAR))


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


@dataclass
class ManifestStore(IngestStore):
    """The pipeline's state store: the ledger of :class:`IngestStore` plus
    manifest-resolved state whose monthly merge writes only touched
    partitions."""

    def state_path(self, sha: str) -> str:
        # The ledger's state_location points at the manifest, not a data dir.
        return os.path.join(self.root, "manifests", f"run={sha[:12]}")

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

    def write_state(self, state: DataFrame, location: str) -> int:
        """Full write (snapshot load): every partition lands under this
        run's parts dir and the manifest references only this run."""
        return self._write(state, location, [])

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

    def probe_batch(
        self, updates: DataFrame, key_col: str, aggs: list[Column]
    ) -> tuple[Row, set[int]]:
        """The merge's first Spark action: ONE collect of the caller's
        one-row aggregate ``aggs`` over ``updates`` (its batch invariants)
        cross-joined with the one-row probe of the years the merge
        touches. Returns the aggregate row and those years: the batch's
        own years, union the years currently holding any batch key (the
        broadcast-key semi-join over the state's key column)."""
        paths = [e["path"] for e in self._current_entries()]
        old_years = (
            self._read_parts(paths)
            .join(F.broadcast(updates.select(key_col)), key_col, "left_semi")
            .agg(F.collect_set(_year_col()).alias("_old_years"))
        )
        row = (
            updates.agg(*aggs, F.collect_set(_year_col()).alias("_new_years"))
            .crossJoin(old_years)
            .collect()[0]
        )
        return row, set(row["_new_years"]) | set(row["_old_years"])

    def current_for_merge(
        self, updates: DataFrame, key_col: str, touched_years: set[int] | None = None
    ):
        """State to feed ``cdc_merge`` — only the partitions the batch can
        touch — plus the untouched manifest entries to carry by reference.
        Given ``touched_years`` (from :meth:`probe_batch`, which the
        ingest gate runs anyway) this schedules no Spark job; without it,
        it runs the probe itself."""
        if touched_years is None:
            touched_years = self.probe_batch(updates, key_col, [])[1]
        entries = self._current_entries()
        touched = [e["path"] for e in entries if e["data_year"] in touched_years]
        carry = [e for e in entries if e["data_year"] not in touched_years]
        if touched:
            return self._read_parts(touched), carry
        schema = _union_schema([e["path"] for e in entries])
        return self.spark.createDataFrame([], schema), carry

    def write_merged(self, new_state: DataFrame, location: str, carry) -> int:
        """Merge write: the touched partitions land under this run's parts
        dir; the manifest adds the ``carry`` entries by reference."""
        return self._write(new_state, location, list(carry or []))

    def _write(self, state: DataFrame, location: str, carry: list[dict]) -> int:
        """Write ``state`` partitioned by ``data_year`` under the run's parts
        dir, then its manifest (written parts + ``carry``); returns the total
        row count, observed during the write."""
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
            self._write_manifest(
                location, [{"data_year": NULL_YEAR, "path": leaf, "row_count": 0}]
            )
            return 0
        self._write_manifest(location, self._scan_part_counts(parts_dir) + carry)
        return n + sum(e["row_count"] for e in carry)

    # -- time travel ----------------------------------------------------

    def state_as_of(self, run_id: str) -> DataFrame:
        """Read the state exactly as accepted by ``run_id`` (snapshot
        isolation for free: manifests are immutable and partitions are
        content-addressed per run, so any un-vacuumed historical state is
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
        """Delete partition dirs referenced by NO manifest of the latest
        ``keep_runs`` accepted runs. Manifests themselves are kept (tiny,
        and older ledger rows stay auditable); only their data partitions
        become unreadable once vacuumed — same contract as Delta/Iceberg
        ``VACUUM`` against time travel.

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
                    removed.append(p)
            if not any(d.startswith("data_year=") for d in os.listdir(run_dir)):
                shutil.rmtree(run_dir)
        return removed
