#!/usr/bin/env python
"""Reference-scale probe: the reference's one quantitative anchor is the
~1 h single-node load of the 28.9M-row pp-complete snapshot
(reference ``README.md:45``). This script reproduces that operation —
plus the monthly CDC merge the reference performs row-at-a-time — at the
same row count, through the pipeline's state store, and prints ONE JSON
line.

The two numbers it exists to track (COVERAGE.md "Reference-scale probe"):

- ``snapshot_sec``: headerless CSV → strict casts → audit bootstrap →
  partitioned state write (+ sha decision + ledger append);
- ``merge_sec``: 288k-row A/C/D batch CDC-merged into the 28.9M-row
  state. Only the ``data_year`` partitions the batch touches are written
  — the batch targets 3 of 29 years, which is the realistic shape of a
  monthly update file.

It also prints ``key_index_bytes``, the size of the per-partition key
index kept beside the state after both runs.

Usage::

    python scripts/probe_reference_scale.py              # 28.9M rows
    python scripts/probe_reference_scale.py --rows 1000000
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from land_registry_data_ingestion_spark.session import get_spark  # noqa: E402
from land_registry_data_ingestion_spark.operators.ingest import (  # noqa: E402
    ingest_monthly_update,
    ingest_snapshot,
)
from land_registry_data_ingestion_spark.operators.pipeline import make_store  # noqa: E402

N_YEARS = 29  # 1995..2023, the pp-complete date range


def _csv_line_expr(id_col, op, year_expr, price_expr):
    """One quoted 16-column pp-complete line from a numeric id column."""
    return F.format_string(
        '"{%08X-0000-0000-0000-%012X}","%d","%d-%02d-01 00:00","PC%d %dXX",'
        '"T","N","F","%d","","PROBE STREET","","LONDON","DIST","COUNTY","A","'
        + op
        + '"',
        id_col,
        id_col,
        price_expr,
        year_expr,
        (id_col % 12) + 1,
        id_col % 100,
        id_col % 10,
        id_col % 200,
    )


def _write_single_csv(df, out_path: str) -> None:
    """Write a one-column DataFrame of CSV lines as ONE file (the ingest
    path hashes a single staged file, as the downloader stages one)."""
    tmp = out_path + ".parts"
    df.write.mode("overwrite").text(tmp)
    with open(out_path, "wb") as out:
        for part in sorted(os.listdir(tmp)):
            if part.startswith("part-"):
                with open(os.path.join(tmp, part), "rb") as f:
                    shutil.copyfileobj(f, out)
    shutil.rmtree(tmp)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=28_900_000)
    ap.add_argument("--batch-rows", type=int, default=288_000)
    ap.add_argument("--workdir", default="/tmp/ref_scale_probe")
    args = ap.parse_args()

    spark = get_spark("reference-scale-probe")
    work = Path(args.workdir)
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)

    # -- synthesize the snapshot: ids 0..n-1, year = 1995 + id % 29 ------
    snap_csv = str(work / "pp-complete.csv")
    ids = spark.range(args.rows).select(F.col("id").cast("int").alias("id"))
    _write_single_csv(
        ids.select(
            _csv_line_expr(
                F.col("id"),
                "A",
                F.lit(1995) + (F.col("id") % N_YEARS),
                F.lit(50_000) + (F.col("id") % 900_000),
            ).alias("value")
        ),
        snap_csv,
    )

    # -- synthesize the monthly batch: C on 2023 keys, D on 2022 keys, ---
    # -- A with fresh keys in 2023 — 3 touched years of 29.             ---
    third = args.batch_rows // 3
    changes = (
        spark.range(third)
        .select((F.col("id") * N_YEARS + 28).cast("int").alias("id"))
        .filter(F.col("id") < args.rows)
        .select(
            _csv_line_expr(
                F.col("id"), "C", F.lit(2023), F.lit(999_000) + (F.col("id") % 1000)
            ).alias("value")
        )
    )
    deletes = (
        spark.range(third)
        .select((F.col("id") * N_YEARS + 27).cast("int").alias("id"))
        .filter(F.col("id") < args.rows)
        .select(
            _csv_line_expr(
                F.col("id"), "D", F.lit(2022), F.lit(50_000) + (F.col("id") % 900_000)
            ).alias("value")
        )
    )
    adds = (
        spark.range(args.batch_rows - 2 * third)
        .select((F.col("id") + args.rows).cast("int").alias("id"))
        .select(
            _csv_line_expr(
                F.col("id"), "A", F.lit(2023), F.lit(50_000) + (F.col("id") % 900_000)
            ).alias("value")
        )
    )
    monthly_csv = str(work / "pp-monthly.csv")
    _write_single_csv(changes.union(deletes).union(adds), monthly_csv)

    store = make_store(spark, str(work / "store"))

    t0 = time.monotonic()
    snap_row = ingest_snapshot(
        store, snap_csv, "probe-snap", now=datetime.datetime(2024, 1, 1)
    )
    t_snap = time.monotonic() - t0

    t0 = time.monotonic()
    merge_row = ingest_monthly_update(
        store, monthly_csv, "probe-merge", now=datetime.datetime(2024, 2, 1)
    )
    t_merge = time.monotonic() - t0

    # bytes of the key index beside the state (state.py's ``_key_index/``)
    index_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(store.root)
        if "_key_index" in Path(d).parts
        for f in files
    )
    print(
        json.dumps(
            {
                "rows": snap_row["row_count"],
                "batch_rows": args.batch_rows,
                "merged_rows": merge_row["row_count"],
                "snapshot_sec": round(t_snap, 1),
                "merge_sec": round(t_merge, 1),
                "key_index_bytes": index_bytes,
            }
        )
    )


if __name__ == "__main__":
    main()
