"""Distributed global rank — the scale-safe replacement for an
unpartitioned ``Window.orderBy`` (which Spark executes as ONE task
holding the entire dataset).

Classic two-pass shape: range-partition on the order key (contiguous,
sorted partition ranges), count rows per partition (one tiny P-row
aggregate, collected driver-side like centroid sets), then add each
partition's exclusive prefix offset to a *partition-local* row_number.
Every pass is parallel; the only global structure is the P-row offset
table. Backs equi-depth histograms, exact percentile assignment, and
deterministic pagination.

The range-partitioned frame sits behind a barrier so the count pass and
the rank pass read the SAME materialization — RangePartitioner samples
its boundaries, and recomputing could legally re-sample. The barrier is
a cache, not a checkpoint: if an executor loses its blocks, Spark
recomputes them, may re-sample, and the collected sizes no longer match
the ranked partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.util import barrier

# monotonically_increasing_id puts the partition id in the upper 31 bits
# and the partition-local row index in the lower 33 (Spark's documented
# current layout, relied on here as of Spark 4.1).
_ROW_INDEX_BITS = 33


def _row_index(sizes) -> F.Column:
    """The partition-local 0-based row index, after checking that no
    partition in ``sizes`` (rows with ``_n``) outgrows its bits."""
    largest = max((r["_n"] for r in sizes), default=0)
    if largest >= 1 << _ROW_INDEX_BITS:
        raise ValueError(
            f"a range partition holds {largest} rows, more than the "
            f"{_ROW_INDEX_BITS}-bit row index of monotonically_increasing_id"
        )
    return F.col("_mid").bitwiseAND(F.lit((1 << _ROW_INDEX_BITS) - 1))


def _global_rank_with_total(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int]:
    """Rank plus the total row count — the count falls out of the per-
    partition size pass for free (sum of the collected P-row table), so
    callers that need n (equi-depth bucketing) don't re-scan the input."""
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    parts = barrier(
        df.repartitionByRange(p, *[F.col(c) for c in order_cols])
    ).withColumn("_pid", F.spark_partition_id())

    sizes = parts.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    row_index = _row_index(sizes)
    acc = 0
    offsets = []
    for row in sorted(sizes, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["_n"]
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")

    # Round 12 (guide §2.4): the barrier is ALREADY range-partitioned on
    # the order key, but a Window.partitionBy("_pid") cannot see that
    # (RangePartitioning(order) does not satisfy the window's
    # hashpartitioning(_pid) requirement), so the old shape paid a FULL
    # second exchange of every row plus the window's row buffer. The
    # partition-local index needs no window at all: sort within the
    # partition (no exchange — the sort the window ran anyway) and read
    # the row index out of monotonically_increasing_id (partition id in
    # the upper bits, 0-based row index in the lower 33 — a documented
    # invariant of the function). The Project computing it is
    # nondeterministic, so Catalyst cannot reorder it below the Sort;
    # task retries resort identical input (order_cols is a unique key)
    # and reproduce identical ids.
    ranked = (
        parts.sortWithinPartitions(*[F.col(c) for c in order_cols])
        .withColumn("_mid", F.monotonically_increasing_id())
        .join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, row_index + F.lit(1) + F.col("_off"))
        .drop("_pid", "_off", "_mid")
    )
    return ranked, acc


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append 1-based ``rank_col`` = position in the total order given by
    ``order_cols`` (which must be a UNIQUE key tuple — ties across a
    range boundary would otherwise make ranks partition-dependent).
    """
    ranked, _ = _global_rank_with_total(df, order_cols, rank_col, num_partitions)
    return ranked


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_buckets: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Equi-depth histogram: bucket(r) = ceil(r·k/n) over the global rank
    r — integer arithmetic only, so a second engine replays the exact cut
    points (NTILE's remainder-distribution rule differs; the ceil formula
    is the engine-neutral contract).

    Round-11 shape (guide §2.4 — remove the shuffle-and-sort outright):
    every output cell is a FUNCTION OF ≤ 2k ORDER STATISTICS, so the
    full global rank is never materialized. With rows ordered by
    (value, key) — Spark sort semantics: NULL values first, NaN last —
    bucket b covers ranks (⌊(b−1)·n/k⌋, ⌊b·n/k⌋]:

    - ``n_rows(b)`` = r_end − r_start + 1 — pure integer arithmetic on n;
    - ``hi(b)`` = round(max(value)) = the value AT rank r_end (ascending
      order puts the max — including NaN, which Spark sorts above
      everything — last), unless the bucket is all-NULL (r_end ≤ #NULLs,
      min/max skip NULLs) → NULL;
    - ``lo(b)`` = round(min(value)) = the value at rank
      max(r_start, #NULLs + 1) (NULLs occupy the first #NULLs ranks and
      are skipped by min), or NULL when that exceeds r_end.

    So the job is: range-partition (the only exchange), one P-row
    size/null-count aggregate, then SELECT the ≤ 2k needed ranks — a
    partition-local row_number over ONLY the partitions holding a needed
    rank (no exchange: the window key is the partition id itself), a
    broadcast (pid, local_idx) probe, and a ≤ 2k-row collect (the same
    bounded driver traffic class as the offset table). The previous
    shape sorted and ranked EVERY row and aggregated the full corpus
    into buckets; sort work now scales with the k partitions holding
    cut ranks, not with P.
    """
    spark = df.sparkSession
    k = n_buckets
    p = num_partitions or spark.sparkContext.defaultParallelism
    order = [F.col(value_col), F.col(tiebreak_col)]
    parts = barrier(
        df.select(value_col, tiebreak_col).repartitionByRange(p, *order)
    ).withColumn("_pid", F.spark_partition_id())
    stats = parts.groupBy("_pid").agg(
        F.count("*").alias("_n"),
        F.sum(F.col(value_col).isNull().cast("long")).alias("_nn"),
    ).collect()
    out_schema = (
        f"bucket long, n_rows long, lo_raw {df.schema[value_col].dataType.simpleString()}, "
        f"hi_raw {df.schema[value_col].dataType.simpleString()}"
    )

    def finish(rows):
        return spark.createDataFrame(rows, out_schema).select(
            "bucket",
            "n_rows",
            F.round("lo_raw", 2).alias("lo"),
            F.round("hi_raw", 2).alias("hi"),
        )

    acc = 0
    offsets: dict[int, int] = {}
    n_null = 0
    for row in sorted(stats, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_n"]
        n_null += row["_nn"]
    n = acc
    if n == 0:
        return finish([])

    # Bucket specs and the ranks whose values they need.
    specs = []  # (bucket, n_rows, lo_rank | None, hi_rank | None)
    for b in range(1, k + 1):
        r_start = (b - 1) * n // k + 1
        r_end = b * n // k
        if r_start > r_end:  # n < k → some buckets hold no rank
            continue
        lo_rank = max(r_start, n_null + 1)
        specs.append(
            (
                b,
                r_end - r_start + 1,
                lo_rank if lo_rank <= r_end else None,
                r_end if r_end > n_null else None,
            )
        )
    needed = sorted(
        {r for s in specs for r in (s[2], s[3]) if r is not None}
    )
    if not needed:  # every value NULL: counts only
        return finish([(b, c, None, None) for b, c, _, _ in specs])

    # rank → (pid, local index); pids ordered, offsets exclusive.
    probes = []
    pids = sorted(offsets)
    for r in needed:
        # last pid whose exclusive offset < r
        pid = max(q for q in pids if offsets[q] < r)
        probes.append((pid, r - offsets[pid], r))
    probe_df = spark.createDataFrame(
        probes, "_pid int, _rn int, _rank long"
    )
    # Partition-local row index WITHOUT a window (round 12): the window's
    # hashpartitioning(_pid) requirement forced a full exchange of the
    # probed partitions even though each _pid already lives in exactly
    # one partition of the barrier. Sort within the partition and read
    # the 0-based row index from monotonically_increasing_id's lower 33
    # bits — same (value, key) total order, same probe join, one
    # exchange fewer. See _global_rank_with_total for the determinism
    # argument.
    got = (
        parts.filter(F.col("_pid").isin([q for q, _, _ in probes]))
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn(
            "_rn",
            (_row_index(stats) + F.lit(1)).cast("int"),
        )
        .join(F.broadcast(probe_df), ["_pid", "_rn"])
        .select("_rank", value_col)
        .collect()
    )
    val_at = {row["_rank"]: row[value_col] for row in got}
    return finish(
        [
            (b, c, val_at.get(lo_r), val_at.get(hi_r))
            for b, c, lo_r, hi_r in specs
        ]
    )
