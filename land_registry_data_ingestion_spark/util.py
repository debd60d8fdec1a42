"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Ensure a compute-heavy map stage can use every core.

    Small inputs often arrive as a single parquet file → one split → one
    task, serializing CPU-bound work (hashing, shingling, vector math).
    The decision reads the scan's file listing (plan metadata — no
    ``df.rdd`` translation, which would eagerly trigger job planning): if
    the input already has at least ``defaultParallelism`` files, leave the
    plan untouched — at real scale inputs have thousands of splits and an
    extra shuffle would be pure cost. Inputs with fewer files (including
    in-memory test frames, which report none) are repartitioned up. The
    one degenerate case — a single splittable multi-gigabyte file — pays
    an extra exchange it didn't strictly need, in return for never
    serializing the map stage.
    """
    if df.isStreaming:
        # micro-batch parallelism is the source/state-store partitioning's
        # job; an unconditional repartition would add a shuffle per batch
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


# --- persist lifecycle -------------------------------------------------------

_TRACKED: list[DataFrame] = []


def barrier(df: DataFrame, small: bool = False) -> DataFrame:
    """Persist ``df`` as a materialization barrier and track it for
    :func:`release_caches`.

    Why a barrier at all: Generate (explode) inlines its child array
    expression and re-evaluates it per OUTPUT row — for an expensive
    HOF-built array (shingling, per-token md5) that is a measured 20×
    slowdown. A persist stops the projection collapse. Why tracked: the
    query registry runs ~50 queries on one long-lived SparkSession; bare
    ``persist()`` calls would accumulate cached intermediates and evict
    memory needed elsewhere, so each query build releases its
    predecessor's caches (and bench/tests release eagerly after each
    materialization). At cluster scale this intermediate would be staged
    to Parquet between pipeline steps instead.

    Storage level: DISK_ONLY by default — the barrier exists for its
    materialization SEMANTICS (stop Generate re-evaluating an expensive
    child), not for read speed. In-memory columnar caching puts the
    intermediate in the unified memory pool where it competes with
    execution memory — measured as recurring multi-second instability on
    cache-heavy queries even after blocking release (eviction/borrowing
    churn), while DISK_ONLY runs flat and lands in the OS page cache
    anyway on any warm node. On a cluster the same reasoning holds
    stronger: spilling a barrier to local disk never pressures the
    shuffle/aggregation memory that actually decides job survival.

    ``small=True`` opts a PROVABLY BOUNDED intermediate (a broadcast-scale
    lookup, a P-row offset table, a vocabulary/word-type table — anything
    whose size is a function of a parameter or a reduced key space, not of
    the corpus) into MEMORY_AND_DISK_DESER: these frames are consumed in
    tight loops or multiple narrow reads where the disk round-trip is the
    dominant cost, and their bounded size means they cannot create the
    eviction pressure DISK_ONLY exists to avoid. Corpus-sized frames must
    stay on the default.
    """
    from pyspark.storagelevel import StorageLevel

    level = (
        StorageLevel.MEMORY_AND_DISK_DESER if small else StorageLevel.DISK_ONLY
    )
    df = df.persist(level)
    _TRACKED.append(df)
    return df


def release_caches() -> None:
    """Unpersist every barrier-tracked frame (safe to call anytime:
    un-materialized plans recompute through the cache node).

    ``blocking=True`` is load-bearing: the default async unpersist only
    *schedules* block removal, so a back-to-back workload (bench loops,
    the ~50-query oracle sweep) starts persisting its next barrier while
    the predecessor's blocks still occupy the storage pool — the measured
    result is eviction-storm stalls of 10-48 s on queries whose clean
    runtime is ~2.5 s (same JVM, same plan, GC and CPU steal ruled out).
    Waiting for removal costs milliseconds and makes the runtime flat."""
    while _TRACKED:
        _TRACKED.pop().unpersist(blocking=True)
