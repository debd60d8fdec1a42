#!/usr/bin/env python
"""100-micro-batch soak for the streaming stores (verdict-r5 #5).

Round 5 surfaced a CLASS of iterative-lineage defects: a DataFrame
rebuilt in a driver loop accumulates plan/stats state unless eagerly
truncated (`memory/iterative-lineage-truncation`). The streaming
analogue is a `foreachBatch` sink that rebuilds persistent index state
across micro-batches — `streaming/corpus_stream.py` (checkpointed
stateful dedup + per-batch decontaminate) and `streaming/span_stream.py`
(`SpanStore` gram-index folds). Each batch is a fresh plan, so classic
lineage growth cannot occur, but three other axes can grow per batch:
the state store, the accumulated index partition count (the span store
reads EVERY prior batch's counts), and driver-side caches (file-source
listing, FileStatusCache, plan-string interning).

This probe runs each sink for N micro-batches (file source,
``maxFilesPerTrigger=1``, availableNow trigger → one file per batch) and
asserts:

- **flat per-batch wall time**: mean triggerExecution of the LAST
  quarter of batches ≤ ``FLAT_RATIO`` × mean of the second quarter
  (the first quarter is excluded as JIT/codegen warm-up);
- **flat driver heap**: JVM used-after-GC at the end ≤ start +
  ``HEAP_SLACK_MB``.

Run: ``python scripts/soak_streams.py [n_batches]`` (default 100;
~4-6 min). Exits non-zero with a diagnosis when an assertion fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from land_registry_data_ingestion_spark.session import get_spark  # noqa: E402

FLAT_RATIO = 1.5
HEAP_SLACK_MB = 512

DOC_SCHEMA = "doc_id long, text string"
DOCS_PER_BATCH = 50


def used_heap_mb(spark) -> float:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    for _ in range(2):
        spark._jvm.System.gc()
        time.sleep(0.3)
    return (rt.totalMemory() - rt.freeMemory()) / 1e6


def write_source_files(src: str, n_batches: int) -> None:
    """One json file per micro-batch: mostly-unique 30-word docs, an
    exact re-crawl dup every 10 docs (exercises cross-batch dedup) and a
    repeated 12-token passage every 7 docs (exercises span detection)."""
    os.makedirs(src, exist_ok=True)
    passage = " ".join(f"p{i}" for i in range(12))
    for b in range(n_batches):
        rows = []
        for d in range(DOCS_PER_BATCH):
            doc_id = b * DOCS_PER_BATCH + d
            if d % 10 == 9:
                text = " ".join(f"dup{i}" for i in range(30))
            else:
                words = [f"b{b}d{d}w{i}" for i in range(30)]
                if d % 7 == 3:
                    words[8:8] = passage.split()
                text = " ".join(words)
            rows.append({"doc_id": doc_id, "text": text})
        with open(os.path.join(src, f"batch{b:04d}.json"), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))


def batch_durations(query) -> list[float]:
    return [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in query.recentProgress
        if p["numInputRows"] > 0
    ]


def quarter_means(durs: list[float]) -> tuple[float, float]:
    n = len(durs)
    q = n // 4
    early = durs[q : 2 * q]
    late = durs[3 * q :]
    return sum(early) / len(early), sum(late) / len(late)


def soak_corpus_stream(spark, src: str, work: str, n_batches: int) -> dict:
    from land_registry_data_ingestion_spark.streaming.corpus_stream import (
        curate_stream,
        run_curation_sink,
    )

    bench = spark.createDataFrame([(999, "a b c d e")], ["doc_id", "text"])
    heap0 = used_heap_mb(spark)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    t0 = time.perf_counter()
    q = run_curation_sink(
        curate_stream(stream),
        bench,
        os.path.join(work, "out"),
        os.path.join(work, "ckpt"),
    )
    q.awaitTermination(3600)
    wall = time.perf_counter() - t0
    durs = batch_durations(q)
    heap1 = used_heap_mb(spark)
    early, late = quarter_means(durs)
    return {
        "sink": "corpus_stream",
        "n_batches": len(durs),
        "wall_sec": round(wall, 1),
        "early_mean_sec": round(early, 3),
        "late_mean_sec": round(late, 3),
        "ratio": round(late / early, 2),
        "heap_start_mb": round(heap0),
        "heap_end_mb": round(heap1),
        "heap_growth_mb": round(heap1 - heap0),
        "per_batch_sec": [round(d, 3) for d in durs],
    }


def soak_span_stream(spark, src: str, work: str, n_batches: int) -> dict:
    from land_registry_data_ingestion_spark.operators.span_store import (
        SpanStore,
    )
    from land_registry_data_ingestion_spark.streaming.span_stream import (
        run_span_dedup_stream,
    )

    store = SpanStore(spark, os.path.join(work, "store"), k=8)
    heap0 = used_heap_mb(spark)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    compact_every = int(os.environ.get("SOAK_COMPACT_EVERY", "32"))
    t0 = time.perf_counter()
    q = run_span_dedup_stream(
        stream,
        store,
        os.path.join(work, "ckpt"),
        compact_every=compact_every,
    )
    q.awaitTermination(3600)
    wall = time.perf_counter() - t0
    durs = batch_durations(q)
    heap1 = used_heap_mb(spark)
    early, late = quarter_means(durs)
    return {
        "sink": "span_stream",
        "n_batches": len(durs),
        "wall_sec": round(wall, 1),
        "early_mean_sec": round(early, 3),
        "late_mean_sec": round(late, 3),
        "ratio": round(late / early, 2),
        "heap_start_mb": round(heap0),
        "heap_end_mb": round(heap1),
        "heap_growth_mb": round(heap1 - heap0),
        "per_batch_sec": [round(d, 3) for d in durs],
    }


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    only = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark(
        app_name="lrdi-soak",
        master="local[32]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.shuffle.partitions": "32",
            "spark.driver.memory": "8g",
            # retain every batch's progress for the flatness stats
            "spark.sql.streaming.numRecentProgressUpdates": str(
                n_batches + 20
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the Python/Arrow worker pool so batch 0 doesn't absorb spawns
    spark.range(128).repartition(32).mapInPandas(
        lambda b: b, "id long"
    ).write.format("noop").mode("overwrite").save()

    results = []
    failures = []
    sinks = {
        "corpus": soak_corpus_stream,
        "span": soak_span_stream,
    }
    for name, fn in sinks.items():
        if only and name != only:
            continue
        work = tempfile.mkdtemp(prefix=f"lrdi_soak_{name}_")
        src = os.path.join(work, "src")
        write_source_files(src, n_batches)
        try:
            r = fn(spark, src, work, n_batches)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        results.append(r)
        print(json.dumps({k: v for k, v in r.items() if k != "per_batch_sec"}),
              file=sys.stderr)
        if r["ratio"] > FLAT_RATIO:
            failures.append(
                f"{r['sink']}: late/early per-batch ratio {r['ratio']} "
                f"> {FLAT_RATIO} (early {r['early_mean_sec']}s, late "
                f"{r['late_mean_sec']}s) — per-batch cost is GROWING"
            )
        if r["heap_growth_mb"] > HEAP_SLACK_MB:
            failures.append(
                f"{r['sink']}: driver used-heap grew "
                f"{r['heap_growth_mb']} MB > {HEAP_SLACK_MB} MB"
            )
    print(json.dumps(results))
    if failures:
        print("\n".join(failures), file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
