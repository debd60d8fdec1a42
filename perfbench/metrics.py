"""Metric names, units and their computation.

``END_TO_END`` is what an untraced run reports; ``PER_LAYER`` is what a
traced run reports. Both lists are mirrored in ``BENCHMARK.json`` (a
self-test keeps them equal). Per-layer times and counts are totals over
the run's traced pass, its last; a layer a workload never calls reads 0.
"""

from __future__ import annotations

from collections import defaultdict

import tracing
import workloads

END_TO_END = {"setup_s": "s", "wall_s": "s"}

SPAN_FIELD_UNITS = {
    "s": "s",
    "self_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "shuffle_bytes": "B",
    "input_bytes": "B",
    "spill_bytes": "B",
    "core_util": "ratio",
}
OP_SPANS = ("op.snapshot", "op.merge", "reconcile")
# Engine-layer spans of the write path: the wrapped engine calls an
# operation makes (``reconcile.plan`` only builds the lazy plan; its
# execution falls to the caller's collect, which no layer span covers).
WRITE_LAYER_SPANS = ("ingest.snapshot", "ingest.monthly", "state.read", "reconcile.plan")
# The engine modules holding the read path's query plans: the analytics,
# binning and relational plans and the dedup, spans, corpus and
# similarity operators' query front-ends. A query's span counts toward
# coverage only if its plan function is defined in one of them.
READ_LAYER_MODULES = (
    "plans.analytics",
    "plans.relational",
    "plans.dedup_queries",
    "plans.textops_queries",
    "plans.corpus_queries",
    "plans.similarity_queries",
)
DELAY_FIELDS = ("s", "shuffle_bytes", "core_util")
CORPUS_FIELDS = ("s", "shuffle_bytes", "spill_bytes", "core_util")

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "pass.cold_s": "s",
    "jvm.peak_rss_mb": "MB",
    "ingest.sha256_s": "s",
    "ingest.snapshot_self_s": "s",
    "ingest.merge_self_s": "s",
    "ingest.jobs_per_merge": "count",
    "ingest.input_bytes_per_batch_byte": "ratio",
    "ingest.ledger_s": "s",
    "state.resolve_s": "s",
    "state.write_s": "s",
    "state.partitions_written": "count",
    "state.bytes_written": "B",
    "state.files_written": "count",
    "state.read_s": "s",
    "merge.plan_s": "s",
    "merge.shuffle_bytes": "B",
    **{f"{s}.{f}": u for s in OP_SPANS for f, u in SPAN_FIELD_UNITS.items()},
    "util.barriers": "count",
    "util.barrier_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.span_coverage": "ratio",
    "pp.snapshot_rows_per_s": "rows/s",
    "pp.merge_s_p50": "s",
    "pp.reconcile_s_p50": "s",
    "pp.write_amp": "ratio",
    "pp.store_bytes_per_row": "B/row",
    **{f"q.{q}.{f}": SPAN_FIELD_UNITS[f] for q in workloads.DELAY_QUERIES for f in DELAY_FIELDS},
    **{f"q.{q}.{f}": SPAN_FIELD_UNITS[f] for q in workloads.CORPUS_QUERIES
       for f in CORPUS_FIELDS},
    "host.load1": "load",
    "host.steal_pct": "%",
    "host.canary_ms": "ms",
}


def per_layer(
    tracer: tracing.Tracer,
    wall_s: float,
    session: dict[str, float],
    pp: dict[str, float],
    merged_bytes: int,
    host: dict[str, float],
    query_modules: dict[str, str],
) -> dict[str, float]:
    by_name: dict[str, list[tracing.Span]] = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)

    def under(span: tracing.Span, ancestor: str) -> bool:
        while span.parent is not None:
            span = tracer.spans[span.parent]
            if span.name == ancestor:
                return True
        return False

    def total(name: str) -> float:
        return sum(s.duration for s in by_name[name])

    def count(name: str, key: str, spans=None) -> int:
        return sum(tracer.subtree(s)[key] for s in (by_name[name] if spans is None else spans))

    merges = by_name["op.merge"]
    writes = by_name["state.write"]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(session)
    m.update(pp)
    m.update(host)
    m.update({
        "ingest.sha256_s": total("ingest.sha256"),
        "ingest.snapshot_self_s": sum(tracer.self_time(s) for s in by_name["ingest.snapshot"]),
        "ingest.merge_self_s": sum(
            tracer.self_time(s) for s in by_name["ingest.monthly"] if under(s, "op.merge")
        ),
        "ingest.jobs_per_merge": count("op.merge", "jobs") / len(merges) if merges else 0.0,
        "ingest.input_bytes_per_batch_byte":
            count("op.merge", "input_bytes") / merged_bytes if merged_bytes else 0.0,
        "ingest.ledger_s": total("ingest.ledger"),
        "state.resolve_s": total("state.resolve"),
        "state.write_s": total("state.write"),
        "state.partitions_written": count("state.write", "partitions_written"),
        "state.bytes_written": count("state.write", "bytes_written"),
        "state.files_written": count("state.write", "files_written"),
        "state.read_s": total("state.read"),
        "merge.plan_s": total("merge.plan"),
        "merge.shuffle_bytes": count(
            "state.write", "shuffle_bytes", [s for s in writes if under(s, "op.merge")]
        ),
        "util.barriers": len(by_name["util.barrier"]),
        "util.barrier_s": total("util.barrier"),
    })
    for name in OP_SPANS:
        for f, v in tracing.span_fields(tracer, by_name[name]).items():
            m[f"{name}.{f}"] = v
    for q in workloads.DELAY_QUERIES + workloads.CORPUS_QUERIES:
        fields = tracing.span_fields(tracer, by_name[f"q.{q}"])
        for f in CORPUS_FIELDS:
            key = f"q.{q}.{f}"
            if key in m:
                m[key] = fields[f]
    m["trace.span_coverage"] = layer_coverage(tracer, query_modules) / wall_s if wall_s else 0.0
    untraced = wall_s - tracer.bookkeeping_s
    m["trace.overhead_ratio"] = wall_s / untraced if untraced > 0 else 0.0
    return m


def layer_coverage(tracer: tracing.Tracer, query_modules: dict[str, str]) -> float:
    """Seconds of the timed operations spent in the workload's named engine
    layers: for a write-path operation, its outermost engine-layer spans;
    for a query, the whole operation if its plan lives in a read-path
    layer module."""
    covered = 0.0
    for op in tracer.top_level():
        if op.name.startswith("q."):
            if query_modules.get(op.name[2:]) in READ_LAYER_MODULES:
                covered += op.duration
        else:
            covered += sum(c.duration for c in tracer.children(op)
                           if c.name in WRITE_LAYER_SPANS)
    return covered
