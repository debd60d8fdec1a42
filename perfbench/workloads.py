"""The benchmark's two workloads. Each one calls only the engine's public
functions, one call at a time (a closed loop with one caller), on inputs
the generators made from the seed.

One pass is a fixed amount of work; every call in it is one operation,
timed on its own. Output checks run between the calls and are never
inside a timing. An operation fails if it raises or fails its check.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import checks
import gen_pp
import gen_sf
import tracing

# A run (a fresh Spark driver plus two passes) takes about a minute on
# a 4-core host, and the full protocol, ten seeds twice per workload plus
# traced runs, must fit in an hour. At these sizes each operation is
# mostly fixed cost (README.md gives the share), so the snapshot has
# 40,000 rows and the monthly batch 12,000: at 100,000 and 30,000 rows
# (the batch size the merge was sized at) a pass took 3-4 s longer.
SIZES = {
    "pp_ingest": {"snapshot_rows": 40_000, "batch_rows": 12_000},
    "analytics_dedup": {"n_orders": 200_000, "n_docs": 1_000, "large_families": [30, 20, 12],
                        "n_small_families": 50, "n_vecs": 1_000},
}

# The paper's interval binning of the publication delay and the
# fact-fact full outer join. The weighting and smoothing queries share
# their layers (``plans.analytics``); a run that held them would not fit
# the time a benchmark run may take (see README.md).
DELAY_QUERIES = [
    "q2_interval_binning",
    "rel_full_outer_reconcile",
]
# One query per corpus layer: the dedup operators (MinHash and LSH with
# exact-Jaccard verification, checked against the planted families),
# exact duplicate spans, benchmark decontamination, and the IVF search
# with its Arrow Python kernels. The other dedup queries of the registry
# share these code paths; a run that held them would not fit the time a
# benchmark run may take (see README.md).
CORPUS_QUERIES = [
    "dedup_minhash_lsh",
    "text_dup_spans",
    "text_decontaminate",
    "sim_ivf_topk",
]
QUERIES = DELAY_QUERIES + CORPUS_QUERIES

ENGINE = "land_registry_data_ingestion_spark"

RECONCILE_COLUMNS = ["transaction_unique_id", *gen_pp.VALUE_COLUMNS, "is_deleted"]


# -- inputs -------------------------------------------------------------------


def _generate(workload: str, out_dir: str, seed: int) -> None:
    size = SIZES[workload]
    if workload == "pp_ingest":
        gen_pp.generate(out_dir, seed, **size)
    else:
        gen_sf.delay_tables(out_dir, seed, size["n_orders"])
        gen_sf.corpus_tables(out_dir, seed, size["n_docs"], tuple(size["large_families"]),
                             size["n_small_families"], size["n_vecs"])
        _write_oracle_answers(out_dir)


def _write_oracle_answers(sf_dir: str) -> None:
    """Each query's expected result: DuckDB running the registry's oracle
    SQL on the generated files, stored next to them as ``oracle/<query>.parquet``
    so the answer is computed once per seed, before Spark starts."""
    import pyarrow.parquet as pq
    from land_registry_data_ingestion_spark.plans.registry import REGISTRY, queries

    queries()
    os.makedirs(os.path.join(sf_dir, "oracle"))
    duck = _duckdb(sf_dir)
    try:
        for name in QUERIES:
            table = duck.execute(REGISTRY[name].sql).fetch_arrow_table()
            pq.write_table(table, os.path.join(sf_dir, "oracle", f"{name}.parquet"))
    finally:
        duck.close()


def prepare_inputs(workload: str, seed: int, cache_dir: str) -> str:
    """The workload's input directory for ``seed``, generated on first use
    and cached; a cache entry made with other sizes or queries is
    regenerated."""
    out = os.path.join(cache_dir, f"{workload}-seed{seed}")
    stamp = json.dumps({"sizes": SIZES[workload], "queries": QUERIES}, sort_keys=True)
    marker = os.path.join(out, "SIZES")
    if os.path.isfile(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _generate(workload, tmp, seed)
    with open(os.path.join(tmp, "SIZES"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# -- operations ---------------------------------------------------------------


@dataclass
class Op:
    name: str
    seconds: float = 0.0
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


class Caller:
    """The single closed-loop caller: issues one operation, waits for it,
    then runs its check before the next one."""

    def __init__(self, tracer: tracing.Tracer | None = None):
        self.tracer = tracer
        self.ops: list[Op] = []

    def call(self, name: str, fn, span: str | None = None):
        op = Op(name)
        self.ops.append(op)
        result = None
        t = time.perf_counter()
        try:
            if self.tracer is None:
                result = fn()
            else:
                with self.tracer.span(span or name):
                    result = fn()
        except Exception as e:  # a raising call is a failed operation
            op.problems.append(f"{name} raised {type(e).__name__}: {str(e)[:300]}")
        op.seconds = time.perf_counter() - t
        return op, result

    def wall_s(self) -> float:
        return sum(o.seconds for o in self.ops)


def fastest(passes: list[Caller]) -> dict[str, float]:
    """Operation name → its fastest time over the passes. Every pass makes
    the same operations, so their sum is the time of one pass with each
    operation at its best."""
    out: dict[str, float] = {}
    for caller in passes:
        for o in caller.ops:
            out[o.name] = min(out.get(o.name, o.seconds), o.seconds)
    return out


# -- pp_ingest ----------------------------------------------------------------


def pp_ingest_pass(spark, caller: Caller, inputs: str, work: str) -> dict:
    """Snapshot load, the monthly CDC merge, a reconcile of the merged
    state against the answer key, then a byte-identical re-delivery of the
    batch, all through one ManifestStore. The merge is also checked
    (ledger counters and state checksum) outside the timings."""
    from land_registry_data_ingestion_spark.operators import ingest, pipeline
    from land_registry_data_ingestion_spark.operators.reconcile import reconcile

    with open(os.path.join(inputs, "expected.json")) as f:
        answer = json.load(f)
    root = os.path.join(work, "store")
    shutil.rmtree(root, ignore_errors=True)
    store = pipeline.make_store(spark, root)
    now = datetime.datetime(2024, 1, 1)
    tick = datetime.timedelta(minutes=1)
    path = lambda name: os.path.join(inputs, name)  # noqa: E731

    op, row = caller.call(
        "snapshot",
        lambda: ingest.ingest_snapshot(store, path("snapshot.csv"), "snapshot", now=now),
        span="op.snapshot",
    )
    if row is not None:
        op.problems.extend(_row_problems(row, "archive", answer["snapshot"]["rows"]))

    merged_bytes = written_bytes = 0
    stats: dict = {"snapshot_rows": answer["snapshot"]["rows"]}
    for i, b in enumerate(answer["batches"]):
        now += tick
        run_id = f"batch-{i}"
        before = tracing.walk_files(root)
        op, row = caller.call(
            f"merge_{b['kind']}",
            lambda: ingest.ingest_monthly_update(store, path(b["file"]), run_id, now=now),
            span="op.merge",
        )
        written_bytes += tracing.written_between(before, tracing.walk_files(root))[1]
        merged_bytes += os.path.getsize(path(b["file"]))
        if row is None:
            continue
        problems = _row_problems(row, "archive", b["checksum"]["rows"])
        if row.get("state_location"):
            got = checks.ledger_counters(root, run_id)
            if got != b["ledger"]:
                problems.append(f"{run_id}: ledger {got} != expected {b['ledger']}")
            checksum, nbytes = checks.state_checksum(row["state_location"])
            if checksum != b["checksum"]:
                problems.append(f"{run_id}: state {checksum} != expected {b['checksum']}")
            stats["store_bytes_per_row"] = nbytes / max(1, checksum["live_rows"])
        op.problems.extend(problems)

    def reconcile_current():
        current = store.current_state().select(*RECONCILE_COLUMNS)
        truth = spark.read.parquet(path(answer["expected"])).select(*RECONCILE_COLUMNS)
        return reconcile(current, truth).counts.collect()

    op, counts = caller.call("reconcile", reconcile_current)
    if counts is not None:
        got = {r["presence"]: r["n_rows"] for r in counts}
        want = {"both": answer["batches"][-1]["checksum"]["rows"]}
        if got != want:
            op.problems.append(f"reconcile: {got} != {want}")

    now += tick
    op, row = caller.call(
        "redelivery",
        lambda: ingest.ingest_monthly_update(store, path(answer["redelivery"]), "redelivery",
                                             now=now),
        span="op.redelivery",
    )
    if row is not None:
        op.problems.extend(_row_problems(row, "garbage_collect", None))
    stats["write_amp"] = written_bytes / merged_bytes
    stats["merged_bytes"] = merged_bytes
    return stats


def _row_problems(row: dict, decision: str, row_count: int | None) -> list[str]:
    problems = []
    if row.get("decision") != decision:
        problems.append(f"{row.get('run_id')}: decision {row.get('decision')} != {decision}")
    if row_count is not None and row.get("row_count") != row_count:
        problems.append(f"{row.get('run_id')}: row_count {row.get('row_count')} != {row_count}")
    return problems


def pp_figures(ops: list[Op], stats: dict) -> dict[str, float]:
    """The price-paid ingest figures, from the pass's timings."""

    def med(name):
        xs = [o.seconds for o in ops if o.name == name]
        return statistics.median(xs) if xs else 0.0

    snap = med("snapshot")
    return {
        "pp.snapshot_rows_per_s": stats["snapshot_rows"] / snap if snap else 0.0,
        "pp.merge_s_p50": med("merge_narrow"),
        "pp.reconcile_s_p50": med("reconcile"),
        "pp.write_amp": stats.get("write_amp", 0.0),
        "pp.store_bytes_per_row": stats.get("store_bytes_per_row", 0.0),
    }


# -- query workloads ----------------------------------------------------------


def queries_pass(spark, caller: Caller, inputs: str, names: list[str]) -> dict:
    """Each query once; the result comes back to the driver as Arrow and is
    checked against DuckDB's answer to the registry's oracle SQL."""
    import pyarrow.parquet as pq
    from land_registry_data_ingestion_spark.plans.registry import REGISTRY

    for name in names:
        fn = REGISTRY[name].fn
        op, table = caller.call(f"q.{name}", lambda: fn(spark, inputs).toArrow())
        if table is None:
            continue
        oracle = pq.read_table(os.path.join(inputs, "oracle", f"{name}.parquet"))
        op.problems.extend(checks.compare_tables(table, oracle, name))
        if name == "dedup_minhash_lsh":
            with open(os.path.join(inputs, "families.json")) as f:
                op.problems.extend(checks.planted_pair_problems(table, json.load(f)))
    return {}


def _duckdb(sf_dir: str):
    import duckdb

    con = duckdb.connect(config={"threads": os.cpu_count() or 1})
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def install_spans(tracer: tracing.Tracer) -> None:
    """Wrap the engine's public calls in spans (restored by tracer.close)."""
    import importlib

    from land_registry_data_ingestion_spark import util
    from land_registry_data_ingestion_spark.operators import ingest, state

    # ``operators`` re-exports the function ``reconcile`` under its module's name.
    reconcile = importlib.import_module(f"{ENGINE}.operators.reconcile")

    tracer.wrap(ingest, "ingest_snapshot", "ingest.snapshot")
    tracer.wrap(ingest, "ingest_monthly_update", "ingest.monthly")
    tracer.wrap(ingest, "sha256_of_file", "ingest.sha256")
    tracer.wrap(ingest, "cdc_merge", "merge.plan")
    for attr in ("last_accepted", "file_log", "maybe_compact_file_log", "_append_log"):
        tracer.wrap(ingest.IngestStore, attr, "ingest.ledger")
    tracer.wrap(state.ManifestStore, "current_for_merge", "state.resolve")
    tracer.wrap(state.ManifestStore, "write_state", "state.write", store_walk=True)
    tracer.wrap(state.ManifestStore, "write_merged", "state.write", store_walk=True)
    tracer.wrap(state.ManifestStore, "current_state", "state.read")
    tracer.wrap(reconcile, "reconcile", "reconcile.plan")
    # Modules that bound ``barrier`` by name at import keep their own
    # reference; function-local imports read ``util.barrier`` at call time.
    barrier = util.barrier
    for name, module in list(sys.modules.items()):
        if name.startswith(ENGINE) and getattr(module, "barrier", None) is barrier:
            tracer.wrap(module, "barrier", "util.barrier")


def query_modules() -> dict[str, str]:
    """Query name → the engine module (``plans.<module>``) that defines its
    plan function, for every query of the pass."""
    from land_registry_data_ingestion_spark.plans.registry import REGISTRY

    out = {}
    for q in QUERIES:
        fn_name = REGISTRY[q].fn.__name__
        for name, module in list(sys.modules.items()):
            fn = getattr(module, fn_name, None) if name.startswith(ENGINE + ".plans.") else None
            if callable(fn) and getattr(fn, "__module__", None) == name:
                out[q] = name[len(ENGINE) + 1:]
    return out


def run_pass(workload: str, spark, caller: Caller, inputs: str, work: str) -> dict:
    if workload == "pp_ingest":
        return pp_ingest_pass(spark, caller, inputs, work)
    return queries_pass(spark, caller, inputs, QUERIES)
