"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pp_ingest --seed 1 --seconds 20 --trace 0

A run is one fresh process: it generates (or reuses) the seed's inputs,
starts a Spark driver at ``local[<cores / 2>]``, warms it up, then repeats
the workload's pass, at least twice and until ``--seconds`` of measured
time have passed. ``wall_s`` adds up, over the pass's operations, the
fastest time each operation took in any pass: the first pass runs on a
cold driver and any pass can meet a host stall, and taking each
operation's best time filters both out. Output checks run between
operations, outside the timings. ``--trace 1`` makes exactly two
passes and traces the second.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (every end-to-end metric
untraced, every per-layer metric traced). The lines before it print
every figure by name with its unit. Everything the run writes stays
under ``.bench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE = "land_registry_data_ingestion_spark"
WORKLOADS = ("pp_ingest", "analytics_dedup")
# Passes per run: the first runs on a cold driver, at about twice the
# time of the second. A third pass would be 10-15 % faster again, as the
# JIT is still compiling through the second, but the protocol's runs must
# fit in an hour. Each operation's fastest time is taken over the passes.
MIN_PASSES = 2


def task_threads() -> int:
    """Spark task threads: half the cores. The other half runs the Spark
    driver's own threads (planning, JIT compilation, GC) and the Python
    caller, so the run does not ask for more cores than it has; on a
    shared host, a run that does is paced by the scheduler."""
    return max(1, (os.cpu_count() or 1) // 2)


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``
    and let the Python workers import the engine from any directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env.pop("SPARK_GRAFT_CPUS", None)


def _passthrough(batches):
    yield from batches


def _warm_up(spark, cores: int, workload: str) -> None:
    """First job (JIT, codegen); for the query workload also the Python
    worker pool its Arrow kernels use, and the query registry."""
    spark.range(0, 100_000, numPartitions=cores).selectExpr("sum(id)").collect()
    if workload != "pp_ingest":
        spark.range(0, cores, numPartitions=cores).mapInPandas(_passthrough, "id long").collect()
        from land_registry_data_ingestion_spark.plans.registry import queries

        queries()  # imports and registers every plan module


def _stop(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = host.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    started = time.perf_counter()
    sys.path.insert(0, REPO)
    import metrics
    import tracing
    import workloads

    work = os.path.join(REPO, ".bench_work")
    run_id = f"{workload}-s{seed}-p{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    _isolate(run_dir)
    telemetry = host.Telemetry()
    inputs = workloads.prepare_inputs(workload, seed, os.path.join(work, "inputs"))
    inputs_s = time.perf_counter() - started

    cores = task_threads()
    spark = tracer = None
    query_modules: dict[str, str] = {}
    passes: list[workloads.Caller] = []
    stats: dict = {}
    try:
        from land_registry_data_ingestion_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")},
        )
        t1 = time.perf_counter()
        _warm_up(spark, cores, workload)
        t2 = time.perf_counter()
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

        measured = 0.0
        t3 = time.perf_counter()
        while len(passes) < MIN_PASSES or (not traced and measured < seconds):
            if traced and len(passes) == MIN_PASSES - 1:
                tracer = tracing.Tracer(spark, run_id)
                workloads.install_spans(tracer)
                query_modules = workloads.query_modules() if workload != "pp_ingest" else {}
            caller = workloads.Caller(tracer)
            stats = workloads.run_pass(workload, spark, caller, inputs, run_dir)
            passes.append(caller)
            measured += caller.wall_s()
        checks_s = time.perf_counter() - t3 - measured
        rss_mb = host.vm_hwm_mb(jvm_pid)
        if tracer is not None:
            tracer.close()
            tracer.dump(os.path.join(work, "traces", f"{run_id}.jsonl"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = [o for c in passes for o in c.ops]
    failed = sum(not o.ok for o in ops)
    fastest = workloads.fastest(passes)
    wall_s = sum(fastest.values())
    end_to_end = {"setup_s": t2 - t0, "wall_s": wall_s}
    session = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1,
               "pass.cold_s": passes[0].wall_s(), "jvm.peak_rss_mb": rss_mb}
    pp = workloads.pp_figures(ops, stats) if workload == "pp_ingest" else {}
    host_figures = telemetry.finish()
    figures = {**end_to_end, **session, **pp, **host_figures}
    if traced:
        chosen = metrics.per_layer(
            tracer, passes[-1].wall_s(), session, pp, stats.get("merged_bytes", 0),
            host_figures, query_modules,
        )
        units = metrics.PER_LAYER
    else:
        chosen = end_to_end
        units = metrics.END_TO_END
    timing = {"inputs": inputs_s, "checks": checks_s, "total": time.perf_counter() - started}
    return {
        "ops": ops,
        "passes": len(passes),
        "timing": timing,
        "figures": figures,
        "units": {**metrics.END_TO_END, **metrics.PER_LAYER},
        "result": {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
        },
    }


def _report(workload: str, seed: int, traced: bool, out: dict) -> None:
    res = out["result"]
    print(f"perfbench workload={workload} seed={seed} trace={int(traced)} "
          f"passes={out['passes']} cores={os.cpu_count()} task_threads={task_threads()}")
    for name, value in out["figures"].items():
        print(f"{name} {value:.6g} {out['units'][name]}")
    for o in out["ops"]:
        print(f"op {o.name} {o.seconds:.4f} s {'ok' if o.ok else 'FAIL'}")
        for p in o.problems:
            print(f"  problem: {p}")
    if workload == "pp_ingest":
        n = sum(o.name == "merge_narrow" for o in out["ops"])
        print(f"pp.merge_s_p50 samples {n}")
    print(f"failed_ops_ratio {res['failed'] / res['attempted']:.6g} ratio "
          f"({res['failed']} of {res['attempted']} operations)")
    print(f"output check: {'PASS' if res['correct'] else 'FAIL'}")
    print("clock: " + ", ".join(f"{k} {v:.2f} s" for k, v in out["timing"].items()))
    print(json.dumps(res))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found in {REPO}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    _report(args.workload, args.seed, bool(args.trace), out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
