"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench -q

The generator and catalog tests take seconds. The end-to-end tests run
the benchmark command itself, traced, once per workload (one to one and
a half minutes each on a 4-core host).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

import checks
import gen_pp
import gen_sf
import metrics
import run
import tracing
import workloads

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names)


def _pp(out: str, seed: int) -> None:
    gen_pp.generate(out, seed, snapshot_rows=2_000, batch_rows=240)


def _sf(out: str, seed: int) -> None:
    gen_sf.delay_tables(out, seed, n_orders=500)
    gen_sf.corpus_tables(out, seed, n_docs=120, large_families=(8, 5),
                         n_small_families=6, n_vecs=80)


@pytest.mark.parametrize("generate", [_pp, _sf], ids=["pp", "sf"])
def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path, generate):
    a, b, c = (str(tmp_path / n) for n in "abc")
    generate(a, 7)
    generate(b, 7)
    generate(c, 8)
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_pp_answer_key_covers_every_reachable_outcome(tmp_path):
    answer = gen_pp.generate(str(tmp_path), 3, snapshot_rows=2_000, batch_rows=240)
    (batch,) = answer["batches"]
    assert batch["kind"] == "narrow"
    # A snapshot holds no deleted rows, so only these three cannot occur.
    need_deleted = {"add_undelete_change", "change_ignore_deleted", "delete_ignore_deleted"}
    for outcome, n in batch["outcomes"].items():
        assert (n == 0) == (outcome in need_deleted), batch["outcomes"]
    assert len(batch["ledger"]) == 17
    assert os.path.isfile(tmp_path / answer["expected"])
    with open(tmp_path / "redelivery.csv", "rb") as f, \
            open(tmp_path / batch["file"], "rb") as g:
        assert f.read() == g.read()


def _tracer_with(spans: list[tuple[str, int | None, float, float]]) -> tracing.Tracer:
    t = tracing.Tracer.__new__(tracing.Tracer)
    t.spans = [tracing.Span(i, name, parent, "r", start, end)
               for i, (name, parent, start, end) in enumerate(spans)]
    return t


def test_layer_coverage_counts_only_engine_layer_spans():
    # A merge whose engine call covers 6 of its 10 s, a reconcile whose
    # state read covers 1 of 4 s (the collect runs outside any layer), and
    # two queries of which only one has its plan in a read-path layer.
    t = _tracer_with([
        ("op.merge", None, 0.0, 10.0),
        ("ingest.monthly", 0, 1.0, 7.0),
        ("state.resolve", 1, 2.0, 3.0),
        ("reconcile", None, 10.0, 14.0),
        ("state.read", 3, 10.0, 11.0),
        ("q.a", None, 14.0, 17.0),
        ("q.b", None, 17.0, 19.0),
    ])
    modules = {"a": "plans.analytics", "b": "plans.elsewhere"}
    assert metrics.layer_coverage(t, modules) == pytest.approx(6.0 + 1.0 + 3.0)


def test_wall_takes_each_operations_fastest_time_over_passes():
    cold, warm = workloads.Caller(), workloads.Caller()
    cold.ops = [workloads.Op("snapshot", 9.0), workloads.Op("merge", 2.0)]
    warm.ops = [workloads.Op("snapshot", 4.0), workloads.Op("merge", 3.0)]
    assert workloads.fastest([cold, warm]) == {"snapshot": 4.0, "merge": 2.0}


def test_compare_tables_flags_differences():
    import pyarrow as pa

    a = pa.table({"k": [1, 2], "v": [0.5, 0.25]})
    assert checks.compare_tables(a, pa.table({"v": [0.25, 0.5], "k": [2, 1]}), "q") == []
    assert checks.compare_tables(a, pa.table({"k": [1, 2], "v": [0.5, 0.3]}), "q")
    assert checks.compare_tables(a, pa.table({"k": [1], "v": [0.5]}), "q")


def test_planted_pair_check_flags_cross_family_and_missing_pairs():
    import pyarrow as pa

    families = [{"members": [1, 2, 3], "verbatim": [1, 2]},
                {"members": [4, 5], "verbatim": [4, 5]}]
    good = pa.table({"doc_a": [2, 1, 4], "doc_b": [1, 3, 5]})
    assert checks.planted_pair_problems(good, families) == []
    crossed = pa.table({"doc_a": [1, 1, 4, 3], "doc_b": [2, 3, 5, 4]})
    assert checks.planted_pair_problems(crossed, families)
    assert checks.planted_pair_problems(pa.table({"doc_a": [1], "doc_b": [3]}), families)


def _benchmark_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_catalog_matches_benchmark_json():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert sorted(run.WORKLOADS) == sorted(workloads.SIZES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER


def _run(workload: str, trace: int, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_reports_catalog_and_spans_cover_wall(workload):
    p = _run(workload, trace=1)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout
    names = {m["name"] for m in _benchmark_json()["per_layer"]}
    assert set(result["metrics"]) == names
    # Most of the timed wall lies in the layers the workload names.
    assert result["metrics"]["trace.span_coverage"]["value"] >= 0.5
    for line in p.stdout.splitlines()[1:-1]:
        name = line.split()[0]
        if name not in ("op", "problem:", "pp.merge_s_p50", "failed_ops_ratio", "output",
                        "clock:"):
            assert name in names | {"setup_s", "wall_s"}, line


def test_untraced_run_reports_end_to_end_metrics():
    p = _run("pp_ingest", trace=0)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in _benchmark_json()["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("pp_ingest", trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert "{" not in p.stdout
