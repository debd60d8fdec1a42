"""Physical-plan quality gates (SURVEY §4): the plans must stay the plans
we designed — filters reaching the parquet scan, columns pruned, small
sides broadcast, partial aggregation map-side, top-k via ordered take.

These tests fail if a refactor silently degrades the plan (e.g. a UDF
blocks pushdown, or a broadcast hint is lost and a 100 TB join starts
shuffling the fact table)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECTNESS

from land_registry_data_ingestion_spark.plans.registry import _load_all, REGISTRY

_load_all()


def explain_str(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return df._jdf.queryExecution().explainString(jmode)


def _plan(spark, name: str, mode: str = "formatted") -> str:
    return explain_str(REGISTRY[name].fn(spark, SF_CORRECTNESS), mode)


def test_filters_pushed_to_scan(spark):
    plan = _plan(spark, "rel_project_filter")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "l_quantity" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]
    # equality predicate pushed too
    assert "EqualTo(l_returnflag,R)" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "q1_delay_histogram_days")
    # lineitem scan must read exactly the join key + shipdate
    scan = [s for s in plan.split("ReadSchema: ")[1:] if "l_orderkey" in s][0]
    assert "l_shipdate" in scan and "l_extendedprice" not in scan


def test_small_dim_broadcasts(spark):
    plan = _plan(spark, "rel_left_join_broadcast")
    assert "BroadcastHashJoin" in plan
    plan = _plan(spark, "rel_semi_join")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_binning_is_broadcast_range_join(spark):
    plan = _plan(spark, "q2_interval_binning")
    assert "BroadcastNestedLoopJoin" in plan
    # the fact side must NOT shuffle for the join
    before_join = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange hashpartitioning(l_" not in before_join


def test_q4_bins_facts_exactly_once(spark):
    """q4 must not recompute the range join per consumer, and the fact
    table must never be nested-loop-joined or shuffled for the binning
    (round-11 two-phase form): ONE tiny BroadcastNestedLoopJoin bins the
    DISTINCT values, the facts attach through a broadcast HASH join, and
    the only extra fact scan is the column-pruned distinct-value pass."""
    plan = _plan(spark, "q4_normalized_delay", mode="simple")
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastHashJoin" in plan  # the fact-side bin attach
    # lineitem(values, pruned) + orders(edges) + lineitem(attach)
    assert plan.count("FileScan parquet") <= 3
    # the fact table is never shuffled for the binning
    assert "Exchange hashpartitioning(l_" not in plan
    # the distinct-value pass reads only the binned column
    fmt = _plan(spark, "q4_normalized_delay", mode="formatted")
    li_scans = [
        s.split("\n")[0]
        for s in fmt.split("ReadSchema: ")[1:]
        if "l_shipdate" in s.split("\n")[0]
    ]
    assert any(
        "l_orderkey" not in s and "l_extendedprice" not in s for s in li_scans
    ), li_scans


def test_partial_aggregation(spark):
    plan = _plan(spark, "agg_multi", mode="simple")
    # partial (map-side) + final aggregate around one small shuffle
    assert plan.count("HashAggregate") >= 2
    # whole-stage codegen covers the aggregate (AQE hides it in
    # formatted mode before execution; codegen mode shows the subtrees)
    codegen = _plan(spark, "agg_multi", mode="codegen")
    assert "WholeStageCodegen" in codegen


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "ord_sort_limit", mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_no_python_udfs_or_cartesians_anywhere(spark):
    """No row-at-a-time Python and no cartesians in any declared query.
    Sanctioned Python: Arrow-batched vectorized kernels (MapInPandas) for
    bulk vector scoring and multimodal decode — never BatchEvalPython /
    ArrowEvalPython row UDFs, which serialize scalar-at-a-time. An
    unintended CartesianProduct is the classic silent O(n²) scale killer.
    Pair scans are hash joins on bucket/block keys (LSH buckets, the 2D
    block-pair theta join); the only BroadcastNestedLoopJoins left have a
    provably tiny broadcast side (bin-edge range join, top-k query set)."""
    offenders = []
    for name, spec in REGISTRY.items():
        plan = explain_str(spec.fn(spark, SF_CORRECTNESS), "simple")
        for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
            if marker in plan:
                offenders.append((name, marker))
    assert not offenders, f"bad plan shapes: {offenders}"


def test_merge_is_join_free_on_coderived_inputs(spark):
    """Round 11: the declared merge queries derive current state AND the
    update batch from one uniquely-keyed orders scan, so the full-outer
    join is eliminated outright (cdc_merge_coderived) — the plan must
    stay join-free and scan orders exactly once. The generic operator's
    one-join contract is pinned by test_merge.py (including
    test_coderived_equals_join, which also asserts THIS plan shape)."""
    plan = _plan(spark, "cdc_merge_state", mode="simple")
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1


def test_reconcile_null_safe_join(spark):
    """Rows identical except for a shared NULL must report 'both' (the
    reference's pandas merge treats NaN keys as equal)."""
    from land_registry_data_ingestion_spark.operators.reconcile import reconcile

    left = spark.createDataFrame(
        [(1, None, 10.0), (2, "b", 20.0)], ["k", "name", "price"]
    )
    right = spark.createDataFrame(
        [(1, None, 10.0), (3, "c", 30.0)], ["k", "name", "price"]
    )
    res = reconcile(left, right, on=["k", "name", "price"])
    counts = {r["presence"]: r["n_rows"] for r in res.counts.collect()}
    assert counts == {"both": 1, "left_only": 1, "right_only": 1}


def test_reconcile_counts_rows_by_multiplicity(spark):
    """Duplicates reconcile as the full-outer join on every column
    would: a tuple twice left and three times right is 6 ``both`` rows,
    one-sided duplicates keep their multiplicity, and a shared NULL or a
    shared NaN matches. ``diff`` repeats each row by multiplicity."""
    from collections import Counter
    import math

    from land_registry_data_ingestion_spark.operators.reconcile import reconcile

    nan = float("nan")
    schema = "k long, name string, price double"
    left = spark.createDataFrame(
        [(1, "a", 1.0)] * 2 + [(2, "b", 2.0)] * 2 + [(4, None, 4.0), (5, "n", nan)],
        schema,
    )
    right = spark.createDataFrame(
        [(1, "a", 1.0)] * 3 + [(3, "c", 3.0)] * 2 + [(4, None, 4.0), (5, "n", nan)],
        schema,
    )
    res = reconcile(left, right)
    counts = {r["presence"]: r["n_rows"] for r in res.counts.collect()}
    assert counts == {"both": 8, "left_only": 2, "right_only": 2}

    def key(r):
        price = "NaN" if math.isnan(r["price"]) else r["price"]
        return (r["k"], r["name"], price, r["presence"])

    assert Counter(key(r) for r in res.diff.collect()) == Counter({
        (1, "a", 1.0, "both"): 6,
        (2, "b", 2.0, "left_only"): 2,
        (3, "c", 3.0, "right_only"): 2,
        (4, None, 4.0, "both"): 1,
        (5, "n", "NaN", "both"): 1,
    })


def test_repair_updates_converges_target_to_truth(spark):
    """verify→repair loop: corrupt one row + drop one row in the target;
    repair_updates + cdc_merge(op='A') must converge the target to the
    truth (target-only rows are reported, never deleted — reference
    semantics)."""
    import datetime

    from pyspark.sql import functions as F

    from land_registry_data_ingestion_spark.operators.merge import (
        cdc_merge,
        init_state,
    )
    from land_registry_data_ingestion_spark.operators.reconcile import (
        reconcile,
        repair_updates,
    )

    truth = spark.createDataFrame(
        [("t1", 100, "X"), ("t2", 200, None), ("t3", 300, "Z")],
        ["tuid", "price", "code"],
    )
    target_rows = spark.createDataFrame(
        [("t1", 100, "X"), ("t2", 999, None)],  # t2 corrupt, t3 missing
        ["tuid", "price", "code"],
    )
    ts = F.lit(datetime.datetime(2024, 1, 1))
    target = init_state(target_rows, batch_timestamp=ts)

    updates = repair_updates(truth, target_rows)
    assert sorted(r["tuid"] for r in updates.collect()) == ["t2", "t3"]

    repaired = cdc_merge(
        target, updates, key_col="tuid", value_cols=["price", "code"],
        batch_timestamp=F.lit(datetime.datetime(2024, 2, 1)),
    ).new_state
    got = reconcile(
        truth, repaired.select("tuid", "price", "code"),
        on=["tuid", "price", "code"],
    )
    counts = {r["presence"]: r["n_rows"] for r in got.counts.collect()}
    assert counts == {"both": 3}


def test_anomaly_zscore_excludes_nonfinite_measurements(spark, tmp_path):
    """Declared contract (round-8 adversarial gate): a NaN/±Inf value is
    unmeasurable, not an outlier — excluded from moment estimation AND
    never classified. Unfiltered, one NaN poisons its type's mu/sigma
    and Spark's NaN-is-greatest comparison then flags EVERY event of
    that type, while DuckDB's STDDEV raises Out of Range outright. The
    oracle-differential run on the perturbed table is the pin: both
    engines must agree AND the degenerate rows must be absent."""
    import math
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_harness import run_compare

    src = f"{SF_CORRECTNESS}/events.parquet"
    table = pq.read_table(src)
    value = table.column("value").to_pylist()
    poisoned = set()
    for i in range(0, len(value), 97):
        value[i] = [float("nan"), float("inf"), float("-inf")][(i // 97) % 3]
        poisoned.add(i)
    arrays = [
        pa.array(value, type=table.schema.field("value").type)
        if f.name == "value"
        else table.column(f.name).combine_chunks()
        for f in table.schema
    ]
    out_dir = tmp_path / "sfadv_value"
    out_dir.mkdir()
    pq.write_table(
        pa.Table.from_arrays(arrays, schema=table.schema),
        str(out_dir / "events.parquet"),
    )

    spec = REGISTRY["evt_anomaly_zscore"]
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW events AS SELECT * FROM '{out_dir}/events.parquet'"
    )
    problems = run_compare(
        spark, duck, spec.fn, spec.sql, str(out_dir), "evt_anomaly_zscore"
    )
    assert problems == []

    rows = spec.fn(spark, str(out_dir)).collect()
    assert len(rows) > 0  # finite outliers still detected
    flagged = {r["event_id"] for r in rows}
    # event_id is the row index in the synthetic table, so the poisoned
    # positions are directly checkable: none may be classified.
    assert not (flagged & poisoned)
    assert all(
        r["value"] is not None
        and math.isfinite(r["value"])
        and math.isfinite(r["zscore"])
        for r in rows
    )
