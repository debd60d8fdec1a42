"""global_rank parity vs the single-task window (operators/rank.py)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.operators.rank import (
    equidepth_histogram,
    global_rank,
)


def _frame(spark, n=500, seed=7):
    rng = random.Random(seed)
    rows = [Row(k=i, v=rng.randint(0, 50) * 1.5) for i in range(n)]
    rng.shuffle(rows)
    return spark.createDataFrame(rows)


def test_matches_single_task_window(spark):
    df = _frame(spark)
    got = {
        (r.k, r["rank"])
        for r in global_rank(df, ["v", "k"], num_partitions=7).collect()
    }
    w = Window.orderBy("v", "k")
    want = {
        (r.k, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_more_partitions_than_rows(spark):
    df = _frame(spark, n=5)
    ranks = sorted(
        r["rank"] for r in global_rank(df, ["v", "k"], num_partitions=16).collect()
    )
    assert ranks == [1, 2, 3, 4, 5]


def test_equidepth_buckets_balanced(spark):
    df = _frame(spark, n=403)
    out = equidepth_histogram(df, "v", "k", n_buckets=8).collect()
    assert sorted(r.bucket for r in out) == list(range(1, 9))
    assert sum(r.n_rows for r in out) == 403
    assert max(r.n_rows for r in out) - min(r.n_rows for r in out) <= 1
    by_bucket = sorted(out, key=lambda r: r.bucket)
    for lo_r, hi_r in zip(by_bucket, by_bucket[1:]):
        assert lo_r.hi <= hi_r.lo


def test_empty_input(spark):
    df = spark.createDataFrame([], "k long, v double")
    assert global_rank(df, ["v", "k"], num_partitions=4).count() == 0
    assert equidepth_histogram(df, "v", "k", n_buckets=4).count() == 0


def test_partition_larger_than_row_index_is_refused(spark, monkeypatch):
    """The rank reads the partition-local row index from the low bits of
    monotonically_increasing_id; a partition too large for them must
    fail loudly instead of wrapping into wrong ranks."""
    from land_registry_data_ingestion_spark.operators import rank

    monkeypatch.setattr(rank, "_ROW_INDEX_BITS", 2)
    with pytest.raises(ValueError, match="2-bit row index"):
        global_rank(_frame(spark, n=20), ["v", "k"], num_partitions=2)
