"""Dataset reconciliation (SURVEY Q6/J1): DB-vs-file full-outer compare.

The reference merges the database extract against the raw file on *all*
value columns with ``indicator=True`` and splits the result into
left-only / right-only / both (``LRD/land_registry_database_verify.py:209-236``),
then optionally repairs the difference (:296-446).

Spark-first: ONE aggregate. Both sides are unioned, tagged ``(1, 0)`` and
``(0, 1)``, and grouped by the compared tuple, so a tuple seen ``m`` times
on the left and ``n`` times on the right yields the full-outer join's
``m·n`` ``both`` rows (or ``m`` ``left_only`` / ``n`` ``right_only``) with
one shuffle of the narrow union instead of two sort-merge sides. At 100 TB
the group-by hash-partitions on the same composite key, so the compare is
fully parallel. For very wide tuples, compare on a fingerprint (xxhash64
of the struct) first and only group wide rows for the mismatches.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.schema import OP_COLUMN


@dataclass
class ReconcileResult:
    diff: DataFrame  # value columns + presence ∈ {left_only, right_only, both}
    counts: DataFrame  # presence → n_rows


def reconcile(
    left: DataFrame, right: DataFrame, on: list[str] | None = None
) -> ReconcileResult:
    """Full-outer compare of two datasets on ``on`` (default: all shared
    columns), tagging each row with its provenance.

    The compare is NULL-SAFE (IS NOT DISTINCT FROM): the reference's
    pandas merge treats NaN join keys as equal (database_verify.py:209-236),
    so two rows identical on every column except a shared NULL (nullable
    price/date in the price-paid schema) must report as ``both`` — a plain
    equi-join would misreport them as left_only + right_only. Grouping
    gives that for free: group keys treat NULLs as equal and normalise NaN
    and -0.0 the way ``eqNullSafe`` join keys do. ``diff`` repeats each
    tuple by its multiplicity, as the join would."""
    cols = on if on is not None else [c for c in left.columns if c in right.columns]
    grouped = (
        left.select(*cols, F.lit(1).alias("_m"), F.lit(0).alias("_n"))
        .union(right.select(*cols, F.lit(0).alias("_m"), F.lit(1).alias("_n")))
        .groupBy(*cols)
        .agg(F.sum("_m").alias("_m"), F.sum("_n").alias("_n"))
    )
    diff = grouped.select(
        *cols,
        F.expr(
            "CASE WHEN _m > 0 AND _n > 0 THEN 'both' "
            "WHEN _m > 0 THEN 'left_only' ELSE 'right_only' END"
        ).alias("presence"),
        F.explode(
            F.expr("array_repeat(0, CAST(greatest(_m * _n, _m, _n) AS INT))")
        ).alias("_copy"),
    ).drop("_copy")
    counts = grouped.agg(
        F.expr("sum(_m * _n)").alias("both"),
        F.expr("sum(CASE WHEN _n = 0 THEN _m END)").alias("left_only"),
        F.expr("sum(CASE WHEN _m = 0 THEN _n END)").alias("right_only"),
    ).selectExpr(
        "stack(3, 'both', both, 'left_only', left_only, 'right_only', right_only) "
        "AS (presence, n_rows)"
    ).filter("n_rows > 0")
    return ReconcileResult(diff=diff, counts=counts)


def repair_updates(truth: DataFrame, target: DataFrame) -> DataFrame:
    """The repair half of the reference's verify
    (``database_verify.py:296-446``): rows present in the source-of-truth
    file but not byte-identical in the target become an op='A' update
    batch — feed it to ``cdc_merge`` for the same
    update-if-different / insert-if-missing convergence the reference
    runs row-by-row (it UPSERTS only; target-only rows are reported by
    :func:`reconcile` but never deleted).

    The anti-join is null-safe on every shared column, mirroring the
    reconcile's NaN-equal comparison."""
    cols = [c for c in truth.columns if c in target.columns]
    l = truth.select(*cols).alias("l")
    r = target.select(*cols).alias("r")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")) for c in cols],
    )
    return l.join(r, cond, "left_anti").withColumn(OP_COLUMN, F.lit("A"))
