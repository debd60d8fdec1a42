"""History rewind & per-key versioning (SURVEY Q7/W1/W4).

The reference reconstructs the snapshot as of month M by numbering each
key's updates across months (``groupby().cumcount()``) and reverse-applying
them (``rewind-monthly-updates.ipynb`` cells 14-21). Spark-first: window
functions over (key, version order) — one shuffle by key, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def number_versions(
    updates: DataFrame,
    key_col: str,
    order_cols: str | list[str],
    version_col: str = "version",
) -> DataFrame:
    """W1: 0-based version ordinal per key in ``order_cols`` order
    (reference cumcount, cell 15). Pass a full tiebreak so ranks are
    deterministic — row_number over a non-unique order is not."""
    cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    w = Window.partitionBy(key_col).orderBy(*cols)
    return updates.withColumn(version_col, F.row_number().over(w) - 1)


def rewind_to_version(
    versioned: DataFrame, key_col: str, version_col: str, max_version: int
) -> DataFrame:
    """Q7: state as of version ``max_version`` — latest surviving row per
    key among versions ≤ max_version (max_by over the window)."""
    w = Window.partitionBy(key_col).orderBy(F.desc(version_col))
    return (
        versioned.filter(F.col(version_col) <= max_version)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
