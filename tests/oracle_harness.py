"""Local replica of the driver's oracle-differential gate.

Runs a declared Spark query and its DuckDB oracle on the same parquet
tables and compares: column names (sorted), row counts, and values
(row-sorted, order-insensitive). Floats must match to the bit after the
query's own explicit rounding — if they don't, the query's rounding
contract is wrong and the driver's value-hash would fail too.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def normalize_frame(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    if len(out):
        out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def _is_datetime(col: pd.Series) -> bool:
    return str(col.dtype).startswith("datetime")


def _as_cells(col: pd.Series) -> np.ndarray:
    """The column's cells as an object array of the scalars ``.at``
    returns (numpy scalars for numpy dtypes), datetimes floored to the
    microsecond like a round trip through python datetimes."""
    if col.dtype == object:
        return col.to_numpy()
    if _is_datetime(col):
        col = col.dt.floor("us")
    out = np.empty(len(col), dtype=object)
    out[:] = list(col.array) if _is_datetime(col) else list(col.to_numpy())
    return out


def _utc_micros(col: pd.Series) -> np.ndarray:
    col = col.dt.floor("us")
    if col.dt.tz is not None:
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    return col.to_numpy().astype("datetime64[us]")


def _column_equal(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Per-row equality of two aligned columns. A null (None, NaN, NaT)
    equals only a null. Numbers compare as numpy compares them, floats
    exactly; datetimes compare as instants floored to the microsecond,
    and a zoned one never equals a naive one; anything else compares with
    Python ``==`` cell by cell (in C, over object arrays)."""
    a_null, b_null = a.isna().to_numpy(), b.isna().to_numpy()
    both = ~a_null & ~b_null
    eq = a_null & b_null
    if not both.any():
        return eq
    if _is_datetime(a) and _is_datetime(b):
        if (a.dt.tz is None) == (b.dt.tz is None):
            eq[both] = _utc_micros(a)[both] == _utc_micros(b)[both]
        return eq
    if a.dtype.kind in "biuf" and b.dtype.kind in "biuf" and not (
        isinstance(a.dtype, pd.api.extensions.ExtensionDtype)
        or isinstance(b.dtype, pd.api.extensions.ExtensionDtype)
    ):
        eq[both] = a.to_numpy()[both] == b.to_numpy()[both]
        return eq
    eq[both] = _as_cells(a)[both] == _as_cells(b)[both]
    return eq


def _cell_repr(frame: pd.DataFrame, i: int, col: str) -> str:
    v = frame.at[i, col]
    if _is_datetime(frame[col]) and v is not pd.NaT:
        v = v.floor("us")
    return repr(v)


def compare_results(
    spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str
) -> list[str]:
    """Return a list of human-readable mismatch descriptions (empty = pass):
    the first 5 mismatched cells in row-major order, then the total count.
    Cells compare per column, vectorised (:func:`_column_equal`)."""
    problems: list[str] = []
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        return [f"{name}: column mismatch spark={s_cols} duck={d_cols}"]
    if len(spark_pdf) != len(duck_pdf):
        problems.append(
            f"{name}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
        )
        return problems
    s = normalize_frame(spark_pdf)
    d = normalize_frame(duck_pdf)
    bad = {col: ~_column_equal(s[col], d[col]) for col in s.columns}
    n_bad = sum(int(m.sum()) for m in bad.values())
    row_bad = np.zeros(len(s), dtype=bool)
    for m in bad.values():
        row_bad |= m
    for i in np.flatnonzero(row_bad)[:5]:
        for col in s.columns:
            if bad[col][i] and len(problems) < 5:
                problems.append(
                    f"{name}: row {i} col {col}: "
                    f"spark={_cell_repr(s, i, col)} duck={_cell_repr(d, i, col)}"
                )
    if n_bad > 5:
        problems.append(f"{name}: ... {n_bad} mismatched cells total")
    return problems


def run_compare(spark, duck, fn, sql: str, sf_dir: str, name: str) -> list[str]:
    spark_pdf = fn(spark, sf_dir).toPandas()
    duck_pdf = duck.execute(sql).fetchdf()
    return compare_results(spark_pdf, duck_pdf, name)
