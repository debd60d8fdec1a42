"""The oracle harness's vectorised ``compare_results`` against the
cell-by-cell loop it replaced: the same messages, in the same order, and
the same mismatch total on every kind of cell the two engines return."""

from __future__ import annotations

import datetime
import math

import numpy as np
import pandas as pd
import pytest

from tests.oracle_harness import compare_results, normalize_frame


def _is_null(x) -> bool:
    if x is None:
        return True
    if isinstance(x, float):
        return math.isnan(x)
    return x is pd.NaT


def _cell_equal(a, b) -> bool:
    a_null, b_null = _is_null(a), _is_null(b)
    if a_null or b_null:
        return a_null and b_null
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def _cellwise(spark_pdf, duck_pdf, name):
    """The comparison loop as it stood before vectorising."""
    problems = []
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        return [f"{name}: column mismatch spark={s_cols} duck={d_cols}"]
    if len(spark_pdf) != len(duck_pdf):
        return [f"{name}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"]
    s, d = normalize_frame(spark_pdf), normalize_frame(duck_pdf)
    for col in s.columns:
        for frame in (s, d):
            if str(frame[col].dtype).startswith("datetime"):
                frame[col] = frame[col].dt.to_pydatetime()
    n_bad = 0
    for i in range(len(s)):
        for col in s.columns:
            if not _cell_equal(s.at[i, col], d.at[i, col]):
                n_bad += 1
                if n_bad <= 5:
                    problems.append(
                        f"{name}: row {i} col {col}: "
                        f"spark={s.at[i, col]!r} duck={d.at[i, col]!r}"
                    )
    if n_bad > 5:
        problems.append(f"{name}: ... {n_bad} mismatched cells total")
    return problems


T = pd.Timestamp
CASES = {
    "equal ints and floats": (
        pd.DataFrame({"a": [1, 2, 3], "b": [0.5, 1.0, 2.25]}),
        pd.DataFrame({"a": [1, 2, 3], "b": [0.5, 1.0, 2.25]}),
    ),
    "int against float column, one off": (
        pd.DataFrame({"a": [1, 2, 3]}),
        pd.DataFrame({"a": [1.0, 2.0, 3.5]}),
    ),
    "floats compared exactly": (
        pd.DataFrame({"k": [1, 2], "x": [0.1 + 0.2, 1.0]}),
        pd.DataFrame({"k": [1, 2], "x": [0.3, 1.0]}),
    ),
    "NaN equals only a null": (
        pd.DataFrame({"k": [1, 2, 3], "x": [np.nan, np.nan, 1.0]}),
        pd.DataFrame({"k": [1, 2, 3], "x": [np.nan, 2.0, np.nan]}),
    ),
    "None and NaN in object columns": (
        pd.DataFrame({"k": [1, 2, 3], "s": ["a", None, float("nan")]}, dtype=object),
        pd.DataFrame({"k": [1, 2, 3], "s": [None, None, "c"]}, dtype=object),
    ),
    "strings": (
        pd.DataFrame({"s": ["x", "y", "z"], "n": [1, 2, 3]}),
        pd.DataFrame({"s": ["x", "q", "z"], "n": [1, 2, 4]}),
    ),
    "NaT equals only a null; nanoseconds floor to micros": (
        pd.DataFrame({
            "k": [1, 2, 3, 4],
            "t": [T("2020-01-01 00:00:00.123456789"), pd.NaT, pd.NaT,
                  T("1960-05-05 10:00:00.000000500")],
        }),
        pd.DataFrame({
            "k": [1, 2, 3, 4],
            "t": [T("2020-01-01 00:00:00.123456"), pd.NaT,
                  T("2021-01-01"), T("1960-05-05 10:00:00")],
        }),
    ),
    "zoned against naive datetimes": (
        pd.DataFrame({"t": pd.to_datetime(["2020-01-01", "2020-01-02"]).tz_localize("UTC")}),
        pd.DataFrame({"t": pd.to_datetime(["2020-01-01", "2020-01-02"])}),
    ),
    "datetime against python dates": (
        pd.DataFrame({"t": pd.to_datetime(["2020-01-01"])}),
        pd.DataFrame({"t": [datetime.date(2020, 1, 1)]}),
    ),
    "bools against ints": (
        pd.DataFrame({"b": [True, False, True]}),
        pd.DataFrame({"b": [1, 0, 0]}),
    ),
    "more than five mismatches": (
        pd.DataFrame({"a": range(8), "b": range(8)}),
        pd.DataFrame({"a": range(100, 108), "b": range(8)}),
    ),
    "row count": (
        pd.DataFrame({"a": [1, 2]}),
        pd.DataFrame({"a": [1]}),
    ),
    "columns": (
        pd.DataFrame({"a": [1]}),
        pd.DataFrame({"b": [1]}),
    ),
    "empty": (
        pd.DataFrame({"a": pd.Series([], dtype="int64")}),
        pd.DataFrame({"a": pd.Series([], dtype="float64")}),
    ),
}


@pytest.mark.filterwarnings("ignore::FutureWarning", "ignore::UserWarning")
@pytest.mark.parametrize("case", sorted(CASES))
def test_vectorised_compare_matches_the_cellwise_loop(case):
    spark_pdf, duck_pdf = CASES[case]
    expected = _cellwise(spark_pdf.copy(), duck_pdf.copy(), case)
    assert compare_results(spark_pdf, duck_pdf, case) == expected


def test_mismatches_are_reported_in_row_major_order():
    s = pd.DataFrame({"a": [1, 2, 9], "b": [9, 2, 9]})
    d = pd.DataFrame({"a": [1, 2, 3], "b": [1, 2, 3]})
    assert compare_results(s, d, "q") == [
        "q: row 0 col b: spark=9 duck=1",
        "q: row 2 col a: spark=9 duck=3",
        "q: row 2 col b: spark=9 duck=3",
    ]
