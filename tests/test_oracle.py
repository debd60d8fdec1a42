"""Oracle-differential tests: every declared query vs DuckDB at sf0.01.

This is the registry's correctness contract, together with the
seven-tier adversarial gate (tests/test_adversarial_gate.py): same column
names, same row multiset, bit-identical values after each query's own
rounding.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECTNESS
from tests.oracle_harness import run_compare

from land_registry_data_ingestion_spark.plans.registry import (
    _load_all,
    REGISTRY,
)

_load_all()
_SQL_CHECKED = [n for n, s in REGISTRY.items() if s.sql is not None]
_ROWS_ONLY = [n for n, s in REGISTRY.items() if s.sql is None]


@pytest.mark.parametrize("name", _SQL_CHECKED)
def test_oracle_match(spark, duck, name):
    spec = REGISTRY[name]
    problems = run_compare(spark, duck, spec.fn, spec.sql, SF_CORRECTNESS, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_CORRECTNESS)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_evt_funnel_keeps_users_whose_views_all_have_null_ts(spark, tmp_path):
    """The oracle's ``GROUP BY user_id`` counts a user whose every view has
    a NULL ts in 1_view; NULL-ts events still never pass a later gate."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = [None] + [datetime.datetime(2024, 1, 1, 0, m) for m in range(7)]
    users, kinds, ts = zip(
        (1, "view", t[0]), (1, "view", t[0]), (1, "click", t[2]),
        (2, "view", t[1]), (2, "click", t[3]), (2, "purchase", t[0]),
        (2, "purchase", t[4]),
        (3, "view", t[6]), (3, "click", t[0]), (3, "purchase", t[7]),
    )
    n = len(users)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": kinds, "value": [1.0] * n, "props": ["{}"] * n,
        }),
        str(tmp_path / "events.parquet"),
    )
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    spec = REGISTRY["evt_funnel"]
    got = {r["stage"]: r["n_users"] for r in spec.fn(spark, str(tmp_path)).collect()}
    assert got == {"1_view": 3, "2_click": 1, "3_purchase": 1}
    assert not run_compare(spark, duck, spec.fn, spec.sql, str(tmp_path), "evt_funnel")
