"""Query registry backing ``__spark_entry__.py``.

Each query is a named, oracle-checked statement of one operator from
SURVEY.md §2 (or a scale-out extension), expressed twice:

- ``fn(spark, sf_dir) -> DataFrame`` — the engine's Spark-first plan;
- ``sql`` — the equivalent ANSI SQL DuckDB runs on the same parquet views.

Contract (``tests/test_oracle.py`` over every declared query at sf0.01,
plus the seven-tier adversarial gate, ``tests/test_adversarial_gate.py``):
column names must match exactly between the two, values compare
order-insensitively. Computed columns are therefore aliased identically on
both sides, float outputs are rounded at a fixed scale on both sides, and
every top-k/limit query has a deterministic total order. ``REGISTRY``
iterates in module-load order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # None → non-SQL-expressible; driver runs rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, sql: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The registry serves long-lived sessions that run many queries
            # back to back: drop the previous query's barrier caches (see
            # util.barrier) before building this one, so cached
            # intermediates never accumulate across queries.
            from land_registry_data_ingestion_spark.util import release_caches

            release_caches()
            return fn(spark, sf_dir)

        fresh.__name__ = fn.__name__
        fresh.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(name=name, fn=fresh, sql=sql, doc=fn.__doc__ or "")
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: spec.sql for name, spec in REGISTRY.items() if spec.sql is not None}


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (they self-register)."""
    global _LOADED
    if _LOADED:
        return
    from land_registry_data_ingestion_spark.plans import (  # noqa: F401
        analytics,
        relational,
        merge_queries,
        textops_queries,
        dedup_queries,
        similarity_queries,
        events_queries,
        multimodal_queries,
        corpus_queries,
    )

    _LOADED = True
