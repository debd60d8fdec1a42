"""CDC merge queries (SURVEY §3.2) with a full SQL oracle.

Inputs derive deterministically from ``orders`` so Spark and DuckDB build
identical current-state and update batches:

- current  = orders with o_orderkey % 7 != 0; soft-deleted where % 13 = 0
- updates  = orders with o_orderkey % 3 = 0; op A/C/D by o_orderkey % 9
             (0→A, 3→C, 6→D); values perturbed (+1 price) on odd keys

That overlap exercises every branch of the decision matrix: identical rows
(ignore), live-differing (change), deleted (undelete / ignore), and
missing (insert / ignore).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from land_registry_data_ingestion_spark.operators.merge import (
    cdc_merge,
    cdc_merge_coderived,
    merge_ledger,
    merge_outcome_stats,
)
from land_registry_data_ingestion_spark.operators.rewind import (
    number_versions,
    rewind_to_version,
)
from land_registry_data_ingestion_spark.plans.registry import query
from land_registry_data_ingestion_spark.sources.parquet import load_tables

_TS = "2024-06-01 00:00:00"

_CUR_SQL = """
    SELECT o_orderkey AS tuid, o_totalprice AS price, o_orderstatus AS status,
           (o_orderkey % 13 = 0) AS is_deleted
    FROM orders WHERE o_orderkey % 7 != 0
"""

_UPD_SQL = """
    SELECT o_orderkey AS tuid,
           CASE WHEN o_orderkey % 9 = 0 THEN 'A'
                WHEN o_orderkey % 9 = 3 THEN 'C'
                ELSE 'D' END AS record_op,
           CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
                ELSE o_totalprice + 1 END AS price,
           o_orderstatus AS status
    FROM orders WHERE o_orderkey % 3 = 0
"""

_OUTCOME_CASE = """
    CASE
      WHEN record_op = 'A' THEN
        CASE WHEN identical THEN 'add_ignore'
             WHEN cur_live THEN 'add_change'
             WHEN cur_deleted THEN 'add_undelete_change'
             ELSE 'add_insert' END
      WHEN record_op = 'C' THEN
        CASE WHEN identical THEN 'change_ignore'
             WHEN cur_live THEN 'change_change'
             WHEN cur_deleted THEN 'change_ignore_deleted'
             ELSE 'change_insert' END
      ELSE
        CASE WHEN identical THEN 'delete_delete'
             WHEN cur_live THEN 'delete_change_delete'
             WHEN cur_deleted THEN 'delete_ignore_deleted'
             ELSE 'delete_ignore_missing' END
    END
"""

_JOINED_SQL = f"""
    SELECT u.tuid, u.record_op, u.price AS u_price, u.status AS u_status,
           c.price AS c_price, c.status AS c_status,
           c.tuid IS NOT NULL AS cur_exists,
           (c.tuid IS NOT NULL AND c.is_deleted) AS cur_deleted,
           (c.tuid IS NOT NULL AND NOT c.is_deleted) AS cur_live,
           (c.tuid IS NOT NULL AND NOT c.is_deleted
            AND c.price IS NOT DISTINCT FROM u.price
            AND c.status IS NOT DISTINCT FROM u.status) AS identical
    FROM ({_UPD_SQL}) u LEFT JOIN ({_CUR_SQL}) c ON u.tuid = c.tuid
"""


def _current(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base_ts = F.lit("2024-01-01 00:00:00").cast("timestamp")
    return t.orders.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("tuid"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_orderkey") % 13 == 0).alias("is_deleted"),
        base_ts.alias("created_datetime"),
        F.lit(None).cast("timestamp").alias("updated_datetime"),
        F.when(F.col("o_orderkey") % 13 == 0, base_ts).alias("deleted_datetime"),
    )


def _updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("tuid"),
        F.when(F.col("o_orderkey") % 9 == 0, "A")
        .when(F.col("o_orderkey") % 9 == 3, "C")
        .otherwise("D")
        .alias("record_op"),
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice") + 1)
        .alias("price"),
        F.col("o_orderstatus").alias("status"),
    )


def _merged(spark: SparkSession, sf_dir: str):
    # Join-free merge (round 11): current and updates are row-local
    # projections of the SAME orders scan keyed by o_orderkey (unique,
    # non-null), so the full-outer join matches each row only with
    # itself — cdc_merge_coderived builds both sides from one scan with
    # zero exchanges. Equivalence with the cdc_merge(_current, _updates)
    # join is oracle-checked on every declared merge query and pinned by
    # tests/test_merge.py::test_coderived_equals_join.
    t = load_tables(spark, sf_dir)
    k = F.col("o_orderkey")
    base_ts = F.lit("2024-01-01 00:00:00").cast("timestamp")
    return cdc_merge_coderived(
        t.orders,
        cur_filter=k % 7 != 0,
        cur_select={
            "tuid": k,
            "price": F.col("o_totalprice"),
            "status": F.col("o_orderstatus"),
            "is_deleted": k % 13 == 0,
            "created_datetime": base_ts,
            "updated_datetime": F.lit(None).cast("timestamp"),
            "deleted_datetime": F.when(k % 13 == 0, base_ts),
        },
        upd_filter=k % 3 == 0,
        upd_select={
            "tuid": k,
            "record_op": F.when(k % 9 == 0, "A")
            .when(k % 9 == 3, "C")
            .otherwise("D"),
            "price": F.when(k % 2 == 0, F.col("o_totalprice")).otherwise(
                F.col("o_totalprice") + 1
            ),
            "status": F.col("o_orderstatus"),
        },
        key_col="tuid",
        value_cols=["price", "status"],
        batch_timestamp=F.lit(_TS).cast("timestamp"),
    )


@query(
    "cdc_merge_outcomes",
    sql=f"""
    SELECT record_op, {_OUTCOME_CASE} AS outcome, COUNT(*) AS n_rows
    FROM ({_JOINED_SQL})
    GROUP BY 1, 2
    """,
)
def cdc_merge_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the operation ledger — every update classified by the decision
    matrix, counted per (op, outcome). One full-outer join pass replaces
    the reference's 4-probes-per-row loop."""
    return merge_outcome_stats(_merged(spark, sf_dir).outcomes)


def _ledger_cnt_sql(cond: str, name: str) -> str:
    return f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS {name}"


@query(
    "cdc_merge_ledger",
    sql=f"""
    WITH j AS ({_JOINED_SQL}),
    o AS (SELECT record_op, {_OUTCOME_CASE} AS outcome FROM j)
    SELECT
      CAST(COUNT(*) AS BIGINT) AS input_file_row_count,
      {_ledger_cnt_sql("record_op = 'A'", "input_file_row_count_insert")},
      {_ledger_cnt_sql("record_op = 'C'", "input_file_row_count_update")},
      {_ledger_cnt_sql("record_op = 'D'", "input_file_row_count_delete")},
      {_ledger_cnt_sql("outcome IN ('add_insert','change_insert')", "operation_count_insert")},
      {_ledger_cnt_sql("outcome IN ('add_change','change_change','add_undelete_change')", "operation_count_update")},
      {_ledger_cnt_sql("outcome IN ('delete_delete','delete_change_delete')", "operation_count_delete")},
      {_ledger_cnt_sql("outcome IN ('add_ignore','change_ignore','change_ignore_deleted','delete_ignore_deleted','delete_ignore_missing')", "operation_count_ignored")},
      {_ledger_cnt_sql("outcome = 'add_insert'", "operation_count_insert_insert")},
      {_ledger_cnt_sql("outcome IN ('add_change','add_undelete_change')", "operation_count_insert_update")},
      {_ledger_cnt_sql("outcome = 'add_ignore'", "operation_count_insert_ignore")},
      {_ledger_cnt_sql("outcome = 'change_change'", "operation_count_update_update")},
      {_ledger_cnt_sql("outcome = 'change_insert'", "operation_count_update_insert")},
      {_ledger_cnt_sql("outcome IN ('change_ignore','change_ignore_deleted')", "operation_count_update_ignore")},
      {_ledger_cnt_sql("outcome = 'delete_delete'", "operation_count_delete_delete")},
      {_ledger_cnt_sql("outcome = 'delete_change_delete'", "operation_count_delete_change_delete")},
      {_ledger_cnt_sql("outcome IN ('delete_ignore_missing','delete_ignore_deleted')", "operation_count_delete_ignore")}
    FROM o
    """,
)
def cdc_merge_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 full parity: the reference's 17-counter operation-log row
    (database_updater.py:48-84,1059-1117) as one conditional-sum pass over
    the merge outcomes."""
    return merge_ledger(_merged(spark, sf_dir).outcomes)


@query(
    "cdc_merge_state",
    sql=f"""
    WITH j AS ({_JOINED_SQL}),
    outcomes AS (SELECT *, {_OUTCOME_CASE} AS outcome FROM j),
    touched AS (
        SELECT tuid,
               CASE WHEN outcome IN ('add_change','add_undelete_change','add_insert',
                                     'change_change','change_insert','delete_change_delete')
                    THEN u_price ELSE c_price END AS price,
               CASE WHEN outcome IN ('delete_delete','delete_change_delete') THEN TRUE
                    WHEN outcome IN ('add_undelete_change','add_insert','change_insert')
                        THEN FALSE
                    ELSE cur_deleted END AS is_deleted
        FROM outcomes
        WHERE outcome != 'delete_ignore_missing'
    ),
    untouched AS (
        SELECT c.tuid, c.price, c.is_deleted
        FROM ({_CUR_SQL}) c
        WHERE c.tuid NOT IN (SELECT tuid FROM ({_UPD_SQL}))
    ),
    state AS (
        SELECT * FROM touched UNION ALL SELECT * FROM untouched
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN is_deleted THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
           ROUND(SUM(price), 2) AS total_price,
           CAST(COUNT(DISTINCT tuid) AS BIGINT) AS n_keys
    FROM state
    """,
)
def cdc_merge_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-merge state checksum: row/deleted/key counts + price total.
    Verifies the merge's value selection, not just its outcome labels.

    n_keys: the oracle states COUNT(DISTINCT tuid); the engine computes
    COUNT(tuid) — equal by the merge invariant (≤1 state row per key:
    current and updates are key-unique orders projections, the reference
    crashes via ``.one()`` otherwise, and ``validate_unique`` is this
    engine's guard). Round 11, guide §8 "use what you know that the
    optimizer does not": with the join-free coderived merge the query
    had no tuid-clustered stage left, so COUNT(DISTINCT) planned a
    no-reduction partial aggregate over ~n unique keys plus a full
    key-shuffle; COUNT(tuid) reduces map-side to one row per task and
    the whole query is scan → cascade → 1-row aggregate, zero keyed
    shuffles. (Both COUNT forms ignore NULL keys identically.)"""
    state = _merged(spark, sf_dir).new_state
    return state.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("is_deleted").cast("int")).cast("long").alias("n_deleted"),
        F.round(F.sum("price"), 2).alias("total_price"),
        F.count("tuid").alias("n_keys"),
    )


@query(
    "cdc_state_as_of",
    sql=f"""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN is_deleted THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
           ROUND(SUM(price), 2) AS total_price,
           CAST(COUNT(DISTINCT tuid) AS BIGINT) AS n_keys,
           CAST(MIN(data_year) AS BIGINT) AS min_year,
           CAST(MAX(data_year) AS BIGINT) AS max_year
    FROM (
        SELECT c.*, YEAR(o.o_orderdate) AS data_year
        FROM ({_CUR_SQL}) c
        JOIN orders o ON o.o_orderkey = c.tuid
    )
    """,
)
def cdc_state_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-store time travel (``operators/state.py:state_as_of``):
    load a snapshot as run r1, CDC-merge an update batch as run r2, then
    read the state **as of r1** — an O(1) manifest-pointer lookup, no
    history reconstruction. The checksum of the rewound state must equal
    the checksum DuckDB computes over the original snapshot input: the
    merge physically rewrote touched ``data_year`` partitions, so parity
    proves untouched partitions are carried by reference and touched ones
    remain readable from r1's run-addressed parts.

    The table-format idea (Iceberg/Delta snapshot isolation) on plain
    parquet; reference parity target is the rewind flow its history tables
    serve (``LRD/land_registry_pp_monthly_update_database_updater.py``
    audit columns), done here without touching row history at all."""
    import datetime
    import shutil
    import tempfile

    t = load_tables(spark, sf_dir)
    date_col = t.orders.select(
        F.col("o_orderkey").alias("tuid"),
        F.col("o_orderdate").cast("timestamp").alias("transaction_date"),
    )
    state1 = _current(spark, sf_dir).join(date_col, "tuid")
    updates = _updates(spark, sf_dir).join(date_col, "tuid")

    from land_registry_data_ingestion_spark.operators.ingest import record_run
    from land_registry_data_ingestion_spark.operators.state import ManifestStore

    root = tempfile.mkdtemp(prefix="lrdi_state_as_of_")
    try:
        store = ManifestStore(spark=spark, root=root)
        loc1 = store.state_path("r1")
        n1 = store.write_state(state1, loc1, "tuid")
        record_run(store, "r1", "derived:orders", "complete", "a" * 64,
                   datetime.datetime(2024, 1, 1), n1, loc1)
        current, carry = store.current_for_merge(updates, "tuid")
        merged = cdc_merge(
            current,
            updates,
            key_col="tuid",
            value_cols=["price", "status", "transaction_date"],
            batch_timestamp=F.lit(_TS).cast("timestamp"),
        )
        loc2 = store.state_path("r2")
        n2 = store.write_merged(merged.new_state, loc2, carry)
        record_run(store, "r2", "derived:orders", "monthly", "b" * 64,
                   datetime.datetime(2024, 2, 1), n2, loc2)
        checksum_df = (
            store.state_as_of("r1")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("is_deleted").cast("int")).cast("long").alias("n_deleted"),
                F.round(F.sum("price"), 2).alias("total_price"),
                F.countDistinct("tuid").alias("n_keys"),
                # partition value re-derived: leaf data_year=YYYY dirs are
                # read without partition-column inference
                F.min(F.year("transaction_date")).cast("long").alias("min_year"),
                F.max(F.year("transaction_date")).cast("long").alias("max_year"),
            )
        )
        checksum = checksum_df.collect()
        # one aggregated row — materialized before the store dir is
        # removed, then rebuilt as a DataFrame for the harness contract.
        # Rebuilt against the aggregate's OWN schema: on an empty state
        # every cell but n_rows/n_keys is NULL, and schema inference
        # cannot type an all-NULL column (empty-tier crash, round 9).
        return spark.createDataFrame(checksum, schema=checksum_df.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "cdc_rewind_versions",
    sql="""
    WITH versioned AS (
        SELECT o_custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) - 1 AS BIGINT) AS version
        FROM orders
    )
    SELECT o_custkey, o_orderkey, version FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_custkey ORDER BY version DESC
        ) AS rn
        FROM versioned WHERE version <= 2
    ) WHERE rn = 1
    """,
)
def cdc_rewind_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7/W1/W4: per-key version numbering + rewind — the surviving row per
    key as of version 2 (reference's month-M reconstruction shape)."""
    t = load_tables(spark, sf_dir)
    versioned = number_versions(
        t.orders.select("o_custkey", "o_orderkey", "o_orderdate"),
        "o_custkey",
        ["o_orderdate", "o_orderkey"],
    ).select(
        "o_custkey", "o_orderkey", F.col("version").cast("long").alias("version")
    )
    return rewind_to_version(versioned, "o_custkey", "version", 2).select(
        "o_custkey", "o_orderkey", "version"
    )


@query(
    "cdc_scd2_history",
    sql="""
    WITH ordered AS (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
               LAG(o_orderstatus) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_status
        FROM orders
    ),
    changes AS (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate
        FROM ordered
        WHERE prev_status IS NULL OR o_orderstatus != prev_status
    )
    SELECT o_custkey,
           CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS version,
           o_orderstatus AS status,
           o_orderdate AS valid_from,
           COALESCE(LEAD(o_orderdate) OVER w,
                    TIMESTAMP '2200-01-01') AS valid_to,
           LEAD(o_orderdate) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: collapse a per-key change
    log into validity intervals ``[valid_from, valid_to)`` with an
    ``is_current`` flag, keeping a new version only when the tracked
    attribute actually changed (run-length compaction).

    The reference maintains exactly this shape imperatively — its history
    tables append a row per observed change with created/updated/deleted
    audit timestamps (LRD/land_registry_pp_monthly_update_database_updater
    .py decision matrix); here the whole dimension history derives in two
    window passes over one shuffle: both windows share the
    ``PARTITION BY o_custkey ORDER BY (o_orderdate, o_orderkey)`` sort, so
    Catalyst plans one exchange + one sort and evaluates lag, lead and
    row_number in a single Window operator chain. Per-key history length
    is bounded by the change count, never the scan size — the property
    that holds at any fact-table volume. Open intervals close at the
    2200-01-01 high-date sentinel (the usual SCD-2 convention; kept inside
    pandas' datetime64[ns] range so the harness round-trips it — NULL
    timestamps don't compare as equal through every Arrow path)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        t.orders.select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")
        .withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("o_orderstatus") != F.col("prev_status"))
        )
        .drop("prev_status")
    )
    return changes.select(
        "o_custkey",
        (F.row_number().over(w) - 1).cast("long").alias("version"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(
            F.lead("o_orderdate").over(w),
            F.lit("2200-01-01").cast("timestamp"),
        ).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )


@query(
    "cdc_incremental_rollup",
    sql=f"""
    WITH j AS ({_JOINED_SQL}),
    outcomes AS (SELECT *, {_OUTCOME_CASE} AS outcome FROM j),
    touched AS (
        SELECT tuid,
               CASE WHEN outcome IN ('add_change','add_undelete_change','add_insert',
                                     'change_change','change_insert','delete_change_delete')
                    THEN u_price ELSE c_price END AS price,
               CASE WHEN outcome IN ('add_change','add_undelete_change','add_insert',
                                     'change_change','change_insert','delete_change_delete')
                    THEN u_status ELSE c_status END AS status,
               CASE WHEN outcome IN ('delete_delete','delete_change_delete') THEN TRUE
                    WHEN outcome IN ('add_undelete_change','add_insert','change_insert')
                        THEN FALSE
                    ELSE cur_deleted END AS is_deleted
        FROM outcomes
        WHERE outcome != 'delete_ignore_missing'
    ),
    untouched AS (
        SELECT c.tuid, c.price, c.status, c.is_deleted
        FROM ({_CUR_SQL}) c
        WHERE c.tuid NOT IN (SELECT tuid FROM ({_UPD_SQL}))
    ),
    state AS (SELECT * FROM touched UNION ALL SELECT * FROM untouched)
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_live,
           ROUND(SUM(price), 2) AS total_price
    FROM state WHERE NOT is_deleted GROUP BY status
    """,
)
def cdc_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-status live-count/price-sum
    rollup updated from the merge's before/after images in O(batch) —
    state is never re-scanned after the bootstrap. The oracle recomputes
    the same rollup from the fully merged state in DuckDB, so the hash
    proves the retract/assert algebra (including soft-delete, undelete,
    insert and value-change transitions) is exact, not approximately
    right. See ``operators/rollup.py`` for the maintenance algebra."""
    from land_registry_data_ingestion_spark.operators.rollup import (
        apply_rollup_delta,
        rollup_from_state,
    )

    res = _merged(spark, sf_dir)
    old_rollup = rollup_from_state(_current(spark, sf_dir), "status", "price")
    new_rollup = apply_rollup_delta(
        old_rollup, res.transitions, "status", "price"
    )
    return new_rollup.select(
        "status",
        "n_live",
        F.round("total", 2).alias("total_price"),
    )
