"""Headerless price-paid CSV readers (SURVEY §2.1 S3/S4, §2.7 F2).

Reference behavior being reproduced (not its implementation):
- headerless read, positional names assigned afterwards
  (``LRD/land_registry_pp_complete_downloader.py:418-424``)
- strict string dtypes then explicit casts
  (``LRD/land_registry_monthly_update_database_updater.py:897-908,651-679``)
- timestamp parse ``'%Y-%m-%d %H:%M'`` (``...pp_complete_downloader.py:426-430``)
- 15-column pre-2017 monthly files gain a null ``ppd_cat``
  (``LRD/not_used_land_registry_pp_monthly_update_db_update.py:260-265``)
- string NAs become ``''`` so row equality treats missing as empty
  (``...database_updater.py:677``)

Spark-first: one distributed ``spark.read.csv`` with an imposed all-string
schema, then columnar casts — no row loops, and the scan parallelizes to one
task per ~128 MB split at any input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from land_registry_data_ingestion_spark.schema import (
    OP_COLUMN,
    PRICE_PAID_COLUMNS,
    PRICE_PAID_STRING_COLUMNS,
    price_paid_raw_schema,
)

TRANSACTION_DATE_FORMAT = "yyyy-MM-dd HH:mm"


def read_price_paid_csv(
    spark: SparkSession, path: str, n_columns: int = 16
) -> DataFrame:
    """Read a pp-complete / pp-monthly-update style headerless CSV.

    Returns the typed record: parsed ``transaction_date``, long ``price``,
    ''-filled strings, and a (possibly null) ``ppd_cat`` regardless of the
    on-disk column count.
    """
    return read_price_paid_csv_with_rejects(spark, path, n_columns)[0]


def read_price_paid_csv_with_rejects(
    spark: SparkSession, path: str, n_columns: int = 16
) -> tuple[DataFrame, DataFrame]:
    """Like :func:`read_price_paid_csv` but ALSO returns the rows the
    strict casts silently nulled — ``(records, rejects)``.

    The reference crashes mid-load on a malformed value (DB constraint /
    pandas cast error); a 100 TB pipeline can do better than both
    crashing and silently nulling: quarantine. ``rejects`` carries the
    business key, the offending raw values, and a ``reject_reason``
    (bad_price / bad_date) — one extra filter over the SAME scan, no
    second file pass. Rows failing the CSV grammar itself (wrong column
    count) surface as all-null business keys in PERMISSIVE mode and are
    caught by the same null checks downstream. Both frames are lazy:
    building them runs no Spark job.
    """
    raw = spark.read.csv(
        path,
        schema=price_paid_raw_schema(n_columns),
        header=False,
        quote='"',
        escape='"',
        mode="PERMISSIVE",
    )
    records = finalize_price_paid(raw)
    bad_price = F.col("price").isNotNull() & F.col("price").try_cast(
        "long"
    ).isNull()
    bad_date = F.col("transaction_date_raw").isNotNull() & F.try_to_timestamp(
        F.col("transaction_date_raw"), F.lit(TRANSACTION_DATE_FORMAT)
    ).isNull()
    rejects = raw.filter(bad_price | bad_date).select(
        "transaction_unique_id",
        F.col("price").alias("price_raw"),
        "transaction_date_raw",
        F.when(bad_price, "bad_price")
        .otherwise("bad_date")
        .alias("reject_reason"),
    )
    return records, rejects


def finalize_price_paid(raw: DataFrame) -> DataFrame:
    """Casts + normalization shared by the CSV reader and test fixtures."""
    df = raw
    if "ppd_cat" not in df.columns:  # 15-column pre-2017 variant (S4)
        df = df.withColumn("ppd_cat", F.lit(None).cast("string"))
    if OP_COLUMN not in df.columns:
        df = df.withColumn(OP_COLUMN, F.lit(None).cast("string"))
    df = (
        df.withColumn(
            "transaction_date",
            F.try_to_timestamp(
                F.col("transaction_date_raw"), F.lit(TRANSACTION_DATE_FORMAT)
            ),
        )
        .withColumn("price", F.col("price").try_cast("long"))
        .drop("transaction_date_raw")
    )
    # Missing string == empty string for all downstream equality semantics;
    # canonical column order regardless of the on-disk variant.
    df = df.na.fill("", subset=PRICE_PAID_STRING_COLUMNS)
    ordered = [c for c in PRICE_PAID_COLUMNS if c != "transaction_date_raw"]
    ordered.insert(2, "transaction_date")
    return df.select(ordered)


def read_price_paid_text(
    spark: SparkSession, lines: list[str], n_columns: int = 16
) -> DataFrame:
    """Parse in-memory CSV lines (test/fixture path) with the same semantics."""
    import csv as _csv
    import io

    rows = list(_csv.reader(io.StringIO("\n".join(lines))))
    names = price_paid_raw_schema(n_columns).fieldNames()
    padded = [row + [None] * (len(names) - len(row)) for row in rows]
    raw = spark.createDataFrame(padded, schema=price_paid_raw_schema(n_columns))
    return finalize_price_paid(raw)
