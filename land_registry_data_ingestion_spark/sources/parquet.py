"""Parquet table catalog over a scale-factor directory.

The driver's synthetic tables (TESTDATA.md) stand in for the engine's
partitioned-Parquet state store. At 100 TB the same reader works unchanged:
``spark.read.parquet`` hands Catalyst a relation that supports predicate
pushdown, column pruning, and partition pruning for free — the scan only
materializes what downstream operators reference.

A table's schema comes from its parquet footer, read on the driver, so an
open schedules no Spark job: ``spark.read.parquet`` without a schema runs
one schema-inference job per open (100-157 ms against 16-27 ms with the
schema given, measured at ``local[2]``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_ARROW_TO_SPARK = (
    (pa.types.is_boolean, T.BooleanType()),
    (pa.types.is_int8, T.ByteType()),
    (pa.types.is_int16, T.ShortType()),
    (pa.types.is_int32, T.IntegerType()),
    (pa.types.is_int64, T.LongType()),
    (pa.types.is_uint8, T.ShortType()),
    (pa.types.is_uint16, T.IntegerType()),
    (pa.types.is_uint32, T.LongType()),
    (pa.types.is_uint64, T.DecimalType(20, 0)),
    (pa.types.is_float32, T.FloatType()),
    (pa.types.is_float64, T.DoubleType()),
    (pa.types.is_string, T.StringType()),
    (pa.types.is_large_string, T.StringType()),
    (pa.types.is_date, T.DateType()),
)


def _spark_type(t: pa.DataType, nanos_as_long: bool) -> T.DataType | None:
    """The type Spark's parquet reader infers for a column that pyarrow
    reads as ``t``, made nullable as Spark makes every file-source column;
    None where this mapping does not follow Spark (the caller then lets
    Spark infer). Follows the default ``inferTimestampNTZ`` (true) and
    ``binaryAsString`` (false) settings: a plain binary column, whose
    type those settings decide, is left to Spark."""
    for test, spark_type in _ARROW_TO_SPARK:
        if test(t):
            return spark_type
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return T.LongType() if nanos_as_long else None
        return T.TimestampType() if t.tz is not None else T.TimestampNTZType()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        element = _spark_type(t.value_type, nanos_as_long)
        return None if element is None else T.ArrayType(element, True)
    if pa.types.is_struct(t):
        return _spark_struct(list(t), nanos_as_long)
    return None


def _spark_struct(fields: list[pa.Field], nanos_as_long: bool) -> T.StructType | None:
    out = []
    for f in fields:
        spark_type = _spark_type(f.type, nanos_as_long)
        if spark_type is None:
            return None
        out.append(T.StructField(f.name, spark_type, True))
    return T.StructType(out)


def footer_schema(path: str, nanos_as_long: bool = False) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    parquet footer on the driver, or None when this cannot tell (not a
    single local file, INT96 columns, or a type outside
    :func:`_spark_type`). ``nanos_as_long`` follows
    ``spark.sql.legacy.parquet.nanosAsLong``."""
    if not os.path.isfile(path):
        return None
    meta = pq.ParquetFile(path).metadata
    if any(
        meta.schema.column(i).physical_type == "INT96"
        for i in range(meta.num_columns)
    ):
        return None
    return _spark_struct(list(meta.schema.to_arrow_schema()), nanos_as_long)


@dataclass
class Tables:
    """Lazy handle to the parquet tables in one scale-factor directory."""

    spark: SparkSession
    sf_dir: str
    _cache: dict[str, DataFrame] = field(default_factory=dict)

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_") or name not in TABLE_NAMES:
            raise AttributeError(name)
        return self.table(name)

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            # Pin UTC at read time: the engine's timestamp semantics (and
            # any ANSI-SQL oracle comparing against it) must not depend on
            # the host/session timezone of whoever built the SparkSession.
            try:
                self.spark.conf.set("spark.sql.session.timeZone", "UTC")
            except Exception:
                pass
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            if name == "events":
                # events.ts is parquet TIMESTAMP(NANOS), which the Spark
                # vectorized reader rejects; read the physical INT64 and
                # truncate nanos → micros (Spark timestamp precision).
                # Set at read time so this works under any caller's session.
                try:
                    self.spark.conf.set(
                        "spark.sql.legacy.parquet.nanosAsLong", "true"
                    )
                except Exception:
                    pass
                df = self._read(path, nanos_as_long=True)
                if dict(df.dtypes).get("ts") == "bigint":
                    df = df.withColumn(
                        "ts", F.timestamp_micros(F.expr("ts div 1000"))
                    )
                self._cache[name] = self._normalize_ntz(df)
            else:
                self._cache[name] = self._normalize_ntz(self._read(path))
        return self._cache[name]

    def _read(self, path: str, nanos_as_long: bool = False) -> DataFrame:
        schema = footer_schema(path, nanos_as_long)
        if schema is None:
            return self.spark.read.parquet(path)
        return self.spark.read.schema(schema).parquet(path)

    @staticmethod
    def _normalize_ntz(df: DataFrame) -> DataFrame:
        # Parquet TIMESTAMP(isAdjustedToUTC=false) arrives as
        # TIMESTAMP_NTZ, which functions like unix_micros reject. With the
        # session timezone pinned UTC (above) the cast to the regular
        # timestamp type is value-preserving, and every query sees ONE
        # timestamp type regardless of how a given sf_dir was written.
        ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        for c in ntz:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        return df

    def register_views(self) -> None:
        """Register every table as a temp view for ``spark.sql`` access."""
        for name in TABLE_NAMES:
            self.table(name).createOrReplaceTempView(name)


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark=spark, sf_dir=sf_dir)
