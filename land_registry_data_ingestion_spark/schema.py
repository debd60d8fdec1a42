"""Canonical schemas.

The reference's one schema that matters is the 16-positional-column UK
price-paid record (reference ``LRD/lib_land_registry_data/lib_dataframe.py:39-56``,
DB mapping ``lib_db.py:216-272``). Files arrive headerless; names are
positional and externally imposed, so inference is never trusted
(``LRD/land_registry_pp_complete_downloader.py:418-424``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Column 16 of the files: the row's change op (A/C/D). The CDC merge and
# its gate read it and the operation log keys its counters by it; it is
# not persisted on the state table.
OP_COLUMN = "record_op"

# The 16 positional columns of pp-complete.txt / pp-monthly-update.txt.
PRICE_PAID_COLUMNS: list[str] = [
    "transaction_unique_id",
    "price",
    "transaction_date_raw",  # parsed to timestamp by the reader (F2)
    "postcode",
    "property_type",
    "new_tag",
    "lease",
    "primary_address_object_name",
    "secondary_address_object_name",
    "street",
    "locality",
    "town_city",
    "district",
    "county",
    "ppd_cat",
    OP_COLUMN,
]

# String value columns participating in full-row equality (reference fills
# NA with '' before comparing — lib_db.py / database_updater.py:677).
PRICE_PAID_STRING_COLUMNS: list[str] = [
    "transaction_unique_id",
    "postcode",
    "property_type",
    "new_tag",
    "lease",
    "primary_address_object_name",
    "secondary_address_object_name",
    "street",
    "locality",
    "town_city",
    "district",
    "county",
    "ppd_cat",
]


def price_paid_raw_schema(n_columns: int = 16) -> T.StructType:
    """Headerless-CSV read schema: all strings, positional.

    ``n_columns=15`` handles pre-2017 monthly files lacking ``ppd_cat``
    (reference ``not_used_land_registry_pp_monthly_update_db_update.py:260-265``).
    The reader casts after assignment, mirroring the reference's strict
    ``dtype=str`` + explicit-cast policy.
    """
    if n_columns == 16:
        names = PRICE_PAID_COLUMNS
    elif n_columns == 15:
        names = [c for c in PRICE_PAID_COLUMNS if c != "ppd_cat"]
    else:
        raise ValueError(f"price-paid files have 15 or 16 columns, got {n_columns}")
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


# Engine-added audit columns on the current-state table
# (reference lib_db.py:233-272); every other state column but the key is
# a value column the merge compares and carries.
AUDIT_COLUMNS: list[str] = [
    "created_datetime",
    "updated_datetime",
    "deleted_datetime",
    "is_deleted",
]
