"""Schema contracts for the sales pipeline.

The reference declares its contract twice — a mandatory-column list
(reference: resources/dev/config.py:40) and a StructType used only to
seed an empty union target (main.py:229-239) — and then reads with
inferSchema anyway (main.py:249-252), paying a second pass over every
file. Here the contract is declared once, as the read schema: a single
pass, stable types, and PERMISSIVE row-level corrupt capture on top of
the reference's file-level accept/reject.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DateType,
    DecimalType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Money is DECIMAL(10,2) end to end — the reference keeps FloatType in
# flight (main.py:235-237) but wants DECIMAL(10,2) at rest
# (table_scripts.sql:154,165-166); standardizing removes the lossy
# float->decimal boundary (SURVEY §2j.8).
SALES_CONTRACT = StructType(
    [
        StructField("customer_id", IntegerType(), True),
        StructField("store_id", IntegerType(), True),
        StructField("product_name", StringType(), True),
        StructField("sales_date", DateType(), True),
        StructField("sales_person_id", IntegerType(), True),
        StructField("price", DecimalType(10, 2), True),
        StructField("quantity", IntegerType(), True),
        StructField("total_cost", DecimalType(10, 2), True),
    ]
)

MANDATORY_COLUMNS: tuple[str, ...] = tuple(f.name for f in SALES_CONTRACT.fields)

# Row-level quality net (beyond the reference's header-only validation,
# SURVEY §2j.1): malformed rows land here instead of poisoning the load.
CORRUPT_RECORD_COLUMN = "_corrupt_record"

# Dimension schemas (reference: resources/sql_scripts/table_scripts.sql)
CUSTOMER_DIM = StructType(
    [
        StructField("customer_id", IntegerType(), False),
        StructField("first_name", StringType(), True),
        StructField("last_name", StringType(), True),
        StructField("address", StringType(), True),
        StructField("pincode", StringType(), True),
        StructField("phone_number", StringType(), True),
        StructField("customer_joining_date", DateType(), True),
    ]
)

STORE_DIM = StructType(
    [
        StructField("id", IntegerType(), False),
        StructField("address", StringType(), True),
        StructField("store_pincode", StringType(), True),
        StructField("store_manager_name", StringType(), True),
        StructField("store_opening_date", DateType(), True),
        StructField("reviews", StringType(), True),
    ]
)

SALES_TEAM_DIM = StructType(
    [
        StructField("id", IntegerType(), False),
        StructField("first_name", StringType(), True),
        StructField("last_name", StringType(), True),
        StructField("manager_id", IntegerType(), True),
        StructField("is_manager", StringType(), True),
        StructField("address", StringType(), True),
        StructField("pincode", StringType(), True),
        StructField("joining_date", DateType(), True),
    ]
)
