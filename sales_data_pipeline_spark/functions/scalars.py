"""Scalar column helpers — every reference scalar (SURVEY §2h), Spark-first.

All of these compile to Catalyst expressions inside whole-stage codegen;
none are Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Money flows through the engine as DECIMAL, not float: the reference
# keeps FloatType in flight (reference: src/main/transformations/main.py:235-237)
# but demands DECIMAL(10,2) at rest (resources/sql_scripts/table_scripts.sql:154).
# Exact decimal arithmetic also makes aggregates order-independent, which
# is what makes results reproducible across partitionings (and across
# engines — the DuckDB oracle sums the same decimals).
MONEY = "decimal(18,2)"


def money(col: Column | str) -> Column:
    """Cast to the engine's money type (exact 2-decimal)."""
    return F.col(col).cast(MONEY) if isinstance(col, str) else col.cast(MONEY)


def decimal_sum(col: Column | str, alias: str) -> Column:
    """Order-independent (exact) money sum, surfaced as double.

    sum(decimal) is exact, so the result does not depend on partition
    count or merge order — a float sum would differ run to run at scale.
    """
    return F.sum(money(col)).cast("double").alias(alias)


def exact_avg(col: Column | str, alias: str) -> Column:
    """Average via exact decimal sum / count (order-independent)."""
    return (F.sum(money(col)).cast("double") / F.count(F.lit(1))).alias(alias)


def month_bucket(col: Column | str, alias: str = "sales_month") -> Column:
    """DATE/TIMESTAMP → 'yyyy-MM' month bucket.

    The reference does substring(date_as_string, 1, 7)
    (reference: src/main/transformations/customer_mart_sql_tranform_write.py:13);
    date_format is the idiomatic equivalent with identical output.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM").alias(alias)


def full_name(first: Column | str, last: Column | str, alias: str = "full_name") -> Column:
    """first ‖ ' ' ‖ last (reference: customer_mart_sql_tranform_write.py:16-17)."""
    f = F.col(first) if isinstance(first, str) else first
    l = F.col(last) if isinstance(last, str) else last
    return F.concat(f, F.lit(" "), l).alias(alias)


def fold_extras_json(extra_cols: list[str], alias: str = "additional_column") -> Column:
    """Fold extra (non-contract) columns into one queryable JSON string.

    Upgrade over the reference's lossy comma-join
    (reference: main.py:258 concat_ws(",", *extras)): a JSON object keeps
    key→value structure so extras remain queryable with get_json_object /
    from_json instead of positional string surgery. Each extra is
    referenced by its backtick-quoted name, so a header such as
    ``promo.code`` is one column, not struct access, and stays the
    JSON key.
    """
    if not extra_cols:
        return F.lit(None).cast("string").alias(alias)
    quoted = [F.col("`" + c.replace("`", "``") + "`") for c in sorted(extra_cols)]
    return F.to_json(F.struct(*quoted)).alias(alias)
