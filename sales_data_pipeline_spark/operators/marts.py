"""Mart queries: customer monthly spend + sales-team incentive.

The reference computes both marts as window-sum + distinct
(reference: customer_mart_sql_tranform_write.py:10-27,
sales_mart_sql_transformation_file.py:11-39). The engine uses the
one-shuffle groupBy rewrite instead: identical results because every
kept column is functionally dependent on the grouping keys (asserted
against a window+distinct oracle in tests/test_sales_pipeline.py; the
catalog keeps that idiom as q08_window_sum_distinct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sales_data_pipeline_spark.functions.scalars import full_name, money, month_bucket

_MONEY_OUT = "decimal(10,2)"  # mart DDL type (table_scripts.sql:154,165-166)


def customer_monthly_mart(enriched: DataFrame) -> DataFrame:
    """One row per (customer_id, sales_month): full_name, address,
    phone_number, total_sales (reference: customer_mart...py:10-27)."""
    base = enriched.select(
        "customer_id",
        full_name("first_name", "last_name"),
        "address",
        "phone_number",
        month_bucket("sales_date", "sales_date_month"),
        money("total_cost").alias("_cost"),
    )
    return (
        base.groupBy("customer_id", "full_name", "address", "phone_number", "sales_date_month")
        .agg(F.sum("_cost").cast(_MONEY_OUT).alias("total_sales"))
    )


def sales_team_mart(enriched: DataFrame) -> DataFrame:
    """One row per (store_id, sales_person_id, sales_month) with rank and
    1%-of-total incentive for rank 1 within (store_id, sales_month) —
    ties all paid (rank(), not row_number: SURVEY §2j.4). Reference:
    sales_mart_sql_transformation_file.py:11-39."""
    base = enriched.select(
        "store_id",
        "sales_person_id",
        full_name("sales_person_first_name", "sales_person_last_name"),
        month_bucket("sales_date", "sales_month"),
        money("total_cost").alias("_cost"),
    )
    # One exchange on (sales_month, store_id), the team mart's partition
    # directories, serves the rank window, its sort and the writer's
    # partitionBy: the window clusters on the same keys in the same
    # order, so the writer's required ordering (sales_month, store_id)
    # is a prefix of the window's sort and needs no Sort of its own.
    # The explicit count keeps AQE from coalescing the write into one
    # task; each (month, store) still lands in one task, so one file.
    totals = (
        base.groupBy("store_id", "sales_person_id", "full_name", "sales_month")
        .agg(F.sum("_cost").cast(_MONEY_OUT).alias("total_sales"))
        .repartition(
            enriched.sparkSession.sparkContext.defaultParallelism,
            "sales_month",
            "store_id",
        )
    )
    rank_w = Window.partitionBy("sales_month", "store_id").orderBy(
        F.col("total_sales").desc()
    )
    # decimal×decimal keeps the 1% exact: total_sales(10,2) × 0.01(3,2)
    # → (.,4) with no binary-float detour, so the final HALF_UP cast
    # rounds the true value — a double multiply diverges at .xx5 ties
    import decimal as _decimal

    one_pct = F.lit(_decimal.Decimal("0.01"))
    return (
        totals.withColumn("rnk", F.rank().over(rank_w))
        .withColumn(
            "incentive",
            F.when(
                F.col("rnk") == 1, (F.col("total_sales") * one_pct).cast(_MONEY_OUT)
            ).otherwise(F.lit(0).cast(_MONEY_OUT)),
        )
        .drop("rnk")
    )
