"""Core relational query catalog — SURVEY §2's operator inventory
re-expressed Spark-first over the driver's star schema.

Every reference operator class appears here at least once:
scans/pushdown (S1-S7), projections/filters/conditionals (P1-P8),
broadcast star joins (J1-J3), group aggregation incl. the literal
window-sum+distinct pattern (A1-A4, W1-W2), rank windows + top-k
(W3, O1), unionByName (U1, fixing the reference's union-in-loop bug by
intent), scalar functions (F1-F7), plus extensions the reference gets
free from Spark (semi/anti joins, rollup, sessionization).

Determinism contract: money aggregates are computed in DECIMAL (exact,
order-independent — a double sum would vary with partition merge order
at scale) and surfaced as double; the DuckDB oracle mirrors the same
decimal widths so values match bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sales_data_pipeline_spark.catalog import table
from sales_data_pipeline_spark.operators.asof import asof_join
from sales_data_pipeline_spark.operators.range_join import range_join
from sales_data_pipeline_spark.operators.merge import scd2_merge
from sales_data_pipeline_spark.plans.registry import query

# Narrow decimal casts for multiplication chains: (12,2)*(4,2) stays well
# inside 38 digits in both Spark and DuckDB (their precision-propagation
# rules differ; these widths are safe in both).
_PRICE = "decimal(12,2)"
_RATE = "decimal(4,2)"
_QTY = "decimal(12,2)"


def _dec_sum(col, cast, alias):
    return F.sum(F.col(col).cast(cast)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# q01 — pricing summary (grouped aggregation, filter pushdown, arithmetic)
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    headline=True,
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
               * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
        AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary.

    Covers: grouped sums (SURVEY §2d A1/A2 — done as one-shuffle groupBy,
    not the reference's window+distinct), predicate pushdown to the
    parquet scan, decimal arithmetic chains (F6).
    """
    li = table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast(_RATE)
    price = F.col("l_extendedprice").cast(_PRICE)
    disc = F.col("l_discount").cast(_RATE)
    tax = F.col("l_tax").cast(_RATE)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", _QTY, "sum_qty"),
            _dec_sum("l_extendedprice", _PRICE, "sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast(_QTY)).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02 — customer monthly mart (the reference's flagship question:
# "customer total purchase per month", customer_mart_sql_tranform_write.py:7-9)
# ---------------------------------------------------------------------------


@query(
    "q02_customer_monthly_mart",
    headline=True,
    oracle="""
    SELECT
      c_custkey AS customer_id,
      c_name    AS customer_name,
      strftime(o_orderdate, '%Y-%m') AS sales_month,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_sales
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2, 3
    """,
)
def q02_customer_monthly_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer monthly spend mart.

    Reference semantics (customer_mart_sql_tranform_write.py:10-27):
    sum(total_cost) per (customer, yyyy-MM) done there as window+distinct;
    here as a single-shuffle groupBy — same result, half the exchanges.
    month bucket via date_format (== substring(date,1,7) on ISO dates).
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.date_format("o_orderdate", "yyyy-MM").alias("sales_month"),
        )
        .agg(_dec_sum("o_totalprice", _PRICE, "total_sales"))
    )


# ---------------------------------------------------------------------------
# q03 — sales-team incentive mart (window rank + conditional payout)
# ---------------------------------------------------------------------------


@query(
    "q03_team_incentive_mart",
    headline=True,
    oracle="""
    WITH totals AS (
      SELECT
        s_nationkey AS store_id,
        l_suppkey   AS sales_person_id,
        strftime(l_shipdate, '%Y-%m') AS sales_month,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS dec_total
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2, 3
    )
    SELECT
      store_id, sales_person_id, sales_month,
      CAST(dec_total AS DOUBLE) AS total_sales,
      CAST(RANK() OVER (PARTITION BY store_id, sales_month
                        ORDER BY dec_total DESC) AS BIGINT) AS rnk,
      CASE WHEN RANK() OVER (PARTITION BY store_id, sales_month
                             ORDER BY dec_total DESC) = 1
           THEN CAST(ROUND(dec_total * 0.01, 2) AS DOUBLE)
           ELSE 0.0 END AS incentive
    FROM totals
    """,
)
def q03_team_incentive_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-seller incentive mart — the reference's sales_team mart shape
    (sales_mart_sql_transformation_file.py:11-39): group-sum per
    (store, person, month), rank() within (store, month) by total desc,
    1% incentive paid to rank 1 (ties all paid — rank(), not row_number,
    to preserve the reference's tie semantics, SURVEY §2j.4).

    Here supplier nation plays "store", supplier plays "sales person".
    """
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    totals = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "inner")
        .groupBy(
            F.col("s_nationkey").alias("store_id"),
            F.col("l_suppkey").alias("sales_person_id"),
            F.date_format("l_shipdate", "yyyy-MM").alias("sales_month"),
        )
        .agg(F.sum(F.col("l_extendedprice").cast(_PRICE)).alias("_dec_total"))
    )
    w = Window.partitionBy("store_id", "sales_month").orderBy(F.col("total_sales").desc())
    # incentive in EXACT decimal: a double round diverges across engines
    # at .xx5 ties (Spark rounds the shortest decimal string, DuckDB the
    # binary value — bit one row at sf0.1); decimal×decimal is exact and
    # both engines round decimals half-away-from-zero.
    import decimal as _decimal

    return (
        totals.withColumn("total_sales", F.col("_dec_total").cast("double"))
        .withColumn("rnk", F.rank().over(w).cast("bigint"))
        .withColumn(
            "incentive",
            F.when(
                F.col("rnk") == 1,
                F.round(
                    F.col("_dec_total") * F.lit(_decimal.Decimal("0.01")), 2
                ).cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_dec_total")
    )


# ---------------------------------------------------------------------------
# q04 — star-schema enrichment join (the reference's 3-way dim join, widened)
# ---------------------------------------------------------------------------


@query(
    "q04_star_enrichment",
    headline=True,
    oracle="""
    SELECT
      l_orderkey, l_linenumber,
      c_name AS customer_name,
      n_name AS customer_nation,
      r_name AS customer_region,
      s_name AS supplier_name,
      p_name AS part_name,
      CAST(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
        AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN part     ON l_partkey  = p_partkey
    """,
)
def q04_star_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact enrichment via star joins — the reference's 3-dim inner-join
    chain (dimension_tables_join.py:16-53) widened to six dims.

    Scale notes: bounded-domain dims (nation/region/supplier) carry
    explicit broadcast hints; customer/part grow with SF and are left to
    Catalyst (broadcast under threshold, else shuffle join; AQE may
    convert at runtime). Columns are aliased *before* the join
    (rename-before-join) so no ambiguous names survive — the reference's
    qualified-string drops silently no-op (SURVEY §2j.3).
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_name").alias("customer_name"), "c_nationkey"
    )
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("customer_nation"), "n_regionkey"
    )
    region = table(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("customer_region")
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_name").alias("supplier_name")
    )
    part = table(spark, sf_dir, "part").select("p_partkey", F.col("p_name").alias("part_name"))
    one = F.lit(1).cast(_RATE)
    revenue = (
        F.col("l_extendedprice").cast(_PRICE) * (one - F.col("l_discount").cast(_RATE))
    ).cast("double")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "inner")
        .join(part, li.l_partkey == part.p_partkey, "inner")
        .select(
            "l_orderkey",
            "l_linenumber",
            "customer_name",
            "customer_nation",
            "customer_region",
            "supplier_name",
            "part_name",
            revenue.alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q05 — selective filter + single aggregate (pushdown showcase, TPC-H Q6 shape)
# ---------------------------------------------------------------------------


@query(
    "q05_revenue_filter",
    oracle="""
    SELECT
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q05_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highly selective conjunctive filter + global aggregate (TPC-H Q6
    shape). All four predicates push into the parquet scan
    (PushedFilters in .explain); only 4 columns are read (ReadSchema)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(_PRICE) * F.col("l_discount").cast(_RATE))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q06 — unionByName (U1, implementing the reference's *intent*)
# ---------------------------------------------------------------------------


@query(
    "q06_union_by_name",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
       WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
       WHERE o_orderpriority = '5-LOW'
    )
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders
    FROM unioned GROUP BY 1, 2
    """,
)
def q06_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-relation union then aggregate.

    The reference unions per-file DataFrames positionally — and its
    union sits outside the loop so only the last file survives
    (main.py:267, SURVEY §2g U1). The engine implements the stated
    intent: union *all* inputs, by NAME (schema-safe even when branch
    column order differs, as it does here on purpose)."""
    orders = table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        "o_orderstatus", "o_orderkey", "o_orderpriority"  # shuffled on purpose
    )
    return (
        urgent.unionByName(low)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# q07 — distinct (A3/A4)
# ---------------------------------------------------------------------------


@query(
    "q07_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q07_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT — the reference's dedup/idempotency-probe shape
    (SELECT DISTINCT file_name, main.py:59-63). One hash-aggregate
    exchange; AQE coalesces the post-shuffle partitions."""
    return table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# q08 — the reference's literal window-sum + distinct pattern (compat mode)
# ---------------------------------------------------------------------------


@query(
    "q08_window_sum_distinct",
    oracle="""
    SELECT DISTINCT
      o_custkey AS customer_id,
      strftime(o_orderdate, '%Y-%m') AS sales_month,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
             OVER (PARTITION BY o_custkey, strftime(o_orderdate, '%Y-%m'))
           AS DOUBLE) AS total_sales
    FROM orders
    """,
)
def q08_window_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-compat replica of the reference's aggregation idiom:
    sum() OVER (PARTITION BY keys) then .distinct()
    (customer_mart_sql_tranform_write.py:11-20). Kept as a strict compat
    mode; q02 is the idiomatic one-shuffle rewrite. The two agree only
    because every selected column is functionally dependent on the
    partition keys — a property tests assert (SURVEY §7 risk register)."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("customer_id", "sales_month")
    return (
        orders.select(
            F.col("o_custkey").alias("customer_id"),
            F.date_format("o_orderdate", "yyyy-MM").alias("sales_month"),
            F.col("o_totalprice").cast(_PRICE).alias("_price"),
        )
        .withColumn("total_sales", F.sum("_price").over(w).cast("double"))
        .drop("_price")
        .distinct()
    )


# ---------------------------------------------------------------------------
# q09 — top-k per group (rank window, O1 generalized)
# ---------------------------------------------------------------------------


@query(
    "q09_topk_per_group",
    oracle="""
    WITH part_rev AS (
      SELECT
        p_brand,
        l_partkey AS part_id,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
          AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    )
    SELECT p_brand, part_id, revenue, rnk FROM (
      SELECT *, CAST(RANK() OVER (PARTITION BY p_brand ORDER BY revenue DESC) AS BIGINT) AS rnk
      FROM part_rev
    ) WHERE rnk <= 3
    """,
)
def q09_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 revenue parts per brand — the reference's top-1-per-group
    rank pattern (sales_mart...py:24-28) generalized to top-k. rank()
    keeps tie semantics deterministic across engines (row_number would
    not be, under ties)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    one = F.lit(1).cast(_RATE)
    rev = F.col("l_extendedprice").cast(_PRICE) * (one - F.col("l_discount").cast(_RATE))
    part_rev = (
        li.join(part, li.l_partkey == part.p_partkey, "inner")
        .groupBy("p_brand", F.col("l_partkey").alias("part_id"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc())
    return (
        part_rev.withColumn("rnk", F.rank().over(w).cast("bigint")).filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# q10 — conditional aggregation (P7 when/otherwise)
# ---------------------------------------------------------------------------


@query(
    "q10_conditional_agg",
    oracle="""
    SELECT
      o_orderstatus,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
      COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q10_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counting via when().otherwise() inside an aggregate —
    the reference's conditional-expression surface (P7,
    sales_mart...py:28-29) in TPC-H-Q12 shape."""
    orders = table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return orders.groupBy("o_orderstatus").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# q11 — scalar function surface (F1-F7)
# ---------------------------------------------------------------------------


@query(
    "q11_scalar_functions",
    oracle="""
    SELECT
      c_custkey AS customer_id,
      concat(c_name, ' ', c_mktsegment) AS full_label,
      concat_ws(',', c_mktsegment, c_name) AS folded,
      substring(c_name, 1, 9) AS name_prefix,
      upper(c_mktsegment) AS segment_upper,
      length(c_name) AS name_len,
      c_custkey * 2 + 1 AS derived_key,
      'const' AS tag
    FROM customer
    """,
)
def q11_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar-function inventory in one projection:
    concat (F3), concat_ws fold (F1), substring (F4), lit (F2), column
    arithmetic (F6) — all Catalyst built-ins inside one codegen stage."""
    cust = table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("customer_id"),
        F.concat(F.col("c_name"), F.lit(" "), F.col("c_mktsegment")).alias("full_label"),
        F.concat_ws(",", F.col("c_mktsegment"), F.col("c_name")).alias("folded"),
        F.substring("c_name", 1, 9).alias("name_prefix"),
        F.upper("c_mktsegment").alias("segment_upper"),
        F.length("c_name").cast("bigint").alias("name_len"),
        (F.col("c_custkey") * 2 + 1).alias("derived_key"),
        F.lit("const").alias("tag"),
    )


# ---------------------------------------------------------------------------
# q12/q13 — anti & semi joins (free Spark extensions, SURVEY §2c note)
# ---------------------------------------------------------------------------


@query(
    "q12_anti_join",
    oracle="""
    SELECT c_custkey AS customer_id, c_name AS customer_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q12_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders — left_anti join (relational form of the
    reference's quarantine/idempotency set-difference logic, P8)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("customer_id"), F.col("c_name").alias("customer_name")
    )


@query(
    "q13_semi_join",
    oracle="""
    SELECT c_custkey AS customer_id, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def q13_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ≥1 urgent order — left_semi join; the filter on the
    probe side pushes into the orders scan before the join."""
    cust = table(spark, sf_dir, "customer")
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("customer_id"), "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# q14 — tumbling-window aggregation over the events stream table
# ---------------------------------------------------------------------------


@query(
    "q14_events_hourly",
    headline=True,
    oracle="""
    SELECT
      date_trunc('hour', ts) AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
      COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def q14_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregate per event type — the batch
    equivalent of the streaming module's windowed aggregation (there via
    F.window + watermark; date_trunc is the aligned-1h special case)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
    )


# ---------------------------------------------------------------------------
# q15 — sessionization (gap-based) via lag + running sum
# ---------------------------------------------------------------------------


@query(
    "q15_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT
        user_id,
        CASE WHEN lag(ts) OVER w IS NULL THEN 1
             WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1
             ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
)
def q15_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag over
    (user, time) then running-sum of session starts. The streaming
    variant uses session_window / applyInPandasWithState; the batch
    semantics here are the oracle-checkable core. event_id breaks
    ordering ties deterministically."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-precision gap: cast-to-long would truncate to seconds
    # and disagree with the oracle's INTERVAL comparison on .5s gaps
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    flagged = ev.select(
        "user_id",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0).alias("new_session"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# q16 — rollup (grouping-sets extension)
# ---------------------------------------------------------------------------


@query(
    "q16_rollup",
    oracle="""
    SELECT
      r_name AS region_name,
      n_name AS nation_name,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal,
      COUNT(c_custkey) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals over region→nation — hierarchical aggregation the
    reference lacks but a mart consumer asks for first. Single expand +
    one shuffle in Spark."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            "c_acctbal",
            "c_custkey",
        )
    )
    return joined.rollup("region_name", "nation_name").agg(
        _dec_sum("c_acctbal", _PRICE, "total_acctbal"),
        F.count("c_custkey").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# q30 — as-of join (most-recent-prior event enrichment)
# ---------------------------------------------------------------------------


@query(
    "q30_asof_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
    ranked AS (
      SELECT p.event_id, p.user_id, p.ts, p.value,
             v.ts AS view_ts, v.value AS view_value,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts DESC NULLS LAST) AS rn
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
    )
    SELECT event_id, user_id, ts, value, view_ts, view_value
    FROM ranked WHERE rn = 1
    """,
)
def q30_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase→view attribution: each purchase event picks up the most
    recent prior 'view' by the same user — a LEFT ASOF join, an operator
    Spark's API lacks, composed as union + last_value-ignore-nulls over
    one (user, time) window (operators/asof.py): ONE shuffle, no UDF,
    no quadratic time-range join. The oracle is the equivalent
    row_number-over-inequality-join formulation (quadratic, fine at
    oracle scale)."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("ts_asof").alias("view_ts"),
        F.col("value_asof").alias("view_value"),
    )


# ---------------------------------------------------------------------------
# q31 — exact percentiles (interpolated) per group
# ---------------------------------------------------------------------------


@query(
    "q31_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(CAST(value AS DOUBLE), 0.5), 9) AS p50,
           round(quantile_cont(CAST(value AS DOUBLE), 0.9), 9) AS p90,
           round(quantile_cont(CAST(value AS DOUBLE), 0.99), 9) AS p99,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q31_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (both engines use
    the (1-d)·lower + d·upper continuous-quantile formula; rounded to 9
    digits to absorb last-bit noise). At 100 TB swap F.percentile for
    F.percentile_approx — same plan shape, bounded-memory sketch, no
    oracle equivalence (approx by design)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 9).alias("p50"),
        F.round(F.percentile("value", 0.9), 9).alias("p90"),
        F.round(F.percentile("value", 0.99), 9).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q32 — pivot (wide aggregation)
# ---------------------------------------------------------------------------


@query(
    "q32_pivot_status_revenue",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
                 THEN CAST(o_totalprice AS DECIMAL(14,2)) END), 0) AS DOUBLE) AS F,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
                 THEN CAST(o_totalprice AS DECIMAL(14,2)) END), 0) AS DOUBLE) AS O,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
                 THEN CAST(o_totalprice AS DECIMAL(14,2)) END), 0) AS DOUBLE) AS P
    FROM orders GROUP BY 1
    """,
)
def q32_pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue pivoted by order status. The pivot values are
    DECLARED (F/O/P), not discovered: an undeclared pivot costs an extra
    distinct-collect job and is non-deterministic column-wise — never do
    that at scale. Decimal-summed, double-presented, zero-filled."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(14,2)").alias("p"),
        )
        .groupBy("order_month")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("p").cast("double"))
        # a (month,status) cell with no rows is NULL out of pivot (the
        # agg never runs for it) — zero-fill to match the mart contract
        .na.fill(0.0, ["F", "O", "P"])
    )


# ---------------------------------------------------------------------------
# q34 — range join (point-in-interval) via bin bucketing
# ---------------------------------------------------------------------------


@query(
    "q34_range_join",
    oracle="""
    WITH s AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts,
                      ts + INTERVAL '2 hours' AS window_end
               FROM events WHERE event_type = 'signup'),
    e AS (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'error')
    SELECT e.event_id, e.user_id, e.ts, e.value, s.signup_id, s.signup_ts
    FROM e JOIN s ON e.user_id = s.user_id
                 AND s.signup_ts <= e.ts AND e.ts < s.window_end
    """,
)
def q34_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors within 2 hours after a signup by the same user — a
    point-in-interval join. Spark would nested-loop the inequality
    condition; operators/range_join.py rewrites it as a bin-bucketed
    equi-join on (user, time_bin): one shuffle each side, bounded
    interval fanout, exact containment filter in the join. The oracle
    runs the plain inequality join (fine at oracle scale)."""
    ev = table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("window_end"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    return range_join(
        errors, signups, key="user_id", point_ts="ts",
        start_ts="signup_ts", end_ts="window_end", bin_width_seconds=3600,
    ).select("event_id", "user_id", "ts", "value", "signup_id", "signup_ts")


# ---------------------------------------------------------------------------
# q35 — global top-k (sort + limit → TakeOrderedAndProject)
# ---------------------------------------------------------------------------


@query(
    "q35_shipping_priority",
    oracle="""
    SELECT
      l_orderkey,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        AS revenue,
      o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate < TIMESTAMP '1996-06-15'
      AND l_shipdate  > TIMESTAMP '1996-06-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q35_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped global top-10 by revenue. orderBy+limit compiles
    to TakeOrderedAndProject — each partition keeps its local top-10 and
    only those cross the wire, never a full global sort (the plan-shape
    test pins this). l_orderkey tiebreak keeps ties deterministic."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    ).filter(F.col("o_orderdate") < F.lit("1996-06-15").cast("timestamp"))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
    ).filter(F.col("l_shipdate") > F.lit("1996-06-15").cast("timestamp"))
    one = F.lit(1).cast(_RATE)
    rev = F.col("l_extendedprice").cast(_PRICE) * (one - F.col("l_discount").cast(_RATE))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "inner")
        .join(li, orders.o_orderkey == li.l_orderkey, "inner")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q36 — approximate distinct counting (HLL sketch)
# ---------------------------------------------------------------------------


@query("q36_approx_distinct")  # sketch-based: rows-only driver check
def q36_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type (rsd 2%). At 100 TB
    exact count-distinct is a full shuffle of every distinct value;
    the sketch is constant memory per group and merges associatively
    (partial aggregation works). No SQL oracle — DuckDB's approx
    algorithm differs; tests/test_plan_shapes.py::
    test_q36_approx_distinct_within_rsd bounds the error vs the exact
    count instead (the documented covering check for oracle=None)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )

# ---------------------------------------------------------------------------
# q37 — cube (multi-dimensional super-aggregates in ONE pass)
# ---------------------------------------------------------------------------


@query(
    "q37_cube_revenue",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
      CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q37_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping sets —
    detail, each single-dim rollup, grand total — in one shuffle via the
    Expand operator (each input row is replicated once per grouping set
    map-side, then one hash aggregate). The alternative, four separate
    groupBys + union, scans the fact table four times; at 100 TB the
    single Expand pass wins even though it inflates the shuffle 4x,
    because partial aggregation collapses it before the wire. GROUPING()
    flags distinguish "NULL because super-aggregate" from a genuinely
    NULL group value. Complements q16's ROLLUP (reference surface has
    neither; SURVEY §2d notes both come free from Spark)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus").agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            _dec_sum("l_extendedprice", _PRICE, "sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status",
            "sum_price", "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# q38 — lead/lag navigation windows (inter-event gaps)
# ---------------------------------------------------------------------------


@query(
    "q38_event_gaps",
    oracle="""
    WITH gaps AS (
      SELECT
        user_id,
        epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT
      user_id,
      COUNT(*) AS n_events,
      CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
      CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
      CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps GROUP BY user_id
    """,
)
def q38_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via lag(): one shuffle on
    user_id serves BOTH the navigation window and the final groupBy
    (Catalyst reuses the hashpartitioning(user_id) exchange — the agg
    runs shuffle-free on the window's output). Gaps are computed in
    integer microseconds so sums are exact and order-independent;
    (ts, event_id) ordering makes ties deterministic. lead/lag is the
    one window class q08/q09/q15 didn't cover (SURVEY §2e: reference
    has none)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("gap_us", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").alias("sum_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# q39 — set operations (INTERSECT / EXCEPT)
# ---------------------------------------------------------------------------


@query(
    "q39_retained_customers",
    oracle="""
    WITH y95 AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate < TIMESTAMP '1996-01-01'),
         y96 AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01'),
         flagged AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         retained AS (SELECT * FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
                      EXCEPT SELECT * FROM flagged)
    SELECT c_custkey, c_mktsegment
    FROM retained JOIN customer ON o_custkey = c_custkey
    """,
)
def q39_retained_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers ordering in both 1995 and 1996 minus any with a
    failed ('F') order — INTERSECT and EXCEPT, the set ops the
    reference lacks (SURVEY §2g: union only). Spark plans both as
    aggregate-style hash ops on the key column alone (1 narrow bigint
    over the wire per branch, then left-semi/left-anti under AQE), so
    the year filters push into the parquet scan and the wide customer
    row is only fetched for the survivors."""
    orders = table(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    flagged = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    retained = year_keys(1995).intersect(year_keys(1996)).subtract(flagged)
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return retained.join(
        cust, retained.o_custkey == cust.c_custkey, "inner"
    ).select("c_custkey", "c_mktsegment")


# ---------------------------------------------------------------------------
# q40 — hot-key-resistant aggregation (salted two-phase groupBy)
# ---------------------------------------------------------------------------


@query(
    "q40_salted_hot_key_agg",
    oracle="""
    SELECT
      event_type,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
      COUNT(event_id) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q40_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators.scale.salted_agg path proven against a plain
    GROUP BY oracle: phase 1 aggregates by (event_type, salt) spreading
    any hot key over 16 reducers, phase 2 recombines partials. events
    has only a handful of event_type values — exactly the cardinality
    regime where ONE group would otherwise be one straggler task at
    100 TB. Values are summed in decimal so the salted two-phase sum is
    bitwise equal to the oracle's single-phase sum (double addition is
    not associative; decimal is)."""
    from sales_data_pipeline_spark.operators.scale import salted_agg

    ev = table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").cast("decimal(18,4)").alias("value_d")
    )
    out = salted_agg(
        ev, ["event_type"], {"value_d": "sum", "event_id": "count"}, n_salt=16
    )
    return out.select(
        "event_type",
        F.col("sum_value_d").cast("double").alias("total_value"),
        F.col("count_event_id").alias("n_events"),
    )

# ---------------------------------------------------------------------------
# q41 — semi-structured JSON extraction (variant-column pattern)
# ---------------------------------------------------------------------------


@query(
    "q41_json_props",
    oracle="""
    SELECT
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
      COUNT(*) FILTER (CAST(props->>'$.k' AS INTEGER) >= 50) AS n_high
    FROM events GROUP BY event_type
    """,
)
def q41_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from a JSON string column (the engine's variant
    pattern — SURVEY §1 upgrades the reference's comma-joined
    additional_column to queryable JSON, main.py:258). from_json with an
    explicit schema runs JVM-side (Jackson inside codegen, no Python);
    at 100 TB the win over re-parsing per expression is that ONE parse
    feeds every extracted field. Integer sums keep the aggregate
    order-independent."""
    ev = table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.count_if(F.col("k") >= 50).alias("n_high"),
        )
    )


# ---------------------------------------------------------------------------
# q42 — correlated aggregate subquery, decorrelated (TPC-H Q17 shape)
# ---------------------------------------------------------------------------


@query(
    "q42_small_qty_revenue",
    oracle="""
    WITH agg AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS DOUBLE)
        AS avg_yearly,
      COUNT(*) AS n_rows
    FROM lineitem li
    JOIN part ON p_partkey = li.l_partkey
    JOIN agg  ON agg.l_partkey = li.l_partkey
    WHERE p_brand = 'Brand#1'
      AND CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sum_qty
    """,
)
def q42_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated scalar subquery (``l_quantity <
    0.2·avg(qty) per part``), written directly in its decorrelated form:
    one per-part aggregate, joined back — which is exactly the plan
    Catalyst would rewrite the subquery into, minus the rewrite risk.
    The boundary predicate is restated integer-exactly
    (5·q·cnt < sum_qty, all decimal/bigint) so Spark and the oracle
    agree even when a quantity sits exactly on 0.2·avg — a double
    division there is a coin-flip. The brand filter broadcasts: tiny
    part side prunes both the fact scan and the aggregate join under
    AQE."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_f = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    agg = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(_QTY)).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(F.broadcast(part_f), li.l_partkey == part_f.p_partkey)
        .join(agg, "l_partkey")
        .filter(F.col("l_quantity").cast(_QTY) * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(_PRICE)).cast("double") / 7.0)
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q43 — rolling range-frame window (trailing 7-day revenue)
# ---------------------------------------------------------------------------


@query(
    "q43_rolling_revenue",
    oracle="""
    WITH daily AS (
      SELECT
        o_custkey,
        datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT
      o_custkey,
      day_idx,
      CAST(rev AS DOUBLE) AS daily_rev,
      CAST(SUM(rev) OVER (
        PARTITION BY o_custkey ORDER BY day_idx
        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS rev_7d
    FROM daily
    """,
)
def q43_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue per customer: a RANGE frame over an
    integer day index (value-based — days with no orders still shrink
    the frame, which rowsBetween would get wrong). Pre-aggregating to
    daily grain BEFORE the window keeps the sort buffer at
    days-per-customer, not orders-per-customer. The explicit
    repartition("o_custkey") makes ONE exchange serve both steps:
    hashpartitioning(custkey) satisfies the groupBy's (custkey, day)
    clustering AND the window's partitioning, where the default plan
    would shuffle on (custkey, day) for the agg and again on custkey
    for the window (plan-shape test pins the single exchange). Frames
    q08/q38 didn't cover: explicit rangeBetween."""
    orders = table(spark, sf_dir, "orders")
    day_idx = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    )
    daily = (
        orders.select(
            "o_custkey",
            day_idx.alias("day_idx"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .repartition("o_custkey")
        .groupBy("o_custkey", "day_idx")
        .agg(F.sum("p").alias("rev"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_idx")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "o_custkey",
        "day_idx",
        F.col("rev").cast("double").alias("daily_rev"),
        F.sum("rev").over(w).cast("double").alias("rev_7d"),
    )

# ---------------------------------------------------------------------------
# q44 — deterministic train/val/test split (content-hash bucketing)
# ---------------------------------------------------------------------------


@query(
    "q44_training_split",
    oracle="""
    WITH tagged AS (
      SELECT
        source,
        CASE
          WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('e', 'f') THEN
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) = 'e'
                 THEN 'val' ELSE 'test' END
          ELSE 'train'
        END AS split,
        length(text) AS n_chars
      FROM documents
    )
    SELECT
      source,
      split,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY source, split
    """,
)
def q44_training_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 14/1/1 train/val/test split per source via the last
    hex digit of md5(doc_id) — the property a training pipeline needs
    that rand()/sampleBy cannot give: the SAME doc lands in the SAME
    split on every run, every cluster size, every partitioning (retried
    tasks included), and adding new docs never reshuffles old ones.
    md5 is bit-identical across Spark and the oracle, so the split
    itself is oracle-checkable — not just its sizes. Map-only until the
    final count: no shuffle of document bodies."""
    docs = table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1)
    split = (
        F.when(digit == "e", "val")
        .when(digit == "f", "test")
        .otherwise("train")
    )
    return (
        docs.select("source", split.alias("split"), F.length("text").alias("n_chars"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q45 — full outer join (reconciliation with both-sides-optional)
# ---------------------------------------------------------------------------


@query(
    "q45_acct_order_reconciliation",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_rev,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT
      COALESCE(c_custkey, o_custkey) AS custkey,
      CAST(c_acctbal AS DOUBLE) AS acctbal,
      CAST(total_rev AS DOUBLE) AS total_rev,
      COALESCE(n_orders, 0) AS n_orders,
      CASE WHEN c_custkey IS NULL THEN 'orphan_orders'
           WHEN o_custkey IS NULL THEN 'no_orders'
           ELSE 'matched' END AS status
    FROM customer FULL OUTER JOIN rev ON c_custkey = o_custkey
    """,
)
def q45_acct_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-vs-orders reconciliation: FULL OUTER join surfacing
    customers with no orders AND orders referencing missing customers —
    the join type every audit/backfill pipeline needs and the reference
    lacks entirely (SURVEY §2c: inner only). Aggregating orders to one
    row per custkey BEFORE the join keeps the outer join 1:1 (its
    output size is bounded by |customers| + |custkeys|, not |orders|);
    full outer forces a shuffle join — there is no broadcast variant —
    so both sides arrive pre-shrunk."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    rev = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    j = cust.join(rev, cust.c_custkey == rev.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("total_rev").cast("double").alias("total_rev"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.when(F.col("c_custkey").isNull(), "orphan_orders")
        .when(F.col("o_custkey").isNull(), "no_orders")
        .otherwise("matched")
        .alias("status"),
    )

# ---------------------------------------------------------------------------
# q46 — calendar gap-fill + forward-fill (time-series resampling)
# ---------------------------------------------------------------------------


@query(
    "q46_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT
        min(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS mn,
        max(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS mx
      FROM orders
    ),
    pri AS (SELECT DISTINCT o_orderpriority FROM orders),
    grid AS (
      SELECT o_orderpriority, unnest(generate_series(mn, mx)) AS day_idx
      FROM pri, bounds
    ),
    daily AS (
      SELECT
        o_orderpriority,
        datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT
      g.o_orderpriority,
      g.day_idx,
      CAST(COALESCE(d.rev, 0) AS DOUBLE) AS rev,
      CAST(LAST_VALUE(d.rev IGNORE NULLS) OVER (
        PARTITION BY g.o_orderpriority ORDER BY g.day_idx
      ) AS DOUBLE) AS rev_ffill
    FROM grid g
    LEFT JOIN daily d
      ON d.o_orderpriority = g.o_orderpriority AND d.day_idx = g.day_idx
    """,
)
def q46_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: densify daily revenue per order priority
    onto a complete calendar (zero-fill) and forward-fill the last
    observed value across gaps — the hypertable-rollup shape. The
    calendar is GENERATED (sequence + explode from one aggregated
    bounds row, broadcast onto the distinct keys), never materialized
    as input data; the left join is grid ⋈ pre-aggregated daily rows,
    so its size is keys × days regardless of raw row count. Forward
    fill is last(ignorenulls) over the default unbounded-preceding
    frame — running state inside one window pass, no self-join."""
    orders = table(spark, sf_dir, "orders")
    day_idx = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    )
    daily = (
        orders.select(
            "o_orderpriority",
            day_idx.alias("day_idx"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("o_orderpriority", "day_idx")
        .agg(F.sum("p").alias("rev"))
    )
    bounds = orders.agg(
        F.min(day_idx).alias("mn"), F.max(day_idx).alias("mx")
    )
    pri = orders.select("o_orderpriority").distinct()
    grid = pri.crossJoin(F.broadcast(bounds)).select(
        "o_orderpriority",
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("day_idx"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("day_idx")
    return (
        grid.join(daily, ["o_orderpriority", "day_idx"], "left")
        .select(
            "o_orderpriority",
            "day_idx",
            F.coalesce(F.col("rev"), F.lit(0)).cast("double").alias("rev"),
            F.last("rev", ignorenulls=True).over(w).cast("double").alias("rev_ffill"),
        )
    )


# ---------------------------------------------------------------------------
# q47 — approximate percentiles (mergeable quantile sketch)
# ---------------------------------------------------------------------------


@query("q47_approx_percentiles")  # sketch-based: rows-only driver check
def q47_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 order value per priority via approx_percentile
    (Greenwald-Khanna sketch, accuracy 1/10000). Exact per-group
    percentiles (q31) need every value collected per group; the sketch
    is bounded memory and MERGEABLE, so partial aggregation works and
    the shuffle carries one sketch per (partition, group) instead of
    every row — at 100 TB that is the only viable percentile plan.
    No SQL oracle (DuckDB's approx algorithm differs);
    tests/test_plan_shapes.py::test_q47_approx_percentiles_bounded_error
    bounds each sketch value against the exact percentile's
    neighborhood instead (the documented covering check for
    oracle=None)."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.approx_percentile(
            "o_totalprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 10000
        ).alias("pcts"),
        F.count(F.lit(1)).alias("n_orders"),
    ).select(
        "o_orderpriority",
        F.col("pcts")[0].alias("p50"),
        F.col("pcts")[1].alias("p95"),
        F.col("pcts")[2].alias("p99"),
        "n_orders",
    )

# ---------------------------------------------------------------------------
# q48 — distribution windows (ntile deciles + percent_rank)
# ---------------------------------------------------------------------------


@query(
    "q48_spend_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT
      c_mktsegment,
      CAST(NTILE(10) OVER (
        PARTITION BY c_mktsegment ORDER BY total_spend DESC, o_custkey
      ) AS BIGINT) AS decile,
      o_custkey AS custkey,
      CAST(total_spend AS DOUBLE) AS total_spend,
      ROUND(PERCENT_RANK() OVER (
        PARTITION BY c_mktsegment ORDER BY total_spend DESC, o_custkey
      ), 9) AS pct_rank
    FROM spend JOIN customer ON c_custkey = o_custkey
    """,
)
def q48_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend deciles per market segment: ntile(10) +
    percent_rank over (segment, spend desc) — the distribution windows
    (SURVEY §2e: reference has none; q03/q09 covered rank only).
    o_custkey tiebreak makes both functions deterministic under equal
    spends. The percentile position here is computed by ONE sort per
    segment partition — contrast q31's exact-percentile aggregation,
    which collects values per group; a ranking window is the cheaper
    shape when every row needs its own position. percent_rank rounds to
    9 places: its divisor (n-1) makes it a true double, and Spark and
    the oracle may disagree in the 17th digit."""
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_spend")
        )
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("total_spend").desc(), "o_custkey"
    )
    return (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .select(
            "c_mktsegment",
            F.ntile(10).over(w).cast("bigint").alias("decile"),
            F.col("o_custkey").alias("custkey"),
            F.col("total_spend").cast("double").alias("total_spend"),
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        )
    )

# ---------------------------------------------------------------------------
# q50 — latest-record-per-key (row_number dedup, the SCD/upsert pattern)
# ---------------------------------------------------------------------------


@query(
    "q50_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q50_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key — row_number()==1 over (key, time desc):
    the dedup shape every CDC/upsert ingest needs (keep the newest
    version of each entity). row_number, not rank: exactly ONE survivor
    per key even on timestamp ties (event_id breaks them
    deterministically). One shuffle on the key; at 100 TB prefer this
    over groupBy(max(ts))+self-join, which shuffles twice and re-reads
    the fact."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select("user_id", "event_id", "event_type", "value", "ts")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# q51 — token frequency top-k (explode / lateral view as a query surface)
# ---------------------------------------------------------------------------


@query(
    "q51_token_topk",
    oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def q51_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: explode tokens → count → global top-20.
    The Generate (lateral view) operator as a first-class query — rows
    expand ~50× at the explode, but partial aggregation collapses them
    before the shuffle and the final orderBy+limit is
    TakeOrderedAndProject (per-partition top-k, never a global sort).
    This count is the input to stopword lists / vocab pruning in a
    training pipeline."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q60 — sequential funnel (ordered milestone progression per user)
# ---------------------------------------------------------------------------


@query(
    "q60_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
      CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                WHEN c.t_click IS NOT NULL THEN 2
                ELSE 1 END AS BIGINT) AS stage_reached
    FROM v
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
)
def q60_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel: first view → first click STRICTLY AFTER it →
    first purchase strictly after that, per user — order matters (a
    purchase before the click does not count), which plain per-type
    min() aggregation cannot express. Three stage aggregations, each
    filtered by the previous stage's timestamp; every shuffle is keyed
    on user_id so AQE/exchange reuse keeps the chain to one partitioning.
    The standard product-analytics primitive (conversion funnels) on the
    events stream table."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .otherwise(1)
        .cast("bigint")
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase", stage.alias("stage_reached"))
    )


@query(
    "q63_scd2_merge",
    oracle="""
    WITH changes AS (
      SELECT c_custkey, c_name, c_nationkey, round(c_acctbal + 100.0, 2) AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'NewCustomer#' || CAST(c_custkey AS VARCHAR),
             c_nationkey, 0.0, c_mktsegment
      FROM customer WHERE c_custkey % 13 = 0
    )
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           0 AS version, (c_custkey % 7 <> 0) AS is_current
    FROM customer
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           1 AS version, TRUE AS is_current
    FROM changes
    """,
)
def q63_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-keeping MERGE of a CDC batch into the customer dimension
    (the reference's JDBC sink truncates + rewrites the whole mart per
    run — reference database_write.py; at 100 TB you apply a small
    change batch instead). Batch = +100.00 balance for every 7th key
    (updates) plus re-keyed inserts for every 13th. Superseded rows are
    closed out (is_current=false), all history retained with version
    numbers. Plan: ONE broadcast left join against the distinct change
    keys + union — the base table is read once and never shuffled
    (operators/merge.py scd2_merge)."""
    base = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    updates = base.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    inserts = base.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NewCustomer#"), F.col("c_custkey").cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    return scd2_merge(base, updates.unionByName(inserts), keys=["c_custkey"])


@query(
    "q68_retention_cohorts",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
    ),
    first AS (SELECT user_id, min(d) AS cohort FROM act GROUP BY 1),
    m AS (
      SELECT f.cohort, CAST(a.d - f.cohort AS BIGINT) AS offset_days,
             count(DISTINCT a.user_id) AS n_users
      FROM act a JOIN first f USING (user_id) GROUP BY 1, 2
    )
    SELECT CAST(cohort AS VARCHAR) AS cohort_date, offset_days, n_users,
      CAST(n_users AS DOUBLE)
        / MAX(CASE WHEN offset_days = 0 THEN n_users END)
          OVER (PARTITION BY cohort) AS retention
    FROM m
    """,
)
def q68_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention-cohort matrix: users grouped by first-seen day,
    counted on each later active day, with retention as a fraction of
    the cohort's day-0 size. All shuffles are linear and keyed
    (user-day distinct → per-user min → user join → cohort/offset agg);
    the day-0 normalizer is a window over the TINY cohort×offset matrix,
    never over events."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("d").alias("cohort"))
    m = (
        act.join(first, "user_id")
        .groupBy("cohort", F.datediff("d", "cohort").cast("bigint").alias("offset_days"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
    day0 = F.max(F.when(F.col("offset_days") == 0, F.col("n_users"))).over(
        Window.partitionBy("cohort")
    )
    return m.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_date"),
        "offset_days",
        "n_users",
        (F.col("n_users").cast("double") / day0).alias("retention"),
    )


# ---------------------------------------------------------------------------
# q80 — correlated EXISTS / NOT EXISTS (decorrelated subquery surface)
# ---------------------------------------------------------------------------


@query(
    "q80_exists_correlated",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE c_acctbal > 9000
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 2 * c.c_acctbal)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F'
                        AND o.o_totalprice < 1000)
    """,
)
def q80_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS with an inequality correlation
    (o_totalprice > 2*c_acctbal) — the subquery surface the reference
    never touches (its only subquery-ish op is the staging-table
    DISTINCT probe, reference src/main/transformations/main.py:59-63).
    Expressed through spark.sql to exercise the engine's SQL front end;
    Catalyst decorrelates both predicates into a left-semi and a
    left-anti hash join on o_custkey — exactly the plan one would hand
    write, with the inequality evaluated as a non-equi join residual.
    Scale note: both joins shuffle on the key (or broadcast the
    filtered orders side under AQE); no nested-loop re-execution per
    outer row, which is what makes correlated EXISTS safe at 100 TB."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE c_acctbal > 9000
          AND EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 2 * c.c_acctbal)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F'
                            AND o.o_totalprice < 1000)
        """
    )


# ---------------------------------------------------------------------------
# q81 — INTERSECT / EXCEPT set algebra
# ---------------------------------------------------------------------------


@query(
    "q81_set_algebra",
    oracle="""
    (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
     INTERSECT
     SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def q81_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT — the set operations SURVEY §2g records as
    absent from the reference (it has only the positional union).
    Customers with both open and filled orders, minus anyone with a
    jumbo order. Spark executes each as a distinct-preserving hash
    semi/anti join (one shuffle per operand on the compare key); the
    DataFrame calls are intersect() and subtract(), whose DISTINCT
    output semantics match the SQL operators exactly — exceptAll/
    intersectAll are the bag variants, deliberately not used here so
    the oracle's set semantics hold."""
    orders = table(spark, sf_dir, "orders")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    filled_c = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    jumbo_c = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    return open_c.intersect(filled_c).subtract(jumbo_c)


# ---------------------------------------------------------------------------
# q82 — GROUPING SETS + grouping_id (completes rollup/cube family)
# ---------------------------------------------------------------------------


@query(
    "q82_grouping_sets",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q82_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id — the third member of
    the multi-granularity family (q16 rollup, q37 cube). Unlike rollup,
    the set list here is arbitrary: (flag,status), (flag), () but NOT
    (status), which no rollup/cube spelling can produce. Spark compiles
    it to a single Expand (3 replicas of each input row) + ONE keyed
    shuffle — the same single-pass shape the plan-shape tests pin for
    q37; grouping_id() disambiguates real NULL groups from subtotal
    rows. Bit order (first grouping column = most significant bit) is
    identical in Spark and the oracle's GROUPING()."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        ).agg(
            F.grouping_id().cast("bigint").alias("gid"),
            _dec_sum("l_extendedprice", _PRICE, "revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q83 — UNPIVOT / melt (wide → long reshaping)
# ---------------------------------------------------------------------------


@query(
    "q83_unpivot_stats",
    oracle="""
    WITH wide AS (
      SELECT o_orderstatus,
        CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
        ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              / COUNT(*), 6) AS avg_price,
        CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'min_price' AS stat, min_price AS value FROM wide
    UNION ALL
    SELECT o_orderstatus, 'avg_price' AS stat, avg_price AS value FROM wide
    UNION ALL
    SELECT o_orderstatus, 'max_price' AS stat, max_price AS value FROM wide
    """,
)
def q83_unpivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): per-status price stats computed wide, reshaped
    long — the inverse of q32's pivot, closing the reshape pair. The
    avg is an exact decimal sum over a double divide (rounded), so both
    engines agree bitwise. Spark's unpivot is a zero-shuffle Expand on
    an already-tiny aggregate; at scale the pattern matters on wide
    metric tables (hundreds of stat columns → one (entity, stat, value)
    stream) where Expand's row replication is still map-side only."""
    wide = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["min_price", "avg_price", "max_price"],
        variableColumnName="stat",
        valueColumnName="value",
    )


# ---------------------------------------------------------------------------
# q84 — lead + first/last over explicit unbounded frames
# ---------------------------------------------------------------------------


@query(
    "q84_order_timeline",
    oracle="""
    SELECT
      o_custkey AS custkey,
      o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      CAST(date_diff('day', CAST(o_orderdate AS DATE),
           CAST(LEAD(o_orderdate) OVER w AS DATE)) AS BIGINT) AS days_to_next,
      CAST(FIRST_VALUE(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      ) AS DOUBLE) AS first_price,
      CAST(LAST_VALUE(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      ) AS DOUBLE) AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q84_order_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order timeline: lead() for inter-order gaps plus
    first_value/last_value over an explicit UNBOUNDED..UNBOUNDED frame —
    the navigation functions q38/q46 (lag, last ignorenulls) left
    uncovered, and the one frame spelling where Spark's default
    (UNBOUNDED PRECEDING..CURRENT ROW) silently gives the wrong
    last_value if unstated. One window sort serves all three functions
    (same partition + order spec), so the whole query is a single
    shuffle on o_custkey; days_to_next is NULL on each customer's final
    order, by design."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate"))
        .cast("bigint")
        .alias("days_to_next"),
        F.first("o_totalprice").over(wfull).cast("double").alias("first_price"),
        F.last("o_totalprice").over(wfull).cast("double").alias("last_price"),
    )


# ---------------------------------------------------------------------------
# q92 — correlated scalar subquery (premium-vs-type-average)
# ---------------------------------------------------------------------------


@query(
    "q92_scalar_subquery",
    oracle="""
    SELECT p_partkey, p_name, p_type, p_retailprice,
           round((SELECT avg(p2.p_retailprice) FROM part p2
                  WHERE p2.p_type = p.p_type), 6) AS type_avg
    FROM part p
    WHERE p_retailprice > 1.02 * (SELECT avg(p2.p_retailprice) FROM part p2
                                 WHERE p2.p_type = p.p_type)
    """,
)
def q92_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery in both predicate and projection —
    parts priced >2% above their type's average (TPC-H Q17's shape).
    Completes the subquery surface with q80's EXISTS forms. Catalyst
    decorrelates the scalar agg into one per-type aggregate joined back
    to the fact — the per-type average is computed ONCE, not per outer
    row, which is the property that keeps correlated scalars viable at
    100 TB (and what the plan would lose as a nested re-execution)."""
    table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_type, p_retailprice,
               round((SELECT avg(p2.p_retailprice) FROM part p2
                      WHERE p2.p_type = p.p_type), 6) AS type_avg
        FROM part p
        WHERE p_retailprice > 1.02 * (SELECT avg(p2.p_retailprice) FROM part p2
                                     WHERE p2.p_type = p.p_type)
        """
    )


# ---------------------------------------------------------------------------
# q93 — customer order-count distribution (outer-join histogram, TPC-H Q13)
# ---------------------------------------------------------------------------


@query(
    "q93_order_count_distribution",
    oracle="""
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) GROUP BY n_orders
    """,
)
def q93_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many customers placed 0, 1, 2, … orders (TPC-H Q13's shape):
    LEFT join so order-less customers land in the 0 bucket —
    count(o_orderkey) counts non-null keys only, which is exactly the
    outer-join-aware count an inner join would silently get wrong. Two
    keyed aggregations; the second runs over |customers| rows and the
    histogram is bounded by max order count. The first shuffle is the
    only one proportional to the fact table."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


# ---------------------------------------------------------------------------
# q94 — supplier diversity per brand (count distinct + NOT IN)
# ---------------------------------------------------------------------------


@query(
    "q94_brand_supplier_diversity",
    oracle="""
    SELECT p_brand,
      CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
      CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand NOT IN ('Brand#13', 'Brand#21')
    GROUP BY p_brand
    """,
)
def q94_brand_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers serving each part brand, excluding a blocked
    brand list (TPC-H Q16's shape): exact COUNT(DISTINCT) beside a
    plain count in one aggregation (Spark expands it to a two-phase
    distinct-then-count internally — still a single logical pass), and
    a NOT IN literal list that must reach the part scan as a pushed
    filter. At 100 TB swap approx_count_distinct in for the exact
    distinct when ±2% is tolerable (q36's trade)."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand")
        .filter(~F.col("p_brand").isin("Brand#13", "Brand#21"))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count_distinct("l_suppkey").cast("bigint").alias("n_suppliers"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q95 — first supplier per part (min_by / arg_min ordered-analytic agg)
# ---------------------------------------------------------------------------


@query(
    "q95_first_supplier_per_part",
    oracle="""
    SELECT l_partkey AS partkey,
      CAST(arg_min(l_suppkey, l_orderkey * 8 + l_linenumber) AS BIGINT)
        AS first_suppkey,
      CAST(min(l_orderkey * 8 + l_linenumber) AS BIGINT) AS first_line_ord,
      CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY l_partkey
    """,
)
def q95_first_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/arg_min — the 'value at the extremum' aggregate: the
    supplier on each part's earliest order line, where the ordering key
    (orderkey·8 + linenumber) is UNIQUE per line so the answer is
    deterministic in both engines (min_by over a tied key is
    engine-arbitrary — never use it with non-unique orderings). ONE
    aggregation replaces the window+rank+filter detour (q50's shape)
    when only the extremum row's value is wanted: no sort, half the
    shuffle width."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("line_ord"),
    )
    return li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.min_by("l_suppkey", "line_ord").cast("bigint").alias("first_suppkey"),
        F.min("line_ord").cast("bigint").alias("first_line_ord"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# q96 — FILTER-clause aggregates (conditional aggregation surface)
# ---------------------------------------------------------------------------


@query(
    "q96_filtered_aggregates",
    oracle="""
    SELECT o_orderpriority,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_filled,
      CAST(COALESCE(sum(CAST(o_totalprice AS DECIMAL(18,2)))
           FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS filled_revenue,
      round(count(*) FILTER (WHERE o_orderstatus = 'F')
            / CAST(count(*) AS DOUBLE), 6) AS filled_rate
    FROM orders GROUP BY o_orderpriority
    """,
)
def q96_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI FILTER-clause aggregation — several differently-predicated
    aggregates in ONE pass over the fact (the alternative, one scan per
    predicate unioned back, multiplies reads by the metric count).
    Exercised through the SQL front end; Catalyst compiles each FILTER
    into a conditional accumulator inside the same hash aggregate, so
    the plan is identical to q10's when/otherwise spelling — one scan,
    one shuffle."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
          CAST(count(*) AS BIGINT) AS n_orders,
          CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_filled,
          CAST(COALESCE(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS filled_revenue,
          round(count(*) FILTER (WHERE o_orderstatus = 'F')
                / CAST(count(*) AS DOUBLE), 6) AS filled_rate
        FROM orders GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# q97 — quarter-over-quarter revenue growth (calendar truncation + lag)
# ---------------------------------------------------------------------------


@query(
    "q97_qoq_growth",
    oracle="""
    WITH q AS (
      SELECT date_trunc('quarter', o_orderdate) AS qtr,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT strftime(qtr, '%Y-%m') AS quarter,
      CAST(rev AS DOUBLE) AS revenue,
      round(CAST(rev AS DOUBLE)
            / CAST(lag(rev) OVER (ORDER BY qtr) AS DOUBLE) - 1, 6) AS qoq_growth
    FROM q
    """,
)
def q97_qoq_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-over-quarter revenue growth: calendar-quarter truncation
    (date_trunc, the F4/F5 month-bucket family extended to quarters) +
    lag over the QUARTER AGGREGATE — the unpartitioned window runs over
    ~n_quarters rows, never the fact, so the single-partition window
    sort that would be a 100 TB killer on raw data is a no-op here
    (same discipline as q68's cohort normalizer). First quarter's
    growth is NULL by definition."""
    orders = table(spark, sf_dir, "orders")
    q = orders.groupBy(
        F.date_trunc("quarter", F.col("o_orderdate")).alias("qtr")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("qtr")
    return q.select(
        F.date_format("qtr", "yyyy-MM").alias("quarter"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.lag(F.col("rev").cast("double")).over(w)
            - 1,
            6,
        ).alias("qoq_growth"),
    )


# ---------------------------------------------------------------------------
# q101 — disjunctive multi-clause predicate (TPC-H Q19's shape)
# ---------------------------------------------------------------------------


@query(
    "q101_disjunctive_predicates",
    oracle="""
    SELECT
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q101_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunction of per-brand conjunctive clauses (TPC-H Q19): the
    predicate mixes columns from BOTH join sides, so no clause can be
    fully pushed — but Catalyst derives and pushes the single-side
    residuals (p_brand IN (...) to the part scan, l_quantity's overall
    1..30 envelope to the lineitem scan) before evaluating the full
    disjunction at the join. That derived-envelope pushdown is the
    difference between scanning 3 brands' parts and all of them at
    100 TB."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(clause).agg(
        F.sum(
            F.col("l_extendedprice").cast(_PRICE)
            * (F.lit(1) - F.col("l_discount").cast(_RATE))
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# q102 — promo revenue share per month (TPC-H Q14's shape)
# ---------------------------------------------------------------------------


@query(
    "q102_promo_share",
    oracle="""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
      round(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
              THEN CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))
              ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6)
        AS promo_share_pct,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY 1
    """,
)
def q102_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share per ship month (TPC-H Q14 generalized from
    one month to a trend): a LIKE-prefixed conditional numerator over
    the same decimal-exact revenue expression as the denominator, in
    ONE aggregation — the share-of-total-within-group pattern without
    any window or self-join. The part side carries only (partkey,
    type); at scale that projection is what keeps the build side
    broadcastable."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast(_PRICE) * (
        F.lit(1) - F.col("l_discount").cast(_RATE)
    )
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
                "ship_month"
            )
        )
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_share_pct"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q103 — brand revenue share per year (TPC-H Q8's shape)
# ---------------------------------------------------------------------------


@query(
    "q103_brand_share_by_year",
    oracle="""
    WITH r AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, p_brand,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    )
    SELECT ship_year, p_brand,
      CAST(rev AS DOUBLE) AS revenue,
      round(CAST(rev AS DOUBLE)
            / CAST(SUM(rev) OVER (PARTITION BY ship_year) AS DOUBLE), 6)
        AS year_share
    FROM r
    """,
)
def q103_brand_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each brand's share of yearly revenue (TPC-H Q8's market-share
    shape): aggregate to (year, brand) FIRST, then a window over the
    tiny aggregate computes the yearly normalizer — the fact table is
    touched by exactly one keyed shuffle, and the share window sorts
    |years|×|brands| rows, not lineitems. Decimal-exact sums keep the
    shares identical across partitionings."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = F.col("l_extendedprice").cast(_PRICE) * (
        F.lit(1) - F.col("l_discount").cast(_RATE)
    )
    r = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
            "p_brand",
        )
        .agg(F.sum(rev).alias("rev"))
    )
    w = Window.partitionBy("ship_year")
    return r.select(
        "ship_year",
        "p_brand",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w).cast("double"), 6
        ).alias("year_share"),
    )


# ---------------------------------------------------------------------------
# q104 — ordered collection: top event paths (array_agg ORDER BY surface)
# ---------------------------------------------------------------------------


@query(
    "q104_top_event_paths",
    oracle="""
    WITH paths AS (
      SELECT user_id,
        array_to_string(list_slice(
          list(event_type ORDER BY ts, event_id), 1, 5), '>') AS path
      FROM events GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def q104_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common opening event sequences (first 5 events per user) —
    the path-analysis shape behind funnel discovery. The ordered
    collection is the point: collect_list's order is partition-
    nondeterministic, so the list is collected as (ts, event_id, type)
    structs and sort_array'd — giving SQL's array_agg(... ORDER BY)
    semantics deterministically (event_id breaks timestamp ties). The
    per-user collect is one keyed shuffle; the path histogram and
    top-20 are TakeOrderedAndProject over |users| rows. At 100 TB the
    slice-to-5 bounds each group's payload before the histogram — never
    collect unbounded event lists."""
    ev = table(spark, sf_dir, "events")
    paths = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(F.col("evs"), lambda e: e["event_type"]), 1, 5
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q105/q106 — scalar function toolkit parity (strings, numerics)
# ---------------------------------------------------------------------------


@query(
    "q105_string_toolkit",
    oracle="""
    SELECT c_custkey,
      upper(c_name) AS up,
      lower(c_name) AS lo,
      CAST(length(c_name) AS BIGINT) AS len,
      reverse(c_name) AS rev,
      substr(c_name, 1, 8) AS pre,
      lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
      replace(c_name, '#', '-') AS repl,
      CAST(instr(c_name, '#') AS BIGINT) AS hash_pos,
      regexp_extract(c_name, '[0-9]+') AS digits,
      repeat('*', CAST(c_custkey % 4 AS INTEGER)) AS stars,
      concat(left(c_name, 4), '…', right(c_name, 3)) AS abbrev
    FROM customer
    """,
)
def q105_string_toolkit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function parity sweep over customer names — one projection
    exercising the everyday string surface (case, length, reverse,
    substring, pad, replace, find, regex extract, repeat, left/right)
    with the DuckDB oracle agreeing byte-for-byte. All codegen
    expressions; functions chosen for identical cross-engine semantics
    (regexp_extract held to a dialect-neutral pattern; instr is
    1-based/0-if-absent in both)."""
    cust = table(spark, sf_dir, "customer")
    name = F.col("c_name")
    return cust.select(
        "c_custkey",
        F.upper(name).alias("up"),
        F.lower(name).alias("lo"),
        F.length(name).cast("bigint").alias("len"),
        F.reverse(name).alias("rev"),
        F.substring(name, 1, 8).alias("pre"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.replace(name, F.lit("#"), F.lit("-")).alias("repl"),
        F.instr(name, "#").cast("bigint").alias("hash_pos"),
        F.regexp_extract(name, "[0-9]+", 0).alias("digits"),
        F.repeat(F.lit("*"), (F.col("c_custkey") % 4).cast("int")).alias("stars"),
        F.concat(
            F.substring(name, 1, 4), F.lit("…"), name.substr(F.length(name) - 2, F.lit(3))
        ).alias("abbrev"),
    )


@query(
    "q106_numeric_toolkit",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      round(abs(l_extendedprice - 1000.0), 6) AS dist_from_1k,
      CAST(floor(l_extendedprice) AS BIGINT) AS fl,
      CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
      round(sqrt(l_extendedprice), 6) AS sq,
      round(ln(l_extendedprice + 1), 6) AS logn,
      round(log10(l_extendedprice + 1), 6) AS log_ten,
      round(pow(l_discount, 2), 6) AS disc_sq,
      CAST(sign(l_extendedprice - 1000.0) AS BIGINT) AS above_1k,
      round(greatest(l_extendedprice, l_quantity * 100), 6) AS gr,
      round(least(l_extendedprice, l_quantity * 100), 6) AS le,
      COALESCE(nullif(CAST(l_quantity AS BIGINT), 0), -1) AS qty_or_sentinel,
      CAST(l_quantity AS BIGINT) % 7 AS qty_mod
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    """,
)
def q106_numeric_toolkit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric/conditional function parity sweep over lineitem (sampled
    by orderkey mod to keep the compare bounded): abs/floor/ceil/sqrt/
    ln/log10/pow/sign/greatest/least/nullif/coalesce/mod, each rounded
    where IEEE library differences could reach the last bit. Pure
    map-stage expressions; the WHERE mod-filter pushes to the scan."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    price = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(price - 1000.0), 6).alias("dist_from_1k"),
        F.floor(price).cast("bigint").alias("fl"),
        F.ceil(price).cast("bigint").alias("ce"),
        F.round(F.sqrt(price), 6).alias("sq"),
        F.round(F.log(price + 1), 6).alias("logn"),
        F.round(F.log10(price + 1), 6).alias("log_ten"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        F.signum(price - 1000.0).cast("bigint").alias("above_1k"),
        F.round(F.greatest(price, F.col("l_quantity") * 100), 6).alias("gr"),
        F.round(F.least(price, F.col("l_quantity") * 100), 6).alias("le"),
        F.coalesce(
            F.nullif(F.col("l_quantity").cast("bigint"), F.lit(0)), F.lit(-1)
        ).alias("qty_or_sentinel"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod"),
    )


# ---------------------------------------------------------------------------
# q107 — recursive CTE (calendar expansion + gap-filled revenue)
# ---------------------------------------------------------------------------

_Q107_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT CAST('1995-01-01' AS DATE)
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
  WHERE m < CAST('2001-08-01' AS DATE)
),
rev AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders GROUP BY 1
)
SELECT CAST(year(m) AS BIGINT) AS y, CAST(month(m) AS BIGINT) AS mo,
       CAST(COALESCE(r, 0) AS DOUBLE) AS revenue,
       CAST(CASE WHEN r IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
FROM months LEFT JOIN rev USING (m)
"""


@query("q107_recursive_calendar", oracle=_Q107_SQL)
def q107_recursive_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through the engine's SQL front end (new in Spark
    4's parser): the calendar spine is generated by the recursion — one
    row per month over the data's span — then left-joined to monthly
    revenue so silent gap months surface explicitly (the reporting
    cousin of q46's sequence()-based gap fill; the recursive form is
    the portable SQL spelling). The recursion produces ~80 rows on the
    driver-side plan — recursion depth is bounded by the date span,
    never data volume, which is the only way a recursive CTE is safe at
    scale."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q107_SQL)


# ---------------------------------------------------------------------------
# q108 — correlated LATERAL subquery (per-group top-k without windows)
# ---------------------------------------------------------------------------

_Q108_SQL = """
SELECT n.n_name AS nation, top.c_custkey, top.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) top
"""


@query("q108_lateral_topk", oracle=_Q108_SQL)
def q108_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — per-nation
    top-2 customers expressed as a lateral join instead of q09's
    window+rank. Completes the subquery family (q80 EXISTS, q92
    scalar, this one table-valued). Deterministic tie-break on
    c_custkey. Catalyst decorrelates the lateral into a join +
    per-group ranking rather than re-running the subquery per outer
    row — same plan class as the window form, so it scales the same
    way."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_Q108_SQL)


# ---------------------------------------------------------------------------
# q111 — sequential recurrence (EMA) as a codegen fold, no UDF
# ---------------------------------------------------------------------------


@query(
    "q111_user_value_ema",
    oracle="""
    SELECT user_id,
      CAST(count(*) AS BIGINT) AS n_events,
      round(list_reduce(list(value ORDER BY ts, event_id)::DOUBLE[],
                        (acc, x) -> acc * 0.8 + x * 0.2), 6) AS ema
    FROM events GROUP BY user_id
    """,
)
def q111_user_value_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event values
    — an inherently SEQUENTIAL recurrence (ema ← 0.8·ema + 0.2·x),
    which has no windowed-aggregate form. Expressed as a higher-order
    fold: collect the user's values in deterministic (ts, event_id)
    order, then F.aggregate folds the recurrence left-to-right inside
    whole-stage codegen — the pattern that keeps per-key sequential
    algorithms (EMAs, state machines, compound interest) OUT of Python
    UDFs. Both engines fold in identical order with the first value as
    seed, so doubles agree bitwise before the 6-digit round. Scale
    bound: the collected list is per-user event count — for unbounded
    histories switch to the streaming sessionizer's stateful form."""
    ev = table(spark, sf_dir, "events")
    ordered = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("evs"),
        )
        .withColumn(
            "vals", F.transform(F.col("evs"), lambda e: e["value"])
        )
    )
    ema = F.aggregate(
        F.slice(F.col("vals"), 2, F.size(F.col("vals")) - 1),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: acc * F.lit(0.8) + x * F.lit(0.2),
    )
    return ordered.select(
        "user_id", "n_events", F.round(ema, 6).alias("ema")
    )


# ---------------------------------------------------------------------------
# q112 — interval self-join (repeat purchases within 7 days)
# ---------------------------------------------------------------------------


@query(
    "q112_repeat_purchases",
    oracle="""
    SELECT o1.o_custkey AS custkey,
      CAST(count(*) AS BIGINT) AS n_repeat_pairs,
      CAST(min(date_diff('day', CAST(o1.o_orderdate AS DATE),
                         CAST(o2.o_orderdate AS DATE))) AS BIGINT) AS min_gap_days
    FROM orders o1 JOIN orders o2
      ON o1.o_custkey = o2.o_custkey
     AND o2.o_orderkey <> o1.o_orderkey
     AND o2.o_orderdate > o1.o_orderdate
     AND o2.o_orderdate <= o1.o_orderdate + INTERVAL 7 DAY
    GROUP BY o1.o_custkey
    """,
)
def q112_repeat_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase detection: ordered pairs of same-customer orders
    at most 7 days apart — the interval SELF-join (equi on customer,
    band predicate on time). Customers with no close pair simply don't
    appear (inner semantics).

    As of r9 the registered body IS the banded plan (delegates to
    q290_repeat_purchases_banded — identical output, shared verbatim
    oracle): the skew measurement (SKEW.json r8) showed the key-only
    shuffle + residual-band shape running 149.5× slower on the zipf
    sf1 corpus (one customer holding 5.8% of all orders → 87k²/2 pair
    evaluations on ONE reducer), while the (key, ⌊ts/7d⌋)-bucketed
    shuffle completed the same corpus 27× faster. A caller who finds
    q112 first now gets the scale-safe plan by default; the key-only
    shape survives only as the documented bounded-depth internal
    ``_repeat_purchases_keyonly`` (bitwise-equality pinned in
    tests/test_scale.py)."""
    return q290_repeat_purchases_banded(spark, sf_dir)


def _repeat_purchases_keyonly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q112's PRE-r9 key-then-band shape — shuffle both sides on
    o_custkey alone, band as join residual. Cost is Σ per-key rows²:
    fine when per-key depth is bounded (~10 orders/customer uniform),
    a quadratic single-reducer straggler under zipf keys (measured
    149.5×, SKEW.json r8). NOT registered — kept as the reference
    implementation the banded plan is bitwise-tested against, and as
    the measured bad-plan exhibit for the skew harness."""
    orders = table(spark, sf_dir, "orders")
    o1 = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderdate").alias("d1"),
    )
    o2 = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderdate").alias("d2"),
    )
    pairs = o1.join(o2, "custkey").filter(
        (F.col("k2") != F.col("k1"))
        & (F.col("d2") > F.col("d1"))
        & (F.col("d2") <= F.col("d1") + F.expr("INTERVAL 7 DAY"))
    )
    return pairs.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_repeat_pairs"),
        F.min(F.datediff(F.col("d2"), F.col("d1"))).cast("bigint").alias(
            "min_gap_days"
        ),
    )


# ---------------------------------------------------------------------------
# q290 — repeat purchases, banded shuffle keys (q112 scale sibling)
# ---------------------------------------------------------------------------


@query(
    "q290_repeat_purchases_banded",
    oracle="""
    SELECT o1.o_custkey AS custkey,
      CAST(count(*) AS BIGINT) AS n_repeat_pairs,
      CAST(min(date_diff('day', CAST(o1.o_orderdate AS DATE),
                         CAST(o2.o_orderdate AS DATE))) AS BIGINT) AS min_gap_days
    FROM orders o1 JOIN orders o2
      ON o1.o_custkey = o2.o_custkey
     AND o2.o_orderkey <> o1.o_orderkey
     AND o2.o_orderdate > o1.o_orderdate
     AND o2.o_orderdate <= o1.o_orderdate + INTERVAL 7 DAY
    GROUP BY o1.o_custkey
    """,
)
def q290_repeat_purchases_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q112's interval self-join with TIME-BUCKETED shuffle keys
    (operators/scale.py banded_interval_join) — same oracle, same
    output. The skew measurement made this rewrite non-optional: q112's
    key-only shuffle is ~1× at uniform per-customer depth (~10 orders)
    but measured **125.9×** (1.4s → 173.7s, SKEW.json) on the zipf sf1
    corpus, where the hot customer holds 87k orders and its 87k²/2
    pair evaluations land on ONE reducer. Bucketing the shuffle key by
    ⌊o_orderdate/7d⌋ spreads that customer's history across its ~350
    active weeks; each probe order checks its own and the next bucket
    (inline explode), and the strict/inclusive band (0, 7d] maps
    exactly to integer micros [1, 7d] since timestamps are µs-grained.
    Measured on the same zipf corpus: 7.2s vs q112's 196.9s (27×), a
    2.78× uniform→zipf ratio vs q112's 149.5× (SKEW.json)."""
    from sales_data_pipeline_spark.operators.scale import banded_interval_join

    orders = table(spark, sf_dir, "orders")
    o1 = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderdate").alias("d1"),
    )
    o2 = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderdate").alias("d2"),
    )
    week_us = 7 * 86_400_000_000
    pairs = banded_interval_join(
        o1, o2, on="custkey", probe_ts="d1", build_ts="d2",
        lower_us=1, upper_us=week_us, bucket_width_us=week_us,
    ).filter(F.col("k2") != F.col("k1"))
    return pairs.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_repeat_pairs"),
        F.min(F.datediff(F.col("d2"), F.col("d1"))).cast("bigint").alias(
            "min_gap_days"
        ),
    )


# ---------------------------------------------------------------------------
# q113 — hopping (sliding) windows in batch
# ---------------------------------------------------------------------------


@query(
    "q113_hopping_windows",
    oracle="""
    WITH cand AS (
      SELECT event_id, value, ts, event_type,
             unnest([time_bucket(INTERVAL 30 MINUTES, ts),
                     time_bucket(INTERVAL 30 MINUTES, ts) - INTERVAL 30 MINUTES])
               AS w_start
      FROM events
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M') AS window_start,
      event_type,
      CAST(count(*) AS BIGINT) AS n_events,
      round(sum(value), 6) AS total_value
    FROM cand
    WHERE ts >= w_start AND ts < w_start + INTERVAL 60 MINUTES
    GROUP BY w_start, event_type
    """,
)
def q113_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows (1 h length, 30 min slide) over the events table
    in BATCH: every event lands in exactly two overlapping windows —
    Spark's F.window(slide=...) produces the per-window replication as
    an Expand, the oracle replicates it with an explicit 2-bucket
    unnest. Overlapping frames serve trend smoothing and rate
    alarms. Map-side expansion ×(length/slide), ONE keyed shuffle —
    the expansion factor, not the window length, is what costs at
    100 TB, so keep length/slide small."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "60 minutes", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q114 — array algebra toolkit (set ops over token arrays)
# ---------------------------------------------------------------------------


@query(
    "q114_array_toolkit",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
        string_split(o_orderpriority, '-') AS a,
        string_split(o_orderstatus || '-' || o_orderpriority, '-') AS b
      FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT o_orderkey,
      CAST(len(a) AS BIGINT) AS len_a,
      CAST(len(list_distinct(list_concat(a, b))) AS BIGINT) AS n_union,
      CAST(len(list_distinct(list_filter(a, x -> list_contains(b, x))))
        AS BIGINT) AS n_intersect,
      CAST(len(list_distinct(list_filter(a, x -> NOT list_contains(b, x))))
        AS BIGINT) AS n_except,
      array_to_string(list_sort(list_distinct(a)), '|') AS sorted_a,
      CAST(list_contains(a, 'URGENT') AS BIGINT) AS has_urgent,
      a[1] AS first_elem,
      a[-1] AS last_elem
    FROM t
    """,
)
def q114_array_toolkit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-algebra surface over token arrays: union/intersect/except
    cardinalities (array_union / array_intersect / array_except),
    sorted distinct serialization, membership, first/last element —
    the collection vocabulary the similarity/dedup operators build on,
    here exposed as first-class query surface with the oracle doing the
    same algebra via DuckDB list functions. All map-side codegen; the
    mod-filter rides the scan."""
    t = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.split("o_orderpriority", "-").alias("a"),
        F.split(
            F.concat_ws("-", "o_orderstatus", "o_orderpriority"), "-"
        ).alias("b"),
    )
    return t.select(
        "o_orderkey",
        F.size("a").cast("bigint").alias("len_a"),
        F.size(F.array_union("a", "b")).cast("bigint").alias("n_union"),
        F.size(F.array_intersect("a", "b")).cast("bigint").alias("n_intersect"),
        F.size(F.array_except("a", "b")).cast("bigint").alias("n_except"),
        F.concat_ws("|", F.array_sort(F.array_distinct("a"))).alias("sorted_a"),
        F.array_contains("a", "URGENT").cast("bigint").alias("has_urgent"),
        F.element_at("a", 1).alias("first_elem"),
        F.element_at("a", -1).alias("last_elem"),
    )


# ---------------------------------------------------------------------------
# q115 — distinct count over a moving window (collect_set workaround)
# ---------------------------------------------------------------------------


@query(
    "q115_rolling_distinct_types",
    oracle="""
    SELECT event_id, user_id,
      CAST(len(list_distinct(list(event_type)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))) AS BIGINT)
        AS distinct_types_10
    FROM events
    """,
)
def q115_rolling_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT COUNT over a moving window — which neither engine
    permits directly (COUNT(DISTINCT) OVER is unsupported SQL): the
    standard workaround collects the frame and dedups it
    (size(array_distinct(collect_list() over frame))). Behavioral
    variety per user's last 10 events — an engagement-breadth signal.
    The frame bound (ROWS 9 PRECEDING) is what bounds memory: each row
    carries at most 10 collected elements through the window sort, so
    the pattern is safe at scale ONLY with an explicit finite frame —
    an unbounded frame would buffer whole partitions."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
        .cast("bigint")
        .alias("distinct_types_10"),
    )


# ---------------------------------------------------------------------------
# q116 — null semantics suite (null-safe equality, IS DISTINCT FROM, ordering)
# ---------------------------------------------------------------------------


@query(
    "q116_null_semantics",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
        nullif(o_orderstatus, 'P') AS maybe_status,
        CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END
          AS maybe_price
      FROM orders WHERE o_orderkey % 20 = 0
    )
    SELECT
      COALESCE(maybe_status, '<null>') AS status_bucket,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(count(maybe_price) AS BIGINT) AS n_price_known,
      CAST(sum(CASE WHEN maybe_status IS NOT DISTINCT FROM NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_null_status,
      CAST(sum(CASE WHEN maybe_price IS DISTINCT FROM o_totalprice
               THEN 1 ELSE 0 END) AS BIGINT) AS n_price_nulled,
      round(CAST(avg(maybe_price) AS DOUBLE), 6) AS avg_known_price
    FROM t GROUP BY maybe_status
    """,
)
def q116_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics suite: grouping BY a nullable key (NULL forms its
    own group in both engines), count(col) vs count(*) null skipping,
    IS [NOT] DISTINCT FROM (Spark's <=> null-safe equality), and
    avg over a partly-null column (nulls excluded from both sum and
    divisor). These are the semantics data bugs hide behind — pinned
    byte-for-byte against the oracle. Map + one keyed agg."""
    t = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 0)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("maybe_status"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
            .otherwise(F.col("o_totalprice"))
            .alias("maybe_price"),
        )
    )
    return t.groupBy("maybe_status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("maybe_price").cast("bigint").alias("n_price_known"),
        F.sum(
            F.col("maybe_status").eqNullSafe(F.lit(None)).cast("bigint")
        ).cast("bigint").alias("n_null_status"),
        F.sum(
            (~F.col("maybe_price").eqNullSafe(F.col("o_totalprice"))).cast(
                "bigint"
            )
        ).cast("bigint").alias("n_price_nulled"),
        F.round(F.avg("maybe_price"), 6).alias("avg_known_price"),
    ).select(
        F.coalesce(F.col("maybe_status"), F.lit("<null>")).alias("status_bucket"),
        "n_rows",
        "n_price_known",
        "n_null_status",
        "n_price_nulled",
        "avg_known_price",
    )


# ---------------------------------------------------------------------------
# q117 — join-key skew diagnostic report
# ---------------------------------------------------------------------------


@query(
    "q117_skew_report",
    oracle="""
    WITH counts AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS key_rows
      FROM orders GROUP BY o_custkey
    ),
    totals AS (
      SELECT CAST(sum(key_rows) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM counts
    ),
    top AS (
      SELECT o_custkey, key_rows,
        CAST(row_number() OVER (ORDER BY key_rows DESC, o_custkey) AS BIGINT)
          AS key_rank
      FROM counts ORDER BY key_rows DESC, o_custkey LIMIT 5
    )
    SELECT key_rank, CAST(o_custkey AS VARCHAR) AS key, key_rows,
      round(key_rows / CAST(n_rows AS DOUBLE), 6) AS key_share,
      n_rows, n_keys,
      round(n_rows / CAST(n_keys AS DOUBLE), 6) AS mean_rows_per_key
    FROM top, totals
    """,
)
def q117_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (operators/scale.py skew_report): the
    top-5 heaviest o_custkey values with their table share, beside the
    table totals — the measurement that decides salt/broadcast/AQE
    before shuffling on a key at 100 TB (q40 is the cure; this is the
    diagnosis). One keyed agg + top-k; totals broadcast back onto the
    5-row report."""
    from sales_data_pipeline_spark.operators.scale import skew_report

    orders = table(spark, sf_dir, "orders")
    return skew_report(orders, ["o_custkey"], top_k=5)


# ---------------------------------------------------------------------------
# q118 — multi-touch attribution (fan-out join + per-group normalization)
# ---------------------------------------------------------------------------


@query(
    "q118_multitouch_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT event_id AS view_id, user_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ),
    touched AS (
      SELECT p.purchase_id, p.user_id, p.p_value, v.view_id,
             CAST(count(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
               AS n_touches
      FROM p JOIN v
        ON p.user_id = v.user_id
       AND v.v_ts <= p.p_ts
       AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
    )
    SELECT view_id,
      CAST(count(*) AS BIGINT) AS n_purchases_touched,
      round(sum(p_value / n_touches), 6) AS attributed_value
    FROM touched GROUP BY view_id
    """,
)
def q118_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits
    evenly across the user's views in the preceding hour, then credit
    re-aggregates per view — the band join composed with a
    per-purchase window normalizer BEFORE the final keyed agg.
    Purchases with zero in-window views
    drop out (inner join) — their value is unattributable by
    definition.

    As of r9 the registered body IS the banded plan (delegates to
    q289_attribution_banded — identical output, shared verbatim
    oracle): SKEW.json r8 measured the key-only shuffle + residual
    band at 6.1× under zipf keys (hot user ~7% of all events, its
    views×purchases evaluated on one reducer) vs 0.99× for the
    (user_id, ⌊ts/1h⌋)-bucketed shuffle. The key-only shape survives
    as the documented bounded-depth internal ``_attribution_keyonly``
    (bitwise-equality pinned in tests/test_scale.py)."""
    return q289_attribution_banded(spark, sf_dir)


def _attribution_keyonly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q118's PRE-r9 key-only shape — shuffle both event streams on
    user_id alone, 1-hour band as join residual. Per-user cost is
    views×purchases: benign at uniform depth (~67 events/user), a
    single-reducer quadratic straggler under zipf keys (measured 6.1×,
    SKEW.json r8). NOT registered — kept as the reference
    implementation the banded plan is bitwise-tested against."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    touched = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    w = Window.partitionBy("purchase_id")
    credited = touched.withColumn(
        "n_touches", F.count(F.lit(1)).over(w).cast("bigint")
    )
    return credited.groupBy("view_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases_touched"),
        F.round(F.sum(F.col("p_value") / F.col("n_touches")), 6).alias(
            "attributed_value"
        ),
    )


# ---------------------------------------------------------------------------
# q289 — multi-touch attribution, banded shuffle keys (q118 scale sibling)
# ---------------------------------------------------------------------------


@query(
    "q289_attribution_banded",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT event_id AS view_id, user_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ),
    touched AS (
      SELECT p.purchase_id, p.user_id, p.p_value, v.view_id,
             CAST(count(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
               AS n_touches
      FROM p JOIN v
        ON p.user_id = v.user_id
       AND v.v_ts <= p.p_ts
       AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
    )
    SELECT view_id,
      CAST(count(*) AS BIGINT) AS n_purchases_touched,
      round(sum(p_value / n_touches), 6) AS attributed_value
    FROM touched GROUP BY view_id
    """,
)
def q289_attribution_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q118's attribution with TIME-BUCKETED shuffle keys
    (operators/scale.py banded_interval_join) — same oracle, same
    output, different physical plan. q118 shuffles both event streams
    on user_id alone and evaluates the 1-hour band as a join residual:
    per-user cost is views×purchases, which the uniform corpus hides
    (per-user depth ~67) and a zipf corpus turns into a quadratic
    single-reducer straggler (the hot user holds ~7% of all events —
    measured in SKEW.json). Here the shuffle key is (user_id,
    ⌊ts/1h⌋): each view lands in one bucket, each purchase probes
    exactly two (inline explode, no extra shuffle), so the hot user's
    history spreads across its active hours and the residual band only
    compares rows at most one bucket apart. The n_touches normalizer
    and final per-view aggregation are unchanged."""
    from sales_data_pipeline_spark.operators.scale import banded_interval_join

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("v_ts"),
    )
    hour_us = 3_600_000_000
    touched = banded_interval_join(
        p, v, on="user_id", probe_ts="p_ts", build_ts="v_ts",
        lower_us=-hour_us, upper_us=0, bucket_width_us=hour_us,
    )
    w = Window.partitionBy("purchase_id")
    credited = touched.withColumn(
        "n_touches", F.count(F.lit(1)).over(w).cast("bigint")
    )
    return credited.groupBy("view_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases_touched"),
        F.round(F.sum(F.col("p_value") / F.col("n_touches")), 6).alias(
            "attributed_value"
        ),
    )


# ---------------------------------------------------------------------------
# q119 — SCD2 point-in-time lookup (dimension as-of a fact's version)
# ---------------------------------------------------------------------------


@query(
    "q119_scd2_point_in_time",
    oracle="""
    WITH changes AS (
      SELECT c_custkey, round(c_acctbal + 100.0, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
    ),
    hist AS (
      SELECT c_custkey, c_acctbal, 0 AS version FROM customer
      UNION ALL
      SELECT c_custkey, c_acctbal, 1 AS version FROM changes
    ),
    eff AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
        CASE WHEN o_orderdate < '1999-01-01' THEN 0 ELSE 1 END AS eff_version
      FROM orders
    ),
    ranked AS (
      SELECT e.o_orderkey, e.o_custkey, e.eff_version,
             h.version AS dim_version, h.c_acctbal,
             row_number() OVER (PARTITION BY e.o_orderkey
                                ORDER BY h.version DESC) AS rn
      FROM eff e JOIN hist h ON e.o_custkey = h.c_custkey
      WHERE h.version <= e.eff_version
    )
    SELECT o_orderkey, o_custkey,
      CAST(eff_version AS BIGINT) AS eff_version,
      CAST(dim_version AS BIGINT) AS dim_version,
      c_acctbal AS acctbal_asof
    FROM ranked WHERE rn = 1
    """,
)
def q119_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against SCD2 history — the read
    side of q63's MERGE: each order resolves its customer's balance
    AS OF the order's effective version (greatest dim version ≤ the
    fact's), via join + version filter + latest-per-fact row_number.
    This is how a warehouse answers 'what did the dimension say when
    the fact happened' without mutating history. With version counts
    bounded (SCD2 rows per key ≈ change rate), the fan-out is small and
    the single row_number window runs keyed by fact — one shuffle on
    custkey, one on orderkey."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    changes = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    hist = cust.withColumn("version", F.lit(0)).unionByName(
        changes.withColumn("version", F.lit(1))
    )
    orders = table(spark, sf_dir, "orders")
    eff = orders.select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderdate") < "1999-01-01", 0).otherwise(1).alias(
            "eff_version"
        ),
    )
    j = eff.join(hist, eff.o_custkey == hist.c_custkey).filter(
        F.col("version") <= F.col("eff_version")
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("eff_version").cast("bigint").alias("eff_version"),
            F.col("version").cast("bigint").alias("dim_version"),
            F.col("c_acctbal").alias("acctbal_asof"),
        )
    )


# ---------------------------------------------------------------------------
# q120 — co-occurrence / lift (market-basket association on event types)
# ---------------------------------------------------------------------------


@query(
    "q120_type_affinity",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
    type_counts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
      ca.n AS n_a, cb.n AS n_b,
      round(p.n_both / CAST(n.n_users AS DOUBLE), 6) AS support,
      round((p.n_both * n.n_users) / (CAST(ca.n AS DOUBLE) * cb.n), 6) AS lift
    FROM pairs p
    JOIN type_counts ca ON p.type_a = ca.event_type
    JOIN type_counts cb ON p.type_b = cb.event_type
    CROSS JOIN n
    """,
)
def q120_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over event types: for every unordered
    type pair, the users exhibiting both (support) and the lift
    P(a∧b)/(P(a)·P(b)) — the co-occurrence analysis behind
    recommendations and anomaly dashboards. The self-join runs on the
    DISTINCT (user, type) set — |users|×|types| at most, NOT raw events
    — and the per-type/global marginals broadcast back onto the pair
    table; with a bounded type vocabulary the pair space is
    |types|²/2, independent of event volume. That distinct-first
    reduction is the difference between this and a quadratic
    event-level join at 100 TB."""
    ev = table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users")
    )
    type_counts = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = ut.select(F.col("user_id"), F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ca = type_counts.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    cb = type_counts.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(F.col("n_both") / F.col("n_users").cast("double"), 6).alias(
                "support"
            ),
            F.round(
                (F.col("n_both") * F.col("n_users"))
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q123 — join-cardinality prediction (size the explosion before running it)
# ---------------------------------------------------------------------------


@query(
    "q123_join_cardinality",
    oracle="""
    WITH co AS (
      SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c_orders
      FROM orders GROUP BY 1
    ),
    cc AS (
      SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS c_cust
      FROM customer GROUP BY 1
    ),
    j AS (SELECT co.k, c_orders, c_cust FROM co JOIN cc USING (k))
    SELECT
      CAST(sum(c_orders * c_cust) AS BIGINT) AS predicted_join_rows,
      CAST(count(*) AS BIGINT) AS n_matching_keys,
      CAST(max(c_orders * c_cust) AS BIGINT) AS max_key_contribution,
      round(max(c_orders * c_cust)
            / CAST(sum(c_orders * c_cust) AS DOUBLE), 6) AS top_key_share
    FROM j
    """,
)
def q123_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict a join's output size WITHOUT running it:
    |A ⋈ B| = Σ_k c_A(k)·c_B(k) over the two key-count tables — plus
    the hottest key's contribution (the q117 skew story applied to a
    JOIN: one key supplying most of the output predicts a straggler
    task). The count tables are each one keyed aggregation over single
    columns — at 100 TB this costs two column scans instead of
    materializing a possibly-exploding join, which is exactly the check
    to run before an unfamiliar key join. The oracle verifies the
    arithmetic; a test verifies the prediction equals the REAL join's
    count."""
    co = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_orders"))
    )
    cc = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_cust"))
    )
    contrib = F.col("c_orders") * F.col("c_cust")
    return co.join(cc, "k").agg(
        F.sum(contrib).cast("bigint").alias("predicted_join_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_matching_keys"),
        F.max(contrib).cast("bigint").alias("max_key_contribution"),
        F.round(
            F.max(contrib) / F.sum(contrib).cast("double"), 6
        ).alias("top_key_share"),
    )


# ---------------------------------------------------------------------------
# q125 — statistical aggregate surface (stddev/variance/corr/covar)
# ---------------------------------------------------------------------------


@query(
    "q125_stats_toolkit",
    oracle="""
    SELECT l_returnflag,
      CAST(count(*) AS BIGINT) AS n,
      round(stddev_samp(l_extendedprice), 6) AS price_stddev,
      round(var_samp(l_quantity), 6) AS qty_var,
      round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
      round(covar_samp(l_quantity, l_extendedprice), 6) AS qty_price_covar
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q125_stats_toolkit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per return flag: sample stddev/variance
    and quantity↔price Pearson correlation / sample covariance — the
    distribution-monitoring aggregates (drift alarms, anomaly
    baselines) the profiling scorecard (q77) stops short of. All four
    are single-pass mergeable aggregates (Welford-style partial
    states), so they cost the same one keyed shuffle as a plain sum —
    no per-group collection anywhere. Rounded to 6: the online merge
    order perturbs last bits across partitionings/engines."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_covar"
        ),
    )


# ---------------------------------------------------------------------------
# q126 — nearest-event join (as-of, direction = nearest)
# ---------------------------------------------------------------------------


@query(
    "q126_nearest_view",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts AS view_ts, value AS view_value FROM events
      WHERE event_type = 'view'
    ),
    ranked AS (
      SELECT p.event_id, p.user_id, p.ts, p.value,
             v.view_ts, v.view_value,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(v.view_ts)),
                        CASE WHEN v.view_ts <= p.ts THEN 0 ELSE 1 END,
                        v.view_value DESC
             ) AS rn
      FROM p LEFT JOIN v USING (user_id)
    )
    SELECT event_id, user_id,
      strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
      value AS purchase_value,
      strftime(view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
      view_value
    FROM ranked WHERE rn = 1
    """,
)
def q126_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event enrichment: each purchase attaches the same user's
    closest view by absolute time distance, before OR after (sensor-
    fusion / nearest-context semantics — pandas merge_asof
    direction='nearest', exact-equivalence-tested against pandas in
    tests/test_asof.py). q30 is the backward-only form; this composes
    two runs of that one-shuffle machinery (forward = backward on the
    negated time axis) + an id re-join — no quadratic per-user compare,
    unlike the oracle's rank-over-all-pairs formulation, which is the
    exactness check only. Equidistant ties prefer the prior view;
    same-timestamp ties (two views sharing a ts, hence the same
    distance and side) resolve to the max payload struct — i.e. the
    larger view_value — which the oracle mirrors with its final
    `v.view_value DESC` window key, so parity does not depend on the
    generated data never colliding timestamps."""
    from sales_data_pipeline_spark.operators.asof import asof_join_nearest

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    out = asof_join_nearest(
        p, v,
        key="user_id",
        left_id="event_id",
        left_ts="ts",
        right_ts="view_ts",
        right_payload=["view_value"],
        suffix="",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        "view_value",
    )


# ---------------------------------------------------------------------------
# q129 — built-in session windows (gap-merged sessions, batch form)
# ---------------------------------------------------------------------------


@query(
    "q129_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
      strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      strftime(max(ts) + INTERVAL 30 MINUTES,
               '%Y-%m-%d %H:%M:%S.%f') AS session_end,
      CAST(count(*) AS BIGINT) AS n_events,
      round(sum(value), 6) AS total_value
    FROM numbered GROUP BY user_id, session_no
    """,
)
def q129_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in SESSION windows in batch (F.session_window, 30-minute
    gap): Spark merges per-user events whose gaps stay under the
    threshold into one window whose end = last event + gap. The oracle
    rebuilds the identical sessions from first principles (q15's
    lag-flag + running sum), so this query is ALSO the proof that the
    engine's three sessionization forms — q15's window algebra, the
    streaming applyInPandasWithState operator, and this built-in —
    agree on the same semantics. One keyed shuffle; state never
    materializes beyond the aggregation."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q131 — distribution windows: cume_dist + nth_value
# ---------------------------------------------------------------------------


@query(
    "q131_spend_position",
    oracle="""
    WITH spend AS (
      SELECT c_mktsegment, o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment, o_custkey AS custkey,
      CAST(total_spend AS DOUBLE) AS total_spend,
      round(cume_dist() OVER w, 9) AS spend_cume_dist,
      CAST(nth_value(o_custkey, 2) OVER (
        PARTITION BY c_mktsegment ORDER BY total_spend DESC, o_custkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      ) AS BIGINT) AS second_biggest_spender
    FROM spend
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY total_spend, o_custkey)
    """,
)
def q131_spend_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist + nth_value — the last two ranking/navigation window
    functions the catalog hadn't exercised (q48 covered ntile/
    percent_rank): each customer's cumulative spend position within
    their segment, beside the segment's second-biggest spender
    (nth_value over the full frame; the explicit UNBOUNDED FOLLOWING
    matters — the default frame would return NULL until row 2).
    Deterministic tie-breaks on custkey in both specs; the two window
    specs share the segment partition so one shuffle serves both
    sorts."""
    spend = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "total_spend"
            )
        )
    )
    w_cume = Window.partitionBy("c_mktsegment").orderBy("total_spend", "o_custkey")
    w_nth = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("total_spend").desc(), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return spend.select(
        "c_mktsegment",
        F.col("o_custkey").alias("custkey"),
        F.col("total_spend").cast("double").alias("total_spend"),
        F.round(F.cume_dist().over(w_cume), 9).alias("spend_cume_dist"),
        F.nth_value("o_custkey", 2).over(w_nth).cast("bigint").alias(
            "second_biggest_spender"
        ),
    )


# ---------------------------------------------------------------------------
# q132 — calendar/date function toolkit
# ---------------------------------------------------------------------------


@query(
    "q132_datetime_toolkit",
    oracle="""
    SELECT o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
      CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
      CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      strftime(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY, '%Y-%m-%d')
        AS due_date,
      CAST(date_diff('day', CAST(o_orderdate AS DATE),
           last_day(CAST(o_orderdate AS DATE))) AS BIGINT)
        AS days_to_month_end
    FROM orders WHERE o_orderkey % 40 = 0
    """,
)
def q132_datetime_toolkit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function parity sweep: day-of-month/week/year, end of
    month, +90-day due dates, days-to-month-end — the date vocabulary
    of billing and retention logic, pinned cross-engine. One dialect
    trap handled explicitly: Spark's dayofweek is 1=Sunday while
    DuckDB's is 0=Sunday, so the oracle shifts by one — the kind of
    off-by-one that silently corrupts weekly rollups when unpinned.
    Pure map stage; the mod-filter rides the scan."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 40 == 0)
    d = F.col("o_orderdate")
    dt = F.to_date(d)
    return orders.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.dayofmonth(d).cast("bigint").alias("dom"),
        F.dayofweek(d).cast("bigint").alias("dow"),
        F.dayofyear(d).cast("bigint").alias("doy"),
        F.date_format(F.last_day(dt), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(dt, 90), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.last_day(dt), dt).cast("bigint").alias("days_to_month_end"),
    )


# ---------------------------------------------------------------------------
# q133 — inter-purchase gap histogram (lag diffs, minute buckets)
# ---------------------------------------------------------------------------


@query(
    "q133_purchase_gap_histogram",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT user_id,
        (epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id))) / 60000000.0
          AS gap_min
      FROM p
    ),
    b AS (
      SELECT CAST(CASE
        WHEN gap_min < 1 THEN 0
        WHEN gap_min < 10 THEN 1
        WHEN gap_min < 60 THEN 2
        WHEN gap_min < 1440 THEN 3
        ELSE 4 END AS BIGINT) AS bucket
      FROM gaps WHERE gap_min IS NOT NULL
    )
    SELECT bucket,
      CASE bucket WHEN 0 THEN '<1m' WHEN 1 THEN '1-10m' WHEN 2 THEN '10m-1h'
                  WHEN 3 THEN '1h-1d' ELSE '>=1d' END AS label,
      CAST(count(*) AS BIGINT) AS n_gaps,
      round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS frac
    FROM b GROUP BY bucket
    """,
)
def q133_purchase_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase time distribution in human buckets (<1m to ≥1d) —
    the repurchase-cadence metric behind retention and inventory
    planning. lag over (user, time) → bucketed diffs → tiny histogram;
    the share normalizer windows over 5 rows, never events. First
    purchases (no prior) drop out by definition."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_min = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ) / 60000000.0
    b = (
        p.select(gap_min.alias("gap_min"))
        .filter(F.col("gap_min").isNotNull())
        .select(
            F.when(F.col("gap_min") < 1, 0)
            .when(F.col("gap_min") < 10, 1)
            .when(F.col("gap_min") < 60, 2)
            .when(F.col("gap_min") < 1440, 3)
            .otherwise(4)
            .cast("bigint")
            .alias("bucket")
        )
    )
    hist = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps")
    )
    label = (
        F.when(F.col("bucket") == 0, "<1m")
        .when(F.col("bucket") == 1, "1-10m")
        .when(F.col("bucket") == 2, "10m-1h")
        .when(F.col("bucket") == 3, "1h-1d")
        .otherwise(">=1d")
    )
    w_tot = Window.partitionBy()
    return hist.select(
        "bucket",
        label.alias("label"),
        "n_gaps",
        F.round(
            F.col("n_gaps") / F.sum("n_gaps").over(w_tot).cast("double"), 6
        ).alias("frac"),
    )


# ---------------------------------------------------------------------------
# q134 — indexed revenue series (cumulative product via exp∘sum∘ln)
# ---------------------------------------------------------------------------


@query(
    "q134_revenue_index",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    g AS (
      SELECT mo, rev,
        CAST(rev AS DOUBLE) / CAST(lag(rev) OVER (ORDER BY mo) AS DOUBLE)
          AS growth
      FROM m
    )
    SELECT strftime(mo, '%Y-%m') AS month,
      CAST(rev AS DOUBLE) AS revenue,
      round(COALESCE(exp(sum(ln(growth)) OVER (
        ORDER BY mo ROWS UNBOUNDED PRECEDING)), 1.0) * 100, 4) AS index_100
    FROM g
    """,
)
def q134_revenue_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue index series (first month = 100): the cumulative PRODUCT
    of month-over-month growth ratios, which SQL has no aggregate for —
    the exp(Σ ln x) identity turns it into a running-sum window, the
    standard portable spelling (and the reason ln-space is how
    compounding metrics stay inside relational engines). Window runs
    over the ~80-row monthly aggregate; rounded to 4 because exp∘ln
    round-trips wobble the last float bits."""
    orders = table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mo")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w_lag = Window.orderBy("mo")
    g = m.withColumn(
        "growth",
        F.col("rev").cast("double") / F.lag(F.col("rev").cast("double")).over(w_lag),
    )
    w_cum = Window.orderBy("mo").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        F.date_format("mo", "yyyy-MM").alias("month"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.coalesce(F.exp(F.sum(F.log("growth")).over(w_cum)), F.lit(1.0))
            * 100,
            4,
        ).alias("index_100"),
    )


# ---------------------------------------------------------------------------
# q135 — Gini coefficient of customer spend (inequality of the revenue base)
# ---------------------------------------------------------------------------


@query(
    "q135_spend_gini",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i,
             count(*) OVER () AS n, sum(x) OVER () AS total
      FROM spend
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
      round(CAST(max(total) AS DOUBLE), 2) AS total_spend,
      round(2.0 * sum(i * x) / (max(n) * max(total))
            - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked
    """,
)
def q135_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — how concentrated the
    revenue base is (0 = uniform, →1 = one whale), computed with the
    rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
    spends. The rank runs over the |customers| aggregate — which
    itself scales with the catalog, so as of r9 it is the two-phase
    operators/scale.distributed_rank (bitwise row_number, no
    single-partition sort) with n and Σx attached as one broadcast
    scalar; the oracle keeps the plain-window statement. At 100 TB
    the same formula also works on a SAMPLE of customers (Gini is
    estimable from uniform samples). Deterministic tie-break on
    custkey."""
    from sales_data_pipeline_spark.operators.scale import distributed_rank

    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("x")
    )
    tot = spend.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("total")
    )
    ranked = distributed_rank(
        spend, "x", "o_custkey", "i", descending=False
    ).crossJoin(F.broadcast(tot)).select("x", "i", "n", "total")
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(F.max("total"), 2).alias("total_spend"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("x"))
            / (F.max("n") * F.max("total"))
            - (F.max("n") + F.lit(1.0)) / F.max("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q136 — Herfindahl–Hirschman concentration per year (brand mix)
# ---------------------------------------------------------------------------


@query(
    "q136_brand_hhi",
    oracle="""
    WITH r AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, p_brand,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT ship_year, p_brand,
        CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY ship_year)
                                   AS DOUBLE) AS share
      FROM r
    )
    SELECT ship_year,
      CAST(count(*) AS BIGINT) AS n_brands,
      round(sum(share * share), 6) AS hhi,
      round(1.0 / sum(share * share), 6) AS effective_brands
    FROM s GROUP BY ship_year
    """,
)
def q136_brand_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of brand revenue per year — the
    concentration companion to q135's Gini: Σ share² (and its inverse,
    the 'effective number of brands'), the antitrust/market-structure
    summary built on q103's share computation. Everything past the one
    fact shuffle runs on the |years|×|brands| aggregate."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    r = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("bigint").alias("ship_year"), "p_brand"
        )
        .agg(F.sum(F.col("l_extendedprice").cast(_PRICE)).alias("rev"))
    )
    w = Window.partitionBy("ship_year")
    s = r.select(
        "ship_year",
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(w).cast("double")
        ).alias("share"),
    )
    return s.groupBy("ship_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
        F.round(F.lit(1.0) / F.sum(F.col("share") * F.col("share")), 6).alias(
            "effective_brands"
        ),
    )


# ---------------------------------------------------------------------------
# q137 — Benford first-digit audit (fraud/anomaly screening)
# ---------------------------------------------------------------------------


@query(
    "q137_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit,
      CAST(count(*) AS BIGINT) AS n,
      round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
        AS observed_freq,
      round(log10(1.0 + 1.0 / digit), 6) AS benford_freq,
      round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE)
            - log10(1.0 + 1.0 / digit), 6) AS deviation
    FROM d GROUP BY digit
    """,
)
def q137_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals (public
    forensic-accounting technique): observed leading-digit frequencies
    beside the log10(1+1/d) expectation and their deviation —
    fabricated or band-clipped amounts bend this distribution long
    before any individual row looks wrong. (This synthetic corpus's
    uniform prices WILL deviate — the point of the query is the
    screen, not this dataset's verdict.) Digit extracted from the
    floored integer string so both engines see identical leading
    characters; one map + 9-group agg, window over 9 rows."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    d = orders.select(digit.alias("digit"))
    w = Window.partitionBy()
    hist = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs = F.col("n") / F.sum("n").over(w).cast("double")
    return hist.select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_freq"),
        F.round(benford, 6).alias("benford_freq"),
        F.round(obs - benford, 6).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# q138 — Pareto curve (cumulative revenue share by customer rank decile)
# ---------------------------------------------------------------------------


@query(
    "q138_pareto_curve",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x,
        ntile(10) OVER (ORDER BY x DESC, o_custkey) AS decile,
        sum(x) OVER () AS total
      FROM spend
    ),
    per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             sum(x) AS decile_rev, max(total) AS total
      FROM ranked GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_customers,
      round(decile_rev / total, 6) AS revenue_share,
      round(sum(decile_rev) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            / total, 6) AS cum_revenue_share
    FROM per
    """,
)
def q138_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration curve: customers ranked into spend deciles
    (best first), each decile's revenue share and the running
    cumulative share — the '20% drive 80%' readout that q135's single
    Gini number summarizes. The decile assignment keeps the oracle's
    exact ntile semantics but runs as the two-phase
    operators/scale.distributed_ntile (r9 — bitwise ntile from a
    distributed rank + broadcast count, no single-partition sort over
    the |customers| aggregate); q176_pareto_curve_approx remains the
    percentile_approx variant for when approximate deciles suffice.
    The cumulative window runs over 10 rows."""
    from sales_data_pipeline_spark.operators.scale import distributed_ntile

    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("x")
    )
    tot = spend.agg(F.sum("x").alias("total"))
    ranked = (
        distributed_ntile(spend, "x", "o_custkey", 10, "decile")
        .crossJoin(F.broadcast(tot))
        .select("x", "decile", "total")
    )
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("x").alias("decile_rev"),
        F.max("total").alias("total"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_customers",
        F.round(F.col("decile_rev") / F.col("total"), 6).alias("revenue_share"),
        F.round(
            F.sum("decile_rev").over(w_cum) / F.col("total"), 6
        ).alias("cum_revenue_share"),
    )


# ---------------------------------------------------------------------------
# q139 — new vs returning revenue per month (acquisition decomposition)
# ---------------------------------------------------------------------------


@query(
    "q139_new_vs_returning",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             min(date_trunc('month', o_orderdate)) AS first_month
      FROM orders GROUP BY o_custkey
    )
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      CAST(sum(CASE WHEN date_trunc('month', o_orderdate) = first_month
               THEN 1 ELSE 0 END) AS BIGINT) AS n_new_orders,
      CAST(sum(CASE WHEN date_trunc('month', o_orderdate) <> first_month
               THEN 1 ELSE 0 END) AS BIGINT) AS n_returning_orders,
      CAST(SUM(CASE WHEN date_trunc('month', o_orderdate) = first_month
               THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END)
           AS DOUBLE) AS new_revenue,
      CAST(SUM(CASE WHEN date_trunc('month', o_orderdate) <> first_month
               THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END)
           AS DOUBLE) AS returning_revenue
    FROM orders JOIN firsts USING (o_custkey)
    GROUP BY 1
    """,
)
def q139_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue decomposed into NEW customers (their first-ever
    month) vs RETURNING — the acquisition-vs-retention split every
    growth report leads with (the flow view of q68's cohort matrix).
    Per-customer first month is one keyed aggregation joined back on
    the same key (broadcast-or-shuffle decided by AQE); the monthly
    split is conditional decimal sums in one pass."""
    orders = table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.col("o_orderdate"))).alias("first_month")
    )
    j = orders.join(firsts, "o_custkey")
    is_new = month == F.col("first_month")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return j.groupBy(F.date_format(month, "yyyy-MM").alias("month")).agg(
        F.sum(is_new.cast("bigint")).cast("bigint").alias("n_new_orders"),
        F.sum((~is_new).cast("bigint")).cast("bigint").alias(
            "n_returning_orders"
        ),
        F.sum(F.when(is_new, dec).otherwise(F.lit(0)))
        .cast("double")
        .alias("new_revenue"),
        F.sum(F.when(~is_new, dec).otherwise(F.lit(0)))
        .cast("double")
        .alias("returning_revenue"),
    )


# ---------------------------------------------------------------------------
# q140 — RFM segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------


def rfm_segments(orders: DataFrame, approx: bool = False) -> DataFrame:
    """RFM segmentation core shared by q140 (exact) and q145 (scale).

    exact (approx=False): rank-based quintiles via three ntile(5)
    windows over the customer aggregate — each window is a GLOBAL sort
    through one partition. That is the oracle-anchored form (tie
    behavior identical to the SQL oracle) but a single-reducer funnel
    ×3 when |customers| is itself huge.

    scale (approx=True): VALUE-based quintiles — one extra aggregate
    computes the 20/40/60/80 percentile cut-points of all three
    metrics (percentile_approx, mergeable partial sketches), the 1-row
    result broadcast-joins back, and each customer's scores are four
    comparisons. No window, no global sort, two ordinary keyed
    shuffles total; cut-point quality is the standard
    Greenwald-Khanna ε. Ties share a score (value semantics) instead
    of splitting by custkey (rank semantics) — the documented
    difference from the exact form."""
    base = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    if not approx:
        # r9: the three exact ntile(5) quintiles run as two-phase
        # distributed_ntile (bitwise ntile, zero single-partition
        # sorts) — the oracle keeps its window statement. The
        # timestamp signal ranks on integer epoch-micros (NTZ has no
        # double cast; micros order == timestamp order exactly); the
        # decimal signal passes through distributed_rank's double
        # cast, exact at any realistic magnitude (see its docstring
        # contract).
        from sales_data_pipeline_spark.operators.scale import (
            _epoch_us,
            distributed_ntile,
        )

        scored = base.withColumn("__r_us", _epoch_us(base, "last_order"))
        for sig, out in (
            ("__r_us", "r_score"),
            ("frequency", "f_score"),
            ("monetary", "m_score"),
        ):
            scored = distributed_ntile(
                scored, sig, "o_custkey", 5, out, descending=True
            )
        scored = scored.select(
            "o_custkey", "r_score", "f_score", "m_score"
        )
    else:
        qs = [0.2, 0.4, 0.6, 0.8]
        metrics = base.select(
            "o_custkey",
            F.datediff("last_order", F.lit("1970-01-01"))
            .cast("double").alias("__r"),
            F.col("frequency").cast("double").alias("__f"),
            F.col("monetary").cast("double").alias("__m"),
        )
        cuts = metrics.agg(
            *[
                F.percentile_approx(c, qs, 10_000).alias(f"{c}_cuts")
                for c in ("__r", "__f", "__m")
            ]
        )

        def score(col: str) -> Column:
            # DESC quintiles: top 20% by value → score 1. Each cut-point
            # the value falls below pushes it one quintile down.
            cut = F.col(f"{col}_cuts")
            s = F.lit(1)
            for i in range(4):  # cuts ascending: [q20, q40, q60, q80]
                s = s + (F.col(col) < cut[3 - i]).cast("int")
            return s.cast("bigint")

        scored = metrics.crossJoin(F.broadcast(cuts)).select(
            "o_custkey",
            score("__r").alias("r_score"),
            score("__f").alias("f_score"),
            score("__m").alias("m_score"),
        )
    seg = F.concat_ws(
        "-",
        F.col("r_score").cast("string"),
        F.col("f_score").cast("string"),
        F.col("m_score").cast("string"),
    )
    champions = (
        (F.col("r_score") == 1) & (F.col("f_score") == 1) & (F.col("m_score") == 1)
    )
    return scored.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(champions.cast("bigint")).cast("bigint").alias("n_champions"),
    )


@query(
    "q140_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
        max(o_orderdate) AS last_order,
        CAST(count(*) AS BIGINT) AS frequency,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
        CAST(ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS BIGINT)
          AS r_score,
        CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
          AS f_score,
        CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT)
          AS m_score
      FROM base
    )
    SELECT r_score || '-' || f_score || '-' || m_score AS segment,
      CAST(count(*) AS BIGINT) AS n_customers,
      CAST(sum(CASE WHEN r_score = 1 AND f_score = 1 AND m_score = 1
               THEN 1 ELSE 0 END) AS BIGINT) AS n_champions
    FROM scored GROUP BY 1
    """,
)
def q140_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (public CRM recipe): per customer, quintile
    scores on Recency (latest order), Frequency (order count) and
    Monetary (decimal-exact spend), combined into 'R-F-M' segment
    labels with census counts — '1-1-1' is the champions cell. Exact
    rank-based form (three ntile windows, each one global sort over
    the |customers| aggregate); ties on every axis break on custkey so
    both engines assign identical quintiles. This is the ORACLE ANCHOR
    — the scale path with no single-partition sort is
    q145_rfm_segments_approx (rfm_segments(approx=True))."""
    return rfm_segments(table(spark, sf_dir, "orders"), approx=False)


@query("q145_rfm_segments_approx")  # approx cut-points: rows-only check
def q145_rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE form of q140: value-based RFM quintiles from
    percentile_approx cut-points (broadcast 1-row join), zero window
    sorts — survives |customers| at 100 TB where q140's three
    single-partition ntile sorts cannot. No SQL oracle (approx
    cut-point semantics are engine-specific); covering checks:
    tests/test_scale.py::test_rfm_approx_* (census mass equals exact,
    scores bounded 1..5, near-uniform quintile sizes, windowless
    plan)."""
    return rfm_segments(table(spark, sf_dir, "orders"), approx=True)


# ---------------------------------------------------------------------------
# q141 — calendar seasonality index of revenue
# ---------------------------------------------------------------------------


@query(
    "q141_seasonal_index",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    )
    SELECT CAST(month(mo) AS BIGINT) AS cal_month,
      CAST(count(*) AS BIGINT) AS n_months,
      round(avg(rev), 2) AS mean_rev,
      round(avg(rev) / (SELECT avg(rev) FROM m), 6) AS seasonal_index
    FROM m GROUP BY 1
    """,
)
def q141_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality: each calendar month's average revenue as a
    ratio to the all-months average (index 1.0 = typical month) — the
    first-order seasonal decomposition a demand forecast starts from.
    Uncorrelated scalar subquery (the global mean) against the monthly
    aggregate; everything after the one fact shuffle runs on ≤ 80
    rows."""
    orders = table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mo")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    overall = m.agg(F.avg("rev").alias("g"))
    return (
        m.groupBy(F.month("mo").cast("bigint").alias("cal_month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_months"),
            F.round(F.avg("rev"), 2).alias("mean_rev"),
            F.avg("rev").alias("__mean"),
        )
        .crossJoin(F.broadcast(overall))
        .select(
            "cal_month",
            "n_months",
            "mean_rev",
            F.round(F.col("__mean") / F.col("g"), 6).alias("seasonal_index"),
        )
    )


# ---------------------------------------------------------------------------
# q142 — basket-size histogram (line items per order)
# ---------------------------------------------------------------------------


@query(
    "q142_basket_size_histogram",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_items,
      CAST(count(*) AS BIGINT) AS n_orders,
      round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
        AS frac_orders
    FROM per_order GROUP BY n_items
    """,
)
def q142_basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: line items per order, histogrammed —
    the order-composition shape behind packaging/fulfillment planning
    and the sanity check on fact fan-out assumptions (q123 predicts
    joins with exactly these counts). Two keyed aggregations, both
    map-side combined; share normalizer over the tiny histogram."""
    li = table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items")
    )
    w = Window.partitionBy()
    return per_order.groupBy("n_items").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    ).select(
        "n_items",
        "n_orders",
        F.round(
            F.col("n_orders") / F.sum("n_orders").over(w).cast("double"), 6
        ).alias("frac_orders"),
    )


# ---------------------------------------------------------------------------
# q143 — regression aggregates (price-trend slope per brand)
# ---------------------------------------------------------------------------


@query(
    "q143_price_trend",
    oracle="""
    WITH pts AS (
      SELECT p_brand,
        CAST(year(l_shipdate) - 1995 AS DOUBLE) AS x,
        l_extendedprice / l_quantity AS y
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_quantity > 0
    )
    SELECT p_brand,
      CAST(count(*) AS BIGINT) AS n_points,
      round(regr_slope(y, x), 6) AS trend_per_year,
      round(regr_intercept(y, x), 6) AS base_price,
      round(regr_r2(y, x), 6) AS r2
    FROM pts GROUP BY p_brand
    """,
)
def q143_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares price trend per brand: regr_slope / regr_intercept
    / regr_r2 over (year-index, unit-price) points — the in-database
    linear-regression aggregate family (SQL:2003), closing the
    statistical surface beside q125's moments. One pass, mergeable
    partial states (sums of x, y, xy, x², y²), so the cost is exactly
    a grouped sum's; rounded to 6 because the closed-form division
    amplifies last-bit noise."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_brand",
        (F.year("l_shipdate") - 1995).cast("double").alias("x"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("y"),
    )
    return pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(F.regr_slope("y", "x"), 6).alias("trend_per_year"),
        F.round(F.regr_intercept("y", "x"), 6).alias("base_price"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q144 — cohort LTV curve (cumulative revenue per acquisition cohort)
# ---------------------------------------------------------------------------


@query(
    "q144_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    cohort_size AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers
      FROM firsts GROUP BY cohort
    ),
    flows AS (
      SELECT f.cohort,
        date_diff('month', f.cohort, date_trunc('month', o.o_orderdate))
          AS offset_months,
        SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN firsts f USING (o_custkey)
      GROUP BY 1, 2
    )
    SELECT strftime(fl.cohort, '%Y-%m') AS cohort_month,
      CAST(fl.offset_months AS BIGINT) AS offset_months,
      cs.n_customers,
      CAST(fl.rev AS DOUBLE) AS period_revenue,
      round(CAST(sum(fl.rev) OVER (PARTITION BY fl.cohort ORDER BY fl.offset_months
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) / cs.n_customers, 6)
        AS cum_ltv_per_customer
    FROM flows fl JOIN cohort_size cs ON fl.cohort = cs.cohort
    """,
)
def q144_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: for each acquisition cohort (first
    order month), cumulative revenue per customer by month offset —
    the dollars companion to q68's retention counts and the curve LTV
    payback models are fit to. Heavy work is two keyed aggregations
    over orders; the cumulative window runs over the cohort×offset
    matrix (≤ 80² rows), and cohort sizes broadcast onto it."""
    orders = table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.col("o_orderdate"))).alias("cohort")
    )
    cohort_size = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    flows = (
        orders.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(month, F.col("cohort")).cast("bigint").alias(
                "offset_months"
            ),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("offset_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flows.join(F.broadcast(cohort_size), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            "offset_months",
            "n_customers",
            F.col("rev").cast("double").alias("period_revenue"),
            F.round(
                F.sum("rev").over(w).cast("double") / F.col("n_customers"), 6
            ).alias("cum_ltv_per_customer"),
        )
    )


# ---------------------------------------------------------------------------
# q146 — market-basket association rules (support-pruned pair mining)
# ---------------------------------------------------------------------------


@query(
    "q146_association_rules",
    headline=True,
    oracle="""
    WITH freq AS (
      SELECT l_partkey, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_orderkey) >= 20
    ),
    items AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l JOIN freq f USING (l_partkey)
    ),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem)
    SELECT part_a, part_b, n_both, fa.n_orders AS n_a, fb.n_orders AS n_b,
      round(n_both / n, 6) AS support,
      round(n_both / fa.n_orders, 6) AS confidence,
      round(n_both * n / (fa.n_orders * fb.n_orders), 6) AS lift
    FROM pair
    JOIN freq fa ON fa.l_partkey = part_a
    JOIN freq fb ON fb.l_partkey = part_b, tot
    """,
)
def q146_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal & Srikant's Apriori
    pruning, public algorithm): co-ordered part pairs with support,
    confidence and lift, mined only over SUPPORT-FREQUENT items
    (≥ 20 orders) and pairs co-occurring ≥ 3 times. The support prune
    is the scale move: infrequent items can never form a frequent pair
    (anti-monotonicity), so they are dropped BEFORE any pairing.

    Plan shape — no self-join on the fact: baskets are grouped once
    (one keyed shuffle to collect each order's frequent-item set,
    bounded by basket size), pairs are generated INSIDE the row by a
    codegen transform-over-index comprehension, then one keyed count.
    The classic items⋈items self-join shuffles the fact twice and
    explodes skewed orders; the basket-local comprehension is
    O(basket²) per row with basket ≈ a few items. Supports/lift come
    from broadcast-joining the (bounded, post-prune) frequent-item
    table."""
    li = table(spark, sf_dir, "lineitem")
    freq = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
        .filter(F.col("n_orders") >= 20)
    )
    # no .distinct() before the basket build (r12): collect_set dedups
    # per basket by construction, so the distinct's fact-sized exchange
    # (plus its double aggregate) was pure overhead — one exchange now
    # carries the (order, frequent-part) rows straight into the basket
    # aggregation
    # no .distinct() before the basket build (r12; re-measured r13 A/B:
    # 2.59 s vs 3.14 s with it): collect_set dedups per basket by
    # construction, so the distinct's fact-sized exchange was overhead
    items = li.join(F.broadcast(freq.select("l_partkey")), "l_partkey").select(
        "l_orderkey", "l_partkey"
    )
    baskets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.greatest(F.size("ps"), F.lit(1))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode_outer(pair_arr).alias("pr"))
        .filter(F.col("pr").isNotNull())
        .groupBy(F.col("pr.part_a").alias("part_a"), F.col("pr.part_b").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    tot = li.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n"))
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("n_b"))
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a", "part_b", "n_both", "n_a", "n_b",
            F.round(F.col("n_both") / F.col("n"), 6).alias("support"),
            F.round(F.col("n_both") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_both") * F.col("n") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q148 — entity resolution on part names (blocked Levenshtein)
# ---------------------------------------------------------------------------


@query(
    "q148_name_entity_matches",
    oracle="""
    WITH names AS (
      SELECT p_name, string_split(p_name, ' ')[-1] AS block,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b, a.block AS block,
      CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
      a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q148_name_entity_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names: candidate merge pairs whose
    edit distance ≤ 3, BLOCKED on the name's last token so only
    same-noun variants ('red bolt' ~ 'old bolt') are ever compared —
    the standard blocking recipe that keeps string matching from being
    |N|² (Fellegi-Sunter-style record linkage, public method).

    The scale move done FIRST: resolve at the distinct-VALUE level,
    not the row level — names are aggregated to (name, count) before
    any pairing, so a name shared by a thousand rows is compared once
    and the row multiplicity comes along as a count. The block
    equi-join is an ordinary keyed shuffle; levenshtein (JVM built-in,
    codegen) runs only within blocks."""
    p = table(spark, sf_dir, "part")
    names = p.groupBy(
        F.col("p_name"),
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    a = names.select(
        F.col("p_name").alias("name_a"), "block", F.col("n_parts").alias("n_parts_a")
    )
    b = names.select(
        F.col("p_name").alias("name_b"), "block", F.col("n_parts").alias("n_parts_b")
    )
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("bigint"))
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "block", "dist", "n_parts_a", "n_parts_b")
    )


# ---------------------------------------------------------------------------
# q149 — daily revenue anomaly detection (z-scores)
# ---------------------------------------------------------------------------


@query(
    "q149_revenue_anomalies",
    oracle="""
    WITH d AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(rev) AS DOUBLE) AS tot,
             CAST(SUM(rev * rev) AS DOUBLE) AS ss
      FROM d
    )
    SELECT day, CAST(rev AS DOUBLE) AS rev,
      round((CAST(rev AS DOUBLE) - tot / n)
            / sqrt((ss - tot * tot / n) / (n - 1)), 6) AS zscore,
      CAST(CASE WHEN abs((CAST(rev AS DOUBLE) - tot / n)
                 / sqrt((ss - tot * tot / n) / (n - 1))) >= 2
           THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM d, s
    """,
)
def q149_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue anomaly flags: z-score of each day against the
    all-days mean/stddev, |z| ≥ 2 flagged — the drift/spike alarm a
    monitoring pipeline runs after every load. Cross-engine
    determinism by construction: day revenues stay DECIMAL through
    both moments (Σrev and Σrev² are exact, order-independent sums),
    and mean/variance come from the closed form (ss − tot²/n)/(n−1)
    evaluated in double on those two exact scalars — so the z-scores
    are bitwise identical in Spark and DuckDB, no
    accumulation-order rounding hazard. Plan: one keyed day
    aggregation, one 1-row global aggregate broadcast back — no
    window, no global sort."""
    orders = table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    s = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev").cast("double").alias("tot"),
        F.sum(F.col("rev") * F.col("rev")).cast("double").alias("ss"),
    )
    j = d.crossJoin(F.broadcast(s))
    mu = F.col("tot") / F.col("n")
    sigma = F.sqrt((F.col("ss") - F.col("tot") * F.col("tot") / F.col("n")) / (F.col("n") - 1))
    z = (F.col("rev").cast("double") - mu) / sigma
    return j.select(
        "day",
        F.col("rev").cast("double").alias("rev"),
        F.round(z, 6).alias("zscore"),
        F.when(F.abs(z) >= 2, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# q153 — winsorized statistics (order-statistic bounds, outlier-robust mean)
# ---------------------------------------------------------------------------


@query(
    "q153_winsorized_prices",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS p,
        row_number() OVER (
          PARTITION BY l_returnflag
          ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    b AS (
      SELECT l_returnflag,
        max(CASE WHEN rn = CAST(floor((n + 99) / 100) AS BIGINT) THEN p END) AS lo,
        max(CASE WHEN rn = CAST(floor((99 * n + 99) / 100) AS BIGINT) THEN p END) AS hi
      FROM r GROUP BY 1
    )
    SELECT r.l_returnflag, CAST(max(r.n) AS BIGINT) AS n_rows, b.lo, b.hi,
      round(CAST(SUM(CAST(least(greatest(r.p, b.lo), b.hi) AS DECIMAL(18,2)))
                 AS DOUBLE) / max(r.n), 6) AS winsorized_mean
    FROM r JOIN b USING (l_returnflag)
    GROUP BY r.l_returnflag, b.lo, b.hi
    """,
)
def q153_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price statistics per return flag: clip at the exact
    1st/99th ORDER STATISTICS and average the clipped values — the
    outlier-robust mean a monitoring pipeline prefers over the raw
    mean. The bounds are k-th-smallest elements (row_number with a
    total tie-break, k = ceil(p·n) computed as floor((p·100·n+99)/100)
    in INTEGER-exact arithmetic — a literal 0.01·n would be decimal in
    DuckDB but double in Spark, and their ceil()s diverge exactly at
    multiples of 100) rather than interpolated percentiles: interpolation arithmetic differs across engines in
    the last float bits, but an order statistic is an actual data
    value — bitwise identical by construction. The clipped sum runs in
    DECIMAL (prices are 2dp-exact), so the mean is order-independent
    and the round(…, 6) is safe. Plan: ranks via the grouped TWO-PHASE
    scan (operators/scale.grouped_running_sum of 1s — a window
    partitioned by a 3-value flag funnels each group through one
    reducer at 100 TB; range-bucketed running sums parallelize it with
    bitwise-identical ranks), a tiny per-group bounds aggregate joined
    back broadcast-style, one keyed aggregation."""
    from sales_data_pipeline_spark.operators.scale import grouped_running_sum

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("p"),
        "l_orderkey",
        "l_linenumber",
    )
    counts = base.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    r = grouped_running_sum(
        base,
        ["l_returnflag"],
        ["p", "l_orderkey", "l_linenumber"],
        F.lit(1),
        "rn",
    ).join(F.broadcast(counts), "l_returnflag")
    b = r.groupBy("l_returnflag").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.floor((F.col("n") + 99) / 100).cast("bigint"),
                F.col("p"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn")
                == F.floor((99 * F.col("n") + 99) / 100).cast("bigint"),
                F.col("p"),
            )
        ).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("p"), F.col("lo")), F.col("hi"))
    return (
        r.join(b, "l_returnflag")
        .groupBy("l_returnflag", "lo", "hi")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            F.round(
                F.sum(clipped.cast("decimal(18,2)")).cast("double") / F.max("n"), 6
            ).alias("winsorized_mean"),
        )
        .select("l_returnflag", "n_rows", "lo", "hi", "winsorized_mean")
    )


# ---------------------------------------------------------------------------
# q154 — deterministic mode per group (most-ordered brand per segment)
# ---------------------------------------------------------------------------


@query(
    "q154_top_brand_per_segment",
    oracle="""
    WITH cnt AS (
      SELECT c.c_mktsegment, p.p_brand, CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment, p_brand, n_lines FROM cnt
    QUALIFY row_number() OVER (
      PARTITION BY c_mktsegment ORDER BY n_lines DESC, p_brand) = 1
    """,
)
def q154_top_brand_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical MODE per group, deterministically: the most-ordered
    part brand per customer market segment. Built-in mode() is
    tie-nondeterministic in both engines, so the argmax runs as
    max_by over a (count, reversed-brand) struct — count descending,
    then lexicographically-smallest brand, the same total order the
    oracle's window spells out. One aggregation over the (segment,
    brand) count table — |segments|×|brands| rows, no window over the
    fact. The star joins broadcast their dims (customer/part bounded
    relative to lineitem)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    part = table(spark, sf_dir, "part")
    cnt = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("c_mktsegment", "p_brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    )
    # max_by can't express "count desc then brand ASC" directly; flip
    # the brand ordering by negating each byte is overkill — instead
    # min_by over (-n_lines, p_brand) gives the same total order.
    return cnt.groupBy("c_mktsegment").agg(
        F.min_by(
            F.struct("p_brand", "n_lines"),
            F.struct((-F.col("n_lines")).alias("neg"), F.col("p_brand")),
        ).alias("__m")
    ).select(
        "c_mktsegment",
        F.col("__m.p_brand").alias("p_brand"),
        F.col("__m.n_lines").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# q156 — VARIANT semi-structured extraction (Spark 4 native variant type)
# ---------------------------------------------------------------------------


@query(
    "q156_variant_props",
    oracle="""
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(min(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS min_k,
      CAST(max(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS max_k,
      round(avg(CAST(props->>'$.k' AS INTEGER)), 6) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def q156_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's native VARIANT type
    (parse_json → variant_get): the open-schema path for property bags
    whose fields are NOT known up front — complements q41, which uses
    from_json with a declared schema. The variant encoding parses each
    JSON document ONCE into a binary form and serves every later
    variant_get from it (no per-field re-parse), which is the 100 TB
    difference when a props column feeds dozens of extractions.
    avg is exact-integer-sum / count — order-independent, so the
    round(…, 6) carries no accumulation hazard."""
    ev = table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# q157 — only-late-supplier analysis (TPC-H Q21 shape, decorrelated)
# ---------------------------------------------------------------------------


@query(
    "q157_waiting_suppliers",
    headline=True,
    oracle="""
    WITH per_os AS (
      SELECT l.l_orderkey, l.l_suppkey,
        max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                 THEN 1 ELSE 0 END) AS was_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    per_o AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(was_late) AS n_late
      FROM per_os GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_os p
    JOIN per_o o USING (l_orderkey)
    JOIN supplier s ON s.s_suppkey = p.l_suppkey
    WHERE p.was_late = 1 AND o.n_supp >= 2 AND o.n_late = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s_suppkey LIMIT 20
    """,
)
def q157_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape (public benchmark): suppliers who were the
    ONLY late shipper in a multi-supplier order — the query whose
    textbook form is a correlated EXISTS plus a correlated NOT EXISTS
    against the same fact. Written DECORRELATED on both engines: one
    (order, supplier) aggregate with a late flag, one per-order rollup
    (supplier count, late count), and the pair of correlations becomes
    two cheap predicates (n_supp ≥ 2 ⇔ EXISTS other supplier;
    n_late = 1 ∧ was_late ⇔ NOT EXISTS other late one). The per-order
    rollup is a WINDOW over the per-(order, supplier) aggregate, not a
    groupBy joined back — Spark re-executes common subplans per
    consumer, so the self-join form would scan and shuffle the fact
    TWICE (plan-asserted in tests/test_plan_shapes.py); the window
    form scans the fact once. Top-20 via TakeOrdered on a
    deterministic (numwait DESC, suppkey) key."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supp = table(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    # ONE exchange for both the aggregate and the window (guide §2.4,
    # r12): hash by l_orderkey alone BEFORE the groupBy — partitioning
    # by a prefix of the grouping keys satisfies the aggregate's
    # distribution, and the per-order window then reuses the same
    # partitioning instead of re-exchanging the whole per_os table
    # (measured: the plan carried two back-to-back 7.5 MB exchanges of
    # the fact-sized aggregate at sf0.1). The lost map-side partial agg
    # is cheap here: (order, supplier) is nearly unique per line, so
    # partial aggregation was barely shrinking the shuffle anyway.
    # (re-measured r13 A/B: 1.25 s with the repartition vs 2.00 s
    # without — the single-exchange shape wins warm too)
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("__late"))
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("__late").alias("was_late"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "was_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("was_late").over(w).alias("n_late"),
    )
    return (
        flagged.filter(
            (F.col("was_late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q158 — exact weighted median (cumulative-weight order statistic)
# ---------------------------------------------------------------------------


@query(
    "q158_weighted_median_price",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS p,
        CAST(l_quantity AS DECIMAL(18,2)) AS w,
        SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
          PARTITION BY l_returnflag
          ORDER BY l_extendedprice, l_orderkey, l_linenumber
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
          PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag,
      CAST(max(tw) AS DOUBLE) AS total_weight,
      min(CASE WHEN 2 * cw >= tw THEN p END) AS weighted_median
    FROM r GROUP BY 1
    """,
)
def q158_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median price per return flag: the
    smallest price whose cumulative quantity weight reaches half the
    group's total — the robust central-price statistic when line items
    carry different volumes (a plain median over-weights small lots).
    All weight arithmetic in DECIMAL (quantities are integral), and the
    half-total test is 2·cw ≥ tw in decimal — no 0.5 float anywhere,
    so both engines pick the identical row. Cumulative weights via the
    grouped TWO-PHASE scan (operators/scale.grouped_running_sum — the
    3-value flag would otherwise funnel each group through one
    reducer; decimal running sums are order-pinned and bitwise
    identical either way) + one keyed aggregation; the median itself
    is an order statistic, bitwise identical by construction (same
    defense as q153's winsorization bounds)."""
    from sales_data_pipeline_spark.operators.scale import grouped_running_sum

    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    base = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("p"),
        "l_orderkey",
        "l_linenumber",
        qty.alias("__qty"),
    )
    tot = base.groupBy("l_returnflag").agg(F.sum("__qty").alias("tw"))
    r = grouped_running_sum(
        base,
        ["l_returnflag"],
        ["p", "l_orderkey", "l_linenumber"],
        F.col("__qty"),
        "cw",
    ).join(F.broadcast(tot), "l_returnflag")
    return r.groupBy("l_returnflag").agg(
        F.max("tw").cast("double").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("p"))).alias(
            "weighted_median"
        ),
    )


# ---------------------------------------------------------------------------
# q160 — interval-overlap join (co-active event windows per user)
# ---------------------------------------------------------------------------


@query(
    "q160_overlapping_activity",
    oracle="""
    SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(CASE WHEN a.event_type = b.event_type THEN 1 ELSE 0 END)
           AS BIGINT) AS n_same_type
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND a.ts < b.ts + INTERVAL 300 SECOND
     AND b.ts < a.ts + INTERVAL 300 SECOND
    GROUP BY 1
    """,
)
def q160_overlapping_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-active event pairs per user: each event opens a 5-minute
    activity window; count same-user pairs whose windows overlap (and
    how many share an event type) — the conflict/concurrency shape
    (double-session detection, overlapping downtime attribution).
    Runs on the INTERVAL × INTERVAL bucketed overlap join
    (operators/range_join.py interval_overlap_join): Spark would plan
    the raw inequality pair as a per-user nested loop; bucketing turns
    it into one (user, time-bin) equi-join per side with a
    responsible-bin predicate that emits every overlapping pair
    EXACTLY once — no distinct over the pair set. The oracle is the
    direct quadratic self-join, affordable only because test-scale
    per-user event counts are small — which is the point of the
    bucketed operator."""
    from sales_data_pipeline_spark.operators.range_join import interval_overlap_join

    ev = table(spark, sf_dir, "events")
    win = F.expr("INTERVAL 300 SECONDS")
    a = ev.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("event_type").alias("type_a"),
        F.col("ts").alias("start_a"),
        (F.col("ts") + win).alias("end_a"),
    )
    b = ev.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("type_b"),
        F.col("ts").alias("start_b"),
        (F.col("ts") + win).alias("end_b"),
    )
    pairs = interval_overlap_join(
        a, b, key="user_id",
        left_start="start_a", left_end="end_a",
        right_start="start_b", right_end="end_b",
        bin_width_seconds=300,
    ).filter(F.col("id_a") < F.col("id_b"))
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((F.col("type_a") == F.col("type_b")).cast("int"))
        .cast("bigint").alias("n_same_type"),
    )


# ---------------------------------------------------------------------------
# q161 — median absolute deviation (two-pass order statistics)
# ---------------------------------------------------------------------------


@query(
    "q161_mad_prices",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS p,
        row_number() OVER (PARTITION BY l_returnflag
          ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    med AS (
      SELECT l_returnflag, max(CASE WHEN rn = (n + 1) // 2 THEN p END) AS median
      FROM r GROUP BY 1
    ),
    dev AS (
      SELECT r.l_returnflag, abs(r.p - m.median) AS d,
        row_number() OVER (PARTITION BY r.l_returnflag
          ORDER BY abs(r.p - m.median), r.rn) AS rn2,
        count(*) OVER (PARTITION BY r.l_returnflag) AS n
      FROM r JOIN med m USING (l_returnflag)
    )
    SELECT d.l_returnflag, m.median,
      max(CASE WHEN rn2 = (n + 1) // 2 THEN d END) AS mad
    FROM dev d JOIN med m USING (l_returnflag)
    GROUP BY 1, 2
    """,
)
def q161_mad_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of price per return flag — the robust
    dispersion companion to q153's winsorized mean and q158's weighted
    median (outlier-immune spread for drift monitoring, where stddev is
    dragged by the tail it's supposed to flag). Two order-statistic
    passes: the lower median (rank (n+1)//2 under a totally tie-broken
    order), then the lower median of |x − median| ordered by
    (deviation, first-pass rank) — every selected value is an actual
    data point or an exact difference of one and the bitwise-identical
    median, so no cross-engine float hazard anywhere. Integer rank
    arithmetic only. Plan: BOTH rank passes run the grouped TWO-PHASE
    scan (operators/scale.grouped_running_sum of 1s — the 3-value flag
    would otherwise put each group through one reducer, twice) + two
    keyed aggregates; the per-group median table joins back
    broadcast-small."""
    from sales_data_pipeline_spark.operators.scale import grouped_running_sum

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("p"),
        "l_orderkey",
        "l_linenumber",
    )
    counts = base.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    r = grouped_running_sum(
        base,
        ["l_returnflag"],
        ["p", "l_orderkey", "l_linenumber"],
        F.lit(1),
        "rn",
    ).join(F.broadcast(counts), "l_returnflag")
    med = r.groupBy("l_returnflag").agg(
        F.max(
            F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("p"))
        ).alias("median")
    )
    dev_base = r.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", "median", F.abs(F.col("p") - F.col("median")).alias("d"), "rn"
    )
    dev = grouped_running_sum(
        dev_base,
        ["l_returnflag"],
        ["d", "rn"],
        F.lit(1),
        "rn2",
    ).join(F.broadcast(counts), "l_returnflag")
    return dev.groupBy("l_returnflag", "median").agg(
        F.max(
            F.when(F.col("rn2") == F.floor((F.col("n") + 1) / 2), F.col("d"))
        ).alias("mad")
    )


# ---------------------------------------------------------------------------
# q162 — lag-1 autocorrelation of daily revenue (exact-moment closed form)
# ---------------------------------------------------------------------------


@query(
    "q162_revenue_autocorr",
    oracle="""
    WITH d AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT rev AS y, lag(rev) OVER (ORDER BY day) AS x FROM d
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy,
        CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM lagged WHERE x IS NOT NULL
    )
    SELECT n,
      round((n * sxy - sx * sy)
            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS lag1_autocorr
    FROM m
    """,
)
def q162_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily revenue — the momentum/seasonality
    scalar behind 'is yesterday predictive of today' (and the
    denominator sanity check before fitting any AR model). Same
    determinism recipe as q149: day revenues and ALL five moment sums
    stay exact DECIMAL (products of 2dp decimals are 4dp decimals,
    summed exactly, order-independent), and Pearson's closed form runs
    on those exact scalars in double — bitwise identical across
    engines, unlike corr() whose double accumulation is
    merge-order-dependent. The lag itself is one window over the
    (bounded, one-row-per-day) aggregate."""
    orders = table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("day")
    lagged = d.select(
        F.col("rev").alias("y"), F.lag("rev").over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select("n", F.round(num / den, 6).alias("lag1_autocorr"))


# ---------------------------------------------------------------------------
# q163 — functional-dependency violation census (profiling)
# ---------------------------------------------------------------------------


@query(
    "q163_fd_violations",
    oracle="""
    WITH checks AS (
      SELECT 'part: p_partkey->p_brand' AS fd,
        CAST(count(*) AS BIGINT) AS n_keys,
        CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      FROM (SELECT p_partkey, count(DISTINCT p_brand) AS n_rhs
            FROM part GROUP BY 1)
      UNION ALL
      SELECT 'orders: o_orderkey->o_custkey',
        CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS n_rhs
            FROM orders GROUP BY 1)
      UNION ALL
      SELECT 'lineitem: (l_orderkey,l_linenumber)->l_partkey',
        CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_orderkey, l_linenumber, count(DISTINCT l_partkey) AS n_rhs
            FROM lineitem GROUP BY 1, 2)
      UNION ALL
      SELECT 'documents: fingerprint->text',
        CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT md5(trim(text)) AS fp, count(DISTINCT text) AS n_rhs
            FROM documents GROUP BY 1)
    )
    SELECT * FROM checks
    """,
)
def q163_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each declared FD X→Y, how many
    distinct X keys exist and how many of them map to MORE than one Y
    (violations) — the schema-integrity profile that catches silent
    key corruption after a bad merge (the profiling step
    check_expectations' per-row rules cannot express, because FD
    violation is a property of a GROUP). Each FD is one keyed
    aggregation with map-side combine; the union is of 4 three-column
    summary rows. The md5→text FD doubles as a hash-collision canary
    (n_violating > 0 would mean an md5 collision inside the corpus)."""
    part = table(spark, sf_dir, "part")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    docs = table(spark, sf_dir, "documents")

    def check(df: DataFrame, name: str, lhs: list, rhs: str) -> DataFrame:
        g = df.groupBy(*lhs).agg(F.countDistinct(rhs).alias("n_rhs"))
        return g.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum((F.col("n_rhs") > 1).cast("int")).cast("bigint").alias("n_violating"),
        ).select("fd", "n_keys", "n_violating")

    parts = [
        check(part, "part: p_partkey->p_brand", ["p_partkey"], "p_brand"),
        check(orders, "orders: o_orderkey->o_custkey", ["o_orderkey"], "o_custkey"),
        check(
            li,
            "lineitem: (l_orderkey,l_linenumber)->l_partkey",
            ["l_orderkey", "l_linenumber"],
            "l_partkey",
        ),
        check(
            docs.select(F.md5(F.trim("text")).alias("fp"), "text"),
            "documents: fingerprint->text",
            ["fp"],
            "text",
        ),
    ]
    from functools import reduce

    return reduce(DataFrame.unionByName, parts)


# ---------------------------------------------------------------------------
# q164 — referential-integrity orphan census
# ---------------------------------------------------------------------------


@query(
    "q164_ri_orphans",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders.o_custkey->customer',
      CAST((SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
      CAST((SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    """,
)
def q164_ri_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges:
    per edge, how many child rows point at a parent key that does not
    exist (orphans) — the load-gate companion to q163's FD audit; a
    nonzero count after ingestion means the enrichment joins (q04)
    silently drop revenue. Each edge is ONE left-anti join; dimension
    parents broadcast (their key sets are the bounded side), so the
    fact is scanned once per edge with no shuffle. The count(*)-over-
    anti-join form is exactly how the NOT EXISTS decorrelates."""

    def orphans(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, name: str) -> DataFrame:
        return (
            child.select(F.col(ckey))
            .join(F.broadcast(parent.select(F.col(pkey))),
                  F.col(ckey) == F.col(pkey), "left_anti")
            .agg(F.lit(name).alias("fk_edge"),
                 F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
            .select("fk_edge", "n_orphans")
        )

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    parts = [
        orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders"),
        orphans(li, "l_partkey", part, "p_partkey", "lineitem.l_partkey->part"),
        orphans(li, "l_suppkey", supp, "s_suppkey", "lineitem.l_suppkey->supplier"),
        orphans(orders, "o_custkey", cust, "c_custkey", "orders.o_custkey->customer"),
        orphans(cust, "c_nationkey", nation, "n_nationkey", "customer.c_nationkey->nation"),
    ]
    from functools import reduce

    return reduce(DataFrame.unionByName, parts)


# ---------------------------------------------------------------------------
# q165 — event-type transition matrix (first-order Markov estimate)
# ---------------------------------------------------------------------------


@query(
    "q165_event_transitions",
    oracle="""
    WITH s AS (
      SELECT event_type,
        lead(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
      round(n / sum(n) OVER (PARTITION BY from_type), 6) AS prob
    FROM c
    """,
)
def q165_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: for each
    consecutive same-user event pair (time order, id tie-break), the
    count and row-normalized probability of from→to — the behavioral
    fingerprint behind next-action prediction and bot detection
    (uniform rows ⇒ no intent signal). One user-keyed window for the
    lead, one keyed count; the normalizing sum is a window over the
    |types|² count table (25 rows — trivially bounded). Probabilities
    divide exact integer counts, so the doubles are bitwise identical
    across engines."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = s.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_norm = Window.partitionBy("from_type")
    return c.select(
        "from_type", "to_type", "n",
        F.round(F.col("n") / F.sum("n").over(w_norm), 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# q167 — fulfillment-latency percentiles (pure-integer order statistics)
# ---------------------------------------------------------------------------


@query(
    "q167_fulfillment_latency",
    oracle="""
    WITH r AS (
      SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS order_month,
        date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS d,
        row_number() OVER (
          PARTITION BY date_trunc('month', o.o_orderdate)
          ORDER BY date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)),
                   l.l_orderkey, l.l_linenumber) AS rn,
        count(*) OVER (PARTITION BY date_trunc('month', o.o_orderdate)) AS n
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT order_month, CAST(max(n) AS BIGINT) AS n_lines,
      CAST(max(CASE WHEN rn = (n + 1) // 2 THEN d END) AS BIGINT) AS p50_days,
      CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN d END) AS BIGINT) AS p90_days
    FROM r GROUP BY 1
    """,
)
def q167_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA per order month: median and p90 days
    between order placement and line shipment — the fulfillment
    monitoring query whose tail (p90) is the SLA, not the mean. Pure
    INTEGER order statistics end to end (day differences are ints,
    ranks are ints, the percentile indices are integer-exact
    (n+1)//2 and (9n+9)//10 = ceil(0.9n)) — nothing floats, nothing
    can diverge cross-engine. One partitioned window sort per month
    group + one keyed aggregate."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    d = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        month.alias("order_month"),
        d.alias("d"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("order_month").orderBy("d", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("order_month")
    r = j.select(
        "order_month", "d",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("order_month").agg(
        F.max("n").cast("bigint").alias("n_lines"),
        F.max(
            F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("d"))
        ).cast("bigint").alias("p50_days"),
        F.max(
            F.when(F.col("rn") == F.floor((9 * F.col("n") + 9) / 10), F.col("d"))
        ).cast("bigint").alias("p90_days"),
    )


# ---------------------------------------------------------------------------
# q170 — cumulative distinct customers (first-seen trick)
# ---------------------------------------------------------------------------


@query(
    "q170_cumulative_customers",
    oracle="""
    WITH first_seen AS (
      SELECT o_custkey,
             min(strftime(date_trunc('month', o_orderdate), '%Y-%m')) AS m
      FROM orders GROUP BY 1
    ),
    monthly AS (
      SELECT m, CAST(count(*) AS BIGINT) AS n_new FROM first_seen GROUP BY 1
    )
    SELECT m AS month, n_new,
      CAST(sum(n_new) OVER (ORDER BY m
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_customers
    FROM monthly
    """,
)
def q170_cumulative_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct customers by month via the FIRST-SEEN trick:
    min(first order month) per customer, count new arrivals per month,
    running-sum the (bounded, one-row-per-month) series. The naive
    formulation — COUNT(DISTINCT custkey) over an expanding window —
    re-deduplicates the entire history for every month and cannot
    partial-aggregate; first-seen needs ONE customer-keyed aggregate
    and touches each customer exactly once, the canonical rewrite for
    'distinct so far' at any scale. The only global window runs over
    ~tens of month rows."""
    orders = table(spark, sf_dir, "orders")
    first_seen = orders.groupBy("o_custkey").agg(
        F.min(F.date_format("o_orderdate", "yyyy-MM")).alias("m")
    )
    monthly = first_seen.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        F.col("m").alias("month"),
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cum_customers"),
    )


# ---------------------------------------------------------------------------
# q171 — engagement: DAU / MAU / stickiness
# ---------------------------------------------------------------------------


@query(
    "q171_engagement_stickiness",
    oracle="""
    WITH d AS (
      SELECT DISTINCT strftime(date_trunc('month', ts), '%Y-%m') AS m,
             strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
             user_id
      FROM events
    ),
    dau AS (SELECT m, day, CAST(count(*) AS BIGINT) AS dau FROM d GROUP BY 1, 2),
    mau AS (SELECT m, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM d GROUP BY 1)
    SELECT mau.m AS month, CAST(count(*) AS BIGINT) AS n_days,
      CAST(sum(dau.dau) AS BIGINT) AS dau_days, mau.mau,
      round(sum(dau.dau) / (count(*) * mau.mau), 6) AS stickiness
    FROM dau JOIN mau USING (m)
    GROUP BY mau.m, mau.mau
    """,
)
def q171_engagement_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement metrics per month: average-DAU / MAU 'stickiness'
    (what share of monthly actives show up on a typical day — the
    product-health ratio). One distinct pass over (month, day, user)
    feeds both the daily and monthly distinct counts; stickiness
    divides exact integers (Σdau / (days · mau)), so the double is
    bitwise stable. The distinct pass is the only fact-sized shuffle;
    everything after runs on day- and month-cardinality tables."""
    ev = table(spark, sf_dir, "events")
    d = ev.select(
        F.date_format("ts", "yyyy-MM").alias("m"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
    ).distinct()
    dau = d.groupBy("m", "day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    mau = d.groupBy("m").agg(
        F.countDistinct("user_id").cast("bigint").alias("mau")
    )
    return (
        dau.join(mau, "m")
        .groupBy(F.col("m").alias("month"), "mau")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("dau").cast("bigint").alias("dau_days"),
            F.round(
                F.sum("dau") / (F.count(F.lit(1)) * F.col("mau")), 6
            ).alias("stickiness"),
        )
        .select("month", "n_days", "dau_days", "mau", "stickiness")
    )


# ---------------------------------------------------------------------------
# q173 — duplicate-payment audit (composite-key exact-dup census)
# ---------------------------------------------------------------------------


@query(
    "q173_duplicate_payments",
    oracle="""
    SELECT o_custkey,
      strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_day,
      CAST(o_totalprice AS DECIMAL(18,2)) AS amount,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(min(o_orderkey) AS BIGINT) AS first_orderkey
    FROM orders
    GROUP BY 1, 2, 3 HAVING count(*) > 1
    """,
)
def q173_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge audit: orders sharing (customer, day, exact
    amount) — the composite-key exact-duplicate census a payments
    reconciliation runs nightly (retried submissions, double-clicks,
    replayed batches). One keyed aggregation with map-side combine;
    amounts compared as DECIMAL so 19.99 vs 19.990000001 never
    false-merge and true duplicates never split on float noise.
    first_orderkey anchors the keep-one remediation."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("amount"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_orderkey").cast("bigint").alias("first_orderkey"),
        )
        .filter(F.col("n_orders") > 1)
    )


# ---------------------------------------------------------------------------
# q174 — time-to-convert histogram (signup → first purchase)
# ---------------------------------------------------------------------------


@query(
    "q174_time_to_convert",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    p AS (
      SELECT user_id, min(ts) AS first_purchase_ts FROM events
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    conv AS (
      SELECT s.user_id,
        CAST(floor(date_diff('second', s.signup_ts, p.first_purchase_ts) / 3600.0)
             AS BIGINT) AS hours_bucket
      FROM s JOIN p USING (user_id)
      WHERE p.first_purchase_ts >= s.signup_ts
    )
    SELECT hours_bucket, CAST(count(*) AS BIGINT) AS n_users
    FROM conv GROUP BY 1
    """,
)
def q174_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase latency histogram (whole-hour buckets)
    — the activation-funnel timing distribution growth teams tune
    onboarding against; complements q60's step-conversion counts with
    WHEN conversion happens. Two min-aggregations (each one keyed
    shuffle with map-side combine — never a per-user sort), an
    equi-join, integer bucket arithmetic (epoch-second difference
    floor-divided by 3600 — exact in both engines), one count."""
    ev = table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.min("ts").alias("first_purchase_ts")
    )
    conv = (
        s.join(p, "user_id")
        .filter(F.col("first_purchase_ts") >= F.col("signup_ts"))
        .select(
            F.floor(
                (
                    F.unix_micros("first_purchase_ts") - F.unix_micros("signup_ts")
                ) / F.lit(3_600_000_000)
            ).cast("bigint").alias("hours_bucket")
        )
    )
    return conv.groupBy("hours_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# ---------------------------------------------------------------------------
# q175 — price-volume-mix revenue bridge (month-over-month decomposition)
# ---------------------------------------------------------------------------


@query(
    "q175_price_volume_bridge",
    oracle="""
    WITH m AS (
      SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS mo,
        SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
        SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY 1
    ),
    b AS (
      SELECT mo, qty, rev,
        lag(qty) OVER (ORDER BY mo) AS qty0,
        lag(rev) OVER (ORDER BY mo) AS rev0
      FROM m
    )
    SELECT mo AS ship_month,
      CAST(rev AS DOUBLE) AS revenue,
      round(CAST(rev AS DOUBLE) - CAST(rev0 AS DOUBLE), 2) AS delta_rev,
      round((CAST(qty AS DOUBLE) - CAST(qty0 AS DOUBLE))
            * (CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE)), 6) AS volume_effect,
      round(CAST(qty AS DOUBLE)
            * (CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE)
               - CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE)), 6) AS price_effect
    FROM b WHERE qty0 IS NOT NULL
    """,
)
def q175_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue BRIDGE (price-volume-mix, the standard
    FP&A waterfall): Δrev decomposes exactly into a volume effect
    (Δqty at last month's average price) plus a price effect (this
    month's qty at the change in average price) — volume_effect +
    price_effect = delta_rev by construction. Monthly qty/revenue stay
    DECIMAL (exact, order-independent); the effects are closed-form
    doubles over those exact scalars, so both engines produce
    identical bits (q149's recipe). The lag runs over the bounded
    one-row-per-month series."""
    li = table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("mo")
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
    )
    w = Window.orderBy("mo")
    b = m.select(
        "mo",
        F.col("qty").cast("double").alias("qty_d"),
        F.col("rev").cast("double").alias("rev_d"),
        F.lag(F.col("qty")).over(w).cast("double").alias("qty0"),
        F.lag(F.col("rev")).over(w).cast("double").alias("rev0"),
    ).filter(F.col("qty0").isNotNull())
    return b.select(
        F.col("mo").alias("ship_month"),
        F.col("rev_d").alias("revenue"),
        F.round(F.col("rev_d") - F.col("rev0"), 2).alias("delta_rev"),
        F.round(
            (F.col("qty_d") - F.col("qty0")) * (F.col("rev0") / F.col("qty0")), 6
        ).alias("volume_effect"),
        F.round(
            F.col("qty_d")
            * (F.col("rev_d") / F.col("qty_d") - F.col("rev0") / F.col("qty0")),
            6,
        ).alias("price_effect"),
    )


@query("q176_pareto_curve_approx")  # approx cut-points: rows-only check
def q176_pareto_curve_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE form of q138's Pareto curve: customer spend deciles from
    percentile_approx cut-points (9 boundaries, broadcast as one row)
    instead of a global ntile sort — the same windowless recipe as
    q145's RFM mode, because both exact forms funnel the whole
    |customers| aggregate through one reducer. Value-based deciles:
    ties share a decile rather than splitting by custkey, and the
    Greenwald-Kharma ε moves boundary customers one decile at most —
    shares converge to the exact curve as accuracy rises. Covering
    checks: tests/test_scale.py::test_pareto_approx_* (share mass sums
    to 1, curve monotone, windowless plan)."""
    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("x")
    )
    qs = [i / 10.0 for i in range(1, 10)]
    cuts = spend.agg(F.percentile_approx("x", qs, 10_000).alias("c"))
    # DESC deciles: top spenders → decile 1
    dec = F.lit(1)
    for i in range(9):
        dec = dec + (F.col("x") < F.col("c")[8 - i]).cast("int")
    per = (
        spend.crossJoin(F.broadcast(cuts))
        .select(dec.cast("bigint").alias("decile"), "x")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("x").alias("decile_rev"),
        )
    )
    tot = per.agg(F.sum("decile_rev").alias("total"))
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_customers",
            F.round(F.col("decile_rev") / F.col("total"), 6).alias("revenue_share"),
            F.round(
                F.sum("decile_rev").over(w_cum) / F.col("total"), 6
            ).alias("cum_revenue_share"),
        )
    )


# ---------------------------------------------------------------------------
# q182 — purchase regularity (coefficient of variation of gaps)
# ---------------------------------------------------------------------------


@query(
    "q182_purchase_regularity",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
        date_diff('day',
          CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS DATE),
          CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    ),
    s AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
        CAST(sum(gap) AS BIGINT) AS sg, CAST(sum(gap * gap) AS BIGINT) AS sgg
      FROM g WHERE gap IS NOT NULL
      GROUP BY 1 HAVING count(*) >= 3
    )
    SELECT o_custkey, n_gaps,
      round(sg / CAST(n_gaps AS DOUBLE), 6) AS mean_gap_days,
      round(sqrt((sgg - sg * CAST(sg AS DOUBLE) / n_gaps) / (n_gaps - 1))
            / (sg / CAST(n_gaps AS DOUBLE)), 6) AS gap_cov
    FROM s WHERE sg > 0
    """,
)
def q182_purchase_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-rhythm regularity per customer: coefficient of
    variation of inter-order gaps (std/mean) for customers with ≥ 3
    gaps — low CoV ≈ subscription-like cadence (predictable
    replenishment), high CoV ≈ bursty/opportunistic. The behavioral
    segmentation axis RFM's recency/frequency cannot see (two
    customers with identical F can have opposite rhythms). Gaps are
    INTEGER days; Σg and Σg² are exact integer sums, so mean and the
    closed-form sample std are deterministic doubles on both engines —
    the q149 recipe with no decimals even needed. One partitioned
    window (lag) + one keyed aggregation."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    s = (
        g.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("gap").cast("bigint").alias("sg"),
            F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("sgg"),
        )
        .filter((F.col("n_gaps") >= 3) & (F.col("sg") > 0))
    )
    mean = F.col("sg") / F.col("n_gaps").cast("double")
    std = F.sqrt(
        (F.col("sgg") - F.col("sg") * F.col("sg").cast("double") / F.col("n_gaps"))
        / (F.col("n_gaps") - 1)
    )
    return s.select(
        "o_custkey", "n_gaps",
        F.round(mean, 6).alias("mean_gap_days"),
        F.round(std / mean, 6).alias("gap_cov"),
    )

# ---------------------------------------------------------------------------
# q183 — monthly revenue pivoted wide by region
# ---------------------------------------------------------------------------


@query(
    "q183_region_month_pivot",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      CAST(sum(CASE WHEN r_name = 'AFRICA'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_africa,
      CAST(sum(CASE WHEN r_name = 'AMERICA'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_america,
      CAST(sum(CASE WHEN r_name = 'ASIA'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_asia,
      CAST(sum(CASE WHEN r_name = 'EUROPE'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_europe,
      CAST(sum(CASE WHEN r_name = 'MIDDLE EAST'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_middle_east
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1
    """,
)
def q183_region_month_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide reshape: month × region revenue matrix via ``groupBy().
    pivot()`` — the long→wide inverse of q83's UNPIVOT, closing the
    reshape surface (reference has neither; its marts are all long).
    The pivot VALUES are passed explicitly (the five region names),
    which skips the extra distinct-scan Spark otherwise runs to
    discover them and keeps this a SINGLE one-shuffle aggregate: with
    explicit values the pivot lowers to one hash aggregate whose
    buffer holds five conditional sums — exactly the oracle's CASE
    formulation, not a per-region self-join. Dims broadcast; decimal
    sums; absent cells stay NULL on both engines (CASE with no ELSE).
    At 100 TB the shape is identical to any grouped agg: map-side
    partials over |months|×5 cells, no skew possible."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = table(spark, sf_dir, "region")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "r_name",
            F.col("o_totalprice").cast("decimal(18,2)").alias("amt"),
        )
    )
    wide = joined.groupBy("month").pivot("r_name", regions).agg(F.sum("amt"))
    return wide.select(
        "month",
        *[
            F.col(f"`{reg}`")
            .cast("double")
            .alias("rev_" + reg.lower().replace(" ", "_"))
            for reg in regions
        ],
    )


# ---------------------------------------------------------------------------
# q184 — settlement proration (exact largest-remainder allocation)
# ---------------------------------------------------------------------------


@query(
    "q184_settlement_proration",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
          AS price_c,
        CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
          AS pool_c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    cum AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, pool_c,
        CAST(sum(price_c) OVER (PARTITION BY l_orderkey
          ORDER BY l_linenumber, l_partkey, l_suppkey
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
        CAST(sum(price_c) OVER (PARTITION BY l_orderkey) AS BIGINT) AS tot_c
      FROM lines
    ),
    alloc AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        (pool_c * cum_c + tot_c // 2) // tot_c AS cum_alloc_c
      FROM cum
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      CAST(cum_alloc_c - coalesce(lag(cum_alloc_c) OVER (
        PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_partkey, l_suppkey), 0) AS BIGINT)
        AS alloc_cents,
      CAST(cum_alloc_c - coalesce(lag(cum_alloc_c) OVER (
        PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_partkey, l_suppkey), 0) AS BIGINT) / 100.0
        AS allocated
    FROM alloc
    """,
)
def q184_settlement_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact settlement allocation: distribute each order's total price
    across its line items proportional to extended price, to the cent,
    with Σ(line allocations) ≡ order pool BY CONSTRUCTION — the
    cumulative-rounding form of largest-remainder apportionment
    (allocate round(pool·cumshareᵢ) − round(pool·cumshareᵢ₋₁); the
    telescoping sum collapses to round(pool·1) = pool). The classic
    finance/billing op naive per-line rounding gets wrong by ±n cents.
    All arithmetic is INTEGER CENTS: half-up rounding of pool·cum/tot
    is (pool_c·cum_c + tot_c/2) div tot_c in BIGINT — bitwise
    cross-engine, no decimal-division scale rules, no float ties
    (verify-skill decimal-vs-double gotcha). The final ``allocated``
    is one IEEE division by 100.0 (correctly rounded, identical both
    engines). The allocation ORDER must be a TOTAL order —
    (l_linenumber, l_partkey, l_suppkey); this generator emits
    duplicate linenumbers per order, and on a tie the two engines
    would otherwise cumulate in different sequences. All windows
    share ONE per-order sort — a single shuffle; per-order groups are
    tiny (≤7 lines) so no skew at any scale."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice").cast("decimal(18,2)") * 100, 0)
        .cast("bigint")
        .alias("price_c"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100, 0)
        .cast("bigint")
        .alias("pool_c"),
    )
    lines = li.join(o, li.l_orderkey == o.o_orderkey).drop("o_orderkey")
    w_cum = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_orderkey")
    w_lag = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    cum = lines.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "pool_c",
        F.sum("price_c").over(w_cum).alias("cum_c"),
        F.sum("price_c").over(w_all).alias("tot_c"),
    )
    # BIGINT floor division end to end (`div`, not `/`): Spark's `/` on
    # integers is DOUBLE division, which loses exactness past 2^53 and
    # can floor one off at exact quotient boundaries.
    alloc = cum.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.expr("(pool_c * cum_c + tot_c div 2) div tot_c").alias("cum_alloc_c"),
    )
    delta = F.col("cum_alloc_c") - F.coalesce(
        F.lag("cum_alloc_c").over(w_lag), F.lit(0)
    )
    return alloc.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        delta.alias("alloc_cents"),
        (delta / F.lit(100.0)).alias("allocated"),
    )


# ---------------------------------------------------------------------------
# q185 — CUSUM upward-drift detection over daily revenue
# ---------------------------------------------------------------------------


@query(
    "q185_cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100, 0)
             AS BIGINT) AS rev_c
      FROM orders GROUP BY 1
    ),
    ref AS (
      SELECT CAST(sum(rev_c) AS BIGINT) // CAST(count(*) AS BIGINT) AS k_c
      FROM daily
    ),
    pref AS (
      SELECT day, rev_c, k_c,
        CAST(sum(rev_c - k_c) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p_c
      FROM daily, ref
    ),
    cu AS (
      SELECT day, rev_c, k_c, p_c,
        least(0, min(p_c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
          AS floor_c
      FROM pref
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, rev_c,
      CAST(p_c - floor_c AS BIGINT) AS cusum_c,
      CASE WHEN p_c - floor_c > 5 * k_c THEN 1 ELSE 0 END AS drift_flag
    FROM cu
    """,
)
def q185_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM upward-drift monitor over the daily-revenue series: the
    one-sided cumulative sum Sᵢ = max(0, Sᵢ₋₁ + (xᵢ − k)) flags when
    revenue runs persistently above the reference level k (here the
    series' own mean day), catching slow drifts the per-day z-score
    screen (q149) is blind to — CUSUM accumulates evidence across
    days instead of judging each day alone (Page 1954). The recurrence
    looks inherently sequential, but it has an exact closed form over
    prefix sums: Sᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) where Pᵢ = Σ(xⱼ − k) —
    so the whole monitor is two cumulative windows (prefix sum +
    running min) over the DAILY AGGREGATE, never a driver loop or a
    fold. All arithmetic in integer cents (k = total div n-days), so
    both engines agree bitwise. The global-ordered window runs over
    |days| rows (~2.4k at sf1, bounded by the calendar at any data
    scale) — the q135/q140 "window over tiny aggregate" class, not a
    full-data sort. Drift threshold 5k (≈5σ-equivalent for this
    integer monitor) is a documented screen constant."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100, 0)
        .cast("bigint")
        .alias("rev_c")
    )
    ref = daily.agg(
        F.expr("sum(rev_c) div count(*)").cast("bigint").alias("k_c")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pref = daily.crossJoin(F.broadcast(ref)).withColumn(
        "p_c", F.sum(F.col("rev_c") - F.col("k_c")).over(w)
    )
    cu = pref.withColumn(
        "floor_c", F.least(F.lit(0).cast("bigint"), F.min("p_c").over(w))
    )
    return cu.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "rev_c",
        (F.col("p_c") - F.col("floor_c")).alias("cusum_c"),
        F.when(
            F.col("p_c") - F.col("floor_c") > 5 * F.col("k_c"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# q187 — bulk-order customers (TPC-H Q18 shape)
# ---------------------------------------------------------------------------


@query(
    "q187_bulk_order_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING sum(CAST(l_quantity AS BIGINT)) > 150
    )
    SELECT c_name, o_custkey, o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
      sum_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q187_bulk_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk-order screen — the TPC-H Q18 "large volume customer"
    shape: orders whose TOTAL line quantity exceeds a threshold,
    enriched with the customer. The interesting plan property is the
    aggregation-before-join rewrite: the HAVING filter runs on the
    grouped lineitem FIRST, so only the few surviving orderkeys join
    against orders/customer — Catalyst cannot hoist an agg through a
    join on its own, so expressing it agg-first is the author's job
    (the naive join-then-group does the full fact×orders join before
    discarding 99% of groups). Quantities are integral by generation;
    BIGINT sums are exact. At 100 TB: one fact shuffle on l_orderkey
    for the agg, then the survivor set (sub-percent selectivity) joins
    orders — AQE converts it to broadcast at runtime when small
    enough."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("totalprice"),
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# q188 — dormant high-balance segments (TPC-H Q22 shape)
# ---------------------------------------------------------------------------


@query(
    "q188_dormant_capital",
    oracle="""
    WITH thresh AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(count(*) AS BIGINT) AS avg_bal
      FROM customer
      WHERE c_acctbal > 0
        AND c_mktsegment IN ('AUTOMOBILE','BUILDING','MACHINERY')
    )
    SELECT c_mktsegment AS segment,
      CAST(count(*) AS BIGINT) AS n_customers,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS idle_capital
    FROM customer, thresh
    WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING','MACHINERY')
      AND CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= DATE '2000-01-01')
    GROUP BY 1
    """,
)
def q188_dormant_capital(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant-capital census — the TPC-H Q22 "global sales
    opportunity" shape: per market segment, customers holding
    above-average positive balances with NO ORDER since the recency
    cutoff (2000-01-01 — ~18 months before the data's horizon; this
    generator gives every customer at least one lifetime order, so
    pure Q22 "never ordered" is the empty set and dormancy is the
    meaningful business form). The reactivation-campaign target list. Three classic
    sub-shapes composed: an uncorrelated scalar aggregate subquery
    (the threshold) broadcast to every row; a NOT EXISTS decorrelated
    to a LEFT ANTI hash join against the orders keyset; and the final
    grouped census. The threshold is Σdecimal/count with ONE double
    division (exact inputs → identical IEEE result both engines; the
    q149 avg-of-doubles recipe); acctbal comparisons run on the same
    decimal-cast-to-double value on both sides. At 100 TB the anti
    join shuffles on o_custkey/c_custkey once; the distinct orders
    keyset is far smaller than the fact and AQE picks the broadcast
    side at runtime."""
    segs = ["AUTOMOBILE", "BUILDING", "MACHINERY"]
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin(segs)
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    thresh = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)).cast("bigint")
        ).alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(thresh)).filter(
        F.col("c_acctbal").cast("decimal(18,2)").cast("double")
        > F.col("avg_bal")
    )
    dormant = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return dormant.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("idle_capital"),
    )


# ---------------------------------------------------------------------------
# q189 — bootstrap confidence intervals (deterministic Poisson bootstrap)
# ---------------------------------------------------------------------------

# Poisson(1) inverse-CDF thresholds (cumulative e^{-1} Σ 1/k!). Written
# as exact decimal literals: both engines' strtod are correctly-rounded,
# so the parsed doubles are bit-identical.
_POIS = (
    "0.36787944117144233",  # P(X=0)
    "0.7357588823428847",   # P(X<=1)
    "0.9196986029286058",   # P(X<=2)
    "0.9810118431238462",   # P(X<=3)
    "0.9963401531726563",   # P(X<=4)
)


@query(
    "q189_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT o_orderpriority AS priority,
        CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        unnest(generate_series(1, 200)) AS r
      FROM orders
    ),
    weighted AS (
      SELECT priority, r, price,
        CASE
          WHEN u < {_POIS[0]} THEN 0
          WHEN u < {_POIS[1]} THEN 1
          WHEN u < {_POIS[2]} THEN 2
          WHEN u < {_POIS[3]} THEN 3
          WHEN u < {_POIS[4]} THEN 4
          ELSE 5 END AS w
      FROM (SELECT *,
        ('0x' || substr(md5(priority || ':' || r || ':' || price), 1, 13))
          ::UBIGINT::DOUBLE / 4503599627370496.0 AS u
        FROM reps)
    ),
    means AS (
      SELECT priority, r,
        CAST(sum(w * price) AS DOUBLE)
          / NULLIF(CAST(sum(w) AS BIGINT), 0) AS mean_r
      FROM weighted GROUP BY 1, 2
    ),
    ranked AS (
      SELECT priority, mean_r,
        row_number() OVER (PARTITION BY priority ORDER BY mean_r, r) AS rn
      FROM means
    ),
    ci AS (
      SELECT priority,
        max(CASE WHEN rn = 5 THEN mean_r END) AS ci_lo,
        max(CASE WHEN rn = 196 THEN mean_r END) AS ci_hi
      FROM ranked GROUP BY 1
    ),
    pt AS (
      SELECT o_orderpriority AS priority,
        CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          / CAST(count(*) AS BIGINT) AS mean_price
      FROM orders GROUP BY 1
    )
    SELECT pt.priority, n_orders, mean_price, ci_lo, ci_hi
    FROM pt JOIN ci ON pt.priority = ci.priority
    """,
)
def q189_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for mean order value
    per priority class, via the POISSON BOOTSTRAP (Chamandy et al.
    2012) — the bootstrap formulation built for data-parallel engines:
    instead of resampling n rows with replacement (which needs global
    coordination), each row independently receives a Poisson(1)
    multiplicity per replicate, and the multinomial is approximated
    exactly well enough for n in the thousands. Everything is
    deterministic: the uniform is the md5 52-bit draw keyed by
    (group, replicate, value) — the engine's standard portable-
    randomness contract (q55/q66/q124) — pushed through the Poisson
    inverse CDF as five threshold compares against exact double
    literals. Replicate means use decimal weighted sums with ONE
    double division; the interval takes ORDER STATISTICS of the 200
    replicate means (ranks 5/196 ≈ 2.5th/97.5th percentile, ties
    broken by replicate id) — never interpolated percentiles, which
    are not cross-engine-stable (verify-skill rule). Plan: map-side
    explode ×200 → grouped partial sums (|groups|×200 cells) → window
    over 200-row groups. One fact pass regardless of scale; the
    blowup is in the combiner, not the shuffle."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    reps = o.select(
        "priority", "price",
        F.explode(F.sequence(F.lit(1), F.lit(200))).alias("r"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("priority"), F.col("r"), F.col("price")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**52))
    )
    w = (
        F.when(u < float(_POIS[0]), 0)
        .when(u < float(_POIS[1]), 1)
        .when(u < float(_POIS[2]), 2)
        .when(u < float(_POIS[3]), 3)
        .when(u < float(_POIS[4]), 4)
        .otherwise(5)
    )
    means = (
        reps.withColumn("w", w)
        .groupBy("priority", "r")
        .agg(
            (
                F.sum(F.col("w") * F.col("price")).cast("double")
                / F.nullif(F.sum("w").cast("bigint"), F.lit(0))
            ).alias("mean_r")
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("priority").orderBy("mean_r", "r")
    )
    ci = (
        means.withColumn("rn", rn)
        .groupBy("priority")
        .agg(
            F.max(F.when(F.col("rn") == 5, F.col("mean_r"))).alias("ci_lo"),
            F.max(F.when(F.col("rn") == 196, F.col("mean_r"))).alias("ci_hi"),
        )
    )
    pt = o.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (
            F.sum("price").cast("double") / F.count(F.lit(1)).cast("bigint")
        ).alias("mean_price"),
    )
    return pt.join(ci, "priority").select(
        "priority", "n_orders", "mean_price", "ci_lo", "ci_hi"
    )


# ---------------------------------------------------------------------------
# q190 — capped inventory running balance (non-associative scan)
# ---------------------------------------------------------------------------


@query(
    "q190_capped_balance",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT l_partkey AS k,
        row_number() OVER (PARTITION BY l_partkey
          ORDER BY l_shipdate, l_orderkey, l_linenumber, l_suppkey) AS idx,
        CASE WHEN l_returnflag = 'R'
          THEN CAST(l_quantity AS BIGINT)
          ELSE -CAST(l_quantity AS BIGINT) END AS delta
      FROM lineitem
    ),
    walk AS (
      SELECT k, 0 AS idx, CAST(50 AS BIGINT) AS bal,
        0 AS n_hi, 0 AS n_lo
      FROM (SELECT DISTINCT k FROM seq)
      UNION ALL
      SELECT s.k, s.idx,
        greatest(0, least(100, w.bal + s.delta)),
        w.n_hi + CASE WHEN w.bal + s.delta > 100 THEN 1 ELSE 0 END,
        w.n_lo + CASE WHEN w.bal + s.delta < 0 THEN 1 ELSE 0 END
      FROM walk w JOIN seq s ON s.k = w.k AND s.idx = w.idx + 1
    ),
    last AS (
      SELECT k, max(idx) AS n_events FROM walk GROUP BY k
    )
    SELECT w.k AS l_partkey, CAST(l.n_events AS BIGINT) AS n_events,
      w.bal AS final_balance,
      CAST(w.n_hi AS BIGINT) AS n_clamp_hi, CAST(w.n_lo AS BIGINT) AS n_clamp_lo
    FROM walk w JOIN last l ON w.k = l.k AND w.idx = l.n_events
    """,
)
def q190_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inventory running balance per part: start at 50 units,
    sales ('A'/'N' lines) draw down, returns ('R' lines) restock, and
    the balance CLAMPS to [0, 100] at every event (no negative stock,
    no overflow past rack capacity) — counting how often each bound
    bites. The clamp makes this a NON-ASSOCIATIVE scan: unlike a
    plain running sum, max(0,min(100,·)) does not distribute over
    partial aggregation, so neither a window frame nor two-phase
    prefix-sum (operators/scale.py) can express it. The engine's
    escape hatch is the q111 fold pattern: collect each part's
    event sequence into a chronologically sorted array (array_sort on
    a (shipdate,orderkey,linenumber,delta) struct = the oracle's
    ORDER BY, total order so both engines walk identical sequences)
    and run F.aggregate — a whole-stage-codegen JVM fold, zero Python.
    The sort struct is a TOTAL order ((shipdate, orderkey, linenumber,
    suppkey) — linenumbers duplicate in this generator), so both
    engines walk identical sequences. One shuffle on l_partkey;
    per-part histories are bounded (~30
    events at any TPC-H SF since parts scale with the fact), the
    same bounded-group contract q111/q104 document. The oracle walks
    the identical recurrence via recursive CTE with per-part row
    index — depth = longest history, bounded likewise."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k"),
        F.struct(
            F.col("l_shipdate").alias("d"),
            F.col("l_orderkey").alias("o"),
            F.col("l_linenumber").alias("ln"),
            F.col("l_suppkey").alias("sk"),
            F.when(
                F.col("l_returnflag") == "R",
                F.col("l_quantity").cast("bigint"),
            )
            .otherwise(-F.col("l_quantity").cast("bigint"))
            .alias("delta"),
        ).alias("ev"),
    )
    grouped = li.groupBy("k").agg(
        F.array_sort(F.collect_list("ev")).alias("evs")
    )
    fold = F.expr(
        """
        aggregate(
          evs,
          struct(CAST(50 AS BIGINT) AS bal, CAST(0 AS BIGINT) AS n_hi,
                 CAST(0 AS BIGINT) AS n_lo),
          (acc, x) -> struct(
            greatest(CAST(0 AS BIGINT),
                     least(CAST(100 AS BIGINT), acc.bal + x.delta)) AS bal,
            acc.n_hi + IF(acc.bal + x.delta > 100, 1, 0) AS n_hi,
            acc.n_lo + IF(acc.bal + x.delta < 0, 1, 0) AS n_lo)
        )
        """
    )
    return grouped.select(
        F.col("k").alias("l_partkey"),
        F.size("evs").cast("bigint").alias("n_events"),
        fold.getField("bal").alias("final_balance"),
        fold.getField("n_hi").alias("n_clamp_hi"),
        fold.getField("n_lo").alias("n_clamp_lo"),
    )


# ---------------------------------------------------------------------------
# q192 — local-supplier volume (TPC-H Q5 shape)
# ---------------------------------------------------------------------------


@query(
    "q192_local_supplier_volume",
    oracle="""
    SELECT n_name AS nation,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        AS DOUBLE) AS revenue,
      CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE s_nationkey = c_nationkey
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY 1
    """,
)
def q192_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domestic-trade volume — the TPC-H Q5 "local supplier volume"
    shape: revenue where the CUSTOMER'S nation equals the SUPPLIER'S
    nation, per nation, for one order-year. The shape's signature is
    the cross-dimension equality predicate (s_nationkey = c_nationkey)
    that arrives through two DIFFERENT join paths from the fact — it
    cannot be pushed to either scan and must run as a post-join
    residual filter; expressing the dims as broadcasts keeps the only
    shuffle the fact's own aggregation. The o_orderdate range DOES
    push down to the orders scan (verified in the plan: PushedFilters
    on the parquet reader), shrinking the orders build side before
    anything joins. Revenue uses the q01 decimal idiom: price and
    discount cast to exact DECIMAL before the product, so the sum is
    order-independent and bitwise cross-engine."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (
                F.lit(1).cast("decimal(4,2)")
                - F.col("l_discount").cast("decimal(4,2)")
            )
        ).alias("rev"),
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum("rev").cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# q193 — returned-item loss report (TPC-H Q10 shape)
# ---------------------------------------------------------------------------


@query(
    "q193_returned_item_report",
    oracle="""
    WITH loss AS (
      SELECT c_custkey, c_name, n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
          AS DOUBLE) AS lost_revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= DATE '1997-01-01'
        AND o_orderdate < DATE '1997-07-01'
      GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, n_name AS nation, lost_revenue
    FROM loss
    ORDER BY lost_revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q193_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-merchandise loss in a half-year —
    the TPC-H Q10 shape: selective fact predicates (return flag +
    order-date band, both pushed into their scans), a grouped decimal
    revenue sum per customer, and a bounded top-k. The top-k is
    orderBy().limit() — TakeOrderedAndProject, a per-partition heap +
    driver merge of 20 rows — NEVER a single-partition window sort
    over the customer aggregate (the q140-class trap at 100 TB); the
    deterministic (revenue DESC, custkey) total order makes the cut
    bitwise-reproducible on both engines — the q50/q172 top-k
    discipline."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("date"))
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (
            F.lit(1).cast("decimal(4,2)")
            - F.col("l_discount").cast("decimal(4,2)")
        )
    )
    loss = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("lost_revenue"))
    )
    return (
        loss.orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            "lost_revenue",
        )
    )


# ---------------------------------------------------------------------------
# q195 — nation-pair trade flows (TPC-H Q7 shape)
# ---------------------------------------------------------------------------


@query(
    "q195_nation_trade_flows",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
      CAST(year(o_orderdate) AS INT) AS order_year,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        AS DOUBLE) AS volume
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE ((cn.n_name = 'NATION_3' AND sn.n_name = 'NATION_7')
        OR (cn.n_name = 'NATION_7' AND sn.n_name = 'NATION_3'))
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q195_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume between two nations (this generator's
    NATION_3/NATION_7) by year — the TPC-H Q7 "volume shipping"
    shape: the same dimension table (nation)
    joins TWICE under different roles (customer's vs supplier's
    nation), with a DISJUNCTIVE cross-role predicate that only the
    joined pair satisfies. Role separation is by rename-before-join
    (the engine's ambiguity discipline, SURVEY §2j.3) — each nation
    copy broadcast under its own column names, so the OR predicate is
    an unambiguous residual filter. The date band pushes into the
    orders scan; with both nation filters pushed into each broadcast
    BUILD side (the filter refers only to nation columns, so Catalyst
    pushes the per-role half of the disjunction below its join),
    non-qualifying customers/suppliers never reach the fact join."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (
                F.lit(1).cast("decimal(4,2)")
                - F.col("l_discount").cast("decimal(4,2)")
            )
        ).alias("rev"),
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("order_year"))
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(
            (
                (F.col("cust_nation") == "NATION_3")
                & (F.col("supp_nation") == "NATION_7")
            )
            | (
                (F.col("cust_nation") == "NATION_7")
                & (F.col("supp_nation") == "NATION_3")
            )
        )
    )
    return joined.groupBy(
        "cust_nation", "supp_nation", F.col("order_year").cast("int").alias("order_year")
    ).agg(F.sum("rev").cast("double").alias("volume"))


# ---------------------------------------------------------------------------
# q196 — top revenue supplier(s) (TPC-H Q15 shape)
# ---------------------------------------------------------------------------


@query(
    "q196_top_supplier",
    oracle="""
    WITH srev AS (
      SELECT l_suppkey AS suppkey,
        sum(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
          AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01'
        AND l_shipdate < DATE '1997-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
    FROM srev JOIN supplier ON suppkey = s_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM srev)
    """,
)
def q196_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-revenue supplier for a quarter — the TPC-H Q15 shape (the
    original phrases it as a VIEW + scalar MAX subquery; views are
    just named subplans in DataFrame-land). The interesting plan
    property: the supplier-revenue aggregate is computed ONCE and
    consumed twice (the max probe and the equality filter) — the
    oracle's CTE does the same. In Spark the tiny per-supplier
    aggregate (|suppliers| rows) feeds a 1-row scalar aggregate that
    broadcasts back as a cross-join literal — never a self-join of
    two fact scans. Keeps ALL ties at the max (Q15's defined
    semantics), which decimal-exact revenue makes deterministic."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    srev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (
                F.lit(1).cast("decimal(4,2)")
                - F.col("l_discount").cast("decimal(4,2)")
            )
        ).alias("total_rev")
    )
    mx = srev.agg(F.max("total_rev").alias("mx"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(s), F.col("suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_rev"),
        )
    )


# ---------------------------------------------------------------------------
# q197 — small-order revenue leak (TPC-H Q17 shape)
# ---------------------------------------------------------------------------


@query(
    "q197_small_order_revenue",
    oracle="""
    WITH pavg AS (
      SELECT l_partkey AS pk,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
          / CAST(count(*) AS BIGINT) AS avg_qty
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        AS total_price,
      ((CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100, 0)
             AS BIGINT) + 3) // 7) / 100.0 AS yearly_leak
    FROM lineitem JOIN pavg ON l_partkey = pk
    WHERE CAST(l_quantity AS BIGINT) < 0.2 * avg_qty
    """,
)
def q197_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue locked in below-average-quantity lines — the TPC-H Q17
    "small-quantity-order revenue" shape: a CORRELATED AVG subquery
    (per-part average quantity) gating the same fact table,
    decorrelated into ONE grouped aggregate joined back on l_partkey
    — the fact is scanned twice but shuffled on the same key both
    times, never a per-row subquery. The per-part average is
    exact-integer Σ/n with one double division (q149 recipe); the
    0.2×avg comparison multiplies a double by an exact small literal,
    deterministic on both engines. The yearly figure is computed in
    INTEGER CENTS — (total_cents + 3) div 7, half-up — because the
    two engines' DECIMAL-division scale/rounding rules differ; one
    final IEEE division by 100.0 presents it (the q184 recipe)."""
    li = table(spark, sf_dir, "lineitem")
    pavg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("bigint")
        ).alias("avg_qty")
    )
    small = li.join(pavg, li.l_partkey == pavg.pk).filter(
        F.col("l_quantity").cast("bigint") < 0.2 * F.col("avg_qty")
    )
    total = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    agg = small.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        total.cast("double").alias("total_price"),
        F.round(total * 100, 0).cast("bigint").alias("total_c"),
    )
    return agg.select(
        "n_lines",
        "total_price",
        (F.expr("(total_c + 3) div 7") / F.lit(100.0)).alias("yearly_leak"),
    )


# ---------------------------------------------------------------------------
# q198 — CDC log apply (replication consumer)
# ---------------------------------------------------------------------------


@query(
    "q198_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT user_id AS k,
        CASE event_type WHEN 'signup' THEN 'I'
                        WHEN 'error' THEN 'D'
                        ELSE 'U' END AS op,
        CAST(value AS DECIMAL(18,2)) AS bal, ts, event_id
      FROM events
    ),
    win AS (
      SELECT k, op, bal,
        row_number() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC)
          AS rn
      FROM log
    ),
    finals AS (SELECT k, op, bal FROM win WHERE rn = 1)
    SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM finals WHERE k = c_custkey)
    UNION ALL
    SELECT k AS c_custkey, bal FROM finals WHERE op <> 'D'
    """,
)
def q198_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication-consumer CDC apply: fold an ordered change log onto
    the customer balance snapshot — signups INSERT, activity events
    UPDATE the balance, errors DELETE the key; per key only the
    HIGHEST-version change matters and untouched customers pass
    through. The operator (operators/merge.py apply_cdc_log) collapses
    the log with ONE keyed max_by aggregation (no window sort), then
    broadcasts the touched-key set into an anti join + union — the
    base snapshot NEVER shuffles, which is the property that makes
    log-apply viable when base is 10⁹ rows and the batch is 10⁵. The
    oracle mirrors the same latest-wins rule with a ranked window
    (version order (ts, event_id) is total — same-ts events exist in
    this generator)."""
    from sales_data_pipeline_spark.operators.merge import apply_cdc_log

    base = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("bal")
    )
    ev = table(spark, sf_dir, "events")
    log = ev.select(
        F.col("user_id").alias("c_custkey"),
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.col("value").cast("decimal(18,2)").alias("bal"),
        "ts",
        "event_id",
    )
    out = apply_cdc_log(
        base,
        log.select("c_custkey", "op", "bal", "ts", "event_id"),
        keys=["c_custkey"],
        op_col="op",
        version_cols=("ts", "event_id"),
    )
    return out.select(
        "c_custkey", F.col("bal").cast("double").alias("bal")
    )


# ---------------------------------------------------------------------------
# q199 — time-weighted average price (TWAP)
# ---------------------------------------------------------------------------


@query(
    "q199_twap",
    oracle="""
    WITH p AS (
      SELECT user_id,
        CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)
          AS price_c,
        epoch_us(lead(ts) OVER (PARTITION BY user_id
          ORDER BY ts, event_id)) - epoch_us(ts) AS dt_us
      FROM events WHERE event_type = 'purchase'
    ),
    s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        CAST(sum(price_c * dt_us) AS BIGINT) AS num,
        CAST(sum(dt_us) AS BIGINT) AS den
      FROM p WHERE dt_us IS NOT NULL
      GROUP BY 1 HAVING sum(dt_us) > 0
    )
    SELECT user_id, n_intervals,
      num / CAST(den AS DOUBLE) / 100.0 AS twap
    FROM s
    """,
)
def q199_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average purchase price per user — the TWAP every
    trading/pricing system reports: each observation is weighted by
    how long it remained the latest one (lead-gap), so a burst of
    cheap purchases in one minute cannot swamp a price that held for
    a week — the bias a plain AVG has and the reason TWAP exists.
    Exactness: prices in integer cents × interval micros are exact
    BIGINT products summed losslessly (no double accumulation); the
    result is two IEEE divisions of identical exact integers — bitwise
    cross-engine with NO rounding step (F.round on an inexact double
    is itself engine-divergent at repr-boundary ties, verify-skill
    rule, so not rounding is the stricter choice).
    The lead window shares a single (user_id-partitioned) sort with
    nothing else — one shuffle; the (ts, event_id) order key is total
    (same-ts purchases exist in this generator). max Σ(price·Δt) at
    fleet scale: 10⁶ cents × 10¹² µs ≈ 10¹⁸ fits BIGINT; wider spans
    should rescale to millis (documented bound)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        "user_id",
        F.round(F.col("value").cast("decimal(18,2)") * 100, 0)
        .cast("bigint")
        .alias("price_c"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    s = (
        p.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum(F.col("price_c") * F.col("dt_us"))
            .cast("bigint")
            .alias("num"),
            F.sum("dt_us").cast("bigint").alias("den"),
        )
        .filter(F.col("den") > 0)
    )
    return s.select(
        "user_id",
        "n_intervals",
        (F.col("num") / F.col("den").cast("double") / F.lit(100.0)).alias(
            "twap"
        ),
    )


# ---------------------------------------------------------------------------
# q202 — supplier Pareto frontier (skyline query)
# ---------------------------------------------------------------------------


@query(
    "q202_supplier_skyline",
    oracle="""
    WITH srev AS (
      SELECT s_suppkey, s_name,
        CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM supplier JOIN lineitem ON l_suppkey = s_suppkey
      GROUP BY 1, 2, 3
    )
    SELECT s_suppkey, s_name, rev, bal
    FROM srev a
    WHERE NOT EXISTS (
      SELECT 1 FROM srev b
      WHERE b.rev >= a.rev AND b.bal >= a.bal
        AND (b.rev > a.rev OR b.bal > a.bal)
    )
    """,
)
def q202_supplier_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier (skyline) suppliers: those not strictly
    dominated on (lifetime revenue, account balance) — the
    multi-criteria shortlist query (Börzsönyi et al. 2001, "The
    Skyline Operator") that single-metric top-k cannot answer. The
    oracle states the semantics directly as quadratic NOT EXISTS
    strict dominance; the ENGINE computes the identical set in
    O(n log n): deduplicate to distinct (rev, bal) points, sort
    (rev DESC, bal DESC), and keep a point iff its bal strictly
    exceeds the running max over preceding rows — every preceding
    row either has rev strictly greater, or equal rev with bal
    strictly greater, i.e. exactly the dominators. Distribution uses
    the classic TWO-PHASE skyline: a hash-bucketed LOCAL pass first
    (skyline-of-union ⊆ union-of-local-skylines, since a locally
    dominated point is globally dominated by the same witness), so
    the single global merge window only ever sees the per-bucket
    survivors — the TakeOrdered merge shape, not a full-data global
    sort. Survivor points then semi-join back to carry ties (two
    suppliers on the same frontier point both surface)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.col("s_acctbal").cast("decimal(18,2)").cast("double").alias("bal"),
    )
    srev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name", "bal")
        .agg(F.sum("price").cast("double").alias("rev"))
    )
    pts = srev.select("rev", "bal").distinct()
    keep = lambda df, w: (
        df.withColumn("mx", F.max("bal").over(w))
        .filter(F.col("mx").isNull() | (F.col("bal") > F.col("mx")))
        .select("rev", "bal")
    )
    local = keep(
        pts.withColumn("b", F.pmod(F.xxhash64("rev", "bal"), F.lit(64))),
        Window.partitionBy("b")
        .orderBy(F.desc("rev"), F.desc("bal"))
        .rowsBetween(Window.unboundedPreceding, -1),
    )
    frontier = keep(
        local,
        Window.orderBy(F.desc("rev"), F.desc("bal")).rowsBetween(
            Window.unboundedPreceding, -1
        ),
    )
    return srev.join(F.broadcast(frontier), ["rev", "bal"], "left_semi").select(
        "s_suppkey", "s_name", "rev", "bal"
    )


# ---------------------------------------------------------------------------
# q205 — trailing 7-day revenue (RANGE frame over a gappy calendar)
# ---------------------------------------------------------------------------


@query(
    "q205_rolling_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
        strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
        CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100, 0)
             AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2
    )
    SELECT day, rev_c,
      CAST(sum(rev_c) OVER (ORDER BY d RANGE BETWEEN 6 PRECEDING
           AND CURRENT ROW) AS BIGINT) AS rev_7d_c,
      CAST(count(*) OVER (ORDER BY d RANGE BETWEEN 6 PRECEDING
           AND CURRENT ROW) AS BIGINT) AS days_present_7d
    FROM daily
    """,
)
def q205_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue per day — on a RANGE frame keyed by
    epoch-day, not a ROWS frame: when the calendar has gaps (no-sale
    days are ABSENT rows), ROWS BETWEEN 6 PRECEDING silently widens
    the window to "last 7 observations" while RANGE BETWEEN 6
    PRECEDING keeps it "last 7 calendar days" — the correctness
    distinction this query exists to pin (days_present_7d exposes how
    many actual days each frame saw). Integer cents; both engines run
    the identical value-based frame. The global-ordered window runs
    over the |days| aggregate (calendar-bounded — q185's class), and
    at fleet scale the same query per store/region would add the
    partition key and lose the global sort entirely."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100, 0)
        .cast("bigint")
        .alias("rev_c")
    )
    w = Window.orderBy("d").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "rev_c",
        F.sum("rev_c").over(w).cast("bigint").alias("rev_7d_c"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("days_present_7d"),
    )


# ---------------------------------------------------------------------------
# q206 — months beating the average month (aggregate of aggregates)
# ---------------------------------------------------------------------------


@query(
    "q206_months_above_average",
    oracle="""
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100, 0)
             AS BIGINT) AS rev_c,
        CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    bench AS (
      SELECT CAST(sum(rev_c) AS BIGINT) // CAST(count(*) AS BIGINT)
        AS avg_month_c
      FROM monthly
    )
    SELECT month, rev_c, n_orders, avg_month_c,
      CAST(rev_c - avg_month_c AS BIGINT) AS delta_c
    FROM monthly, bench
    WHERE rev_c > avg_month_c
    """,
)
def q206_months_above_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Months whose revenue beats the average month — the textbook
    AGGREGATE-OF-AGGREGATE shape (HAVING against a second-level
    aggregate) that trips naive engines into re-scanning the fact
    twice: here the monthly rollup is computed ONCE and feeds both
    the 1-row benchmark aggregate (broadcast back as a scalar) and
    the filter — fact scanned once, second level runs on |months|
    rows. Integer-cents benchmark via floor division (the q185 k
    recipe) keeps every value BIGINT-exact on both engines."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100, 0)
        .cast("bigint")
        .alias("rev_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    bench = monthly.agg(
        F.expr("sum(rev_c) div count(*)").cast("bigint").alias("avg_month_c")
    )
    return (
        monthly.crossJoin(F.broadcast(bench))
        .filter(F.col("rev_c") > F.col("avg_month_c"))
        .select(
            "month",
            "rev_c",
            "n_orders",
            "avg_month_c",
            (F.col("rev_c") - F.col("avg_month_c")).cast("bigint").alias("delta_c"),
        )
    )


# ---------------------------------------------------------------------------
# q207 — distribution drift between periods (Population Stability Index)
# ---------------------------------------------------------------------------


@query(
    "q207_psi_drift",
    oracle="""
    WITH banded AS (
      SELECT least(9, CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0)
               AS BIGINT) // 5000000) AS band,
        CASE WHEN o_orderdate < DATE '1998-01-01' THEN 'ref' ELSE 'cur' END
          AS period
      FROM orders
    ),
    cells AS (
      SELECT band,
        CAST(sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ref,
        CAST(sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_cur
      FROM banded GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
        CAST(sum(n_cur) AS BIGINT) AS t_cur,
        CAST(count(*) AS BIGINT) AS n_bands
      FROM cells
    )
    SELECT band, n_ref, n_cur,
      round((n_ref + 0.5) / (t_ref + 0.5 * n_bands), 6) AS p_ref,
      round((n_cur + 0.5) / (t_cur + 0.5 * n_bands), 6) AS p_cur,
      round(((n_cur + 0.5) / (t_cur + 0.5 * n_bands)
             - (n_ref + 0.5) / (t_ref + 0.5 * n_bands))
            * ln(((n_cur + 0.5) / (t_cur + 0.5 * n_bands))
                 / ((n_ref + 0.5) / (t_ref + 0.5 * n_bands))), 6)
        AS psi_contrib
    FROM cells, tot
    """,
)
def q207_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift of order value between the reference era
    (pre-1998) and the current era, as per-band Population Stability
    Index contributions — the model-monitoring screen (PSI =
    Σ (p_cur − p_ref)·ln(p_cur/p_ref); > 0.2 per convention means the
    population shifted enough to retrain on). Bands are FIXED 50k-value
    buckets (integer-cent floor division — no data-dependent quantile
    edges, so band membership is bitwise-deterministic); cell counts
    are exact integers; Laplace-0.5 smoothing keeps empty bands finite
    exactly as the textbook PSI does. The only inexact steps are the
    per-band share divisions and one ln, rounded to 6 — the q70/q71
    ln-with-round recipe. Plan: one fact scan → one 10-cell aggregate
    → arithmetic on the broadcast totals; nothing at data scale
    besides the scan."""
    o = table(spark, sf_dir, "orders")
    banded = o.select(
        F.least(
            F.lit(9),
            F.expr(
                "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0)"
                " AS BIGINT) div 5000000"
            ),
        ).alias("band"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("date"), "ref"
        )
        .otherwise("cur")
        .alias("period"),
    )
    cells = banded.groupBy("band").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    tot = cells.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
        F.count(F.lit(1)).cast("bigint").alias("n_bands"),
    )
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * F.col("n_bands"))
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * F.col("n_bands"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "band",
        "n_ref",
        "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
            "psi_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# q208 — repurchase survival curve (Kaplan-Meier with right-censoring)
# ---------------------------------------------------------------------------


@query(
    "q208_repurchase_survival",
    oracle="""
    WITH horizon AS (
      SELECT max(CAST(o_orderdate AS DATE)) AS h FROM orders
    ),
    gaps AS (
      SELECT o_custkey,
        date_diff('day', CAST(o_orderdate AS DATE),
          coalesce(
            lead(CAST(o_orderdate AS DATE)) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            (SELECT h FROM horizon))) AS t,
        CASE WHEN lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             IS NULL THEN 0 ELSE 1 END AS event
      FROM orders
    ),
    per_t AS (
      SELECT CAST(t AS BIGINT) AS t,
        CAST(sum(event) AS BIGINT) AS d,
        CAST(count(*) - sum(event) AS BIGINT) AS c
      FROM gaps GROUP BY 1
    ),
    risk AS (
      SELECT t, d, c,
        CAST((SELECT count(*) FROM gaps) -
          coalesce(sum(d + c) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS n_risk
      FROM per_t
    )
    SELECT t AS gap_days, n_risk, d AS n_events,
      CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
             OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
        THEN 0.0
        ELSE round(exp(sum(CASE WHEN d < n_risk
               THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE 0.0 END)
             OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) END AS survival
    FROM risk WHERE d > 0
    """,
)
def q208_repurchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve of time-to-next-purchase WITH right-censoring
    — the survival-analysis answer to "what fraction of customers have
    repurchased within t days?" that naive gap histograms (q133) get
    WRONG: a customer's final order has not produced a next purchase
    YET, and dropping it biases survival down (the customers you most
    care about — the quiet ones — vanish from the denominator). KM
    (1958, the standard estimator) keeps them at risk until their
    censor time: every order contributes exactly one span (to its
    successor, or to the data horizon, censored), S(t) = Π over event
    times ≤ t of (1 − dᵢ/nᵢ).

    Exactness: spans are integer days; the dᵢ/cᵢ/nᵢ ledgers are exact
    BIGINT cumulative windows over the |distinct gap values| aggregate
    (calendar-bounded — the q185 window-over-aggregate class); the
    survival product runs as exp∘Σln (the q134 cumulative-product
    recipe), rounded 6. One fact shuffle (per-customer lead), one
    aggregate, two tiny windows."""
    o = table(spark, sf_dir, "orders")
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("h"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead(F.to_date("o_orderdate")).over(w)
    gaps = (
        o.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d0"),
            nxt.alias("d1"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(F.coalesce("d1", "h"), F.col("d0")).alias("t"),
            F.when(F.col("d1").isNull(), 0).otherwise(1).alias("event"),
        )
    )
    per_t = gaps.groupBy(F.col("t").cast("bigint").alias("t")).agg(
        F.sum("event").cast("bigint").alias("d"),
        (F.count(F.lit(1)) - F.sum("event")).cast("bigint").alias("c"),
    )
    n_total = gaps.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = per_t.crossJoin(F.broadcast(n_total)).select(
        "t",
        "d",
        "c",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    # at the final event time d can equal n_risk (everyone at risk
    # repurchases) — survival is exactly 0 there, and ln(0) must never
    # be evaluated (DuckDB errors; the guard is mirrored in the oracle)
    extinct = (
        F.max(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)).over(
            w_cum
        )
        == 1
    )
    log_term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    return (
        risk.withColumn(
            "survival",
            F.when(extinct, F.lit(0.0)).otherwise(
                F.round(F.exp(F.sum(log_term).over(w_cum)), 6)
            ),
        )
        .filter(F.col("d") > 0)
        .select(
            F.col("t").alias("gap_days"),
            "n_risk",
            F.col("d").alias("n_events"),
            "survival",
        )
    )


# ---------------------------------------------------------------------------
# q209 — revenue forecast by Holt double exponential smoothing
# ---------------------------------------------------------------------------


@query(
    "q209_holt_forecast",
    oracle="""
    WITH RECURSIVE m AS (
      SELECT CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS i,
        CAST(rev_c AS DOUBLE) AS y
      FROM (
        SELECT date_trunc('month', o_orderdate) AS mo,
          CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100, 0)
               AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
      )
    ),
    h AS (
      SELECT i AS t, y AS l, CAST(0.0 AS DOUBLE) AS b FROM m WHERE i = 1
      UNION ALL
      SELECT m.i,
        0.3 * m.y + 0.7 * (h.l + h.b),
        0.1 * ((0.3 * m.y + 0.7 * (h.l + h.b)) - h.l) + 0.9 * h.b
      FROM h JOIN m ON m.i = h.t + 1
    )
    SELECT CAST(t AS BIGINT) AS n_months,
      round(l / 100.0, 6) AS level,
      round(b / 100.0, 6) AS trend,
      round((l + 1 * b) / 100.0, 6) AS forecast_1m,
      round((l + 2 * b) / 100.0, 6) AS forecast_2m,
      round((l + 3 * b) / 100.0, 6) AS forecast_3m
    FROM h WHERE t = (SELECT max(i) FROM m)
    """,
)
def q209_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1/2/3-month revenue forecast by Holt's double exponential
    smoothing (1957; the standard level+trend forecaster one step up
    from a moving average): lₜ = αyₜ + (1−α)(lₜ₋₁+bₜ₋₁),
    bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁, α=0.3 β=0.1, l₁=y₁ b₁=0, forecast
    l_T + h·b_T. The recurrence is non-associative — the q111/q190
    fold class — so the engine collects the MONTHLY AGGREGATE
    (calendar-bounded, ~80 values) into a chronological array and runs
    ONE whole-stage-codegen F.aggregate fold; the raw fact never
    leaves its single groupBy. Cross-engine exactness: the oracle's
    recursive CTE executes the IDENTICAL doubles in the identical
    order (both sides write the same duplicated-subexpression form of
    bₜ), so values match before rounding even though they are floats
    — determinism by operation-order discipline, not by decimals."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100, 0)
        .cast("bigint")
        .alias("rev_c")
    )
    series = monthly.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("month", F.col("rev_c").cast("double").alias("y")))
            ),
            lambda x: x.y,
        ).alias("ys")
    )
    fold = F.expr(
        """
        aggregate(
          slice(ys, 2, size(ys) - 1),
          struct(CAST(element_at(ys, 1) AS DOUBLE) AS l,
                 CAST(0.0 AS DOUBLE) AS b),
          (acc, x) -> struct(
            0.3 * x + 0.7 * (acc.l + acc.b) AS l,
            0.1 * ((0.3 * x + 0.7 * (acc.l + acc.b)) - acc.l) + 0.9 * acc.b
              AS b)
        )
        """
    )
    return series.select(
        F.size("ys").cast("bigint").alias("n_months"),
        F.round(fold.getField("l") / 100.0, 6).alias("level"),
        F.round(fold.getField("b") / 100.0, 6).alias("trend"),
        F.round((fold.getField("l") + 1 * fold.getField("b")) / 100.0, 6).alias("forecast_1m"),
        F.round((fold.getField("l") + 2 * fold.getField("b")) / 100.0, 6).alias("forecast_2m"),
        F.round((fold.getField("l") + 3 * fold.getField("b")) / 100.0, 6).alias("forecast_3m"),
    )


# ---------------------------------------------------------------------------
# q211 — diversified top-k (per-group quota + global cut)
# ---------------------------------------------------------------------------


@query(
    "q211_diversified_topk",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_custkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey)
          AS rk
      FROM orders
    )
    SELECT o_orderkey, o_custkey, price, rk AS rank_within_customer
    FROM ranked WHERE rk <= 2
    ORDER BY price DESC, o_orderkey
    LIMIT 25
    """,
)
def q211_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k: the 25 highest-value orders subject to a
    ≤ 2-per-customer quota — the diversity constraint every
    search/recommendation surface applies so one whale does not fill
    the whole leaderboard (plain top-k CANNOT express it; the quota
    must be enforced BEFORE the global cut or a dominated customer's
    3rd-best wrongly survives). Plan: the quota is a per-customer
    row_number over a keyed window (one shuffle, groups stay
    distributed), the global cut is orderBy().limit() —
    TakeOrderedAndProject over quota survivors, never a
    single-partition sort of the fact (q193 discipline). Total order
    everywhere (price DESC, orderkey) so the cut is deterministic;
    price presents as DOUBLE per the catalog convention."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").cast("decimal(18,2)").desc(), "o_orderkey"
    )
    ranked = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price"),
        F.row_number().over(w).alias("rank_within_customer"),
    ).filter(F.col("rank_within_customer") <= 2)
    return ranked.orderBy(F.desc("price"), F.asc("o_orderkey")).limit(25)


# ---------------------------------------------------------------------------
# q212 — hierarchical share-of-parent rollup
# ---------------------------------------------------------------------------


@query(
    "q212_share_of_parent",
    oracle="""
    WITH n AS (
      SELECT r_name AS region, n_name AS nation,
        CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100, 0)
             AS BIGINT) AS rev_c
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, rev_c,
      round(rev_c / CAST(sum(rev_c) OVER (PARTITION BY region) AS DOUBLE), 6)
        AS share_of_region,
      round(rev_c / CAST(sum(rev_c) OVER () AS DOUBLE), 6)
        AS share_of_total,
      round(sum(rev_c) OVER (PARTITION BY region)
            / CAST(sum(rev_c) OVER () AS DOUBLE), 6) AS region_share
    FROM n
    """,
)
def q212_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent: each nation's revenue as a share
    of its region, of the grand total, and the region's own share —
    the ratio-to-report family BI drills live on, in ONE pass: all
    three ratios are windows over the |nations| AGGREGATE (25 rows at
    any data scale), so the "window with no partition" is over the
    rollup, never the fact. Integer-cent sums are exact; each share
    is one IEEE division of exact integers, rounded 6. Dims
    broadcast; one fact shuffle for the two-level group."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = table(spark, sf_dir, "region")
    agg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100, 0
            )
            .cast("bigint")
            .alias("rev_c")
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return agg.select(
        "region",
        "nation",
        "rev_c",
        F.round(
            F.col("rev_c") / F.sum("rev_c").over(w_region).cast("double"), 6
        ).alias("share_of_region"),
        F.round(
            F.col("rev_c") / F.sum("rev_c").over(w_all).cast("double"), 6
        ).alias("share_of_total"),
        F.round(
            F.sum("rev_c").over(w_region)
            / F.sum("rev_c").over(w_all).cast("double"),
            6,
        ).alias("region_share"),
    )


# ---------------------------------------------------------------------------
# q214 — sequential cross-sell (brand A then brand B within 30 days)
# ---------------------------------------------------------------------------


@query(
    "q214_sequential_crosssell",
    headline=True,  # r10 bench-set refresh (VERDICT r9 task 4)
    oracle="""
    WITH purchases AS (
      SELECT DISTINCT o_custkey AS cust, p_brand AS brand,
        CAST(o_orderdate AS DATE) AS day
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
    ),
    seq AS (
      SELECT a.brand AS brand_from, b.brand AS brand_to
      FROM purchases a JOIN purchases b
        ON a.cust = b.cust
       AND b.day > a.day
       AND b.day <= a.day + INTERVAL 30 DAY
       AND a.brand <> b.brand
    )
    SELECT brand_from, brand_to, CAST(count(*) AS BIGINT) AS n_seq
    FROM seq GROUP BY 1, 2
    HAVING count(*) >= 5
    """,
)
def q214_sequential_crosssell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential cross-sell census: customer buys brand A, then a
    DIFFERENT brand B within 30 days — the temporal, directed
    complement to same-basket co-occurrence (q120) and association
    rules (q146), and the signal "what to recommend AFTER a purchase"
    actually needs (A→B and B→A count separately here; baskets cannot
    distinguish them). Grain is deliberately (customer, brand, day)
    DISTINCT — multiple lines of one brand in one order must not
    multiply pairs.

    The self-join is keyed on customer with a date band — the q112
    interval-self-join shape, and the r9 zipf measurement showed the
    key-only version suffering the identical failure: **62.4×**
    (5.1s → 319.7s, SKEW.json) when the hot customer's ~9k distinct
    (brand, day) rows put ~81M pair evaluations on ONE reducer. As of
    r9 the body routes through operators/scale.banded_interval_join
    (shuffle key = (cust, ⌊day/30d⌋); the strict/inclusive band
    (0, 30d] maps exactly to integer micros [1d, 30d] at DATE grain),
    with the brand≠ residual filtered post-join — output identical
    (bitwise test vs the key-only shape). ≥5 support prune keeps the
    census actionable."""
    from sales_data_pipeline_spark.operators.scale import (
        banded_interval_join,
    )

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("day")
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # NO persist of purchases (r13, reverting r12): it feeds both sides
    # of the band self-join, but the distinct ends in an exchange whose
    # map side is the part Spark re-executes — and the r13 same-process
    # A/B (n=9 warm medians) measured unpersisted 2.50 s vs persisted
    # 2.61 s: the materialization barrier + cache round-trip costs more
    # than re-running the scan+joins map side, which parallelizes fully.
    purchases = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("p_brand").alias("brand"),
            "day",
        )
        .distinct()
    )
    a = purchases.select(
        F.col("cust"), F.col("brand").alias("brand_from"), F.col("day").alias("d0")
    )
    b = purchases.select(
        F.col("cust"),
        F.col("brand").alias("brand_to"),
        F.col("day").alias("d1"),
    )
    day_us = 86_400_000_000
    seq = banded_interval_join(
        a, b, on="cust", probe_ts="d0", build_ts="d1",
        lower_us=day_us, upper_us=30 * day_us, bucket_width_us=30 * day_us,
    ).filter(F.col("brand_from") != F.col("brand_to"))
    return (
        seq.groupBy("brand_from", "brand_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_seq"))
        .filter(F.col("n_seq") >= 5)
    )


# ---------------------------------------------------------------------------
# q215 — ABC/XYZ inventory classification
# ---------------------------------------------------------------------------


@query(
    "q215_abc_xyz_classes",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
        CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100, 0)
             AS BIGINT) AS rev_c,
        CAST(count(*) AS BIGINT) AS n_lines,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
             AS BIGINT) AS sqq
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT *,
        CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
        CAST(sum(rev_c) OVER () AS BIGINT) AS tot_c
      FROM per_part
    ),
    classed AS (
      SELECT l_partkey, rev_c, n_lines,
        CASE WHEN cum_c * 10 <= tot_c * 8 THEN 'A'
             WHEN cum_c * 100 <= tot_c * 95 THEN 'B'
             ELSE 'C' END AS abc,
        CASE WHEN n_lines < 3 THEN 'Z'
          WHEN (sqq - sq * CAST(sq AS DOUBLE) / n_lines)
               / nullif(n_lines - 1, 0)
               < 0.25 * (sq / CAST(n_lines AS DOUBLE))
                      * (sq / CAST(n_lines AS DOUBLE)) THEN 'X'
          WHEN (sqq - sq * CAST(sq AS DOUBLE) / n_lines)
               / nullif(n_lines - 1, 0)
               < (sq / CAST(n_lines AS DOUBLE))
                 * (sq / CAST(n_lines AS DOUBLE)) THEN 'Y'
          ELSE 'Z' END AS xyz
      FROM ranked
    )
    SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
      CAST(CAST(sum(rev_c) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
    FROM classed GROUP BY 1, 2
    """,
)
def q215_abc_xyz_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory classification matrix — the supply-chain
    planning standard that crosses VALUE concentration (ABC: parts
    covering the first 80% of cumulative revenue are A, to 95% B,
    rest C — Pareto ranking) with DEMAND REGULARITY (XYZ: coefficient
    of variation of order quantities — CoV² < 0.25 steady X, < 1
    variable Y, else/sparse Z): A-X parts get tight replenishment,
    C-Z get made-to-order. Exactness discipline: the ABC thresholds
    compare INTEGER cross-products (cum·10 ≤ tot·8), never floating
    shares; the CoV² comparison uses exact integer moment sums with
    the q182 closed form, squared to avoid sqrt entirely. The Pareto
    cumulative sum runs over the |parts| AGGREGATE in the (rev desc,
    key) total order — and since |parts| itself scales with the
    catalog, as of r9 it is computed WITHOUT any single-partition
    window: operators/scale.distributed_rank assigns the global
    Pareto rank (two-phase, bitwise row_number), distributed_prefix_sum
    accumulates revenue over that unique rank, and the grand total
    attaches as a broadcast scalar. Ranks/sums are exact integers, so
    the class assignment is bit-identical to the windowed form the
    oracle states. Output is the 9-cell class census. One fact
    shuffle."""
    from sales_data_pipeline_spark.operators.dedup import _persist
    from sales_data_pipeline_spark.operators.scale import (
        distributed_prefix_sum,
        distributed_rank,
    )
    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100, 0)
        .cast("bigint")
        .alias("rev_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sq"),
        F.sum(
            F.col("l_quantity").cast("bigint")
            * F.col("l_quantity").cast("bigint")
        )
        .cast("bigint")
        .alias("sqq"),
    )
    # persisted: feeds the rank/prefix buckets, their bounds scalars,
    # and the grand total — unpersisted, each re-aggregates lineitem
    per_part = _persist(per_part)
    rnk = distributed_rank(
        per_part, "rev_c", "l_partkey", "__rnk", descending=True
    )
    cum = distributed_prefix_sum(rnk, "__rnk", "rev_c", out_col="cum_c").drop(
        "__rnk"
    )
    tot = per_part.agg(F.sum("rev_c").cast("bigint").alias("tot_c"))
    ranked = cum.crossJoin(F.broadcast(tot))
    mean = F.col("sq") / F.col("n_lines").cast("double")
    var = (
        F.col("sqq") - F.col("sq") * F.col("sq").cast("double") / F.col("n_lines")
    ) / F.nullif(F.col("n_lines") - 1, F.lit(0))
    abc = (
        F.when(F.col("cum_c") * 10 <= F.col("tot_c") * 8, "A")
        .when(F.col("cum_c") * 100 <= F.col("tot_c") * 95, "B")
        .otherwise("C")
    )
    xyz = (
        F.when(F.col("n_lines") < 3, "Z")
        .when(var < 0.25 * mean * mean, "X")
        .when(var < mean * mean, "Y")
        .otherwise("Z")
    )
    classed = ranked.select(
        "l_partkey", "rev_c", abc.alias("abc"), xyz.alias("xyz")
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        (F.sum("rev_c").cast("bigint").cast("double") / F.lit(100.0)).alias(
            "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# q216 — Theil-Sen robust trend of monthly revenue per brand
# ---------------------------------------------------------------------------


@query(
    "q216_theilsen_trend",
    oracle="""
    WITH m AS (
      SELECT p_brand,
        CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mi,
        CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS rev
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.p_brand, (b.rev - a.rev) / (b.mi - a.mi) AS sl
      FROM m a JOIN m b ON a.p_brand = b.p_brand AND b.mi > a.mi
    ),
    med AS (
      SELECT p_brand, median(sl) AS slope FROM slopes GROUP BY p_brand
    )
    SELECT m.p_brand AS p_brand,
      CAST(count(*) AS BIGINT) AS n_months,
      round(min(med.slope), 6) AS theil_slope,
      round(median(m.rev - med.slope * m.mi), 6) AS theil_intercept
    FROM m JOIN med ON m.p_brand = med.p_brand
    GROUP BY m.p_brand
    """,
)
def q216_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen ROBUST trend estimator per brand — median of all
    pairwise slopes of (month-index, monthly-revenue) points, with
    intercept = median(y − slope·x). The outlier-resistant sibling of
    q143's least-squares fit (breakdown point ~29% vs 0%): one
    promotional-spike month cannot drag the slope.

    Scale shape: the pairwise self-join runs over the MONTHLY
    AGGREGATE, never the fact table — per brand the pair count is
    bounded by the calendar span squared (~84² at any data size), so
    the quadratic lives on a few thousand rows per key while the
    100 TB of lineitem passes through one ordinary groupBy. That
    aggregate is walked THREE times (both pair sides + the intercept
    pass), so it is persisted through the dedup cache registry —
    without it the plan re-scans the fact table per walk (caught by
    tests/test_plan_shapes.py::test_q216_...). The 25-row slope table
    broadcasts back for the intercept median. Divisions are
    double-precision with exact integer denominators; rounded to 6 to
    absorb sum-order noise in the monthly aggregate."""
    from sales_data_pipeline_spark.operators.dedup import _persist

    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = _persist(
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("mi"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("rev")
        )
    )
    a = m.select(
        F.col("p_brand"), F.col("mi").alias("mi_a"), F.col("rev").alias("rev_a")
    )
    b = m.select(
        F.col("p_brand"), F.col("mi").alias("mi_b"), F.col("rev").alias("rev_b")
    )
    slopes = a.join(b, ["p_brand"]).filter(F.col("mi_b") > F.col("mi_a")).select(
        "p_brand",
        (
            (F.col("rev_b") - F.col("rev_a")) / (F.col("mi_b") - F.col("mi_a"))
        ).alias("sl"),
    )
    med = slopes.groupBy("p_brand").agg(F.median("sl").alias("slope"))
    return (
        m.join(F.broadcast(med), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_months"),
            F.round(F.min("slope"), 6).alias("theil_slope"),
            F.round(
                F.median(F.col("rev") - F.col("slope") * F.col("mi")), 6
            ).alias("theil_intercept"),
        )
    )


# ---------------------------------------------------------------------------
# q217 — co-purchase item-item similarity (basket analysis)
# ---------------------------------------------------------------------------


@query(
    "q217_copurchase_similarity",
    oracle="""
    WITH d AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM d GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS cooc
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT part_a, part_b, cooc,
      round(cooc / sqrt(na.n_orders * nb.n_orders), 6) AS cosine
    FROM pairs
    JOIN n na ON na.l_partkey = part_a
    JOIN n nb ON nb.l_partkey = part_b
    """,
)
def q217_copurchase_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity from co-purchase
    baskets: orders are baskets, parts are items, cosine =
    cooc(a,b) / √(n_a·n_b) over order sets, kept where cooc ≥ 2 —
    the classic Amazon-style 'bought together' matrix as one
    DataFrame program.

    Scale shape: the within-basket self-join explodes each order into
    C(lines,2) pairs — TPC-H baskets are ≤ 7 lines, real carts are
    similarly bounded, so pair volume is LINEAR in orders (≤ 21×),
    never |items|². The join key is l_orderkey (equi, shuffle
    co-partitioned), pair counting is an ordinary mergeable groupBy,
    and the per-item order counts join back on part key — AQE picks
    broadcast when the item dim fits. A pathological mega-basket
    would need a per-basket line cap (cf. domain_cap, q78) before the
    self-join; documented rather than silently applied."""
    d = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = d.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    a = d.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = d.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cooc"))
        .filter(F.col("cooc") >= 2)
    )
    na = n.select(F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("na"))
    nb = n.select(F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("nb"))
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            "cooc",
            F.round(
                F.col("cooc") / F.sqrt(F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# q220 — Zipf-law fit over the corpus vocabulary head
# ---------------------------------------------------------------------------


@query(
    "q220_zipf_fit",
    oracle="""
    WITH c AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
      ORDER BY n DESC, tok
      LIMIT 1000
    ),
    r AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM c
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
      round(regr_slope(ln(n), ln(rnk)), 6) AS zipf_slope,
      round(regr_intercept(ln(n), ln(rnk)), 6) AS zipf_intercept,
      round(regr_r2(ln(n), ln(rnk)), 6) AS zipf_r2
    FROM r
    """,
)
def q220_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic of the corpus: fit log(freq) ~ log(rank)
    over the top-1000 vocabulary and report the slope (natural text
    sits near −1; a corpus of boilerplate or template spam deviates
    hard — this is a cheap corpus-health number next to q56's entropy
    and q53's repetition stats).

    Scale shape: token counting is the q51 plan (explode collapses
    into map-side partial agg), the head selection is
    TakeOrderedAndProject (per-partition top-k, no global sort of the
    vocabulary), and ONLY the 1000 survivors see the rank window —
    a bounded single-partition window by construction, the same
    post-limit pattern as q172's BM25 rerank. Counts are integers,
    ln/regression in float64, rounded to 6."""
    docs = table(spark, sf_dir, "documents")
    top = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(1000)
    )
    w = Window.orderBy(F.col("n").desc(), "tok")
    r = top.select("n", F.row_number().over(w).alias("rnk"))
    lx, ly = F.log(F.col("rnk").cast("double")), F.log(F.col("n").cast("double"))
    return r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(F.regr_slope(ly, lx), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ly, lx), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(ly, lx), 6).alias("zipf_r2"),
    )


# ---------------------------------------------------------------------------
# q221 — in-database logistic regression (IRLS, distributed moments)
# ---------------------------------------------------------------------------


@query("q221_logit_fit", oracle=None)
def q221_logit_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression fitted INSIDE the engine. Eight Newton/IRLS
    steps, each ONE codegen aggregation of the p(p+3)/2 moment sums —
    the fit never collects a row (operators/regression.py
    logistic_fit; same sufficient-statistics shape as pca_fit).
    Output: one row per coefficient with its log-odds value, plus the
    model's training accuracy at the 0.5 cut computed by a
    literal-baked scoring pass (logistic_score — map-side, no Python).

    The label is PLANTED: the synthetic fact table's columns are
    independently drawn (measured corr ≈ 0 between every natural
    pair), so a natural label would only exercise the null model.
    Instead y = 1{1.5·q̃ − 1.0·d̃ + ε > 0} with standardized quantity
    q̃ / discount d̃ and ε a deterministic LOGISTIC noise draw from
    xxhash64(orderkey, linenumber) — i.e. data generated exactly by a
    logistic model with known β, reproducible across runs and
    engines. The fit must recover β's signs and rough magnitudes,
    and beat the majority baseline — which is what the covering tests
    pin, alongside coefficient equality vs a numpy IRLS on the
    collected sample (tests/test_properties.py::test_logistic_*).

    oracle=None: IRLS isn't one SQL statement. Rounded to 4 — Newton
    amplifies moment-sum partition noise through a solve."""
    from sales_data_pipeline_spark.operators.regression import (
        logistic_fit,
        logistic_score,
    )

    u = (
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber", F.lit(221)), F.lit(10000))
        .cast("double")
        + 0.5
    ) / 10000.0
    noise = F.log(u / (F.lit(1.0) - u))  # standard logistic draw
    qs = (F.col("l_quantity").cast("double") - 25.5) / 14.43
    ds = (F.col("l_discount").cast("double") - 0.05) / 0.0316
    li = table(spark, sf_dir, "lineitem").select(
        ((F.lit(1.5) * qs - F.lit(1.0) * ds + noise) > 0)
        .cast("double")
        .alias("label"),
        qs.alias("quantity_std"),
        ds.alias("discount_std"),
    )
    fit = logistic_fit(li, "label", ["quantity_std", "discount_std"])
    scored = logistic_score(li, fit)
    acc = (
        scored.select(
            F.avg(
                ((F.col("p_hat") >= 0.5).cast("double") == F.col("label"))
                .cast("double")
            ).alias("a")
        ).first()["a"]
    )
    rows = [("intercept", float(fit.beta[0]))] + [
        (name, float(b)) for name, b in zip(fit.features, fit.beta[1:])
    ]
    out = spark.createDataFrame(rows, "term string, coefficient double")
    return out.select(
        "term",
        F.round("coefficient", 4).alias("coefficient"),
        F.round(F.lit(acc), 4).alias("train_accuracy"),
        F.lit(fit.n).cast("bigint").alias("n_rows"),
    ).orderBy("term")


# ---------------------------------------------------------------------------
# q222 — chi-square independence test (ship mode × return flag)
# ---------------------------------------------------------------------------


@query(
    "q222_flag_status_chi2",
    oracle="""
    WITH o AS (
      SELECT l_linestatus AS m, l_returnflag AS f,
             CAST(count(*) AS DOUBLE) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    rt AS (SELECT m, sum(c) AS rc FROM o GROUP BY m),
    ct AS (SELECT f, sum(c) AS cc FROM o GROUP BY f),
    tot AS (SELECT sum(c) AS nn FROM o)
    SELECT
      round(sum(pow(o.c - rt.rc * ct.cc / tot.nn, 2)
                / (rt.rc * ct.cc / tot.nn)), 6) AS chi2,
      CAST((count(DISTINCT o.m) - 1) * (count(DISTINCT o.f) - 1) AS BIGINT)
        AS dof,
      CAST(min(tot.nn) AS BIGINT) AS n
    FROM o JOIN rt USING (m) JOIN ct USING (f) CROSS JOIN tot
    """,
)
def q222_flag_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between line status and
    return flag (the two categorical flags in the fact table; the
    synthetic generator draws them independently, so the statistic
    lands near its dof — a live NEGATIVE control showing the test is
    calibrated, χ²≈0.1 at dof 2 at sf0.01) — the categorical-association member of the stats
    toolkit (q125 moments, q143/q216 trends, q137 Benford). One
    grouped count builds the contingency table (|modes|×|flags| ≈ 21
    cells at ANY data scale — the fact table collapses at the first
    mergeable agg); marginals and the χ² fold run over those few
    cells, with expected counts in float64 BEFORE the rc·cc product
    so marginal products can't overflow int64 at 100 TB. dof =
    (r−1)(c−1); compare χ² to the quantile offline."""
    o = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_linestatus").alias("m"), F.col("l_returnflag").alias("f")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    rt = o.groupBy("m").agg(F.sum("c").alias("rc"))
    ct = o.groupBy("f").agg(F.sum("c").alias("cc"))
    tot = o.agg(F.sum("c").alias("nn"))
    j = o.join(F.broadcast(rt), "m").join(F.broadcast(ct), "f").crossJoin(
        F.broadcast(tot)
    )
    e = F.col("rc") * F.col("cc") / F.col("nn")
    return j.agg(
        F.round(F.sum(F.pow(F.col("c") - e, 2) / e), 6).alias("chi2"),
        (
            (F.count_distinct("m") - 1) * (F.count_distinct("f") - 1)
        ).cast("bigint").alias("dof"),
        F.min("nn").cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# q223 — Mann-Whitney U test (nonparametric two-sample comparison)
# ---------------------------------------------------------------------------


@query(
    "q223_mannwhitney_quantity",
    oracle="""
    WITH s AS (
      SELECT l_quantity AS v, l_returnflag AS g FROM lineitem
      WHERE l_returnflag IN ('R', 'N')
    ),
    ca AS (SELECT v, CAST(count(*) AS DOUBLE) AS c FROM s WHERE g = 'R' GROUP BY v),
    cb AS (SELECT v, CAST(count(*) AS DOUBLE) AS c FROM s WHERE g = 'N' GROUP BY v),
    u AS (
      SELECT sum(CASE WHEN ca.v > cb.v THEN ca.c * cb.c ELSE 0 END)
             + 0.5 * sum(CASE WHEN ca.v = cb.v THEN ca.c * cb.c ELSE 0 END) AS ustat
      FROM ca CROSS JOIN cb
    ),
    nn AS (
      SELECT sum(CASE WHEN g = 'R' THEN 1.0 ELSE 0 END) AS n1,
             sum(CASE WHEN g = 'N' THEN 1.0 ELSE 0 END) AS n2
      FROM s
    ),
    ties AS (
      SELECT sum(t * t * t - t) AS tsum
      FROM (SELECT CAST(count(*) AS DOUBLE) AS t FROM s GROUP BY v)
    )
    SELECT round(u.ustat, 1) AS u_stat,
      round((u.ustat - n1 * n2 / 2)
            / sqrt(n1 * n2 / 12 * ((n1 + n2 + 1) - tsum
                   / ((n1 + n2) * (n1 + n2 - 1)))), 6) AS z_score,
      CAST(n1 AS BIGINT) AS n_r, CAST(n2 AS BIGINT) AS n_n
    FROM u CROSS JOIN nn CROSS JOIN ties
    """,
)
def q223_mannwhitney_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test comparing the l_quantity distribution of
    returned vs non-returned lines — the nonparametric two-sample
    member of the stats toolkit (q222 chi-square for categorical ×
    categorical, this for ordinal × binary), tie-corrected normal
    approximation.

    Scale shape: the naive formulation ranks the pooled sample — a
    global sort. This one exploits DISCRETENESS instead: U = Σ over
    value pairs of cA·cB[vA>vB] + ½·cA·cB[vA=vB], so the fact table
    collapses to two per-value count tables (≤|distinct quantities| ≈
    50 rows each at ANY scale) and the quadratic runs on a ~50×50
    broadcast cross of counts. The tie-correction Σ(t³−t) is another
    bounded per-value aggregate. Counts are exact integers in
    float64; one division/sqrt at the end, rounded to 6."""
    s = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("R", "N"))
        .select(F.col("l_quantity").alias("v"), F.col("l_returnflag").alias("g"))
    )
    ca = (
        s.filter(F.col("g") == "R")
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    cb = (
        s.filter(F.col("g") == "N")
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    u = (
        ca.select(F.col("v").alias("va"), F.col("c").alias("canb"))
        .crossJoin(
            F.broadcast(cb.select(F.col("v").alias("vb"), F.col("c").alias("cbnb")))
        )
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("va") > F.col("vb"), F.col("canb") * F.col("cbnb")
                    ).otherwise(0.0)
                )
                + 0.5
                * F.sum(
                    F.when(
                        F.col("va") == F.col("vb"), F.col("canb") * F.col("cbnb")
                    ).otherwise(0.0)
                )
            ).alias("ustat")
        )
    )
    nn = s.agg(
        F.sum(F.when(F.col("g") == "R", 1.0).otherwise(0.0)).alias("n1"),
        F.sum(F.when(F.col("g") == "N", 1.0).otherwise(0.0)).alias("n2"),
    )
    ties = (
        s.groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("t"))
        .agg(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tsum"))
    )
    j = u.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
    n1, n2 = F.col("n1"), F.col("n2")
    var = (
        n1 * n2 / 12
        * ((n1 + n2 + 1) - F.col("tsum") / ((n1 + n2) * (n1 + n2 - 1)))
    )
    return j.select(
        F.round("ustat", 1).alias("u_stat"),
        F.round((F.col("ustat") - n1 * n2 / 2) / F.sqrt(var), 6).alias("z_score"),
        n1.cast("bigint").alias("n_r"),
        n2.cast("bigint").alias("n_n"),
    )


# ---------------------------------------------------------------------------
# q225 — HyperLogLog distinct customers (mergeable cardinality sketch)
# ---------------------------------------------------------------------------


@query("q225_hll_distinct", oracle=None)
def q225_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ordering customers counted three ways: exact
    count_distinct, Spark's approx_count_distinct, and this engine's
    own HyperLogLog register table (operators/sketch.py hll_build /
    hll_estimate) — the from-scratch HLL exists because a REGISTER
    TABLE is mergeable across runs: union+max yesterday's 2^p rows
    with today's for a rolling distinct with no history re-scan,
    the same reason count-min (q98) and Bloom (q219) are tables.
    Register build is one mergeable groupBy-max of ≤ 2^p tiny rows;
    ρ is computed with an integer binary ladder (no float log near
    the 50-bit cliff). oracle=None: xxhash64 registers aren't
    rebuildable in DuckDB; tests pin the estimate within the
    published 1.04/√m error envelope of exact, and register
    mergeability (tests/test_scale.py::test_hll_*). Deterministic:
    seeded hash, integer registers, fixed bias constants."""
    from sales_data_pipeline_spark.operators.sketch import hll_build, hll_estimate

    orders = table(spark, sf_dir, "orders")
    p = 12
    regs = hll_build(orders, "o_custkey", p=p)
    est = hll_estimate(regs, p=p).first()["estimate"]
    exact_df = orders.agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact"),
        F.approx_count_distinct("o_custkey").cast("bigint").alias("spark_approx"),
    )
    return exact_df.select(
        "exact",
        "spark_approx",
        F.round(F.lit(est), 2).alias("hll_estimate"),
        F.round(
            F.abs(F.lit(est) - F.col("exact")) / F.col("exact"), 4
        ).alias("hll_rel_err"),
    )


# ---------------------------------------------------------------------------
# q251 — HLL envelope check (exact small-domain oracle sibling of q225)
# ---------------------------------------------------------------------------


@query(
    "q251_hll_envelope_check",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS within_envelope
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def q251_hll_envelope_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for the HLL estimator: per
    order priority, the EXACT distinct-customer count (oracled — DuckDB
    COUNT(DISTINCT)) alongside a boolean asserting this engine's
    grouped HLL estimate (operators/sketch.hll_group_registers +
    per-row estimate expression, p=12) lands within 5·RSE of exact —
    the same envelope tests/test_scale.py::test_hll_estimate_within_
    error_envelope pins, but emitted as oracle-comparable ROWS so the
    external correctness gate sees the estimator's honesty, not just
    the suite (oracle asserts within_envelope = TRUE; a drifting
    estimator hash-mismatches). Deterministic: seeded xxhash64,
    integer registers — a pass at a given SF is a permanent pass.
    Scale shape: one linear pass to |groups|·2^p register rows, the
    exact tier is one count_distinct groupBy; both single-shuffle."""
    from sales_data_pipeline_spark.operators.sketch import (
        _hll_estimate_expr,
        hll_group_registers,
    )

    orders = table(spark, sf_dir, "orders")
    p = 12
    est = hll_group_registers(orders, "o_orderpriority", "o_custkey", p=p).select(
        F.col("group").alias("priority"),
        _hll_estimate_expr(F.col("regs"), p).alias("est"),
    )
    exact = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact_distinct")
    )
    bound = 5 * 1.04 / (1 << p) ** 0.5
    return (
        exact.join(est, "priority")
        .select(
            "priority",
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= F.lit(bound)
            ).alias("within_envelope"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q228 — QQ decile table (two-sample distribution comparison)
# ---------------------------------------------------------------------------


@query(
    "q228_brand_price_qq",
    oracle="""
    WITH s AS (
      SELECT p_brand AS b, l_extendedprice AS v,
             l_orderkey AS k1, l_linenumber AS k2
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand IN ('Brand#11', 'Brand#22')
    ),
    r AS (
      SELECT b, v,
        row_number() OVER (PARTITION BY b ORDER BY v, k1, k2) AS rn,
        count(*) OVER (PARTITION BY b) AS n
      FROM s
    ),
    q AS (
      SELECT b, g.k AS decile, v
      FROM r, unnest(generate_series(1, 9)) AS g(k)
      WHERE rn = (g.k * (n - 1)) // 10 + 1
    )
    SELECT a.decile,
      CAST(a.v AS DOUBLE) AS brand11_price,
      CAST(c.v AS DOUBLE) AS brand22_price
    FROM q a JOIN q c ON a.decile = c.decile
    WHERE a.b = 'Brand#11' AND c.b = 'Brand#22'
    """,
)
def q228_brand_price_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ table comparing two brands' price distributions at the nine
    deciles — the visual two-sample complement of q223's Mann-Whitney
    (equal distributions ⇒ the QQ points sit on the diagonal).

    Engine-exact by construction: decile values are ORDER STATISTICS
    selected by row_number with a total tie-break (never interpolated
    percentiles, whose arithmetic differs cross-engine in last bits),
    and the target ranks use integer-exact ⌊k(n−1)/10⌋+1 (never
    float k/10·n, which misrounds exactly at multiples — the
    q153/q158 lesson). The per-brand sort is a partitioned window
    over the two selected brands; at extreme scale swap in
    percentile_approx or distributed_prefix_sum (operators/scale.py)
    — the exact form stays as the oracle anchor, the q140/q145
    pattern."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.col("p_brand").isin("Brand#11", "Brand#22"))
        .select(
            F.col("p_brand").alias("b"),
            F.col("l_extendedprice").alias("v"),
            F.col("l_orderkey").alias("k1"),
            F.col("l_linenumber").alias("k2"),
        )
    )
    w = Window.partitionBy("b").orderBy("v", "k1", "k2")
    r = s.select(
        "b",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("b")).alias("n"),
    )
    ks = F.explode(F.sequence(F.lit(1), F.lit(9))).alias("decile")
    q = r.select("b", "v", "rn", "n").select(
        "b", "v", "rn", "n", ks
    ).filter(
        # integer `div`, not floor(double /): bigint/int division in
        # Spark is a DOUBLE, exact only while decile*(n-1) stays within
        # double's correctly-rounded range (~2^49) — `div` matches the
        # oracle's integer // at any scale
        F.col("rn")
        == F.expr("(decile * (n - 1)) div 10") + 1
    )
    a = q.filter(F.col("b") == "Brand#11").select(
        "decile", F.col("v").cast("double").alias("brand11_price")
    )
    c = q.filter(F.col("b") == "Brand#22").select(
        "decile", F.col("v").cast("double").alias("brand22_price")
    )
    return a.join(c, "decile")


# ---------------------------------------------------------------------------
# q229 — classical seasonal decomposition of monthly revenue
# ---------------------------------------------------------------------------


@query(
    "q229_seasonal_decomposition",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS mi,
             month(o_orderdate) AS moy,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                            AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2
    ),
    t AS (
      SELECT mi, moy, rev_c,
        sum(rev_c) OVER w AS wsum_c,
        count(*) OVER w AS n_win
      FROM m
      WINDOW w AS (ORDER BY mi ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
    )
    SELECT moy AS month_of_year,
      CAST(count(*) AS BIGINT) AS n_months,
      (CAST(sum(rev_c) AS DOUBLE) / count(*)
        - CAST(sum(wsum_c) AS DOUBLE) / (13 * count(*))) / 100
        AS seasonal_index,
      CAST(sum(rev_c) AS DOUBLE) / (count(*) * 100) AS mean_revenue
    FROM t WHERE n_win = 13
    GROUP BY moy
    """,
)
def q229_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of monthly revenue:
    trend = centered 13-month moving average (full windows only, so
    the series' ragged ends never bias the seasonal estimate),
    seasonal index = mean detrended deviation per month-of-year — the
    decomposition q141's one-shot seasonal index approximates without
    detrending first, and the input a forecaster subtracts before
    fitting q209's Holt.

    Scale shape: the 100 TB fact table collapses at the FIRST
    aggregate to ≤ |calendar months| rows (~80 at any data size); the
    ordered full-window moving average then runs over that bounded
    series — the documented tiny-aggregate exception to the
    no-global-window rule (q135/q140 discussion).

    Bitwise determinism: everything stays INTEGER CENTS until two
    final divisions by exact integer denominators. The naive
    avg-of-double form hit the cross-engine tie-rounding class at
    sf0.01 (round(…, 2) of a partition-order-noisy double sitting on
    a .xx5 boundary — Spark rounds the shortest decimal string,
    DuckDB the binary value); with exact integer sums both engines
    compute identical doubles, so NO rounding is applied at all —
    the linearity avg(rev−trend) = avg(rev) − Σwindow/(13·n) is what
    removes the double-summation."""
    m = (
        table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mi"),
            F.month("o_orderdate").alias("moy"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("bigint")
            ).alias("rev_c")
        )
    )
    w = Window.orderBy("mi").rowsBetween(-6, 6)
    t = m.select(
        "moy",
        "rev_c",
        F.sum("rev_c").over(w).alias("wsum_c"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    ).filter(F.col("n_win") == 13)
    n = F.count(F.lit(1))
    return t.groupBy(F.col("moy").alias("month_of_year")).agg(
        n.cast("bigint").alias("n_months"),
        (
            (
                F.sum("rev_c").cast("double") / n
                - F.sum("wsum_c").cast("double") / (n * 13)
            )
            / 100
        ).alias("seasonal_index"),
        (F.sum("rev_c").cast("double") / (n * 100)).alias("mean_revenue"),
    )


# ---------------------------------------------------------------------------
# q230 — model gains table (decile lift of the in-database logit)
# ---------------------------------------------------------------------------


@query("q230_logit_gains", oracle=None)
def q230_logit_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table for q221's in-database logistic model: score
    every row (literal-baked sigmoid, map-side), bucket into score
    deciles, and report each decile's positive rate and lift over the
    base rate — the standard campaign-targeting evaluation, computed
    without the data ever leaving the engine.

    Deciles come from percentile_approx cut-points broadcast back as
    literals (the q145 scale pattern — never an ntile over a global
    sort); ties at a cut-point fall to the lower bucket
    deterministically. oracle=None: inherits q221's IRLS fit.
    Covering test pins the planted-signal ordering: lift must be
    monotone-ish with top decile > 1 > bottom decile
    (tests/test_properties.py::test_logit_gains_*). Rounded to 4."""
    from sales_data_pipeline_spark.operators.regression import (
        logistic_fit,
        logistic_score,
    )

    u = (
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber", F.lit(221)), F.lit(10000))
        .cast("double")
        + 0.5
    ) / 10000.0
    noise = F.log(u / (F.lit(1.0) - u))
    qs = (F.col("l_quantity").cast("double") - 25.5) / 14.43
    ds = (F.col("l_discount").cast("double") - 0.05) / 0.0316
    li = table(spark, sf_dir, "lineitem").select(
        ((F.lit(1.5) * qs - F.lit(1.0) * ds + noise) > 0)
        .cast("double")
        .alias("label"),
        qs.alias("quantity_std"),
        ds.alias("discount_std"),
    )
    fit = logistic_fit(li, "label", ["quantity_std", "discount_std"])
    scored = logistic_score(li, fit)
    cuts = scored.agg(
        F.percentile_approx(
            "p_hat", [i / 10.0 for i in range(1, 10)], 100_000
        ).alias("c")
    ).first()["c"]
    bucket = F.lit(1)
    for c in cuts:
        bucket = bucket + (F.col("p_hat") > F.lit(float(c))).cast("int")
    base = scored.agg(F.avg("label")).first()[0]
    return (
        scored.withColumn("decile", bucket.cast("bigint"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.avg("label"), 4).alias("positive_rate"),
            F.round(F.avg("label") / F.lit(float(base)), 4).alias("lift"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q235 — Gini at scale: Lorenz-trapezoid estimate from approx deciles
# ---------------------------------------------------------------------------


@query("q235_spend_gini_approx")  # approx cut-points: rows-only check
def q235_spend_gini_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE form of q135's Gini: instead of ranking every customer in
    one global window (a single-partition sort at 10⁸–10⁹ customers),
    bucket spends by percentile_approx cut-points (19 boundaries,
    broadcast as one row — the q176/q145 recipe) and integrate the
    Lorenz curve by trapezoids over the ≤20-row bucket aggregate:
    G ≈ 1 − Σ wᵢ·(Lᵢ₋₁ + Lᵢ), where wᵢ is bucket i's population share
    and Lᵢ the cumulative spend share. The only window runs over the
    bounded bucket table (the q229 tiny-aggregate exception); the fact
    table sees one map-side-combined groupBy plus one broadcast-join
    scan — no global sort anywhere. Converges to the exact Gini from
    below as the grid refines (trapezoid inscribes the convex Lorenz
    curve); q135 stays the exactness anchor. Covering checks:
    tests/test_scale.py::test_gini_approx_* (close to q135's exact
    value at test scale, bounds respected, windowless-over-data plan
    — all in tests/test_scale.py)."""
    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("x")
    )
    qs = [i / 20.0 for i in range(1, 20)]
    cuts = spend.agg(F.percentile_approx("x", qs, 10_000).alias("c"))
    bucket = F.lit(0)
    for i in range(19):
        bucket = bucket + (F.col("x") > F.col("c")[i]).cast("int")
    per = (
        spend.crossJoin(F.broadcast(cuts))
        .select(bucket.cast("bigint").alias("bucket"), "x")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("x").alias("bucket_spend"),
        )
    )
    tot = per.agg(
        F.sum("n_customers").alias("n_total"),
        F.sum("bucket_spend").alias("spend_total"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    lorenz = per.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (F.col("n_customers") / F.col("n_total")).alias("w"),
        (F.sum("bucket_spend").over(w_cum) / F.col("spend_total")).alias("L"),
        F.col("n_total"),
        F.col("spend_total"),
    )
    w_lag = Window.orderBy("bucket")
    return lorenz.select(
        "n_total",
        "spend_total",
        "w",
        "L",
        F.coalesce(F.lag("L").over(w_lag), F.lit(0.0)).alias("L_prev"),
    ).agg(
        F.max("n_total").cast("bigint").alias("n_customers"),
        F.round(F.max("spend_total"), 2).alias("total_spend"),
        F.round(
            F.lit(1.0) - F.sum(F.col("w") * (F.col("L_prev") + F.col("L"))), 6
        ).alias("gini_approx"),
    )


# ---------------------------------------------------------------------------
# q236 — QQ table at scale: percentile_approx deciles, windowless
# ---------------------------------------------------------------------------


@query("q236_brand_price_qq_approx")  # approx deciles: rows-only check
def q236_brand_price_qq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE form of q228's QQ table: per-brand deciles from ONE
    percentile_approx aggregate instead of per-brand row_number sorts
    (each a single-partition window once a brand's rows concentrate).
    The whole query is two map-side-combined aggregations and a
    1-row×1-row join — no window, no sort, no shuffle wider than the
    two-brand filter's output. Greenwald-Khanna ε moves each decile by
    at most ε·n ranks, so the QQ points converge to q228's exact order
    statistics as accuracy rises; q228 stays the oracle anchor.
    Covering checks: tests/test_scale.py::test_qq_approx_* (deciles
    monotone, within data range, near the exact table at test scale,
    plus the no-window plan assertion)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.col("p_brand").isin("Brand#11", "Brand#22"))
        .select("p_brand", F.col("l_extendedprice").cast("double").alias("v"))
    )
    qs = [i / 10.0 for i in range(1, 10)]
    cuts = (
        s.groupBy("p_brand")
        .agg(F.percentile_approx("v", qs, 10_000).alias("c"))
    )
    exploded = cuts.select(
        "p_brand", F.posexplode("c").alias("pos", "price")
    ).select(
        "p_brand", (F.col("pos") + 1).cast("bigint").alias("decile"), "price"
    )
    a = exploded.filter(F.col("p_brand") == "Brand#11").select(
        "decile", F.col("price").alias("brand11_price")
    )
    c = exploded.filter(F.col("p_brand") == "Brand#22").select(
        "decile", F.col("price").alias("brand22_price")
    )
    return a.join(c, "decile").orderBy("decile")


# ---------------------------------------------------------------------------
# q237 — dominant-supplier screen (TPC-H Q20 shape, adapted: no partsupp)
# ---------------------------------------------------------------------------


@query(
    "q237_dominant_suppliers",
    oracle="""
    WITH sp AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sup_qty
      FROM lineitem WHERE year(l_shipdate) = 1996
      GROUP BY 1, 2
    ),
    pt AS (
      SELECT l_partkey, CAST(SUM(sup_qty) AS BIGINT) AS part_qty
      FROM sp GROUP BY 1
    )
    SELECT s.s_name,
           CAST(count(*) AS BIGINT) AS n_dominated_parts,
           CAST(SUM(sp.sup_qty) AS BIGINT) AS dominated_qty
    FROM sp JOIN pt ON sp.l_partkey = pt.l_partkey
    JOIN supplier s ON s.s_suppkey = sp.l_suppkey
    WHERE 2 * sp.sup_qty > pt.part_qty
    GROUP BY s.s_name
    ORDER BY s.s_name
    """,
)
def q237_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped MORE THAN HALF of some part's 1996 volume
    — the single-source-risk screen a procurement team runs, and the
    TPC-H Q20 shape (correlated `> 0.5 * SUM(...)` threshold per
    part/supplier) decorrelated the way Q20 should be at scale: one
    map-side-combined groupBy to (part, supplier) sums, a reaggregate
    to part totals (second agg runs over the FIRST aggregate, never
    the fact table twice), an equi-join between the two aggregates,
    and a broadcast of the bounded supplier dim for names. The
    `2·sup > part` predicate stays in exact BIGINTs (never `0.5 *`,
    whose decimal-vs-double literal parse diverges cross-engine — the
    q153 lesson). The year filter is written as a TIMESTAMP RANGE,
    not year()=1996: a function over the column defeats parquet
    row-group pruning, the range reaches the scan as PushedFilters —
    at 100 TB that is the difference between scanning one year and
    scanning the table (plan-shape test pins it). Reference has no
    analytics; engine extension (SURVEY §2k)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sup_qty")
    )
    pt = sp.groupBy("l_partkey").agg(F.sum("sup_qty").alias("part_qty"))
    supplier = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sp.join(pt, "l_partkey")
        .filter(F.lit(2) * F.col("sup_qty") > F.col("part_qty"))
        .join(F.broadcast(supplier), sp.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dominated_parts"),
            F.sum("sup_qty").cast("bigint").alias("dominated_qty"),
        )
    )  # unordered: |suppliers| scales with the catalog


# ---------------------------------------------------------------------------
# q238 — discount elasticity of demand per brand (closed-form OLS)
# ---------------------------------------------------------------------------


@query(
    "q238_discount_elasticity",
    oracle="""
    WITH pts AS (
      SELECT p_brand,
        CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS d,
        CAST(l_quantity AS BIGINT) AS q
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    m AS (
      SELECT p_brand,
        CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(d) AS BIGINT) AS sd,
        CAST(SUM(q) AS BIGINT) AS sq,
        CAST(SUM(d * q) AS BIGINT) AS sdq,
        CAST(SUM(d * d) AS BIGINT) AS sdd
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand, n AS n_lines,
      CAST(n * sdq - sd * sq AS DOUBLE)
        / CAST(n * sdd - sd * sd AS DOUBLE) AS qty_per_discount_pct
    FROM m WHERE n * sdd - sd * sd != 0
    ORDER BY p_brand
    """,
)
def q238_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-weighted OLS slope of quantity on discount level per brand
    — does discounting actually move volume for this brand? (The
    merchandising follow-up to q143's price trend, on the discount
    axis.) Numerics: discount becomes an INTEGER percent through the
    decimal-cent pattern (CAST(dec(4,2))*100 → BIGINT — double*100
    truncation diverges cross-engine, the q229 lesson), quantities are
    integral; every OLS moment (Σd, Σq, Σdq, Σd²) is an exact BIGINT
    sum, and the slope is ONE double division of exact integers —
    bitwise identical in both engines with no rounding step (q149/q162
    closed-form discipline). Plan: one broadcast join (bounded part
    dim), one map-side-combined groupBy to |brands| rows. Zero-variance
    brands (single discount level) are excluded exactly."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        (F.col("l_discount").cast("decimal(4,2)") * 100)
        .cast("bigint")
        .alias("d"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    m = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("d") * F.col("q")).cast("bigint").alias("sdq"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
    )
    denom = F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")
    return (
        m.filter(denom != 0)
        .select(
            "p_brand",
            F.col("n").alias("n_lines"),
            (
                (F.col("n") * F.col("sdq") - F.col("sd") * F.col("sq")).cast(
                    "double"
                )
                / denom.cast("double")
            ).alias("qty_per_discount_pct"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q239 — co-purchase link prediction (common-neighbor score)
# ---------------------------------------------------------------------------


@query(
    "q239_link_prediction",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS (
      SELECT pa, pb FROM e UNION ALL SELECT pb, pa FROM e
    ),
    cand AS (
      SELECT x.pa AS a, y.pb AS c,
             CAST(count(DISTINCT x.pb) AS BIGINT) AS common_neighbors
      FROM und x JOIN und y ON x.pb = y.pa
      WHERE x.pa < y.pb
      GROUP BY 1, 2
    )
    SELECT a AS part_a, c AS part_b, common_neighbors
    FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = cand.a AND e.pb = cand.c)
    ORDER BY common_neighbors DESC, part_a, part_b
    LIMIT 15
    """,
)
def q239_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the co-purchase graph: part
    pairs NEVER bought together whose neighborhoods overlap most — the
    classic 'customers who bought X also bought things bought with Y'
    recommender primitive (the integer-exact member of the
    Adamic-Adar family: counts only, no 1/log(deg) floats whose libm
    last-bits differ cross-engine). Pipeline: distinct (order, part)
    incidence → basket-local pair edges kept only at SUPPORT ≥ 2
    (repeat co-purchases) → symmetric closure → 2-hop wedge join
    keyed on the shared neighbor → anti-join the direct edges →
    top-15 with a total deterministic order. The support floor is the
    load-bearing scale step, exactly as in q146's association rules:
    single-co-occurrence edges are noise AND the wedge blow-up (at
    sf0.1 it turns 1.2M edges / an OOM-ing Σdeg² into 3.6k edges /
    10k wedges — measured); after it the wedge join is linear in
    wedge count with max degree in single digits. Residual hubs at
    100 TB: degree-cap or salt the neighbor key (operators/scale.py)."""
    li = table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("pb"))
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("__sup"))
        .filter(F.col("__sup") >= 2)
        .select("pa", "pb")
    )
    und = e.unionByName(e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb")))
    x = und.select(F.col("pa").alias("a"), F.col("pb").alias("n"))
    y = und.select(F.col("pa").alias("n"), F.col("pb").alias("c"))
    cand = (
        x.join(y, "n")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count_distinct("n").cast("bigint").alias("common_neighbors"))
    )
    return (
        cand.join(
            e,
            (cand.a == e.pa) & (cand.c == e.pb),
            "left_anti",
        )
        .select(
            F.col("a").alias("part_a"),
            F.col("c").alias("part_b"),
            "common_neighbors",
        )
        .orderBy(F.desc("common_neighbors"), "part_a", "part_b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q242 — supplier-nation market share per region-year (TPC-H Q8 shape)
# ---------------------------------------------------------------------------


@query(
    "q242_market_share",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region,
             n.n_name AS nation,
             CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
             SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS nrev
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2, 3
    )
    SELECT region, nation, ship_year,
      CAST(nrev AS DOUBLE) AS nation_revenue,
      round(CAST(nrev AS DOUBLE)
            / CAST(SUM(nrev) OVER (PARTITION BY region, ship_year)
                   AS DOUBLE), 6) AS market_share
    FROM rev
    ORDER BY region, ship_year, nation
    """,
)
def q242_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each supplier-nation's share of its region's discounted revenue
    per ship year — the TPC-H Q8 'national market share' shape over
    this schema's supplier geography. Money stays DECIMAL through the
    extendedprice·(1−discount) product and the sum (double sums are
    partition-order noise — the standing money rule), becomes DOUBLE
    only at the output boundary, and each share is one double division
    of exact decimal sums over a window on the BOUNDED
    (region × nation × year) aggregate (~|nations|·|years| rows — the
    q136 tiny-aggregate window class, never a window over lineitem).
    Plan: the fact table shuffles once into the first groupBy;
    supplier/nation/region dims all broadcast."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            ).alias("nrev")
        )
    )
    w = Window.partitionBy("region", "ship_year")
    return rev.select(
        "region",
        "nation",
        "ship_year",
        F.col("nrev").cast("double").alias("nation_revenue"),
        F.round(
            F.col("nrev").cast("double") / F.sum("nrev").over(w).cast("double"),
            6,
        ).alias("market_share"),
    ).orderBy("region", "ship_year", "nation")


# ---------------------------------------------------------------------------
# q243 — burst detection (bot screen: ≥3 events inside any 30 min span)
# ---------------------------------------------------------------------------


@query(
    "q243_burst_users",
    oracle="""
    WITH g AS (
      SELECT user_id,
        epoch_us(ts) - lag(epoch_us(ts), 2)
          OVER (PARTITION BY user_id ORDER BY ts, event_id) AS span_us,
        ts
      FROM events
    )
    SELECT user_id,
      CAST(count(*) AS BIGINT) AS n_burst_points,
      strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_burst_at
    FROM g WHERE span_us <= 1800000000
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q243_burst_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse screen over the event stream: users who fired 3+
    events inside some 30-minute span (thresholds sized to this
    generator's event density; a production bot screen would run
    5-in-60s — same plan, two literals). The exact detector is the
    ORDER-STATISTIC trick — event e is a burst point iff its
    2nd-predecessor (same user, event-time order) lies within the
    span — which turns 'any k-in-window exists' into one lag(k-1) over a
    per-user window: no range self-join, no candidate explosion, and
    the window partitions by user_id so it scales as an ordinary
    keyed shuffle (millions of small per-user sorts, never a global
    one). Time stays INTEGER epoch-micros end to end (unix_micros /
    epoch_us — double seconds would drift cross-engine) with
    (ts, event_id) as the total tie-break; the first-burst timestamp
    leaves as a formatted STRING (the q84/q149 date-column parity
    rule)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    span = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts", 2).over(w))
    return (
        ev.select("user_id", "ts", span.alias("span_us"))
        .filter(F.col("span_us") <= 1_800_000_000)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_burst_points"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_burst_at"
            ),
        )
    )  # unordered: |burst users| scales with the stream


# ---------------------------------------------------------------------------
# q245 — return-rate shift test (two-proportion z, 1996 vs 1997)
# ---------------------------------------------------------------------------


@query(
    "q245_return_rate_shift",
    oracle="""
    WITH c AS (
      SELECT p_brand,
        CAST(SUM(CASE WHEN year(l_shipdate) = 1996 THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN year(l_shipdate) = 1996
                       AND l_returnflag = 'R' THEN 1 ELSE 0 END)
             AS BIGINT) AS r1,
        CAST(SUM(CASE WHEN year(l_shipdate) = 1997 THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN year(l_shipdate) = 1997
                       AND l_returnflag = 'R' THEN 1 ELSE 0 END)
             AS BIGINT) AS r2
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY p_brand
    )
    SELECT p_brand, n1 AS n_1996, n2 AS n_1997,
      CAST(r1 AS DOUBLE) / n1 AS rate_1996,
      CAST(r2 AS DOUBLE) / n2 AS rate_1997,
      (CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2)
        / sqrt((CAST(r1 + r2 AS DOUBLE) / (n1 + n2))
               * (1 - CAST(r1 + r2 AS DOUBLE) / (n1 + n2))
               * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2)) AS z
    FROM c
    WHERE n1 > 0 AND n2 > 0 AND r1 + r2 > 0 AND r1 + r2 < n1 + n2
    ORDER BY p_brand
    """,
)
def q245_return_rate_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did any brand's RETURN RATE move between 1996 and 1997? —
    two-proportion z-test per brand, the categorical companion of
    q223's Mann-Whitney. Cross-engine exactness without rounding:
    all counts are BIGINT CASE-sums off ONE map-side-combined groupBy
    (no per-year scans), each rate is one double division of exact
    integers, and the z statistic composes only IEEE
    correctly-rounded operations (±, ×, ÷, sqrt) on those
    exact-integer-derived doubles in identical written order — so
    both engines produce the identical bits with no round() step
    (the q204 sqrt discipline generalized). Degenerate brands
    (no traffic in a year, all-or-nothing returns) are excluded by
    exact integer predicates, not float epsilons."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    y = F.year("l_shipdate")
    c = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(y == 1996, 1).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(
                F.when((y == 1996) & (F.col("l_returnflag") == "R"), 1).otherwise(0)
            ).cast("bigint").alias("r1"),
            F.sum(F.when(y == 1997, 1).otherwise(0)).cast("bigint").alias("n2"),
            F.sum(
                F.when((y == 1997) & (F.col("l_returnflag") == "R"), 1).otherwise(0)
            ).cast("bigint").alias("r2"),
        )
    )
    p1 = F.col("r1").cast("double") / F.col("n1")
    p2 = F.col("r2").cast("double") / F.col("n2")
    pp = (F.col("r1") + F.col("r2")).cast("double") / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(
        pp
        * (1 - pp)
        * (
            F.lit(1).cast("double") / F.col("n1")
            + F.lit(1).cast("double") / F.col("n2")
        )
    )
    return (
        c.filter(
            (F.col("n1") > 0)
            & (F.col("n2") > 0)
            & (F.col("r1") + F.col("r2") > 0)
            & (F.col("r1") + F.col("r2") < F.col("n1") + F.col("n2"))
        )
        .select(
            "p_brand",
            F.col("n1").alias("n_1996"),
            F.col("n2").alias("n_1997"),
            p1.alias("rate_1996"),
            p2.alias("rate_1997"),
            z.alias("z"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q247 — gross margin by supplier nation-year (TPC-H Q9 shape)
# ---------------------------------------------------------------------------


@query(
    "q247_nation_gross_margin",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                    - CAST(p.p_retailprice AS DECIMAL(12,2))
                      * CAST(l.l_quantity AS BIGINT) * CAST(0.6 AS DECIMAL(3,2)))
                AS DOUBLE) AS gross_margin
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q247_nation_gross_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gross margin on 'red' parts by supplier nation and ship year
    — the TPC-H Q9 'product type profit' shape adapted to this schema
    (no partsupp table, so unit cost is the standard retail-margin
    model: 60% of p_retailprice, an exact DECIMAL(3,2) literal — both
    engines parse 0.6 as exact decimal, never a double 0.6⋯02). The
    whole margin expression stays DECIMAL through products and the
    sum (revenue minus cost per line, summed once — not two sums
    subtracted at double), cast to double only at the boundary.
    Plan: part/supplier/nation broadcast; the LIKE filter on the
    broadcast part side prunes the fact join hash table, and the fact
    table shuffles once into the (nation, year) aggregate."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey", "p_retailprice")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    margin = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ) - F.col("p_retailprice").cast("decimal(12,2)") * F.col("l_quantity").cast(
        "bigint"
    ) * F.lit("0.6").cast("decimal(3,2)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(F.sum(margin).cast("double").alias("gross_margin"))
        .orderBy("nation", "ship_year")
    )


# ---------------------------------------------------------------------------
# q249 — price dispersion decomposition (within- vs between-part variance)
# ---------------------------------------------------------------------------


@query(
    "q249_price_dispersion_decomposition",
    oracle="""
    WITH c AS (
      SELECT p_brand, l_partkey,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    per_part AS (
      SELECT p_brand, l_partkey,
        CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(cents) AS BIGINT) AS s,
        CAST(SUM(cents * cents) AS BIGINT) AS ss
      FROM c GROUP BY 1, 2
    ),
    per_brand AS (
      SELECT p_brand,
        CAST(SUM(n) AS BIGINT) AS n,
        CAST(SUM(s) AS BIGINT) AS s,
        CAST(SUM(ss) AS BIGINT) AS ss,
        list_reduce(
          list(CAST(s AS DOUBLE) * s / n ORDER BY l_partkey),
          (a, b) -> a + b) AS group_sq
      FROM per_part GROUP BY 1
    )
    SELECT p_brand, n AS n_lines,
      (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n * 10000.0)
        AS total_var,
      (CAST(ss AS DOUBLE) - group_sq) / (n * 10000.0) AS within_var,
      (group_sq - CAST(s AS DOUBLE) * s / n) / (n * 10000.0) AS between_var
    FROM per_brand
    WHERE n > 0
    ORDER BY p_brand
    """,
)
def q249_price_dispersion_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Law-of-total-variance decomposition of line-price dispersion
    per brand: total = within-part + between-part — the pricing
    question 'is this brand's price spread product mix, or
    inconsistent pricing of the SAME part?' answered in one pass.
    Numerics: prices become exact integer CENTS (the q229 decimal
    pattern), all moments (n, Σx, Σx²) are exact BIGINT sums at both
    levels, and each variance term is a closed-form expression over
    those integers with per-part s²/n as the only intermediate
    double (one division per part). Σs²/n is the one double SUM — and
    a plain aggregate sum is PARTITION-ORDER NOISE (measured: last
    bits differed per engine) — so both engines fold the per-part
    terms SEQUENTIALLY IN l_partkey ORDER: Spark aggregates a sorted
    collect_list, DuckDB list_reduce over an ORDER BY list — identical
    operand order ⟹ identical doubles, bitwise (per-brand part counts
    are bounded: parts is a dimension). The decomposition identity
    total = within + between
    holds EXACTLY by construction, not approximately — a covering
    property test asserts it bitwise. Plan: broadcast part join, two
    stacked map-side-combined groupBys (part level collapses the fact
    table first; the brand level runs over |parts| rows)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    c = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    per_part = c.groupBy("p_brand", "l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )
    term = F.struct(
        F.col("l_partkey"),
        (F.col("s").cast("double") * F.col("s") / F.col("n")).alias("t"),
    )
    per_brand = per_part.groupBy("p_brand").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
        F.sum("ss").cast("bigint").alias("ss"),
        F.aggregate(
            F.array_sort(F.collect_list(term)),
            F.lit(0.0),
            lambda acc, x: acc + x.getField("t"),
        ).alias("group_sq"),
    )
    n, s, ss, gsq = (F.col("n"), F.col("s"), F.col("ss"), F.col("group_sq"))
    return (
        per_brand.filter(n > 0)
        .select(
            "p_brand",
            n.alias("n_lines"),
            ((ss.cast("double") - s.cast("double") * s / n) / (n * 10000.0)).alias(
                "total_var"
            ),
            ((ss.cast("double") - gsq) / (n * 10000.0)).alias("within_var"),
            ((gsq - s.cast("double") * s / n) / (n * 10000.0)).alias(
                "between_var"
            ),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q253 — exact two-sample Kolmogorov–Smirnov over return flags
# ---------------------------------------------------------------------------


@query(
    "q253_ks_returnflag_price",
    oracle="""
    WITH pairs(flag_a, flag_b) AS (VALUES ('A','N'), ('A','R'), ('N','R')),
    tagged AS (
      SELECT p.flag_a, p.flag_b, l.l_extendedprice AS v, l.l_returnflag AS f
      FROM lineitem l JOIN pairs p ON l.l_returnflag IN (p.flag_a, p.flag_b)
    ),
    by_value AS (
      SELECT flag_a, flag_b, v,
             SUM(CASE WHEN f = flag_a THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN f = flag_b THEN 1 ELSE 0 END) AS cb
      FROM tagged GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT flag_a, flag_b,
             SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b,
             SUM(ca) OVER (PARTITION BY flag_a, flag_b) AS n_a,
             SUM(cb) OVER (PARTITION BY flag_a, flag_b) AS n_b
      FROM by_value
      WINDOW w AS (PARTITION BY flag_a, flag_b ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT flag_a, flag_b,
           CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b,
           MAX(ABS(CAST(cum_a AS DOUBLE) / n_a
                   - CAST(cum_b AS DOUBLE) / n_b)) AS d_stat
    FROM cum GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q253_ks_returnflag_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov D between the price
    distributions of every return-flag pair — the distribution-shift
    screen that complements q223's rank test (Mann–Whitney detects
    location shift; KS detects ANY cdf divergence). Exact and
    engine-portable by construction: D is evaluated at the pooled
    jump points (the distinct values of the union — sufficient for
    step ECDFs), using integer cumulative counts divided once per
    point (exact-int-derived doubles compare bitwise; the q229
    lesson). Scale shape: one groupBy per (pair, value) with map-side
    combine (|distinct prices| rows), then the TWO-PHASE parallel scan
    for the cumulative counts (the distributed_prefix_sum recipe, per
    pair): a naive per-pair window would put each pair's ENTIRE
    distinct-value domain through one reducer — 3 partitions, a
    near-global sort at 100 TB. Instead values are range-bucketed
    (bounds attached as a broadcast scalar, no eager job), running
    sums run per (pair, bucket) in parallel, and only the
    pairs × buckets bucket-total relation — trivially small — pays a
    per-pair offset window. The cumulative counts are identical
    integers either way, so the oracle (a plain window — fine for
    DuckDB at oracle scale) matches bitwise."""
    from sales_data_pipeline_spark.operators.dedup import _persist

    li = table(spark, sf_dir, "lineitem")
    pairs = spark.createDataFrame(
        [("A", "N"), ("A", "R"), ("N", "R")], "flag_a string, flag_b string"
    )
    tagged = li.join(
        F.broadcast(pairs),
        (F.col("l_returnflag") == F.col("flag_a"))
        | (F.col("l_returnflag") == F.col("flag_b")),
    )
    # persisted: feeds the bucketed inner scan AND the bounds scalar —
    # unpersisted, every consumer re-aggregates lineitem
    by_value = _persist(
        tagged.groupBy(
            "flag_a", "flag_b", F.col("l_extendedprice").alias("v")
        ).agg(
            F.sum(
                F.when(F.col("l_returnflag") == F.col("flag_a"), 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("l_returnflag") == F.col("flag_b"), 1).otherwise(0)
            ).alias("cb"),
        )
    )
    n_buckets = 32
    bounds = by_value.agg(F.min("v").alias("__lo"), F.max("v").alias("__hi"))
    width = F.greatest(
        (F.col("__hi") - F.col("__lo")) / n_buckets, F.lit(1e-9)
    )
    bucketed = (
        by_value.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__b",
            F.least(
                F.floor((F.col("v") - F.col("__lo")) / width).cast("int"),
                F.lit(n_buckets - 1),
            ),
        )
        .drop("__lo", "__hi")
    )
    w_in = (
        Window.partitionBy("flag_a", "flag_b", "__b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inner = bucketed.select(
        "flag_a",
        "flag_b",
        "__b",
        F.sum("ca").over(w_in).alias("run_a"),
        F.sum("cb").over(w_in).alias("run_b"),
    )
    # bucket totals = the last running value (counts are non-negative),
    # pairs × buckets rows — the only relation the offset window sorts
    totals = inner.groupBy("flag_a", "flag_b", "__b").agg(
        F.max("run_a").alias("tot_a"), F.max("run_b").alias("tot_b")
    )
    w_off = (
        Window.partitionBy("flag_a", "flag_b")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "flag_a",
        "flag_b",
        "__b",
        F.coalesce(F.sum("tot_a").over(w_off), F.lit(0)).alias("off_a"),
        F.coalesce(F.sum("tot_b").over(w_off), F.lit(0)).alias("off_b"),
    )
    n_pair = totals.groupBy("flag_a", "flag_b").agg(
        F.sum("tot_a").alias("n_a"), F.sum("tot_b").alias("n_b")
    )
    cum = (
        inner.join(F.broadcast(offsets), ["flag_a", "flag_b", "__b"])
        .join(F.broadcast(n_pair), ["flag_a", "flag_b"])
        .select(
            "flag_a",
            "flag_b",
            (F.col("run_a") + F.col("off_a")).alias("cum_a"),
            (F.col("run_b") + F.col("off_b")).alias("cum_b"),
            "n_a",
            "n_b",
        )
    )
    return (
        cum.groupBy("flag_a", "flag_b")
        .agg(
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
            F.max(
                F.abs(
                    F.col("cum_a").cast("double") / F.col("n_a")
                    - F.col("cum_b").cast("double") / F.col("n_b")
                )
            ).alias("d_stat"),
        )
        .orderBy("flag_a", "flag_b")
    )


# ---------------------------------------------------------------------------
# q254 — Z-order layout report (Morton-interleaved clustering keys)
# ---------------------------------------------------------------------------


def _morton_spread(x: Column) -> Column:
    """Spread an 8-bit value's bits to even positions (16-bit result)
    with the classic mask ladder — integer ops only, the identical
    arithmetic the DuckDB oracle runs."""
    x = x.bitwiseAND(F.lit(255))
    x = (x.bitwiseOR(x * F.lit(16))).bitwiseAND(F.lit(0x0F0F))
    x = (x.bitwiseOR(x * F.lit(4))).bitwiseAND(F.lit(0x3333))
    x = (x.bitwiseOR(x * F.lit(2))).bitwiseAND(F.lit(0x5555))
    return x


@query(
    "q254_zorder_layout",
    oracle="""
    WITH dims AS (
      SELECT (l_partkey % 256) AS d1,
             (CAST(date_diff('day', DATE '1992-01-01',
                             CAST(l_shipdate AS DATE)) AS BIGINT) % 256) AS d2
      FROM lineitem
    ),
    spread AS (
      SELECT d1, d2,
        (((((d1 | (d1 * 16)) & 3855) | (((d1 | (d1 * 16)) & 3855) * 4)) & 13107)
          | ((((((d1 | (d1 * 16)) & 3855) | (((d1 | (d1 * 16)) & 3855) * 4)) & 13107) * 2))) & 21845 AS s1,
        (((((d2 | (d2 * 16)) & 3855) | (((d2 | (d2 * 16)) & 3855) * 4)) & 13107)
          | ((((((d2 | (d2 * 16)) & 3855) | (((d2 | (d2 * 16)) & 3855) * 4)) & 13107) * 2))) & 21845 AS s2
      FROM dims
    )
    SELECT CAST((s1 | (s2 * 2)) // 256 AS BIGINT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(d1) AS BIGINT) AS min_d1, CAST(MAX(d1) AS BIGINT) AS max_d1,
           CAST(MIN(d2) AS BIGINT) AS min_d2, CAST(MAX(d2) AS BIGINT) AS max_d2
    FROM spread GROUP BY 1 ORDER BY 1
    """,
)
def q254_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering-key report over lineitem on the two
    most-filtered dimensions (part bucket × ship-day bucket): the data
    LAYOUT operator behind multi-dimension data skipping — writing a
    fact table sorted by z-value gives every file a narrow min/max
    range on BOTH dims simultaneously, so parquet row-group stats
    prune either predicate (a single-column sort gives pruning on one
    dim only). Output: per 256-wide z-bucket (a would-be file), row
    count and the min/max window of each dimension — the clustering-
    quality evidence: both per-bucket windows stay narrow (~16 wide at
    8-bit dims), where a d1-sorted layout would leave d2 windows
    spanning the full 0..255. The interleave is the classic mask-
    ladder bit spread in portable integer arithmetic (bitwiseAND/OR +
    multiplies — identical math in the DuckDB oracle, whole-stage
    codegen'd JVM-side here). Scale shape: pure map + one groupBy —
    this report is O(rows) with map-side combine; the layout write
    itself is repartitionByRange(zvalue), the standard lakehouse
    OPTIMIZE ZORDER recipe."""
    li = table(spark, sf_dir, "lineitem")
    d1 = F.pmod(F.col("l_partkey"), F.lit(256))
    d2 = F.pmod(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")),
        F.lit(256),
    ).cast("long")
    z = _morton_spread(d1).bitwiseOR(_morton_spread(d2) * F.lit(2))
    return (
        li.select(d1.alias("d1"), d2.alias("d2"), z.alias("z"))
        .groupBy((F.col("z") / 256).cast("bigint").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("d1").cast("bigint").alias("min_d1"),
            F.max("d1").cast("bigint").alias("max_d1"),
            F.min("d2").cast("bigint").alias("min_d2"),
            F.max("d2").cast("bigint").alias("max_d2"),
        )
        .orderBy("zbucket")
    )


# ---------------------------------------------------------------------------
# q256 — anti-entropy table fingerprint (order-independent xor checksum)
# ---------------------------------------------------------------------------


@query(
    "q256_table_fingerprint",
    oracle="""
    SELECT (c_custkey % 16) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(('0x' || substr(md5(
                 CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||
                 CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment
               ), 1, 13))::UBIGINT) AS BIGINT) AS fingerprint
    FROM customer GROUP BY 1 ORDER BY 1
    """,
)
def q256_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation checksum: per key-range bucket, an
    ORDER-INDEPENDENT xor fold of 52-bit md5 row hashes — the cheap
    way two replicas of a 100 TB table (lake copy vs JDBC mart, two
    regions, pre/post migration) prove byte-equality without moving
    data: ship 16 (bucket, count, fingerprint) rows, compare, and a
    mismatched bucket pinpoints WHERE to drill (recurse into that
    bucket with a finer pmod — a merkle descent, each level one scan
    of one bucket). xor is the right fold because it is commutative,
    associative, and self-inverse: partition order, shuffle order and
    re-runs cannot change it, and it map-side combines to one long per
    bucket. 52-bit md5 prefix = the repo's engine-portable hash
    currency (same construction as the q44/q66 md5 contracts; DuckDB
    computes the identical value). Columns hashed are the
    string/integer identity columns — doubles are excluded because
    cross-engine decimal RENDERING of floats diverges (the q229
    lesson applied to hashing). Operator form:
    operators/profile.table_fingerprint (order-invariance and
    single-row-sensitivity pinned in tests/test_r6_operators.py)."""
    from sales_data_pipeline_spark.operators.profile import table_fingerprint

    cust = table(spark, sf_dir, "customer")
    return table_fingerprint(
        cust,
        "c_custkey",
        ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
        n_buckets=16,
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# q260 — zone-map pruning effectiveness report (data-skipping audit)
# ---------------------------------------------------------------------------


@query(
    "q260_zonemap_pruning",
    oracle="""
    WITH tagged AS (
      SELECT 'insert_order' AS layout, l_orderkey // 4096 AS file_id,
             l_shipdate
      FROM lineitem
      UNION ALL
      SELECT 'date_clustered' AS layout,
             datediff('day', DATE '1992-01-01', l_shipdate::DATE) // 16
               AS file_id,
             l_shipdate
      FROM lineitem
    ),
    f AS (
      SELECT layout, file_id,
             COUNT(*) AS n_rows,
             MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate <  TIMESTAMP '1996-04-01'
                      THEN 1 ELSE 0 END) AS n_match
      FROM tagged GROUP BY 1, 2
    )
    SELECT layout,
           CASE
             WHEN hi <  TIMESTAMP '1996-01-01'
               OR lo >= TIMESTAMP '1996-04-01' THEN 'pruned'
             WHEN lo >= TIMESTAMP '1996-01-01'
              AND hi <  TIMESTAMP '1996-04-01' THEN 'inside'
             ELSE 'straddle'
           END AS zone_class,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS file_rows,
           CAST(SUM(n_match) AS BIGINT) AS match_rows
    FROM f GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q260_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) pruning AUDIT, as a layout A/B:
    group lineitem into would-be files under TWO layouts — insert
    order (orderkey div 4096, what a naive ingest produces) and
    date-clustered (16-day shipdate buckets, what a time-partitioned
    rewrite produces) — compute each file's shipdate min/max zone map,
    and classify every file against a quarter-range predicate exactly
    the way a parquet row-group pruner does: 'pruned' (window disjoint
    — the scan never opens the file), 'inside' (window contained —
    every row matches, the filter column needn't even be decoded),
    'straddle' (read and filter row-by-row). The A/B is the point: on
    insert-ordered data every file STRADDLES a date predicate (a
    4096-order file's shipdate window spans months) so the scan reads
    file_rows to return match_rows — that ratio is the measured I/O
    amplification, and at 100 TB it is the bill for not clustering;
    the date-clustered layout prunes all but the handful of boundary
    files. This is the audit that justifies q254's z-order rewrite
    and q255's compaction plan. Scale shape: ONE scan fanned to both
    layouts via an inline 2-element explode (no second read, no
    self-union of the scan), groupBy (layout, file_id) with map-side
    combine, then a 6-key reclassification agg — no joins, no
    windows; the file-inventory relation (~25M rows for 100 TB at
    4 MB files) never leaves the executors."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    tagged = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("insert_order").alias("layout"),
                    (F.col("l_orderkey") / 4096).cast("bigint").alias("file_id"),
                ),
                F.struct(
                    F.lit("date_clustered").alias("layout"),
                    (
                        F.datediff(
                            F.col("l_shipdate").cast("date"),
                            F.lit("1992-01-01").cast("date"),
                        )
                        / 16
                    )
                    .cast("bigint")
                    .alias("file_id"),
                ),
            )
        ).alias("t"),
        "l_shipdate",
    ).select("t.layout", "t.file_id", "l_shipdate")
    files = tagged.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_shipdate").alias("lo"),
        F.max("l_shipdate").alias("hi"),
        F.sum(
            F.when((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi), 1).otherwise(0)
        ).alias("n_match"),
    )
    zone_class = (
        F.when((F.col("hi") < lo) | (F.col("lo") >= hi), F.lit("pruned"))
        .when((F.col("lo") >= lo) & (F.col("hi") < hi), F.lit("inside"))
        .otherwise(F.lit("straddle"))
    )
    return (
        files.groupBy("layout", zone_class.alias("zone_class"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("file_rows"),
            F.sum("n_match").cast("bigint").alias("match_rows"),
        )
        .orderBy("layout", "zone_class")
    )


# ---------------------------------------------------------------------------
# q261 — late-shipment order-priority census (TPC-H Q4 shape)
# ---------------------------------------------------------------------------


@query(
    "q261_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q261_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4's 'order priority checking' shape (public benchmark),
    adapted to this schema's dates: orders from one quarter that had
    at least one line item shipped more than 60 days after the order
    date, counted per priority — the fulfilment-SLA census. The
    EXISTS compiles to a LEFT SEMI join on l_orderkey with the
    late-shipment predicate as a join condition: the quarter filter
    pushes into the orders parquet scan (partition pruning at 100 TB
    cuts the probe side ~16×), the semi join shuffles each side once
    on orderkey and emits at most one row per order regardless of how
    many lines are late (no post-join dedup), and the final 5-key
    priority agg map-side combines. Q4's textbook trap — rewriting
    EXISTS as an inner join + DISTINCT, which doubles the shuffle
    width — is exactly what the semi join avoids."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q262 — incremental mart maintenance (delta merge vs full recompute)
# ---------------------------------------------------------------------------


@query(
    "q262_incremental_mart",
    oracle="""
    SELECT l_returnflag,
           strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q262_incremental_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MAINTENANCE of a materialized mart, proved against
    the full recompute: the (returnflag × ship-month) sales mart is
    built as base partial (lines shipped before 1997 — standing in
    for the already-materialized mart) plus a delta partial (the 1997+
    append batch), folded by operators/incremental.
    merge_partial_aggregates — union of the two mart-sized partials,
    one groupBy re-sum. The oracle is the ONE-SHOT recompute over the
    whole fact; bitwise equality holds because every measure stays an
    exact monoid through the fold (BIGINT counts/quantities, DECIMAL
    revenue — order of summation cannot matter), doubles appear only
    at the output boundary. This is the query-shaped face of the
    production contract: at 100 TB the nightly batch scans ONLY the
    delta (partition-pruned to the new ship dates), and the fold
    shuffles mart-cardinality rows (~returnflags × months), not the
    fact; retractions ride the same fold as sign-negated delta rows
    (pinned in tests/test_r6_operators.py). A full-outer-join merge —
    the naive formulation — would re-shuffle both sides per batch and
    need per-column coalesce; the union fold is associative, so a
    week of deltas folds in one pass."""
    from sales_data_pipeline_spark.operators.incremental import (
        aggregate_partial,
        merge_partial_aggregates,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        "l_quantity",
        "l_extendedprice",
        F.col("l_shipdate").cast("timestamp").alias("__ts"),
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    keys = ["l_returnflag", "ship_month"]
    measures = {
        "n_rows": F.count(F.lit(1)).cast("bigint"),
        "sum_qty": F.sum(F.col("l_quantity").cast("bigint")).cast("bigint"),
        "revenue": F.sum(F.col("l_extendedprice").cast(_PRICE)),
    }
    base = aggregate_partial(li.filter(F.col("__ts") < cutoff), keys, measures)
    delta = aggregate_partial(li.filter(F.col("__ts") >= cutoff), keys, measures)
    merged = merge_partial_aggregates([base, delta], keys)
    return merged.select(
        "l_returnflag",
        "ship_month",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("sum_qty").cast("bigint").alias("sum_qty"),
        F.col("revenue").cast("double").alias("revenue"),
    ).orderBy("l_returnflag", "ship_month")


# ---------------------------------------------------------------------------
# q271 — approx-percentile rank envelope (oracled sibling of q47)
# ---------------------------------------------------------------------------


@query(
    "q271_percentile_rank_envelope",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q271_percentile_rank_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract for q47's sketch (the q251/q252/q259
    exact-sibling pattern): Greenwald-Khanna guarantees the returned
    element's rank is within n/accuracy of the target rank. Per
    priority, compute approx_percentile(p, accuracy=10000) for
    p∈{.5,.95,.99}, then the EXACT rank interval of each estimate
    ([#<est + 1, #<=est]) in a second aggregation over the broadcast
    5-row estimate table, and emit p*_ok = that interval intersects
    [p·n − n/acc − 1, p·n + n/acc + 1]. The oracle computes the
    SQL-checkable side (group sizes) and pins every boolean TRUE — a
    sketch regression (merge bug, accuracy drift) flips a boolean and
    fails the driver hash. Scale: sketch agg is mergeable/bounded;
    the rank check is one more scan with a broadcast join — both
    single-shuffle."""
    acc = 10000.0
    orders = table(spark, sf_dir, "orders")
    est = orders.groupBy("o_orderpriority").agg(
        F.approx_percentile(
            "o_totalprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 10000
        ).alias("pcts"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    j = orders.select("o_orderpriority", "o_totalprice").join(
        F.broadcast(est), "o_orderpriority"
    )
    aggs = [F.first("n_orders").alias("n_orders")]
    for i, p in enumerate((0.5, 0.95, 0.99)):
        e = F.col("pcts")[i]
        aggs += [
            F.sum((F.col("o_totalprice") < e).cast("long")).alias(f"lo_{i}"),
            F.sum((F.col("o_totalprice") <= e).cast("long")).alias(f"hi_{i}"),
        ]
    ranked = j.groupBy("o_orderpriority").agg(*aggs)
    out_cols = [F.col("o_orderpriority"), F.col("n_orders")]
    for i, (p, nm) in enumerate(((0.5, "p50"), (0.95, "p95"), (0.99, "p99"))):
        target = F.lit(p) * F.col("n_orders")
        slack = F.col("n_orders") / F.lit(acc) + F.lit(1.0)
        ok = ((F.col(f"lo_{i}") + 1) <= (target + slack)) & (
            F.col(f"hi_{i}") >= (target - slack)
        )
        out_cols.append(ok.alias(f"{nm}_ok"))
    return ranked.select(*out_cols).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# q273 — rollup cascade: daily mart folded from hourly partials
# ---------------------------------------------------------------------------


@query(
    "q273_rollup_cascade",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events GROUP BY 1, 2 ORDER BY day, event_type
    """,
)
def q273_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup reuse: the daily mart is folded from
    the HOURLY mart's partials (count/decimal-sum/min/max — all
    decomposable measures), never rescanning the event stream; the
    oracle recomputes the daily mart directly from raw events, so the
    hash pins cascade ≡ direct. This is the batch face of q262's
    incremental fold and the storage pattern a 100 TB metrics store
    uses (store hours once, derive days/weeks from 24× fewer rows).
    Non-decomposable measures (count-distinct) are deliberately
    excluded — their cascade is the HLL register fold
    (operators/sketch.py hll_build), not row arithmetic. Decimal sums
    end-to-end; doubles only at the output boundary."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("s").cast("double").alias("total_value"),
            F.min("mn").cast("double").alias("min_value"),
            F.max("mx").cast("double").alias("max_value"),
        )
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# q277 — temporal anti-join: viewers with no purchase within 7 days
# ---------------------------------------------------------------------------


@query(
    "q277_view_no_purchase_7d",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    )
    SELECT user_id, strftime(t_view, '%Y-%m-%d %H:%M:%S.%f') AS first_view_at
    FROM v
    WHERE NOT EXISTS (
      SELECT 1 FROM events e
      WHERE e.user_id = v.user_id AND e.event_type = 'purchase'
        AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 7 DAY
    )
    ORDER BY user_id
    """,
)
def q277_view_no_purchase_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-window census: users whose FIRST view was never followed
    by a purchase within 7 days — the temporal ANTI-join (NOT EXISTS
    with a range predicate) that plain q12-style anti-joins and
    q80-style EXISTS don't cover. Plan shape: the anti-join carries
    user_id as an EQUI key with the time range as a residual
    condition, so Catalyst plans a hash/sort-merge anti join keyed on
    user — one purchase-side shuffle, never a nested loop over facts
    (the range alone would be quadratic; anchoring it on the key is
    the scale move). Timestamps exported as strings on both sides
    (the q84/q149 date-rendering rule)."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("t_view"))
        & (F.col("p_ts") <= F.col("t_view") + F.expr("INTERVAL 7 DAYS"))
    )
    return (
        v.join(p, cond, "left_anti")
        .select(
            "user_id",
            F.date_format("t_view", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "first_view_at"
            ),
        )
    )  # unordered: |users| scales with the stream


# ---------------------------------------------------------------------------
# q278 — incremental join maintenance (delta algebra ≡ full recompute)
# ---------------------------------------------------------------------------


@query(
    "q278_incremental_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q278_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance, hashed against the full recompute:
    split orders and lineitem into base/delta by orderkey mod 5 (the
    stand-in for yesterday's mart vs today's batch), maintain the
    order×lineitem join as stored_base_join ∪ the three delta terms
    (operators/incremental.incremental_join_delta — base⋈Δ, Δ⋈base,
    Δ⋈Δ; base⋈base is the STORED mart in production, recomputed here
    only because a catalog query owns no cross-run state), then
    aggregate. The oracle joins the full tables directly, so the hash
    pins the view-maintenance algebra ≡ one-shot join. Scale: every
    maintained term joins a batch-sized delta; the fold is
    mart-cardinality. Completes the IVM story: q262 maintains
    aggregates, this maintains the join they hang off."""
    from sales_data_pipeline_spark.operators.incremental import (
        incremental_join_delta,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    base_o = o.filter(F.col("o_orderkey") % 5 != 0)
    delta_o = o.filter(F.col("o_orderkey") % 5 == 0)
    base_l = li.filter(F.col("o_orderkey") % 7 != 0)
    delta_l = li.filter(F.col("o_orderkey") % 7 == 0)
    stored = base_o.join(base_l, ["o_orderkey"])
    maintained = stored.unionByName(
        incremental_join_delta(base_o, delta_o, base_l, delta_l, ["o_orderkey"])
    )
    return (
        maintained.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias(
                "total_qty"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q282 — weekly-cohort conversion funnel (view -> purchase within 7 days)
# ---------------------------------------------------------------------------


@query(
    "q282_cohort_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    conv AS (
      SELECT v.user_id, v.t_view,
             CASE WHEN EXISTS (
               SELECT 1 FROM events e
               WHERE e.user_id = v.user_id AND e.event_type = 'purchase'
                 AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 7 DAY
             ) THEN 1 ELSE 0 END AS converted
      FROM v
    )
    SELECT strftime(date_trunc('week', t_view), '%Y-%m-%d') AS cohort_week,
           CAST(COUNT(*) AS BIGINT) AS n_viewers,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           round(SUM(converted) * 1000 / COUNT(*) / 1000.0, 4) AS conversion_rate
    FROM conv GROUP BY 1 ORDER BY cohort_week
    """,
)
def q282_cohort_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly acquisition-cohort conversion: users grouped by the week
    of their FIRST view; converted = a purchase lands in (t_view,
    t_view + 7d]. The positive face of q277's temporal anti-join —
    same keyed semi-join shape (EXISTS with a range residual on the
    user_id equi key), aggregated into the cohort table a growth team
    reads. Rate kept integer-exact to 4 digits on both engines
    (×1000, integer division semantics avoided by a final single
    division — the q229 discipline: one division per output, no
    double re-rounding)."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("t_view"))
        & (F.col("p_ts") <= F.col("t_view") + F.expr("INTERVAL 7 DAYS"))
    )
    conv = v.join(p, cond, "left_semi").select("user_id").withColumn(
        "converted", F.lit(1)
    )
    labeled = v.join(conv, "user_id", "left").select(
        F.date_format(F.date_trunc("week", "t_view"), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        F.coalesce("converted", F.lit(0)).alias("converted"),
    )
    return (
        labeled.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_viewers"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.round(
                (F.sum("converted") * 1000 / F.count(F.lit(1))) / 1000.0, 4
            ).alias("conversion_rate"),
        )
        .orderBy("cohort_week")
    )


# ---------------------------------------------------------------------------
# q286 — per-user debounce census (batch twin of streaming/ratelimit.py)
# ---------------------------------------------------------------------------


@query(
    "q286_debounce_census",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click'
    ),
    emit(user_id, t) AS (
      SELECT user_id, MIN(t) FROM ev GROUP BY user_id
      UNION ALL
      SELECT e.user_id,
             (SELECT MIN(v.t) FROM ev v
               WHERE v.user_id = e.user_id AND v.t >= e.t + 86400000000)
      FROM emit e
      WHERE EXISTS (SELECT 1 FROM ev v
                     WHERE v.user_id = e.user_id AND v.t >= e.t + 86400000000)
    )
    SELECT e.user_id,
           CAST(MAX(c.n_clicks) AS BIGINT) AS n_clicks,
           CAST(COUNT(*) AS BIGINT) AS n_emitted,
           CAST(MAX(e.t) AS BIGINT) AS last_emit_us
    FROM emit e
    JOIN (SELECT user_id, count(*) AS n_clicks FROM ev GROUP BY user_id) c
      USING (user_id)
    GROUP BY e.user_id
    ORDER BY user_id
    """,
)
def q286_debounce_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user alert-debounce census: run the greedy cooldown-spaced
    selection (streaming/ratelimit.py's debounce_codegen — one
    array_sort + JVM aggregate fold per user, zero Python; r8 rewrite
    of the Arrow applyInPandas form whose per-key Python-worker
    dispatch was the catalog's largest sf0.1 constant at 8.6s, the
    q190 capped-balance pattern) over each user's clicks with a 1-day
    cooldown, and report clicks vs emitted notifications plus the last
    emission time. debounce_batch (the Arrow fold) stays as its
    reference, pinned bitwise-equal by test_streaming.py. The greedy selection is inherently sequential
    per key (each emission depends on the previous), which SQL
    expresses only as bounded recursion — the oracle replays it as a
    recursive CTE whose step picks MIN(t) ≥ last + cooldown per user
    (emission TIMES depend only on the per-user timestamp multiset, so
    the row is tie-robust), the q155 bounded-recursion oracle pattern.
    Depth ≤ emissions per user (≤ 30 over the 30-day window). Scale:
    per-key histories are bounded (q111/q190's bounded-group
    contract); the streaming form runs the identical fold with 2
    bigints of state per user for unbounded history."""
    from sales_data_pipeline_spark.streaming.ratelimit import debounce_codegen

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    em = debounce_codegen(ev, cooldown_seconds=86400)
    per = em.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_emitted"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("last_emit_us"),
    )
    n = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicks")
    )
    return (
        n.join(per, "user_id")
        .select("user_id", "n_clicks", "n_emitted", "last_emit_us")
    )  # unordered: |users| scales with the stream
