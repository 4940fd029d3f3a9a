"""Skew/co-location operators: result equivalence + plan-shape proofs
(the assertions that matter at 100 TB: no Exchange where there should
be none)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_data_pipeline_spark.catalog import table
from sales_data_pipeline_spark.operators.scale import salted_agg, salted_join


@pytest.fixture(scope="module")
def skewed_df(spark):
    # 90% of rows share key=1 (the hot key), the rest spread over 100
    return spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.col("id"),
    )


def test_salted_agg_matches_plain_groupby(spark, skewed_df):
    plain = {
        (r.k): (r.s, r.c, r.mn, r.mx)
        for r in skewed_df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("c"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.k): (r.sum_v, r.count_v, r.min_v, r.max_v)
        for r in _salted_all(skewed_df).collect()
    }
    assert salted == plain


def _salted_all(df):
    # count/min/max need distinct source columns in the aggs dict;
    # duplicate v under different names
    d = df.withColumn("v_c", F.col("v")).withColumn("v_mn", F.col("v")).withColumn(
        "v_mx", F.col("v")
    )
    out = salted_agg(
        d, ["k"], {"v": "sum", "v_c": "count", "v_mn": "min", "v_mx": "max"}
    )
    return out.select(
        "k",
        F.col("sum_v"),
        F.col("count_v_c").alias("count_v"),
        F.col("min_v_mn").alias("min_v"),
        F.col("max_v_mx").alias("max_v"),
    )


def test_salted_agg_spreads_hot_key(spark, skewed_df):
    """Phase-1 output must contain multiple partials for the hot key —
    the whole point of the salt."""
    from sales_data_pipeline_spark.operators.scale import _salt

    n_partials = (
        skewed_df.withColumn("__salt", _salt(skewed_df.columns, 32))
        .filter(F.col("k") == 1)
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_partials == 32


def test_salted_join_matches_plain_join(spark, skewed_df):
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), F.col("id")).alias("nm")
    )
    plain = sorted(
        (r.k, r.id, r.nm)
        for r in skewed_df.join(dim, "k", "inner").select("k", "id", "nm").collect()
    )
    salted = sorted(
        (r.k, r.id, r.nm)
        for r in salted_join(skewed_df, dim, "k", n_salt=8)
        .select("k", "id", "nm")
        .collect()
    )
    assert salted == plain


def test_salted_join_rejects_replication_unsafe_how(spark, skewed_df):
    """right/full outer would emit each unmatched replicated-dim row
    n_salt times — must be refused, not silently corrupted."""
    import pytest

    dim = spark.range(0, 100).select(F.col("id").alias("k"))
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(skewed_df, dim, "k", n_salt=8, how=how)


def test_zorder_key_interleaves_bits(spark):
    from sales_data_pipeline_spark.operators.scale import zorder_key

    df = spark.createDataFrame([(5, 3)], "a long, b long")  # 0b101, 0b011
    z = df.select(zorder_key("a", "b", bits=3).alias("z")).first().z
    # a bits → even positions (0,4), b bits → odd positions (1,3):
    # 1 + 2 + 8 + 16 = 27
    assert z == 27


def test_zorder_partitions_are_2d_local(spark):
    """Quartiles of the z-order each cover ~1/4 of the 2-D AREA (one
    quadrant of the grid) — the locality single-column sorting lacks
    (its quartiles span the full range of the second column)."""
    from sales_data_pipeline_spark.operators.scale import zorder_key

    rows = [(a, b) for a in range(16) for b in range(16)]
    df = spark.createDataFrame(rows, "a long, b long")
    ordered = [
        (r.a, r.b)
        for r in df.select("a", "b", zorder_key("a", "b", bits=4).alias("z"))
        .orderBy("z")
        .collect()
    ]
    for q in range(4):
        chunk = ordered[q * 64 : (q + 1) * 64]
        aw = max(c[0] for c in chunk) - min(c[0] for c in chunk) + 1
        bw = max(c[1] for c in chunk) - min(c[1] for c in chunk) + 1
        assert aw * bw == 64, (q, aw, bw)  # exactly one 8×8 quadrant


def test_distributed_prefix_sum_matches_naive_window(spark):
    """Two-phase scan == global-window running sum, on ids with gaps
    and across bucket boundaries."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from sales_data_pipeline_spark.operators.scale import distributed_prefix_sum

    rng = random.Random(7)
    rows = [(i * 3 + rng.randint(0, 1), rng.randint(0, 50)) for i in range(0, 400)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(13)
    got = {
        r.k: r.cs
        for r in distributed_prefix_sum(df, "k", "v", "cs", n_buckets=7).collect()
    }
    want = {
        r.k: r.cs
        for r in df.withColumn(
            "cs", F.sum("v").over(Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0))
        ).collect()
    }
    assert got == want


def test_distributed_prefix_sum_empty_and_single(spark):
    from sales_data_pipeline_spark.operators.scale import distributed_prefix_sum

    empty = spark.createDataFrame([], "k long, v long")
    assert distributed_prefix_sum(empty, "k", "v").count() == 0
    one = spark.createDataFrame([(5, 9)], "k long, v long")
    assert distributed_prefix_sum(one, "k", "v", "cs").collect()[0].cs == 9


def test_prefix_sum_big_side_never_single_partition(spark):
    """The data-path window must run per bucket (hashpartitioning on the
    bucket id), and every SinglePartition exchange must feed a
    trivially-small relation: the two 1-row min/max bounds aggregates
    (identical subtrees — deduped by ReuseExchange at runtime) and the
    n_buckets-row offset fold. Since r9 the offsets are a JVM aggregate
    fold, so the plan carries ZERO Window nodes with an empty partition
    spec (the lint's global-window definition) — pinned via lint."""
    import re as _re

    from sales_data_pipeline_spark.operators.scale import distributed_prefix_sum
    from sales_data_pipeline_spark.plans.lint import lint_plan

    df = spark.range(0, 10_000).withColumnRenamed("id", "k").withColumn(
        "v", (F.col("k") % 17).cast("long")
    )
    out = distributed_prefix_sum(df, "k", "v", "cs", n_buckets=32)
    plan = out.sparkSession.sparkContext._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(__b" in plan, plan
    single = _re.findall(r"\((\d+)\) Exchange\nInput \[\d+\]: \[([^\]]*)\]"
                         r"\nArguments: SinglePartition", plan)
    assert len(single) <= 3, plan
    for _, cols in single:
        # each single-partition input is a bounds pair or the fold buffer
        assert ("min" in cols and "max" in cols) or "buf" in cols, (cols, plan)
    assert "global-window" not in {f.code for f in lint_plan(out)}, plan


def test_join_cardinality_prediction_matches_real_join(spark, sf_dir):
    """q123's Σ c_A(k)·c_B(k) must equal the actual join's row count."""
    from sales_data_pipeline_spark.catalog import table as _table
    from sales_data_pipeline_spark.plans import QUERIES

    predicted = (
        QUERIES["q123_join_cardinality"].fn(spark, sf_dir).collect()[0]
        .predicted_join_rows
    )
    orders = _table(spark, sf_dir, "orders")
    cust = _table(spark, sf_dir, "customer")
    real = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
    assert predicted == real


def test_rfm_approx_census_mass_and_score_bounds(spark, sf_dir):
    """q145 (value-based approx RFM) must cover every customer exactly
    once (Σ n_customers equals the exact form's), keep all scores in
    1..5, and produce near-uniform quintile sizes on this corpus."""
    from sales_data_pipeline_spark.plans.relational import rfm_segments

    orders = table(spark, sf_dir, "orders")
    exact = rfm_segments(orders, approx=False)
    approx = rfm_segments(orders, approx=True)
    n_exact = exact.agg(F.sum("n_customers")).first()[0]
    rows = approx.collect()
    assert sum(r.n_customers for r in rows) == n_exact
    for r in rows:
        a, b, c = (int(x) for x in r.segment.split("-"))
        assert all(1 <= s <= 5 for s in (a, b, c)), r.segment
    # per-axis marginals: each quintile class within 2x of n/5 (the
    # uniform target) — value cut-points on a non-degenerate metric
    # cannot collapse a class
    m_sizes: dict[int, int] = {}
    for r in rows:
        m = int(r.segment.split("-")[2])
        m_sizes[m] = m_sizes.get(m, 0) + r.n_customers
    target = n_exact / 5
    assert set(m_sizes) == {1, 2, 3, 4, 5}
    for s, n in m_sizes.items():
        assert n < 2 * target, (s, n, target)


def test_rfm_approx_plan_has_no_window_sort(spark, sf_dir):
    """The scale form must compile with ZERO window operators (no
    single-partition ntile sorts) while the exact form has them — the
    whole point of the approx path."""
    from sales_data_pipeline_spark.plans.relational import rfm_segments

    orders = table(spark, sf_dir, "orders")

    def plan(df):
        return spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    assert "Window" in plan(rfm_segments(orders, approx=False))
    p = plan(rfm_segments(orders, approx=True))
    assert "Window" not in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_pareto_approx_mass_and_monotone(spark, sf_dir):
    """q176: decile census covers every customer once, revenue shares
    sum to 1, the cumulative curve is monotone, and decile 1 (top
    spenders) holds the largest share."""
    from sales_data_pipeline_spark.plans import QUERIES

    rows = sorted(
        QUERIES["q176_pareto_curve_approx"].fn(spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    exact_n = (
        table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == exact_n
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 1e-4
    cums = [r.cum_revenue_share for r in rows]
    assert cums == sorted(cums)
    assert rows[0].revenue_share == max(r.revenue_share for r in rows)


def test_pareto_approx_plan_windowless_until_decile_table(spark, sf_dir):
    """The only window in q176 runs over the 10-row decile table —
    the |customers| aggregate itself is never globally sorted (no
    ntile, no Window before the decile groupBy)."""
    from sales_data_pipeline_spark.plans import QUERIES

    df = QUERIES["q176_pareto_curve_approx"].fn(spark, sf_dir)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ntile(" not in plan, plan  # note: percentile_approx contains 'ntile'
    import re as _re

    win_nodes = _re.findall(r"^\(\d+\) Window", plan, flags=_re.M)
    assert len(win_nodes) == 1, plan


# ---------------------------------------------------------------------------
# HyperLogLog (operators/sketch.py hll_build / hll_estimate)
# ---------------------------------------------------------------------------


def test_hll_estimate_within_error_envelope(spark, sf_dir):
    """p=12 → RSE ≈ 1.04/√4096 ≈ 1.6%; assert within 5 RSE of exact
    (a deterministic single draw, not a distribution — generous but
    still catches any ladder/bias-constant bug by an order of
    magnitude)."""
    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.operators.sketch import hll_build, hll_estimate

    orders = table(spark, sf_dir, "orders")
    exact = orders.select("o_custkey").distinct().count()
    est = hll_estimate(hll_build(orders, "o_custkey", p=12), p=12).first().estimate
    assert abs(est - exact) / exact < 5 * 1.04 / (1 << 12) ** 0.5


def test_hll_registers_merge_by_max(spark, sf_dir):
    """Union+max of two halves' registers must equal the whole build —
    the cross-run mergeability the register-table representation
    exists for."""
    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.operators.sketch import hll_build

    orders = table(spark, sf_dir, "orders").select("o_custkey")
    whole = hll_build(orders, "o_custkey", p=10)
    h1 = hll_build(orders.filter(F.col("o_custkey") % 2 == 0), "o_custkey", p=10)
    h2 = hll_build(orders.filter(F.col("o_custkey") % 2 == 1), "o_custkey", p=10)
    merged = (
        h1.unionByName(h2).groupBy("idx").agg(F.max("rho").alias("rho"))
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_hll_register_table_bounded(spark, sf_dir):
    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.operators.sketch import hll_build

    orders = table(spark, sf_dir, "orders")
    regs = hll_build(orders, "o_custkey", p=8)
    assert regs.count() <= 256
    rows = regs.collect()
    assert all(1 <= r.rho <= 64 - 8 + 1 for r in rows)


def test_hll_small_range_linear_counting(spark):
    """A 30-key input at p=12 must fall into the linear-counting
    branch and come out nearly exact."""
    from sales_data_pipeline_spark.operators.sketch import hll_build, hll_estimate

    df = spark.range(30).selectExpr("concat('k', id) AS k")
    est = hll_estimate(hll_build(df, "k", p=12), p=12).first().estimate
    assert abs(est - 30) < 2


def test_hll_rejects_bad_p(spark):
    import pytest as _pytest

    from sales_data_pipeline_spark.operators.sketch import hll_build

    df = spark.range(5).selectExpr("id AS k")
    with _pytest.raises(ValueError, match="outside"):
        hll_build(df, "k", p=2)


def test_hll_estimate_empty_register_table_is_zero(spark):
    """Zero-row register table (nothing was ever added): the aggregate
    sums must coalesce to 0 — a NULL sum would poison the harmonic
    mean and both CASE branches — and linear counting with all m
    registers empty estimates exactly 0."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from sales_data_pipeline_spark.operators.sketch import hll_estimate

    empty = spark.createDataFrame(
        [], StructType([StructField("idx", IntegerType()),
                        StructField("rho", IntegerType())])
    )
    est = hll_estimate(empty, p=12).first().estimate
    assert est == 0.0


def test_gini_approx_close_to_exact_and_bounded(spark, sf_dir):
    """q235's Lorenz-trapezoid Gini must sit in [0, 1), count every
    customer, and land near q135's exact value at test scale (the
    trapezoid inscribes the convex Lorenz curve, so it estimates from
    BELOW up to cut-point epsilon; 20 buckets keeps the gap small)."""
    from sales_data_pipeline_spark.plans import QUERIES

    approx = QUERIES["q235_spend_gini_approx"].fn(spark, sf_dir).collect()[0]
    exact = QUERIES["q135_spend_gini"].fn(spark, sf_dir).collect()[0]
    assert approx.n_customers == exact.n_customers
    assert abs(float(approx.total_spend) - float(exact.total_spend)) < 0.01
    assert 0.0 <= approx.gini_approx < 1.0
    assert abs(approx.gini_approx - exact.gini) < 0.05, (
        approx.gini_approx,
        exact.gini,
    )


def test_gini_approx_plan_windowless_over_data(spark, sf_dir):
    """q235's windows (cumulative Lorenz + lag) run over the ≤20-row
    bucket aggregate only — the |customers| aggregate is never
    globally sorted (no row_number/ntile ranking of customers)."""
    from sales_data_pipeline_spark.plans import QUERIES

    spark.catalog.clearCache()
    df = QUERIES["q235_spend_gini_approx"].fn(spark, sf_dir)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "row_number" not in plan, plan
    assert "ntile(" not in plan, plan
    import re as _re

    # both windows sit AFTER the bucket groupBy (ordered by the
    # synthetic `bucket` column over the ≤20-row aggregate)
    win_nodes = _re.findall(r"^\(\d+\) Window", plan, flags=_re.M)
    assert len(win_nodes) <= 2, plan


def test_qq_approx_monotone_and_near_exact(spark, sf_dir):
    """q236's approx deciles: 9 rows, monotone nondecreasing per
    brand, inside the observed price range, and each within a small
    relative distance of q228's exact order statistics (GK epsilon at
    accuracy 10k is far below a decile gap at test scale)."""
    from sales_data_pipeline_spark.plans import QUERIES

    rows = sorted(
        QUERIES["q236_brand_price_qq_approx"].fn(spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    exact = {
        r.decile: r
        for r in QUERIES["q228_brand_price_qq"].fn(spark, sf_dir).collect()
    }
    assert [r.decile for r in rows] == list(range(1, 10))
    for col in ("brand11_price", "brand22_price"):
        vals = [getattr(r, col) for r in rows]
        assert vals == sorted(vals)
        for r in rows:
            e = getattr(exact[r.decile], col)
            assert abs(getattr(r, col) - e) / e < 0.05, (r.decile, col)


def test_qq_approx_plan_windowless(spark, sf_dir):
    """q236 must contain NO window at all — per-brand deciles come
    from one percentile_approx aggregate, never per-brand sorts."""
    from sales_data_pipeline_spark.plans import QUERIES

    spark.catalog.clearCache()
    df = QUERIES["q236_brand_price_qq_approx"].fn(spark, sf_dir)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re as _re

    assert not _re.findall(r"^\(\d+\) Window", plan, flags=_re.M), plan
    assert "row_number" not in plan, plan


def test_hll_pairwise_overlap_within_inclusion_exclusion_envelope(spark, sf_dir):
    """Every source-pair overlap estimate (q248's operator) must land
    inside 3σ of the inclusion-exclusion error budget, 3·RSE·(|A|+|B|)
    with RSE = 1.04/√2¹², against EXACT overlaps — and the pair grid
    must be the complete unordered |sources| choose 2."""
    import math

    from sales_data_pipeline_spark.operators.sketch import hll_pairwise_overlap

    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tri = docs.select(
        "source",
        F.explode(
            F.when(
                F.size(toks) >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 3),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(toks, i + 1),
                        F.element_at(toks, i + 2),
                        F.element_at(toks, i + 3),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    est = {
        (r.source_a, r.source_b): (r.est_overlap, r.est_a, r.est_b)
        for r in hll_pairwise_overlap(tri, "source", "g", p=12).collect()
    }
    a = tri.select(F.col("source").alias("sa"), "g").distinct()
    b = tri.select(F.col("source").alias("sb"), "g").distinct()
    exact = {
        (r.sa, r.sb): r.n
        for r in a.join(b, "g")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_sources = tri.select("source").distinct().count()
    assert len(est) == n_sources * (n_sources - 1) // 2
    rse = 1.04 / math.sqrt(1 << 12)
    for k, n_exact in exact.items():
        e_over, e_a, e_b = est[k]
        assert abs(e_over - n_exact) <= 3 * rse * (e_a + e_b), (k, n_exact, e_over)


def test_hll_pairwise_overlap_degenerate_inputs(spark):
    """Empty input and a single group must both yield an empty pair
    table (not an error, not a self-pair); two disjoint groups must
    estimate near-zero overlap."""
    from sales_data_pipeline_spark.operators.sketch import hll_pairwise_overlap

    empty = spark.createDataFrame([], "source string, g string")
    assert hll_pairwise_overlap(empty, "source", "g").count() == 0
    one = spark.createDataFrame([("a", f"k{i}") for i in range(50)],
                                "source string, g string")
    assert hll_pairwise_overlap(one, "source", "g").count() == 0
    two = spark.createDataFrame(
        [("a", f"x{i}") for i in range(500)] + [("b", f"y{i}") for i in range(500)],
        "source string, g string",
    )
    row = hll_pairwise_overlap(two, "source", "g").collect()[0]
    # disjoint sets: overlap estimate within the noise floor
    assert row.est_overlap <= 3 * (1.04 / (1 << 6)) * (row.est_a + row.est_b)


# ---------------------------------------------------------------------------
# q252 exact-tier budget guard (plans/text_dedup.py overlap_sketch_envelope)
# ---------------------------------------------------------------------------


def test_q252_exact_tier_guard_fires_naming_q248(spark, sf_dir):
    """SCALING10 measured q252's exact trigram self-join as the repo's
    steepest decade-2 curve; past its budget the audit tier must die in
    its first join task naming the linear-sketch production path (q248),
    not grind. Lazy-scalar pattern: plan construction runs no job."""
    from pyspark.errors import SparkRuntimeException

    from sales_data_pipeline_spark.plans.text_dedup import (
        overlap_sketch_envelope,
    )

    docs = table(spark, sf_dir, "documents")
    plan = overlap_sketch_envelope(docs, max_exact_pairs=10)  # no job yet
    with pytest.raises(SparkRuntimeException, match="q248_source_overlap_sketch"):
        plan.count()


def test_q252_guard_transparent_under_budget(spark, sf_dir):
    """Under budget the guarded plan is bitwise-identical to the
    unguarded one (the guard is a free predicate, not a behavior
    change)."""
    from sales_data_pipeline_spark.plans.text_dedup import (
        overlap_sketch_envelope,
    )

    docs = table(spark, sf_dir, "documents")
    guarded = overlap_sketch_envelope(docs).collect()
    bare = overlap_sketch_envelope(docs, max_exact_pairs=None).collect()
    assert guarded == bare


# ---------------------------------------------------------------------------
# banded_interval_join (q289's engine) — the key-then-band scale sibling
# ---------------------------------------------------------------------------


def _plain_band_join(p, v, lower_us, upper_us):
    from sales_data_pipeline_spark.operators.scale import _epoch_us

    delta = _epoch_us(v, "v_ts") - _epoch_us(p, "p_ts")
    cross = p.join(v, "user_id").filter(
        (delta >= F.lit(lower_us)) & (delta <= F.lit(upper_us))
    )
    return cross


def test_banded_interval_join_bitwise_equals_plain(spark, sf_dir):
    """Identical output to the single-key shuffle + residual form on
    the real events table — including bucket-boundary timestamps (the
    generator emits :00 rows that land exactly on hour edges)."""
    from sales_data_pipeline_spark.operators.scale import banded_interval_join

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    hour = 3_600_000_000
    banded = banded_interval_join(
        p, v, on="user_id", probe_ts="p_ts", build_ts="v_ts",
        lower_us=-hour, upper_us=0,
    ).select("purchase_id", "view_id")
    plain = _plain_band_join(p, v, -hour, 0).select("purchase_id", "view_id")
    assert banded.exceptAll(plain).count() == 0
    assert plain.exceptAll(banded).count() == 0
    # a build row matches from exactly one bucket: no duplicate pairs
    assert banded.count() == banded.distinct().count()


def test_banded_interval_join_custom_width_and_positive_band(spark):
    """Asymmetric positive band + width narrower than the span (probe
    explodes to 3 buckets) still exact."""
    from sales_data_pipeline_spark.operators.scale import banded_interval_join

    p = spark.createDataFrame(
        [(1, i, 1_000_000 * i) for i in range(50)],
        "user_id bigint, pid bigint, us bigint",
    ).select("user_id", "pid", F.timestamp_micros("us").alias("p_ts"))
    v = spark.createDataFrame(
        [(1, 100 + i, 1_000_000 * i + 777) for i in range(50)],
        "user_id bigint, vid bigint, us bigint",
    ).select("user_id", "vid", F.timestamp_micros("us").alias("v_ts"))
    lo, hi = 1_000_000, 5_000_000  # views 1–5s AFTER the purchase
    got = banded_interval_join(
        p, v, on="user_id", probe_ts="p_ts", build_ts="v_ts",
        lower_us=lo, upper_us=hi, bucket_width_us=2_000_000,
    )
    from sales_data_pipeline_spark.operators.scale import _epoch_us

    delta = _epoch_us(v, "v_ts") - F.col("p_us")
    want = (
        p.withColumn("p_us", F.unix_micros("p_ts"))
        .join(v, "user_id")
        .filter((delta >= lo) & (delta <= hi))
        .select("pid", "vid")
    )
    assert got.select("pid", "vid").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("pid", "vid")).count() == 0


def test_banded_interval_join_shuffles_on_key_and_bucket(spark, sf_dir):
    """The point of the operator: the exchange key must be (user_id,
    __bucket), never user_id alone — otherwise the hot key still lands
    on one reducer and the rewrite bought nothing."""
    from sales_data_pipeline_spark.operators.scale import banded_interval_join

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = banded_interval_join(
            p, v, on="user_id", probe_ts="p_ts", build_ts="v_ts",
            lower_us=-3_600_000_000, upper_us=0,
        )
        plan = df._jdf.queryExecution().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts, plan
    assert all("__bucket" in g for g in parts if "user_id" in g), parts


def test_banded_interval_join_validation(spark, sf_dir):
    from sales_data_pipeline_spark.operators.scale import banded_interval_join

    ev = table(spark, sf_dir, "events").limit(10)
    p = ev.select("user_id", F.col("ts").alias("p_ts"), "value")
    v = ev.select("user_id", F.col("ts").alias("v_ts"), "value")
    with pytest.raises(ValueError, match="empty band"):
        banded_interval_join(
            p, v, on="user_id", probe_ts="p_ts", build_ts="v_ts",
            lower_us=5, upper_us=1,
        )
    with pytest.raises(ValueError, match="ambiguous columns"):
        banded_interval_join(
            p, v, on="user_id", probe_ts="p_ts", build_ts="v_ts",
            lower_us=-5, upper_us=0,
        )
    p2 = p.drop("value")
    v2 = v.withColumnRenamed("value", "v_value")
    # bucket_width_us=0 must raise, not silently fall back to the
    # default width (0 is falsy — the r8 ADVICE trap)
    with pytest.raises(ValueError, match="bucket_width_us=0"):
        banded_interval_join(
            p2, v2, on="user_id", probe_ts="p_ts", build_ts="v_ts",
            lower_us=-5, upper_us=0, bucket_width_us=0,
        )
    # unit-mistake guard: width in seconds where µs were meant would
    # explode each probe row into span/width buckets — cap at 64
    with pytest.raises(ValueError, match="buckets per probe row"):
        banded_interval_join(
            p2, v2, on="user_id", probe_ts="p_ts", build_ts="v_ts",
            lower_us=-3_600_000_000, upper_us=0, bucket_width_us=3_600,
        )
    # reserved internal names on EITHER side must be rejected up front
    # (withColumn would silently clobber them, then drop them)
    with pytest.raises(ValueError, match="reserved internal"):
        banded_interval_join(
            p2.withColumn("__bucket", F.lit(1)), v2,
            on="user_id", probe_ts="p_ts", build_ts="v_ts",
            lower_us=-5, upper_us=0,
        )
    with pytest.raises(ValueError, match="reserved internal"):
        banded_interval_join(
            p2, v2.withColumn("__b_us", F.lit(1)),
            on="user_id", probe_ts="p_ts", build_ts="v_ts",
            lower_us=-5, upper_us=0,
        )


def test_q289_bitwise_equals_keyonly_attribution(spark, sf_dir):
    """The banded plan (q118/q289's registered body since r9) must be
    indistinguishable from the key-only reference shape at the output
    — same rows, same values (the oracle is shared verbatim)."""
    from sales_data_pipeline_spark.plans import QUERIES
    from sales_data_pipeline_spark.plans.relational import _attribution_keyonly

    a = _attribution_keyonly(spark, sf_dir)
    b = QUERIES["q289_attribution_banded"].fn(spark, sf_dir)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_q290_bitwise_equals_keyonly_repeat_purchases(spark, sf_dir):
    """q290's strict-lower-bound mapping (lower_us=1 over day-grained
    timestamps stands in for d2 > d1) is exactly the kind of boundary
    the q289 test exists to pin — compare the banded plan (q112's
    registered body since r9) bitwise against the key-only reference
    shape."""
    from sales_data_pipeline_spark.plans import QUERIES
    from sales_data_pipeline_spark.plans.relational import (
        _repeat_purchases_keyonly,
    )

    a = _repeat_purchases_keyonly(spark, sf_dir)
    b = QUERIES["q290_repeat_purchases_banded"].fn(spark, sf_dir)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_q112_q118_registered_bodies_are_banded(spark, sf_dir):
    """The r8 verdict's weak finding: a caller who finds q112/q118
    first must get the scale-safe plan. Pin that the registered
    bodies shuffle on (key, __bucket), never the bare key."""
    import re as _re

    from sales_data_pipeline_spark.plans import QUERIES

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, key in (
            ("q112_repeat_purchases", "custkey"),
            ("q118_multitouch_attribution", "user_id"),
        ):
            df = QUERIES[name].fn(spark, sf_dir)
            plan = df._jdf.queryExecution().toString()
            parts = _re.findall(r"hashpartitioning\(([^)]*)\)", plan)
            assert parts, (name, plan)
            # both JOIN sides must shuffle on (key, __bucket); a
            # bare-key partitioning may remain for the final groupBy
            # aggregate (map-side combined — not the quadratic path)
            bucketed = [g for g in parts if key in g and "__bucket" in g]
            assert len(bucketed) >= 2, (name, parts)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_distributed_ntile_bitwise_equals_window_ntile(spark):
    """Tiles must equal F.ntile's for every n mod k residue class,
    including ties on the signal and n < k (each row its own tile)."""
    from pyspark.sql.window import Window as W

    from sales_data_pipeline_spark.operators.scale import distributed_ntile

    for n, k in [(100, 10), (103, 10), (7, 10), (57, 5), (64, 7)]:
        df = spark.range(0, n).select(
            F.col("id").alias("cid"),
            # heavy ties: signal has ~n/4 distinct values
            (F.col("id") % (max(n // 4, 1))).cast("double").alias("x"),
        )
        got = {
            r.cid: r.tile
            for r in distributed_ntile(
                df, "x", "cid", k, "tile", descending=True, n_buckets=5
            ).collect()
        }
        want = {
            r.cid: r.tile
            for r in df.select(
                "cid",
                F.ntile(k)
                .over(W.orderBy(F.col("x").desc(), F.col("cid").asc()))
                .cast("bigint")
                .alias("tile"),
            ).collect()
        }
        assert got == want, (n, k)


def test_distributed_ntile_plan_has_no_global_window(spark):
    from sales_data_pipeline_spark.operators.scale import distributed_ntile
    from sales_data_pipeline_spark.plans.lint import lint_plan

    df = spark.range(0, 1000).select(
        F.col("id").alias("cid"), (F.col("id") % 37).cast("double").alias("x")
    )
    out = distributed_ntile(df, "x", "cid", 5, "tile")
    assert "global-window" not in {f.code for f in lint_plan(out)}


def test_distributed_rank_bitwise_equals_naive_window(spark):
    """Two-phase rank == row_number() over the naive global window, in
    both directions, with heavy signal ties (the id tie-break must not
    cross bucket boundaries) and ranks spanning several buckets."""
    from pyspark.sql.window import Window as W

    from sales_data_pipeline_spark.operators.scale import distributed_rank

    df = spark.range(0, 503).select(
        F.col("id").alias("rid"),
        # ~25 distinct signal values over 503 rows: every bucket holds ties
        (F.col("id") % 25).cast("double").alias("sig"),
    )
    for desc in (True, False):
        order = F.col("sig").desc() if desc else F.col("sig").asc()
        got = {
            r.rid: r.rk
            for r in distributed_rank(
                df, "sig", "rid", "rk", descending=desc, n_buckets=7
            ).collect()
        }
        want = {
            r.rid: r.rk
            for r in df.select(
                "rid",
                F.row_number()
                .over(W.orderBy(order, F.col("rid").asc()))
                .cast("bigint")
                .alias("rk"),
            ).collect()
        }
        assert got == want, desc


def test_q214_banded_bitwise_equals_keyonly_crosssell(spark, sf_dir):
    """r9: q214's registered body routes through banded_interval_join
    after the zipf measurement showed the key-only shape at 62.4×
    (SKEW.json). Same-corpus output must be identical to the key-only
    formulation, including the strict/inclusive (0, 30d] band at DATE
    grain and the brand≠ residual."""
    from sales_data_pipeline_spark.catalog import table as _table
    from sales_data_pipeline_spark.plans import QUERIES

    got = {
        (r.brand_from, r.brand_to): r.n_seq
        for r in QUERIES["q214_sequential_crosssell"].fn(spark, sf_dir).collect()
    }
    li = _table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("day")
    )
    p = _table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    purchases = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("p_brand").alias("brand"),
            "day",
        )
        .distinct()
    )
    a = purchases.select(
        "cust", F.col("brand").alias("brand_from"), F.col("day").alias("d0")
    )
    b = purchases.select(
        F.col("cust").alias("cust_b"),
        F.col("brand").alias("brand_to"),
        F.col("day").alias("d1"),
    )
    naive = (
        a.join(
            b,
            (F.col("cust") == F.col("cust_b"))
            & (F.col("d1") > F.col("d0"))
            & (F.col("d1") <= F.date_add(F.col("d0"), 30))
            & (F.col("brand_from") != F.col("brand_to")),
        )
        .groupBy("brand_from", "brand_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_seq"))
        .filter(F.col("n_seq") >= 5)
    )
    want = {(r.brand_from, r.brand_to): r.n_seq for r in naive.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# spread_scan (r13: the r12 helper shipped untested and broke the
# minhash plan contract — these pin BOTH adaptive branches)
# ---------------------------------------------------------------------------


def test_spread_scan_noop_on_well_split_input(spark):
    """A scan already within 2x of the core count must come back
    UNTOUCHED — the branch that guarantees spread_scan never adds a
    shuffle at real scale (thousands of splits)."""
    from sales_data_pipeline_spark.operators.scale import spread_scan

    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 100, 1, numPartitions=target)
    out = spread_scan(df)
    assert out is df  # no-op, not even a new plan node


def test_spread_scan_repartitions_underfilled_input(spark):
    """A 1-split input vs defaultParallelism cores must round-robin out
    to the core count, preserving the row SET exactly."""
    from sales_data_pipeline_spark.operators.scale import spread_scan

    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 100, 1, numPartitions=1)
    out = spread_scan(df)
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_spread_scan_boundary_half_parallelism(spark):
    """The 2x-headroom boundary: n*2 >= parallelism stays as-is (paying
    a shuffle for at most a 2x stage win is the wrong trade); one split
    below the boundary spreads."""
    from sales_data_pipeline_spark.operators.scale import spread_scan

    target = spark.sparkContext.defaultParallelism
    if target < 4:
        import pytest as _pytest

        _pytest.skip("needs parallelism >= 4 to have a below-half count > 1")
    at_half = spark.range(0, 100, 1, numPartitions=(target + 1) // 2)
    assert spread_scan(at_half) is at_half
    below = spark.range(0, 100, 1, numPartitions=target // 2 - 1)
    assert spread_scan(below).rdd.getNumPartitions() == target
