"""Property-based invariants (hypothesis) — SURVEY §5's test-strategy
upgrade: the reference established correctness by eyeball; here the
algebraic contracts that make operators safe to run at 100 TB are
checked over generated inputs, not one golden case.

Each property is the exact reason an operator scales:
- salted_agg is ONLY valid because sum/count/min/max are algebraic —
  if the recombine step ever drifted from plain groupBy, hot-key
  spreading would silently corrupt results.
- zorder_key must be injective on its domain — a collision would merge
  unrelated (a, b) cells and break row-group pruning guarantees.
- asof_join must pick the latest quote ≤ event time — the invariant a
  union+window implementation could silently violate on boundary ties.

Examples are kept small and few: every example is a real Spark job.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
    min_size=1,
    max_size=40,
)


@settings(**_SETTINGS)
@given(rows=rows_strategy, n_salt=st.integers(2, 8))
def test_salted_agg_matches_groupby_on_generated_data(spark, rows, n_salt):
    from sales_data_pipeline_spark.operators.scale import salted_agg

    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        (r.k): (r.sum_v, r.count_v, r.min_v, r.max_v)
        for r in salted_agg(
            df, ["k"], {"v": "sum"}, n_salt=n_salt
        ).join(
            salted_agg(df, ["k"], {"v": "count"}, n_salt=n_salt), "k"
        ).join(
            salted_agg(df, ["k"], {"v": "min"}, n_salt=n_salt), "k"
        ).join(
            salted_agg(df, ["k"], {"v": "max"}, n_salt=n_salt), "k"
        ).collect()
    }
    want = {
        r.k: (r.sum_v, r.count_v, r.min_v, r.max_v)
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("sum_v"),
            F.count("v").alias("count_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=2,
        max_size=60,
        unique=True,
    )
)
def test_zorder_key_is_injective(spark, pts):
    from sales_data_pipeline_spark.operators.scale import zorder_key

    df = spark.createDataFrame(pts, "a long, b long")
    zs = [r.z for r in df.select(zorder_key("a", "b", bits=8).alias("z")).collect()]
    assert len(set(zs)) == len(pts)
    # and it IS the interleave: recompute driver-side
    def interleave(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert sorted(zs) == sorted(interleave(a, b) for a, b in pts)


@settings(**_SETTINGS)
@given(
    events=st.lists(st.integers(0, 1000), min_size=1, max_size=25),
    quotes=st.lists(st.integers(0, 1000), min_size=1, max_size=25, unique=True),
)
def test_asof_join_picks_latest_quote_at_or_before(spark, events, quotes):
    from sales_data_pipeline_spark.operators.asof import asof_join

    ev = spark.createDataFrame(
        [(i, 1, float(t)) for i, t in enumerate(events)], "eid long, k long, t double"
    ).select("eid", "k", F.timestamp_seconds("t").alias("ts"))
    qt = spark.createDataFrame(
        [(i, 1, float(t)) for i, t in enumerate(quotes)], "qid long, k long, qt double"
    ).select("qid", "k", F.timestamp_seconds("qt").alias("qts"))
    got = {
        r.eid: r.qid_asof
        for r in asof_join(
            ev, qt, key="k", left_ts="ts", right_ts="qts", right_payload=["qid"]
        ).collect()
    }
    for i, t in enumerate(events):
        eligible = [(qt_, j) for j, qt_ in enumerate(quotes) if qt_ <= t]
        want = max(eligible)[1] if eligible else None
        assert got.get(i) == want, (i, t, got.get(i), want)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 500)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],  # prefix-sum requires a unique order key
    ),
    n_buckets=st.integers(2, 9),
)
def test_prefix_sum_decomposition_is_exact(spark, rows, n_buckets):
    """distributed_prefix_sum's bucket-local + offset decomposition must
    equal the sequential running sum for ANY key distribution (sparse,
    clustered, adversarial) and ANY bucket count — the invariant that
    lets q65 avoid the single-partition window."""
    from sales_data_pipeline_spark.operators.scale import distributed_prefix_sum

    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.cs for r in distributed_prefix_sum(df, "k", "v", "cs", n_buckets).collect()
    }
    acc, want = 0, {}
    for k, v in sorted(rows):
        acc += v
        want[k] = acc
    assert got == want


@settings(**_SETTINGS)
@given(
    toks=st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]), min_size=1, max_size=30),
    size=st.integers(1, 8),
)
def test_token_chunks_partition_reconstruction(spark, toks, size):
    """Disjoint chunking must PARTITION the token stream: chunks
    concatenate back to the original text, lengths sum to the token
    count, and every chunk except the tail is exactly `size` tokens."""
    from sales_data_pipeline_spark.operators.text import token_chunks

    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = df.select(token_chunks("text", size=size).alias("ch")).collect()[0].ch
    assert " ".join(c.chunk for c in chunks) == text
    assert sum(c.n_tokens for c in chunks) == len(toks)
    assert all(c.n_tokens == size for c in chunks[:-1])
    assert [c.chunk_id for c in chunks] == list(range(len(chunks)))


# ---------------------------------------------------------------------------
# content-defined chunking: lossless on ARBITRARY text (q90's operator)
# ---------------------------------------------------------------------------

texts_strategy = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),  # no lone surrogates
        min_size=0,
        max_size=300,
    ),
    min_size=1,
    max_size=8,
)


@settings(**_SETTINGS)
@given(texts=texts_strategy)
def test_cdc_chunks_lossless_on_arbitrary_unicode(spark, texts):
    """Reassembly identity must hold for ANY unicode document — empty
    strings, whitespace runs, multi-byte code points, text shorter than
    the hash window. Chunking that drops or duplicates a single
    character corrupts the corpus silently."""
    from sales_data_pipeline_spark.operators.dedup import cdc_chunks

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ch = cdc_chunks(df)
    rebuilt = {
        r.doc_id: r.rebuilt
        for r in ch.orderBy("doc_id", "chunk_seq")
        .groupBy("doc_id")
        .agg(F.concat_ws("", F.collect_list("chunk")).alias("rebuilt"))
        .collect()
    }
    for i, t in enumerate(texts):
        assert rebuilt.get(i, "") == t, (i, t, rebuilt.get(i, ""))


# ---------------------------------------------------------------------------
# r3 operators: interval overlap join / bloom semi filter / weighted median
# ---------------------------------------------------------------------------

intervals_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 3000), st.integers(1, 900)),
    min_size=1,
    max_size=15,
)


@settings(**_SETTINGS)
@given(rows=intervals_strategy, width=st.integers(7, 900))
def test_interval_overlap_join_equals_naive(spark, rows, width):
    """For ANY interval set and ANY bin width, the bucketed overlap
    join must emit exactly the naive quadratic join's pairs — once
    each (the responsible-bin predicate is what this pins)."""
    import datetime as _dt

    from sales_data_pipeline_spark.operators.range_join import interval_overlap_join

    base = _dt.datetime(2024, 1, 1)
    data = [
        (k, i, base + _dt.timedelta(seconds=s), base + _dt.timedelta(seconds=s + d))
        for i, (k, s, d) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "k int, id int, s timestamp, e timestamp")
    a = df.select("k", F.col("id").alias("id_a"), F.col("s").alias("sa"), F.col("e").alias("ea"))
    b = df.select("k", F.col("id").alias("id_b"), F.col("s").alias("sb"), F.col("e").alias("eb"))
    want = sorted(
        map(tuple, a.join(b, "k")
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.col("sa") < F.col("eb")) & (F.col("sb") < F.col("ea")))
            .select("id_a", "id_b").collect())
    )
    got = sorted(
        map(tuple, interval_overlap_join(a, b, "k", "sa", "ea", "sb", "eb",
                                         bin_width_seconds=width)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").collect())
    )
    assert got == want, (width, got, want)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(1, 500), st.integers(1, 20)),
        min_size=1,
        max_size=30,
    )
)
def test_weighted_median_matches_python_reference(spark, rows):
    """The decimal cumulative-weight median must equal the direct
    python computation (smallest value whose cum weight reaches half
    the total) per group."""
    from collections import defaultdict
    from decimal import Decimal

    data = [(g, float(p), float(w), i) for i, (g, p, w) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "l_returnflag int, l_extendedprice double, l_quantity double, rid long"
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    r = df.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("p"),
        F.sum(qty).over(w_cum).alias("cw"),
        F.sum(qty).over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    got = {
        row.l_returnflag: row.wm
        for row in r.groupBy("l_returnflag")
        .agg(F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("p"))).alias("wm"))
        .collect()
    }
    groups = defaultdict(list)
    for g, p, w, i in data:
        groups[g].append((p, i, Decimal(str(w))))
    for g, vals in groups.items():
        vals.sort()
        tot = sum(v[2] for v in vals)
        cum = Decimal(0)
        for p, _, wt in vals:
            cum += wt
            if 2 * cum >= tot:
                assert got[g] == p, (g, got[g], p)
                break


# ---------------------------------------------------------------------------
# round-3 additions: proration, CUSUM closed form, capped balance, LPA
# ---------------------------------------------------------------------------


def test_proration_conserves_pool_on_random_orders(spark):
    """Σ(line allocations) ≡ order pool for arbitrary positive prices —
    the telescoping-sum invariant of cumulative rounding (q184)."""
    import random

    rng = random.Random(17)
    rows = []
    pools = {}
    for ok in range(1, 40):
        n = rng.randint(1, 7)
        prices = [round(rng.uniform(1, 100000), 2) for _ in range(n)]
        pool = round(rng.uniform(1, 500000), 2)
        pools[ok] = round(pool * 100)
        for ln, p in enumerate(prices, start=1):
            rows.append((ok, ln, ok * 100 + ln, ln, p, pool))
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_partkey long, l_suppkey long,"
        " l_extendedprice double, o_totalprice double",
    )
    # run the same algebra as q184 over the synthetic frame
    from pyspark.sql import Window, functions as F

    li = df.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        F.round(F.col("l_extendedprice").cast("decimal(18,2)") * 100, 0)
        .cast("bigint").alias("price_c"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100, 0)
        .cast("bigint").alias("pool_c"),
    )
    w_cum = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_orderkey")
    w_lag = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    cum = li.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "pool_c",
        F.sum("price_c").over(w_cum).alias("cum_c"),
        F.sum("price_c").over(w_all).alias("tot_c"),
    ).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "pool_c",
        F.expr("(pool_c * cum_c + tot_c div 2) div tot_c").alias("cum_alloc_c"),
    )
    alloc = cum.select(
        "l_orderkey",
        (
            F.col("cum_alloc_c")
            - F.coalesce(F.lag("cum_alloc_c").over(w_lag), F.lit(0))
        ).alias("alloc_c"),
    )
    sums = {
        r.l_orderkey: r.s
        for r in alloc.groupBy("l_orderkey")
        .agg(F.sum("alloc_c").alias("s"))
        .collect()
    }
    for ok, pool_c in pools.items():
        assert sums[ok] == pool_c, (ok, sums[ok], pool_c)


def test_cusum_closed_form_equals_recurrence():
    """Pᵢ − min(0, min Pⱼ) ≡ the sequential Sᵢ = max(0, Sᵢ₋₁ + xᵢ − k)
    recurrence (the identity q185's windowed plan rests on)."""
    import random

    rng = random.Random(3)
    for _ in range(200):
        xs = [rng.randint(-50, 80) for _ in range(rng.randint(1, 40))]
        k = rng.randint(-10, 30)
        s, seq = 0, []
        for x in xs:
            s = max(0, s + x - k)
            seq.append(s)
        p, mn, closed = 0, 0, []
        for x in xs:
            p += x - k
            mn = min(mn, p)
            closed.append(p - min(0, mn))
        assert seq == closed, (xs, k)


def test_capped_balance_fold_matches_python(spark):
    """The q190 clamp fold over random event sequences equals a plain
    python walk of the same recurrence."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(9)
    rows, want = [], {}
    for k in range(25):
        evs = [
            (i, rng.randint(-60, 60)) for i in range(rng.randint(0, 30))
        ]
        bal, hi, lo = 50, 0, 0
        for _, d in evs:
            t = bal + d
            if t > 100:
                hi += 1
            if t < 0:
                lo += 1
            bal = max(0, min(100, t))
        want[k] = (len(evs), bal, hi, lo)
        for i, d in evs:
            rows.append((k, i, d))
    df = spark.createDataFrame(rows, "k long, i int, delta long")
    grouped = df.groupBy("k").agg(
        F.array_sort(F.collect_list(F.struct("i", "delta"))).alias("evs")
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
    got = {
        r.k: (r.n, r.bal, r.hi, r.lo)
        for r in grouped.select(
            "k",
            F.size("evs").alias("n"),
            fold.getField("bal").alias("bal"),
            fold.getField("n_hi").alias("hi"),
            fold.getField("n_lo").alias("lo"),
        ).collect()
    }
    # keys with zero events never appear in rows — they fold to init
    for k, (n, bal, hi, lo) in want.items():
        if n == 0:
            continue
        assert got[k] == (n, bal, hi, lo), k


# ---------------------------------------------------------------------------
# Logistic regression (operators/regression.py) — sufficient-statistics IRLS
# ---------------------------------------------------------------------------


def _numpy_irls(x, y, n_iter=8, ridge=1e-8):
    """Reference IRLS, same iteration schedule as logistic_fit."""
    import numpy as np

    xd = np.column_stack([np.ones(len(x)), x])
    beta = np.zeros(xd.shape[1])
    for _ in range(n_iter):
        s = 1.0 / (1.0 + np.exp(-(xd @ beta)))
        w = s * (1.0 - s)
        h = xd.T @ (xd * w[:, None]) + ridge * np.eye(xd.shape[1])
        g = xd.T @ (y - s)
        beta = beta + np.linalg.solve(h, g)
    return beta


def test_logistic_fit_matches_numpy_irls(spark):
    """Same algorithm, same iteration count ⇒ the distributed moment
    sums must land on the numpy trajectory to float-sum noise."""
    import numpy as np

    from sales_data_pipeline_spark.operators.regression import logistic_fit

    rng_rows = []
    for i in range(400):  # deterministic synthetic sample, no RNG state
        x1 = ((i * 2654435761) % 1000) / 500.0 - 1.0
        x2 = ((i * 40503) % 997) / 498.5 - 1.0
        u = (((i * 97) % 9973) + 0.5) / 9973.0
        eps = np.log(u / (1 - u))
        y = 1.0 if 2.0 * x1 - 1.0 * x2 + eps > 0 else 0.0
        rng_rows.append((y, x1, x2))
    df = spark.createDataFrame(rng_rows, "y double, x1 double, x2 double")
    fit = logistic_fit(df, "y", ["x1", "x2"])
    x = np.asarray([(r[1], r[2]) for r in rng_rows])
    y = np.asarray([r[0] for r in rng_rows])
    ref = _numpy_irls(x, y)
    np.testing.assert_allclose(fit.beta, ref, rtol=1e-6, atol=1e-8)
    # and the fit actually recovered the planted signal's signs
    assert fit.beta[1] > 0.5 and fit.beta[2] < -0.2


def test_logistic_fit_partition_invariance(spark):
    """Moment sums are algebraic: repartitioning must not change the
    fit beyond float addition order (≤1e-8 here)."""
    import numpy as np

    from sales_data_pipeline_spark.operators.regression import logistic_fit

    rows = [
        (float(i % 2), ((i * 7) % 11) / 5.0 - 1.0, ((i * 13) % 17) / 8.0 - 1.0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "y double, x double, z double")
    b1 = logistic_fit(df.coalesce(1), "y", ["x", "z"]).beta
    b8 = logistic_fit(df.repartition(8), "y", ["x", "z"]).beta
    np.testing.assert_allclose(b1, b8, rtol=0, atol=1e-8)


def test_logistic_score_is_sigmoid_of_linear(spark):
    import math

    from sales_data_pipeline_spark.operators.regression import (
        LogitFit,
        logistic_score,
    )

    fit = LogitFit([0.5, 2.0], ["x"], 10, 8)
    df = spark.createDataFrame([(0.0,), (1.0,), (-1.0,)], "x double")
    got = {r.x: r.p_hat for r in logistic_score(df, fit).collect()}
    for x, p in got.items():
        assert p == 1.0 / (1.0 + math.exp(-(0.5 + 2.0 * x)))


def test_logistic_fit_rejects_degenerate(spark):
    import pytest as _pytest

    from sales_data_pipeline_spark.operators.regression import logistic_fit

    df = spark.createDataFrame([(1.0, 2.0)], "y double, x double")
    with _pytest.raises(ValueError, match="rows <"):
        logistic_fit(df, "y", ["x"])
    with _pytest.raises(ValueError, match="at least one feature"):
        logistic_fit(df, "y", [])


def test_logistic_q221_recovers_planted_beta(spark, sf_dir):
    """q221's planted generator IS a logistic model with β = (0, 1.5,
    −1.0); the reported coefficients must land within ±0.15 of it and
    training accuracy must clear the majority baseline by ≥ 10 pts."""
    from sales_data_pipeline_spark.plans import QUERIES

    rows = {r.term: r for r in QUERIES["q221_logit_fit"].fn(spark, sf_dir).collect()}
    assert abs(rows["quantity_std"].coefficient - 1.5) < 0.15
    assert abs(rows["discount_std"].coefficient + 1.0) < 0.15
    assert abs(rows["intercept"].coefficient) < 0.15
    assert rows["intercept"].train_accuracy > 0.62


def test_logit_gains_monotone_and_calibrated(spark, sf_dir):
    """q230 on the planted logistic signal: deciles ordered by score
    must order positive rates (allowing ±1 local wiggle from noise —
    none observed in practice), with top lift > 1 > bottom lift and
    the lift-weighted average rate equal to the base rate by
    construction (Σ n·rate = Σ n·base·lift)."""
    from sales_data_pipeline_spark.plans import QUERIES

    rows = sorted(
        QUERIES["q230_logit_gains"].fn(spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert len(rows) == 10
    rates = [r.positive_rate for r in rows]
    assert rates == sorted(rates)  # strictly monotone on this signal
    assert rows[0].lift < 0.5 and rows[-1].lift > 1.5
    n = sum(r.n_rows for r in rows)
    wavg = sum(r.n_rows * r.positive_rate for r in rows) / n
    base = sum(r.n_rows * r.positive_rate / r.lift for r in rows) / n
    assert abs(wavg / base - 1.0) < 0.01


def test_temperature_mixture_zero_size_domain_yields_null_not_error(spark):
    """A domain whose docs all carry size 0 used to raise
    DIVIDE_BY_ZERO under ANSI mode (mix_weight = t/u with u = 0);
    the contract is NULL shares for empty domains, untouched values
    for the rest."""
    from sales_data_pipeline_spark.operators.assemble import (
        temperature_mixture_sqrt,
    )

    df = spark.createDataFrame(
        [("a", 10), ("a", 30), ("b", 0), ("b", 0)],
        "source string, sz int",
    )
    got = {r.domain: r for r in temperature_mixture_sqrt(df, size_col="sz").collect()}
    assert got["b"].n_units == 0
    assert got["b"].mix_weight is None
    assert got["a"].mix_weight is not None and got["a"].mix_weight > 0
    # all-empty corpus: totals are 0 → every share NULL, still no error
    all0 = spark.createDataFrame([("a", 0)], "source string, sz int")
    r = temperature_mixture_sqrt(all0, size_col="sz").collect()[0]
    assert r.unit_share is None and r.temp_share is None
    assert r.mix_weight is None


def test_temperature_mixture_sqrt_matches_python_isqrt(spark):
    """The exact α=0.5 variant: shares must equal the python
    fixed-point isqrt computation BITWISE (that is its whole
    contract — one double division of exact integers)."""
    import math

    from sales_data_pipeline_spark.operators.assemble import (
        temperature_mixture_sqrt,
    )

    counts = {"a": 80, "b": 15, "c": 5, "d": 1_000_003}
    rows = [(d, n) for d, n in counts.items()]
    df = spark.createDataFrame(rows, "source string, sz long")
    got = {
        r.domain: (r.n_units, r.unit_share, r.temp_share, r.mix_weight)
        for r in temperature_mixture_sqrt(df, size_col="sz").collect()
    }
    scale = 100_000_000
    p = {d: math.isqrt(n * scale) for d, n in counts.items()}
    tot_n, tot_p = sum(counts.values()), sum(p.values())
    for d, n in counts.items():
        u = n / tot_n
        t = p[d] / tot_p
        assert got[d][0] == n
        assert got[d][1] == u, d          # bitwise
        assert got[d][2] == t, d          # bitwise
        assert got[d][3] == t / u, d      # bitwise
    # same α-monotonicity contract as the pow variant: the dominant
    # domain is down-weighted, the smallest up-weighted
    assert got["d"][3] < 1.0 < got["c"][3]


def test_isqrt_no_overflow_at_int64_edge(spark):
    """isqrt correction terms used to overflow int64 (ANSI
    ARITHMETIC_OVERFLOW) for x in [3037000499^2, 2^63-1] — a band
    inside the documented n_units*scale headroom. The clamp
    s0 <= 3037000498 (one below the max int64 isqrt, so (s0+1)^2
    also fits) removes the error without changing results."""
    import math

    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.operators.assemble import _isqrt

    xs = [
        3037000499**2 - 1,
        3037000499**2,
        3037000499**2 + 1,
        2**63 - 1,
        0,
        1,
        2,
        10**18,
    ]
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    got = {r.x: r.s for r in df.select("x", _isqrt(F.col("x")).alias("s")).collect()}
    for x in xs:
        assert got[x] == math.isqrt(x), x


def test_variance_decomposition_identity_and_nonnegativity(spark):
    """q249: total, within and between variances must be non-negative
    and satisfy the law of total variance to float addition error; a
    brand with all-identical part prices puts ALL dispersion between
    parts (within == 0 exactly — its per-part moments cancel in
    integers)."""
    import os

    from sales_data_pipeline_spark.plans import QUERIES

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    rows = QUERIES["q249_price_dispersion_decomposition"].fn(spark, sf).collect()
    assert rows
    for r in rows:
        assert r.total_var >= 0 and r.within_var >= -1e-9 and r.between_var >= -1e-9
        assert abs(r.total_var - (r.within_var + r.between_var)) <= 1e-9 * max(
            1.0, abs(r.total_var)
        ), r


def test_dominant_supplier_uniqueness_invariant(spark):
    """q237's predicate 2·sup_qty > part_qty admits AT MOST ONE
    dominant supplier per part (two majorities cannot coexist), so the
    sum of dominated-part counts over suppliers is bounded by the
    number of parts shipped in the window."""
    import os

    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.plans import QUERIES

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    rows = QUERIES["q237_dominant_suppliers"].fn(spark, sf).collect()
    assert rows
    n_parts = (
        table(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sum(r.n_dominated_parts for r in rows) <= n_parts


def test_source_novelty_ladder_telescopes(spark):
    """q244's ladder must telescope: marginal counts are positive, the
    cumulative column is their running sum, and the final cumulative
    equals the corpus-wide distinct-trigram count (no trigram lost or
    double-assigned by the min-source collapse)."""
    import os

    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.plans import QUERIES

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    rows = sorted(
        QUERIES["q244_source_novelty_ladder"].fn(spark, sf).collect(),
        key=lambda r: r.source,
    )
    assert rows and all(r.n_new_trigrams > 0 for r in rows)
    run = 0
    for r in rows:
        run += r.n_new_trigrams
        assert r.cum_distinct_trigrams == run
    docs = table(spark, sf, "documents")
    toks = F.split("text", " ")
    total = (
        docs.select(
            F.explode_outer(
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
            ).alias("g")
        )
        .filter(F.col("g").isNotNull())
        .select("g")
        .distinct()
        .count()
    )
    assert run == total
