"""Training-set assembly: deterministic global shuffle into shards and
domain-mixture reweighting.

The last mile of a pretraining data pipeline — after curation the corpus
must be (a) shuffled and cut into shard files a data loader can stream,
and (b) mixed across domains/sources at prescribed rates. Both are
formulated so the result is bit-identical across runs, partitionings and
cluster sizes (the same md5 determinism contract as
operators/quality.py's samplers — never ``rand()``, never
``monotonically_increasing_id``, both of which are partition-order
dependent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Digits every share, weight and token figure is rounded to.
_ROUND_DIGITS = 6
# Fixed-point scale of temperature_mixture_sqrt's integer square roots.
_SQRT_SCALE = 100_000_000


def shard_assignment(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic global shuffle + shard split: every row gets
    (shard, pos) such that reading shards in order of ``pos`` yields an
    md5-random permutation of the corpus — the "shuffle once at write
    time so the trainer streams sequentially" pattern.

    The 52-bit key ``h = md5(id)[:13 hex]`` drives BOTH the shard
    (``h mod n_shards``) and the within-shard order (``h``, ties broken
    by id) — one hash, uniform shards, reproducible everywhere.

    Plan: map (hash) + ONE keyed window per shard partition. There is
    deliberately no global row_number: ordering is per-shard, so the
    sort parallelizes across ``n_shards`` reducers instead of funneling
    the corpus through one. For 100 TB pick n_shards in the thousands
    (shard files of a few GB) — the window key keeps every reducer's
    slice bounded. Writing then uses
    ``repartition(n_shards, "shard").sortWithinPartitions("pos")`` so
    each shard lands as one sorted file with no extra shuffle."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10).cast(
        "bigint"
    )
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("__h")
    )


def mixture_weights(
    df: DataFrame,
    domain_col: str = "source",
    size_col: str | None = None,
    target_shares: dict[str, float] | None = None,
) -> DataFrame:
    """Per-domain sampling weights to hit a target mixture (the static
    DoReMi/Pile-style domain reweighting table a sampler consumes):
    (domain, n_rows, n_units, unit_share, target_share, mix_weight)
    where ``mix_weight = target_share / unit_share`` — the factor by
    which a uniform-over-units sampler must over/under-sample each
    domain. ``size_col`` weighs rows (e.g. token counts); omitted, every
    row counts 1. ``target_shares`` defaults to uniform over the
    domains present; missing domains get 0 (excluded from training).

    Zero-pool semantics (r11 — the same ANSI DIVIDE_BY_ZERO class the
    round-10 advice found in mixture_epochs): a domain whose units sum
    to 0 has unit_share 0 and NO finite sampling weight — its
    mix_weight is NULL (a sampler cannot over-sample an empty pool),
    not a SparkArithmeticException; if the WHOLE corpus sums to 0
    units, every share and weight is NULL. Impossible for q76's
    token_count (≥ 1 per row) but reachable through the public
    operator with a generic size_col (byte sizes, zero-valued rows).

    Plan: one map-side-combined groupBy collapses the corpus to one row
    per domain BEFORE any global work; the share normalization is a
    window over that domain-count-sized result (dozens of rows at any
    corpus scale — the single-partition window is over the aggregate,
    never the data)."""
    unit = F.col(size_col) if size_col else F.lit(1)
    agg = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(unit).cast("bigint").alias("n_units"),
    )
    everything = Window.partitionBy()
    total = F.sum(F.col("n_units").cast("double")).over(everything)
    share = F.when(
        total > 0, F.col("n_units").cast("double") / total
    )  # NULL when the whole corpus has zero units
    if target_shares is None:
        target = F.lit(1.0) / F.count(F.lit(1)).over(everything)
    else:
        target = F.lit(0.0)
        for d, s in target_shares.items():
            target = F.when(F.col("domain") == d, F.lit(float(s))).otherwise(target)
    return agg.select(
        "domain",
        "n_rows",
        "n_units",
        F.round(share, _ROUND_DIGITS).alias("unit_share"),
        F.round(target, _ROUND_DIGITS).alias("target_share"),
        # zero-pool domain -> NULL weight, not DIVIDE_BY_ZERO
        F.when(share > 0, F.round(target / share, _ROUND_DIGITS)).alias(
            "mix_weight"
        ),
    )


def mixture_epochs(
    df: DataFrame,
    domain_col: str = "source",
    size_col: str | None = None,
    target_shares: dict[str, float] | None = None,
    token_budget: float | None = None,
    max_epochs: float = 4.0,
) -> DataFrame:
    """Data-constrained mixture audit: how many EPOCHS of each domain
    does a (target mixture × total token budget) training plan imply,
    and which domains exceed the repetition cap? Muennighoff et al.
    2023 ("Scaling Data-Constrained Language Models") measured that
    repeating data holds value for ~4 epochs and decays rapidly after —
    ``max_epochs`` defaults to that knee. A domain whose target tokens
    exceed ``max_epochs`` passes of its available pool is flagged, with
    the token shortfall that must be re-sourced (new data, a raised
    cap, or weight re-allocated across the mixture).

    ``token_budget`` is REQUIRED (r11): the old 1.0 default meant a
    caller passing only ``target_shares`` silently audited a one-token
    training plan — every domain read epochs≈0 and nothing flagged,
    the opposite of the audit's purpose.

    Output: (domain, available_tokens, target_share, target_tokens,
    epochs, over_cap, shortfall_tokens); one row per domain present,
    PLUS one row per ``target_shares`` domain absent from the corpus —
    the worst audit case (want > 0, available 0): available_tokens=0,
    epochs NULL (no finite epoch count empties a zero pool),
    over_cap=true, shortfall_tokens=target_tokens (r11, per round-10
    advice — previously those rows were silently dropped and the flag
    the audit exists for never raised). Present domains whose sizes
    sum to 0 get the same zero-pool semantics (epochs NULL, not a
    DIVIDE_BY_ZERO crash under ANSI mode). Domains present but absent
    from ``target_shares`` audit at share 0 (excluded from training,
    never flagged). All derived columns are per-domain double
    arithmetic in a fixed expression order, so an external SQL engine
    reproduces them bitwise (zero-pool epochs = CASE WHEN
    available_tokens > 0 THEN ... END).

    Plan: the same scale shape as mixture_weights — one map-side
    combined groupBy collapses the corpus to |domains| rows before any
    of the epoch math; the missing-domain audit is a full-outer join
    of a |target_shares|-row literal frame against that aggregate
    (both sides tiny, still one corpus scan). Nothing downstream ever
    sees a corpus-sized partition."""
    if token_budget is None:
        raise ValueError(
            "mixture_epochs: token_budget is required — the audit is "
            "'does this budget over-repeat any domain', and there is no "
            "sensible default budget (a tiny one reads epochs~0 "
            "everywhere and masks every flag)"
        )
    if float(token_budget) <= 0:
        raise ValueError(
            f"mixture_epochs: token_budget must be > 0, got {token_budget}"
        )
    unit = F.col(size_col) if size_col else F.lit(1)
    agg = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(unit).cast("bigint").alias("available_tokens")
    )
    if target_shares is None:
        everything = Window.partitionBy()
        target: Column = F.lit(1.0) / F.count(F.lit(1)).over(everything)
    else:
        # target domains missing from the corpus still get an audit row
        # (available 0): a FULL OUTER join of a |target_shares|-row
        # literal frame against the post-aggregation |domains|-row
        # frame — both sides tiny, ONE corpus scan (an anti-join +
        # union would re-reference the aggregate subtree and scan the
        # corpus twice)
        wanted = df.sparkSession.createDataFrame(
            [(d,) for d in target_shares], "domain string"
        )
        agg = agg.join(wanted, "domain", "full").select(
            "domain",
            F.coalesce(F.col("available_tokens"), F.lit(0).cast("bigint")).alias(
                "available_tokens"
            ),
        )
        target = F.lit(0.0)
        for d, s in target_shares.items():
            target = F.when(F.col("domain") == d, F.lit(float(s))).otherwise(target)
    want = target * F.lit(float(token_budget))
    avail = F.col("available_tokens").cast("double")
    cap = F.lit(float(max_epochs)) * avail
    return agg.select(
        "domain",
        "available_tokens",
        F.round(target, _ROUND_DIGITS).alias("target_share"),
        F.round(want, _ROUND_DIGITS).alias("target_tokens"),
        # zero pool -> NULL, not DIVIDE_BY_ZERO under ANSI mode
        F.when(
            F.col("available_tokens") > 0, F.round(want / avail, _ROUND_DIGITS)
        ).alias("epochs"),
        (want > cap).alias("over_cap"),
        F.round(F.greatest(want - cap, F.lit(0.0)), _ROUND_DIGITS).alias(
            "shortfall_tokens"
        ),
    )


def domain_cap(
    df: DataFrame,
    domain_col: str = "source",
    cap: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap (the Common-Crawl-style guard against
    one domain dominating the corpus): keep at most ``cap`` rows per
    domain, chosen by md5(id) order — a deterministic uniform sample of
    each domain, not "whichever rows arrived first" (head-of-scan bias,
    partition-order dependent). Adds ``cap_rank`` (1-based position in
    the domain's md5 order) to surviving rows.

    Plan: map (hash) + one keyed window per domain. A domain with
    billions of rows makes its window partition hot; at that scale cap
    FIRST with a cheap per-partition pre-filter (any partition holds at
    most ``cap`` survivors, so two-phase capping works: rank within
    (domain, salt) then re-rank the ≤ cap·n_salt survivors — the same
    two-phase shape as operators/scale.py salted_agg). This corpus's
    domains are bounded, so the direct window is the right plan here."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10).cast(
        "bigint"
    )
    w = Window.partitionBy(domain_col).orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("cap_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("cap_rank") <= cap)
        .drop("__h")
    )


def _isqrt(x: Column) -> Column:
    """Exact integer square root of a non-negative BIGINT column.

    floor(sqrt(double(x))) is within ±1 of the true isqrt for any
    int64 (sqrt is IEEE-correctly-rounded and the int→double
    conversion error is < 1 ulp, so the float result differs from
    √x by far less than 1 for √x < 2^31.5); one up-step and one
    down-step pin it exactly. Both steps are pure integer compares,
    so Spark and any ANSI-SQL oracle agree bitwise by construction.
    """
    s0 = F.floor(F.sqrt(x.cast("double"))).cast("bigint")
    # isqrt of any int64 is <= 3037000499; clamping s0 to ONE BELOW
    # that keeps every square in the correction inside int64 —
    # (s0+1)^2 <= 3037000499^2 = 9223372030926249001 < 2^63-1. (ANSI
    # would otherwise raise ARITHMETIC_OVERFLOW for x in
    # [3037000499^2, 2^63-1], a band just inside the documented
    # n_units*scale headroom; clamping at 3037000499 itself is NOT
    # enough because subexpression elimination hoists (s0+1)^2 out of
    # the CASE and evaluates it unconditionally.) Results are
    # unchanged: float floor(sqrt) is within ±1 of truth, so a clamped
    # s0 = 3037000498 is still within one up-step of the true root.
    s0 = F.least(s0, F.lit(3037000498).cast("bigint"))
    s1 = F.when((s0 + 1) * (s0 + 1) <= x, s0 + 1).otherwise(s0)
    return F.when(s1 * s1 > x, s1 - 1).otherwise(s1)


def temperature_mixture_sqrt(
    df: DataFrame,
    domain_col: str = "source",
    size_col: str | None = None,
) -> DataFrame:
    """Temperature-based domain sampling shares at α=1/2, with EXACT
    cross-engine numerics — the α-smoothing rule multilingual/multi-
    domain LLM training uses (mBERT/XLM-R style: p_i ∝ n_i^α), which
    UP-samples small domains without letting any domain dominate. A
    general α would need libm pow, whose last bits are not pinned
    across engines.

    For α=1/2, n^α = √n, and √ IS exactly computable in integers:
    p_i = isqrt(n_i · 10⁸) is a BIGINT (a fixed-point √n with
    relative quantization error < 1/(√(n·10⁸))), so every total is
    an exact BIGINT sum and every share is ONE double division of
    exact integers — bitwise identical in Spark and DuckDB with no
    rounding step at all (the q229 integer-exact discipline).

    Output (domain, n_units, unit_share, temp_share, mix_weight),
    shares as unrounded doubles. Headroom: n_units·10⁸ must fit
    int64, i.e. n_units ≤ ~9.2e10.
    Plan: one map-side-combined groupBy to |domains| rows, windows
    only over that aggregate. Empty domains (n_units = 0) get NULL
    shares via try_divide: under ANSI mode a bare ratio would raise
    DIVIDE_BY_ZERO when every domain is empty."""
    from pyspark.sql import Window as W

    unit = F.col(size_col) if size_col else F.lit(1)
    agg = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(unit).cast("bigint").alias("n_units")
    )
    w = W.partitionBy()
    p = _isqrt(F.col("n_units") * F.lit(_SQRT_SCALE).cast("bigint"))
    powed = agg.withColumn("p", p)
    u = F.try_divide(
        F.col("n_units").cast("double"),
        F.sum("n_units").over(w).cast("double"),
    )
    t = F.try_divide(
        F.col("p").cast("double"), F.sum("p").over(w).cast("double")
    )
    return (
        powed.withColumn("unit_share", u)
        .withColumn("temp_share", t)
        .withColumn("mix_weight", F.try_divide(t, u))
        .select("domain", "n_units", "unit_share", "temp_share", "mix_weight")
    )


def unimax_allocation(
    df: DataFrame,
    domain_col: str = "source",
    size_col: str | None = None,
    token_budget: float | None = None,
    max_epochs: float = 4.0,
) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023: "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining" — public): distribute a training token
    budget across domains as UNIFORMLY as possible subject to the
    repetition cap b_d <= max_epochs * available_d. The closed-form
    waterfilling solution: processing domains in ascending capacity,
    every domain whose capacity is below the running fair share is
    allocated its full capacity (at_cap=true), and the rest split the
    remaining budget evenly (the "water level"). This COMPUTES the
    mixture that mixture_epochs (q293) AUDITS: unimax never over-caps
    a domain by construction, so feeding its allocation back through
    the epochs audit flags nothing.

    Waterfilling as relational algebra: with capacities sorted
    ascending (tie-broken by domain for a total, engine-portable
    order), the capped set is a PREFIX, and domain i is capped iff
    cap_i * (N - i + 1) + prefix_cap_sum_{<i} < B. That is one
    row_number + two window sums over the |domains|-row aggregate —
    the corpus collapses in one map-side-combined groupBy first, so
    the single-partition window touches dozens of rows at any corpus
    scale, never the data (q76's allowlisted shape).

    Zero-pool domains (available 0) sort first, get capacity 0, are
    trivially capped at alloc 0, and read epochs NULL (the
    mixture_epochs discipline). ``token_budget`` is REQUIRED for the
    same reason as there. A budget exceeding total capacity caps every
    domain and leaves the residue unallocated — visible as
    sum(alloc_tokens) < budget, with every at_cap true. All arithmetic
    is double in a fixed expression order (window frames pinned), so
    an external SQL engine reproduces each value bitwise; the
    water-level division clamps its denominator (greatest(N-k, 1))
    because ANSI subexpression hoisting evaluates untaken CASE
    branches.

    Output: (domain, available_tokens, capacity_tokens, alloc_tokens,
    epochs, at_cap)."""
    if token_budget is None:
        raise ValueError(
            "unimax_allocation: token_budget is required — the operator "
            "allocates a concrete budget; there is no sensible default"
        )
    if float(token_budget) <= 0:
        raise ValueError(
            f"unimax_allocation: token_budget must be > 0, got {token_budget}"
        )
    budget = F.lit(float(token_budget))
    unit = F.col(size_col) if size_col else F.lit(1)
    agg = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(unit).cast("bigint").alias("available_tokens")
    )
    cap = F.lit(float(max_epochs)) * F.col("available_tokens").cast("double")
    order = Window.orderBy(cap, F.col("domain"))
    everything = Window.partitionBy()
    prefix = F.coalesce(
        F.sum(cap).over(
            order.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    i = F.row_number().over(order)
    nd = F.count(F.lit(1)).over(everything)
    staged = agg.select(
        "domain",
        "available_tokens",
        cap.alias("__cap"),
        ((cap * (nd - i + 1).cast("double") + prefix) < budget).alias(
            "__at_cap"
        ),
        nd.alias("__nd"),
    )
    k = F.sum(F.col("__at_cap").cast("int")).over(everything)
    capped_total = F.sum(
        F.when(F.col("__at_cap"), F.col("__cap")).otherwise(F.lit(0.0))
    ).over(everything)
    # denominator clamped: when every domain is capped the ELSE branch
    # is never taken, but ANSI hoisting still evaluates it
    water = (budget - capped_total) / F.greatest(
        (F.col("__nd") - k).cast("double"), F.lit(1.0)
    )
    alloc = F.when(F.col("__at_cap"), F.col("__cap")).otherwise(water)
    return staged.select(
        "domain",
        "available_tokens",
        F.round(F.col("__cap"), _ROUND_DIGITS).alias("capacity_tokens"),
        F.round(alloc, _ROUND_DIGITS).alias("alloc_tokens"),
        F.when(
            F.col("available_tokens") > 0,
            F.round(
                alloc / F.col("available_tokens").cast("double"), _ROUND_DIGITS
            ),
        ).alias("epochs"),
        F.col("__at_cap").alias("at_cap"),
    )
