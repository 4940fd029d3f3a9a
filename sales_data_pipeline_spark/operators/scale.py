"""Skew & co-location tools for the 100 TB regime.

The reference runs everything through default hash shuffles (its dims
are ≤30 rows — nothing can skew, SURVEY §6). At real scale two
failure modes appear that these helpers address:

- ``salted_agg``: a hot group key (one customer with 10⁹ rows) turns a
  groupBy into a single straggler task. Two-phase aggregation over a
  deterministic salt spreads the hot key across ``n_salt`` reducers,
  then combines the partials — valid for any algebraic aggregate
  (sum/count/min/max here).
- ``salted_join``: the join-side twin. The skewed (big) side gets a
  per-row salt; the modest side is replicated ``n_salt`` times via an
  inline explode, and the join key becomes (key, salt) — the hot key's
  rows now land on n_salt different reducers. Use when the small side
  fits memory×n_salt but not the broadcast budget. (When it DOES fit
  the broadcast budget, broadcast; when AQE's skew-join split is
  enough, do nothing — this is the manual tool for the worst cases.)

Salts are deterministic (xxhash64 of the whole row's key columns — no
rand()), so retried tasks produce identical output: a requirement for
exactly-once sinks and AQE replans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ALGEBRAIC = {"sum", "count", "min", "max"}


def _salt(cols: list[str], n_salt: int) -> Column:
    # deterministic per-row spreading: hash every available column so
    # rows of the SAME hot key still fan out across salts
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salt))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    n_salt: int = 32,
) -> DataFrame:
    """groupBy(keys).agg(...) resistant to hot keys.

    ``aggs`` maps column -> one of sum/count/min/max. Phase 1 aggregates
    by (keys, salt) — the hot key is split n_salt ways; phase 2 combines
    partials by keys (count partials combine via sum). Output column
    names: ``{fn}_{col}`` (aliases match what a direct groupBy with the
    same aliases would produce)."""
    unknown = set(aggs.values()) - _ALGEBRAIC
    if unknown:
        raise ValueError(f"non-algebraic aggregates not salt-splittable: {unknown}")
    salted = df.withColumn("__salt", _salt(df.columns, n_salt))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[getattr(F, fn)(c).alias(f"{fn}_{c}") for c, fn in aggs.items()]
    )
    recombine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    return partial.groupBy(*keys).agg(
        *[
            recombine[fn](f"{fn}_{c}").alias(f"{fn}_{c}")
            for c, fn in aggs.items()
        ]
    )


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition an input whose physical scan yields fewer
    partitions than the session's parallelism — the guide-§2.5 "input
    skew" fix for effectively-unsplittable inputs (single-row-group
    parquet, gzip): without it, every per-row-expensive map stage
    (tokenize/shingle/hash/decimal chains) downstream of such a scan
    runs on ONE core regardless of cluster size, and every persisted
    intermediate inherits the 1-partition layout.

    ADAPTIVE, not a local-mode constant: the partition count is read
    from the actual physical scan and compared to the session's
    ``defaultParallelism``; any real-scale input (thousands of splits)
    takes the no-op branch, so this NEVER adds a shuffle at 100 TB —
    it only fires when the scan demonstrably cannot feed the cores.
    Round-robin repartition is retry-deterministic (Spark sorts before
    repartitioning, SPARK-23207) and row-set-preserving; downstream
    operators here are aggregations/joins, insensitive to row order."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        # pathological plans (e.g. streaming sources) — leave as-is
        return df
    # 2× headroom: a scan already within a factor of two of the core
    # count parallelizes fine; repartitioning it would pay a shuffle
    # for at most a 2× stage win
    if n * 2 >= target:
        return df
    return df.repartition(target)


def salted_join(
    skewed: DataFrame,
    modest: DataFrame,
    on: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed`` has hot values of ``on``.

    The skewed side gets a deterministic per-row salt in [0, n_salt);
    the modest side is replicated once per salt value (explode of a
    literal sequence — no extra shuffle of the skewed side beyond the
    join's own), and the join runs on (on, salt): hot-key rows spread
    over n_salt reducers instead of one straggler.

    Only join types where the replicated side never EMITS unmatched
    rows are legal: for right/full outer (or semantics driven by the
    modest side) every unmatched modest row would surface n_salt times."""
    allowed = {"inner", "left", "left_outer", "left_semi", "left_anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} would emit unmatched replicated rows "
            f"n_salt times; allowed: {sorted(allowed)}"
        )
    left = skewed.withColumn("__salt", _salt(skewed.columns, n_salt))
    right = modest.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    return left.join(right, [on, "__salt"], how).drop("__salt")


def _epoch_us(df: DataFrame, ts_col: str) -> Column:
    """Epoch microseconds for TIMESTAMP, TIMESTAMP_NTZ or DATE (the NTZ
    case is pure wall-clock arithmetic, timezone-independent — same
    recipe as streaming/ratelimit.py's codegen fold; identical under
    the UTC session this engine pins)."""
    from pyspark.sql.types import DateType, TimestampNTZType

    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, TimestampNTZType):
        return F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', `{ts_col}`)"
        )
    if isinstance(dtype, DateType):
        return F.unix_date(F.col(ts_col)).cast("bigint") * F.lit(
            86_400_000_000
        )
    return F.unix_micros(F.col(ts_col))


def banded_interval_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str,
    build_ts: str,
    lower_us: int,
    upper_us: int,
    bucket_width_us: int | None = None,
) -> DataFrame:
    """Interval equi-join with TIME-BUCKETED shuffle keys — the scale
    sibling of the key-then-band shape (q112/q118/q30/q34).

    Semantics: inner-join rows where ``probe.on == build.on`` and
    ``build_ts - probe_ts ∈ [lower_us, upper_us]`` (inclusive, epoch
    microseconds). Identical output to ``probe.join(build, on).filter(
    band)`` — verified bitwise in tests — but the shuffle key is
    (key, time_bucket), not key alone.

    Why: the plain shape shuffles both sides on the key and evaluates
    the band as a join residual, so its cost is Σ per-key rows² and the
    whole hot key lands on ONE reducer — fine when per-key depth is
    bounded (q112's premise), a quadratic single-task straggler under
    zipf keys (measured: SKEW.json's q118 row). Bucketing by
    ⌊ts/width⌋ with width ≥ the band span makes each build row land in
    exactly one (key, bucket) group and each probe row check exactly
    ⌈span/width⌉+1 ≤ 2 buckets (an inline explode, no extra shuffle),
    so a hot key's year of history spreads over its active hours
    instead of one reducer, and the residual band only ever compares
    rows at most one bucket apart. Residual risk: a hot key whose rows
    all share ONE bucket still concentrates; compose with salting on
    the bucket if event-time itself is degenerate.

    A build row matches from exactly one bucket, so no post-join
    distinct is needed (pairs are emitted once). Inner join only: outer
    variants would need per-bucket unmatched-row reconciliation."""
    if upper_us < lower_us:
        raise ValueError(
            f"banded_interval_join: empty band [{lower_us}, {upper_us}]"
        )
    w = (
        int(bucket_width_us)
        if bucket_width_us is not None
        else max(upper_us - lower_us, 1)
    )
    if w < 1:
        raise ValueError(f"banded_interval_join: bucket_width_us={w} < 1")
    # Each probe row explodes into span//w + 1 buckets; a unit mistake
    # (seconds where microseconds were meant) would silently blow every
    # probe row into a huge F.sequence array. Cap it where the numbers
    # are known rather than letting the executor OOM.
    n_buckets_per_probe = (upper_us - lower_us) // w + 1
    if n_buckets_per_probe > 64:
        raise ValueError(
            "banded_interval_join: band span / bucket_width_us = "
            f"{n_buckets_per_probe} buckets per probe row (> 64) — "
            "width is likely in the wrong unit (expected microseconds)"
        )
    overlap = set(probe.columns) & set(build.columns) - {on}
    if overlap:
        raise ValueError(
            "banded_interval_join: ambiguous columns on both sides "
            f"(rename first): {sorted(overlap)}"
        )
    reserved = {"__bucket", "__p_us", "__b_us"}
    taken = reserved & (set(probe.columns) | set(build.columns))
    if taken:
        raise ValueError(
            "banded_interval_join: reserved internal column names "
            f"present in an input (rename first): {sorted(taken)}"
        )
    p_us = _epoch_us(probe, probe_ts)
    b_us = _epoch_us(build, build_ts)
    p = probe.withColumn("__p_us", p_us).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor((F.col("__p_us") + F.lit(lower_us)) / F.lit(w)),
                F.floor((F.col("__p_us") + F.lit(upper_us)) / F.lit(w)),
            )
        ),
    )
    b = build.withColumn("__b_us", b_us).withColumn(
        "__bucket", F.floor(F.col("__b_us") / F.lit(w))
    )
    delta = F.col("__b_us") - F.col("__p_us")
    return (
        p.join(b, [on, "__bucket"], "inner")
        .filter((delta >= F.lit(lower_us)) & (delta <= F.lit(upper_us)))
        .drop("__bucket", "__p_us", "__b_us")
    )


def zorder_key(col_a: str, col_b: str, bits: int = 16) -> Column:
    """Morton/Z-order key: bit-interleave the low ``bits`` bits of two
    non-negative int columns (a pure codegen expression — 2·bits
    shift/mask/or terms, no UDF).

    Sorting a table by this key before writing gives every file tight
    min/max ranges on BOTH dimensions at once, so parquet row-group
    stats prune scans filtered on EITHER column — the layout trick
    single-column sorting can't do (sorted-by-date files span every
    customer; z-ordered files span a date×customer rectangle). Inputs
    must fit in ``bits`` bits: pre-bucket or scale wider domains first
    (the curve's locality is what matters, not exact values)."""
    a = F.col(col_a).cast("bigint")
    b = F.col(col_b).cast("bigint")
    z = F.lit(0).cast("bigint")
    one = F.lit(1).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(one), 2 * i))
        z = z.bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(one), 2 * i + 1))
    return z


def distributed_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_total",
    n_buckets: int | None = None,
) -> DataFrame:
    """Global running total — ``SUM(v) OVER (ORDER BY k)`` — without the
    single-partition window trap: a global-ordered window with no
    PARTITION BY forces every row through ONE reducer, the canonical
    way a correct-on-60k-rows plan dies at 100 TB.

    Two-phase parallel scan instead:
      1. bin rows into contiguous ranges of the order key (linear
         binning over [min, max] — right for dense keys like ids;
         substitute quantile boundaries if the key space is skewed) and
         running-sum WITHIN each bucket: one hash exchange, all buckets
         in parallel.
      2. exclusive-prefix-sum the per-bucket totals with a JVM
         ``aggregate`` fold over the (n_buckets)-element collected
         array — no Window node at all (the r9 burn-down: the earlier
         bucket-offset window, bounded as it was, still tripped the
         global-window lint and kept every caller allowlisted) — and
         broadcast-join the resulting offsets back.

    Bounds attach lazily as a broadcast scalar (no plan-time job — the
    q22 lazy-guard lesson). ``value_col`` must be integral (the offset
    fold accumulates BIGINT; exact, like every running total in this
    catalog). The order key must be unique (ties make a running sum
    ill-defined); callers pass a rowid-like column. Output = input +
    ``out_col`` (bigint)."""
    from pyspark.sql.window import Window

    # Fixed default (like distributed_rank/distributed_ntile), NOT
    # conf-derived: spark.sql.shuffle.partitions would bake a
    # session-dependent literal into the plan, so the same program
    # fingerprints differently per session (caught by the r9 staleness
    # gate). Callers on large clusters pass n_buckets ≈ parallelism.
    n_buckets = n_buckets or 32
    bounds = df.agg(
        F.min(order_col).cast("bigint").alias("__lo"),
        F.max(order_col).cast("bigint").alias("__hi"),
    )
    width = F.greatest(
        F.floor((F.col("__hi") - F.col("__lo") + F.lit(n_buckets)) / F.lit(n_buckets)),
        F.lit(1),
    )
    bucketed = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__b",
            F.floor((F.col(order_col) - F.col("__lo")) / width).cast("int"),
        )
        .drop("__lo", "__hi")
    )
    w_in = Window.partitionBy("__b").orderBy(order_col)
    inner = bucketed.withColumn(
        "__run", F.sum(F.col(value_col).cast("bigint")).over(w_in)
    )
    totals = bucketed.groupBy("__b").agg(
        F.sum(F.col(value_col).cast("bigint")).alias("__tot")
    )
    offsets = (
        totals.agg(
            F.sort_array(F.collect_list(F.struct("__b", "__tot"))).alias("a")
        )
        .select(
            F.explode(
                F.expr(
                    """
                    aggregate(
                      a,
                      struct(CAST(0 AS BIGINT) AS run,
                             CAST(array() AS
                               array<struct<__b:int,__off:bigint>>) AS out),
                      (acc, x) -> struct(
                        acc.run + x.__tot AS run,
                        concat(acc.out,
                               array(struct(x.__b AS __b,
                                            acc.run AS __off))) AS out),
                      acc -> acc.out)
                    """
                )
            ).alias("o")
        )
        .select(F.col("o.__b").alias("__b"), F.col("o.__off").alias("__off"))
    )
    return (
        inner.join(F.broadcast(offsets), "__b")
        .withColumn(out_col, (F.col("__run") + F.col("__off")).cast("bigint"))
        .drop("__b", "__run", "__off")
    )


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_k: int = 5,
) -> DataFrame:
    """Key-distribution diagnostic for a prospective join/aggregation
    key: per top-``top_k`` heaviest key, its row count and share of the
    table, beside the table-wide totals (n_rows, n_keys, mean rows/key)
    — the numbers that decide whether to salt (operators/scale.py
    salted_agg/salted_join), broadcast, or AQE-skew-split before
    shuffling on that key at 100 TB. Rule of thumb the report enables:
    max_share × n_rows ≫ rows-per-task ⇒ the hottest key alone
    overflows one reducer ⇒ salt by ~⌈max_share · n_partitions⌉.

    One keyed aggregation + a top-k over the (small) key-count table;
    emitted long-form, one row per heavy key, totals repeated (the
    driver-friendly shape — no second result set)."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("key_rows"))
    totals = counts.agg(
        F.sum("key_rows").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    from pyspark.sql import Window

    # the global window runs over the LIMITed top-k rows only
    w = Window.orderBy(F.col("key_rows").desc(), *key_cols)
    top = (
        counts.orderBy(F.col("key_rows").desc(), *key_cols)
        .limit(top_k)
        .withColumn("key_rank", F.row_number().over(w).cast("bigint"))
    )
    key_str = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            F.col("key_rank"),
            key_str.alias("key"),
            F.col("key_rows").cast("bigint").alias("key_rows"),
            F.round(F.col("key_rows") / F.col("n_rows").cast("double"), 6).alias(
                "key_share"
            ),
            "n_rows",
            "n_keys",
            F.round(F.col("n_rows") / F.col("n_keys").cast("double"), 6).alias(
                "mean_rows_per_key"
            ),
        )
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value: Column,
    out_col: str,
    bucket_col: str | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Per-group running sum — ``SUM(value) OVER (PARTITION BY groups
    ORDER BY order_cols ROWS UNBOUNDED PRECEDING..CURRENT ROW)`` — via
    the two-phase parallel scan, for LOW-CARDINALITY groups.

    :func:`distributed_prefix_sum` fixes the GLOBAL ordered-window
    trap; this is its grouped sibling for the subtler version: a
    window partitioned by a 3-value column (return flag, source, label)
    is "partitioned" in name only — each group's entire row set still
    funnels through ONE reducer, the same death at 100 TB, merely
    three of them. Rows are range-bucketed on ``bucket_col`` (default:
    the leading order column — the split must be monotone in the
    window order, which a leading-column range split is), running sums
    run per (group, bucket) in parallel, and only the
    groups × buckets bucket-total relation pays a per-group window.
    Bounds attach as a broadcast scalar — lazy, no plan-time job.

    ``value`` must be NON-NEGATIVE (bucket totals are read as the max
    running value, so the bucketed relation is walked once; with
    ``F.lit(1)`` the output is exactly ``row_number`` when order_cols
    form a total order). Running sums are bitwise identical to the
    plain window's — exact integers/decimals either way — so oracles
    written against the naive window stay valid."""
    bucket_col = bucket_col or order_cols[0]
    bounds = df.agg(
        F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi")
    )
    width = F.greatest(
        (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets)),
        F.lit(1e-9),
    )
    bucketed = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__b",
            F.least(
                F.floor((F.col(bucket_col) - F.col("__lo")) / width).cast("int"),
                F.lit(n_buckets - 1),
            ),
        )
        .drop("__lo", "__hi")
    )
    from pyspark.sql.window import Window

    w_in = (
        Window.partitionBy(*group_cols, "__b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inner = bucketed.withColumn("__run", F.sum(value).over(w_in))
    totals = inner.groupBy(*group_cols, "__b").agg(
        F.max("__run").alias("__tot")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *group_cols,
        "__b",
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        inner.join(F.broadcast(offsets), [*group_cols, "__b"])
        .withColumn(out_col, F.col("__run") + F.col("__off"))
        .drop("__b", "__run", "__off")
    )


def distributed_rank(
    df: DataFrame,
    signal_col: str,
    id_col: str,
    out_col: str,
    descending: bool = True,
    n_buckets: int = 32,
    with_total_col: str | None = None,
) -> DataFrame:
    """``row_number() OVER (ORDER BY signal [DESC], id)`` with NO
    single-partition stage anywhere in the plan — the two-phase
    distributed rank the q285/q287 global-window registrations
    documented but didn't implement until r8.

    ``with_total_col`` (r10): when set, the output ALSO carries the
    global row count under that name, derived from the same per-bucket
    count aggregate the offsets fold already consumes — zero extra
    scans. ``distributed_ntile`` needs exactly (rank, n); before this
    it re-counted the input in a third full pass. When None the plan
    is unchanged (the extra agg column exists only when asked for, so
    pre-r10 plan fingerprints of rank-only callers stay valid).

    A global rank is the one window a 100 TB curation pipeline cannot
    avoid (RRF fusion, DSIR cuts, quality-percentile gates all need
    it), and ``Window.orderBy(...)`` with an empty partition spec
    funnels the entire corpus through ONE reducer. Instead:

      1. range-bucket rows on the signal (broadcast min/max bounds
         attach lazily — no plan-time job; same-signal ties land in
         the same bucket, so the ``id_col`` tie-break never crosses a
         bucket boundary);
      2. ``row_number`` within each bucket — one hash exchange, all
         buckets sort in parallel;
      3. per-bucket row counts collapse to a 1-row aggregate whose
         exclusive prefix offsets are computed by a JVM ``aggregate``
         fold over the (n_buckets)-element array — no Window node at
         all, so the plan carries ZERO empty-partition windows (the
         ``grouped_running_sum`` offset window over bucket totals,
         bounded as it is, would still trip the global-window lint) —
         then broadcast-join back.

    Ranks are exactly the naive window's (bitwise: pure integer
    arithmetic) whenever ``(signal, id)`` is a total order, so oracles
    written against ``row_number()`` stay valid. Output = input +
    ``out_col`` (bigint).

    Residual risk (cf. banded_interval_join): the buckets split the
    SIGNAL's value range, so a degenerate corpus whose signal is
    near-constant lands every row in one bucket and quietly reproduces
    the single-partition sort this exists to avoid. Correctness still
    holds (ties never cross a bucket). The contract: the signal should
    be a continuous-ish score (quality, BM25, revenue, timestamps — the
    signals this catalog ranks); for a known-degenerate signal, rank on
    a (signal, id)-derived composite instead. A second caveat: the
    signal is compared as DOUBLE, so two inputs that differ only beyond
    2^53 precision tie here but not in a decimal-ordered window —
    integral signals stay exact to 2^53."""
    ordv = F.col(signal_col).cast("double")
    if descending:
        ordv = -ordv
    bounds = df.agg(
        F.min(ordv).alias("__lo"), F.max(ordv).alias("__hi")
    )
    width = F.greatest(
        (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets)),
        F.lit(1e-9),
    )
    bucketed = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__b",
            F.least(
                F.floor((ordv - F.col("__lo")) / width).cast("int"),
                F.lit(n_buckets - 1),
            ),
        )
        .drop("__lo", "__hi")
    )
    from pyspark.sql.window import Window

    w_in = Window.partitionBy("__b").orderBy(ordv.asc(), F.col(id_col).asc())
    inner = bucketed.withColumn("__rn", F.row_number().over(w_in))
    # per-bucket counts = MAX row_number per bucket, read off the
    # window output (r13): counting `bucketed` directly walked the
    # rank input a THIRD time (its partial-agg exchange is distinct
    # from the window's raw-row exchange, so nothing was reused);
    # max(__rn) is the same integer, and because it consumes the
    # window column the counts branch shares the window's exchange —
    # two input walks instead of three, one fewer independent
    # exchange to materialize. (A bare count(1) over `inner` would
    # NOT work: column pruning drops the unused Window and the branch
    # silently reverts to the third walk.)
    counts = inner.groupBy("__b").agg(
        F.max("__rn").cast("bigint").alias("__cnt")
    )
    aggs = [F.sort_array(F.collect_list(F.struct("__b", "__cnt"))).alias("a")]
    if with_total_col is not None:
        # the total is the sum of the SAME bucket counts the fold
        # consumes — one more column on a 1-row aggregate, not a scan
        aggs.append(F.sum("__cnt").cast("bigint").alias(with_total_col))
    exploded = counts.agg(*aggs).select(
        F.explode(
            F.expr(
                """
                aggregate(
                  a,
                  struct(CAST(0 AS BIGINT) AS run,
                         CAST(array() AS
                           array<struct<__b:int,__off:bigint>>) AS out),
                  (acc, x) -> struct(
                    acc.run + x.__cnt AS run,
                    concat(acc.out,
                           array(struct(x.__b AS __b,
                                        acc.run AS __off))) AS out),
                  acc -> acc.out)
                """
            )
        ).alias("o"),
        *([with_total_col] if with_total_col is not None else []),
    )
    offsets = exploded.select(
        F.col("o.__b").alias("__b"),
        F.col("o.__off").alias("__off"),
        *([with_total_col] if with_total_col is not None else []),
    )
    return (
        inner.join(F.broadcast(offsets), "__b")
        .withColumn(out_col, (F.col("__off") + F.col("__rn")).cast("bigint"))
        .drop("__b", "__rn", "__off")
    )


def distributed_ntile(
    df: DataFrame,
    signal_col: str,
    id_col: str,
    k: int,
    out_col: str,
    descending: bool = True,
    n_buckets: int = 32,
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY signal [DESC], id)`` with no
    single-partition stage — the quantile-bucket sibling of
    :func:`distributed_rank` (r9 allowlist burn-down: the exact
    Pareto/RFM tiers q138/q140 anchor their oracles on ntile windows
    over the |customers| aggregate, which scales with the catalog).

    SQL ntile semantics are a pure integer function of the global row
    number ``rn`` and the total count ``n``: with ``q, r = divmod(n,
    k)``, the first ``r`` tiles take ``q+1`` rows and the rest ``q``,
    so::

        ntile = (rn-1) div (q+1) + 1              if rn <= (q+1)*r
              = r + (rn-1 - (q+1)*r) div q + 1    otherwise

    (when ``n < k``: q=0, r=n, every row is its own tile — the first
    branch covers it). The rank AND the total come from ONE
    :func:`distributed_rank` pass (``with_total_col`` — r10, closing
    the third input scan VERDICT r9 §5 flagged: ``n`` is the sum of
    the bucket counts the rank's offsets fold already aggregates), so
    tiles are bit-identical to the window form and ntile-anchored
    oracles stay valid. Inherits distributed_rank's signal contract
    (continuous-ish, double-exact). Output = input + ``out_col``
    (bigint)."""
    ranked = distributed_rank(
        df, signal_col, id_col, "__ntile_rn",
        descending=descending, n_buckets=n_buckets,
        with_total_col="__n",
    )
    # integer-exact throughout (div, never float division — the
    # q153/q158 multiples-misround lesson): q = n div k, r = n mod k,
    # cutoff = (q+1)*r rows belong to the first r (larger) tiles
    tile = F.expr(
        f"""CASE WHEN __ntile_rn <= ((__n div {k}) + 1) * (__n % {k})
             THEN (__ntile_rn - 1) div ((__n div {k}) + 1) + 1
             ELSE (__n % {k})
                  + (__ntile_rn - 1 - ((__n div {k}) + 1) * (__n % {k}))
                    div greatest(__n div {k}, 1) + 1
            END"""
    )
    return (
        ranked
        .withColumn(out_col, tile.cast("bigint"))
        .drop("__ntile_rn", "__n")
    )
