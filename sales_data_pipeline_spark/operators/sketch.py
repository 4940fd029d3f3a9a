"""Mergeable sketches as DataFrame programs.

A sketch is the scale answer when the exact structure (a full token
count table, a distinct set) is itself too big to shuffle: bounded
memory, one pass, and — the property that matters on a cluster —
MERGEABLE: per-partition sketches combine associatively, so Spark's
partial aggregation builds them map-side and the shuffle carries only
d×w cells, independent of data size.

The hash family here is md5-derived (first 13 hex digits → 52-bit int,
mod width) — deliberately engine-portable so a SQL oracle can rebuild
the identical sketch; swap xxhash64(seed) in production for ~10× hash
throughput (same plan, same guarantees).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cm_bucket(col: Column, row: int, width: int) -> Column:
    """Row-``row`` hash bucket of a string column (md5-based, portable)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}:"), col)), 1, 13), 16, 10
    ).cast("bigint")
    return (h % width).alias(f"b{row}")


def countmin_sketch(
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a count-min sketch (Cormode & Muthukrishnan 2005, public
    algorithm) over a (possibly weighted) item stream: ``depth`` hash
    rows × ``width`` buckets, cell = total count of items hashing
    there. Returns (row, bucket, cnt) — the sparse sketch (absent cell
    = 0). ONE aggregation: the explode to ``depth`` rows happens
    map-side and partial aggregation collapses each partition to at
    most d×w cells before the shuffle, so shuffle volume is bounded by
    d×w×partitions regardless of item count — the whole point at
    100 TB, where an exact token-count table would itself be TB-scale."""
    c = F.col(item_col)
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col
        else F.lit(1).cast("bigint")
    )
    pairs = items.select(
        F.posexplode(
            F.array(*[_cm_bucket(c, r, width) for r in range(depth)])
        ).alias("row", "bucket"),
        w.alias("__w"),
    )
    return pairs.groupBy("row", "bucket").agg(F.sum("__w").alias("cnt"))


def countmin_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate each query item's count from the sketch:
    min over rows of the addressed cells (classic CM guarantee:
    estimate ≥ true count; overcount ≤ εN with prob 1−δ for
    w = e/ε, d = ln 1/δ). The sketch side is d×w rows at most —
    broadcast it; the lookup is then a map-side join however many
    query items arrive."""
    c = F.col(item_col)
    addressed = queries.select(
        c,
        F.posexplode(
            F.array(*[_cm_bucket(c, r, width) for r in range(depth)])
        ).alias("row", "bucket"),
    )
    joined = addressed.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        joined.groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est"))
    )


# ---------------------------------------------------------------------------
# Bloom filter — membership gate for incremental dedup
# ---------------------------------------------------------------------------


# Hash functions per key; bloom_build and bloom_gate agree on it because
# both address bits through _bloom_positions.
_BLOOM_K = 5


def _bloom_positions(key: Column, m_bits: int) -> list[Column]:
    """The k = 5 bit positions of a key: pmod(xxhash64(key, seed=i), m).
    xxhash64 is a JVM codegen built-in; seeding by a literal second
    argument gives k independent members of the family (same trick as
    MinHash permutations, operators/dedup.py)."""
    return [
        F.pmod(F.xxhash64(key.cast("string"), F.lit(i)), F.lit(m_bits))
        for i in range(_BLOOM_K)
    ]


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Build a Bloom filter over ``key_col`` as a BITMAP TABLE of at
    most m/64 rows ``(word bigint, bits bigint)`` — the distributed
    representation of the classic bit array. Each key contributes k
    set bits; per-word OR-folding happens MAP-SIDE (bit_or has an
    associative partial), so the shuffle carries ≤ m/64 keys of one
    long each no matter how many input rows — the mergeability
    property that makes the sketch a one-pass, bounded-state gate at
    100 TB. Absent words mean all-zero bits.

    Sizing: false-positive rate ≈ (1 − e^{−kn/m})^k; with k=5 and
    the default m=2^20 a 100k-key history sits under 1%. Scale m
    with history size (m ≈ 10n bits keeps FP < 1% at k=5); the bitmap
    stays broadcast-able far beyond billion-key histories (2^33 bits
    = 1 GiB worst case, 128 MiB at n=10^9).

    The filter can never produce a FALSE NEGATIVE: every key folded
    in here is reported maybe_seen by bloom_gate — the property
    incremental dedup needs (never re-admit a known duplicate);
    false positives only cost recall of genuinely-new items, bounded
    as above (tests/test_dedup.py::test_bloom_*).

    The bitmap is a TABLE, not a plan literal, because incremental
    dedup persists it between runs and merges it batch-over-batch
    (write the words to parquet, bit_or with the next batch's)."""
    pos = F.explode(
        F.array(*_bloom_positions(F.col(key_col), m_bits))
    ).alias("h")
    return (
        df.select(pos)
        .select(
            F.floor(F.col("h") / 64).cast("bigint").alias("word"),
            _bit_mask().alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def _bit_mask() -> Column:
    """1 << (h % 64) as a bigint — shiftleft's bit-count argument must
    be a plain int in the Python API, so this goes through expr."""
    return F.expr("shiftleft(cast(1 as bigint), cast(h % 64 as int))")


def bloom_gate(
    bitmap: DataFrame,
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Probe the Bloom bitmap for every distinct key of ``df``:
    returns ``(key_col, maybe_seen boolean)``. A key is maybe_seen
    iff ALL k addressed bits are set. Plan shape: k probe rows per
    key map-side, one BROADCAST left join against the ≤ m/64-row
    bitmap (never a shuffle of the history itself — that is the whole
    point of gating through the sketch instead of anti-joining the
    full fingerprint index), then a groupBy(key) bool_and. Must use
    the same m_bits as bloom_build or membership answers are
    garbage."""
    key = F.col(key_col)
    probes = df.select(
        key,
        F.explode(F.array(*_bloom_positions(key, m_bits))).alias("h"),
    ).select(
        key_col,
        F.floor(F.col("h") / 64).cast("bigint").alias("word"),
        _bit_mask().alias("mask"),
    )
    joined = probes.join(F.broadcast(bitmap), "word", "left")
    hit = F.col("bits").isNotNull() & (
        F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")
    )
    return (
        joined.select(key_col, hit.alias("hit"))
        .groupBy(key_col)
        .agg(F.bool_and("hit").alias("maybe_seen"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog — distinct-count sketch (registers as a table)
# ---------------------------------------------------------------------------


def hll_build(
    df: DataFrame,
    key_col: str,
    p: int = 12,
) -> DataFrame:
    """HyperLogLog registers over ``key_col`` as a table of at most
    2^p rows ``(idx int, rho int)`` — completing the sketch family
    (count-min for frequencies, Bloom for membership, HLL for
    cardinality). xxhash64 splits into a p-bit register index (low
    bits) and a rank ρ = 1 + leading-zeros of the remaining 64−p bits
    (capped there when the suffix is 0); per-register MAX folds
    map-side (mergeable), so the shuffle carries ≤ 2^p tiny rows no
    matter the input — the same bounded-state shape as bloom_build.
    Deterministic: one seeded hash, integer ops only. Spark's own
    approx_count_distinct is the production default (q36); this
    exists because a table-of-registers is MERGEABLE ACROSS RUNS —
    union+max yesterday's registers with today's for a rolling
    distinct without re-scanning history."""
    if not 4 <= p <= 18:
        raise ValueError(f"hll_build: p={p} outside [4, 18]")
    h = F.xxhash64(F.col(key_col).cast("string"), F.lit(25))
    idx = F.pmod(h, F.lit(1 << p)).cast("int")
    # suffix: the 64-p bits above the register index, as a non-negative
    # value in [0, 2^(64-p)); rho = 1 + (64-p) - bit_length(suffix),
    # i.e. leading zeros within the suffix width, capped at 64-p+1.
    width = 64 - p
    suffix = F.shiftrightunsigned(h, p)
    # bit_length of a BIGINT value (position of highest set bit):
    # floor(log2(suffix)) + 1 is NOT safe in float for 50+ bit values;
    # use a 6-step binary ladder in integer ops instead.
    bl = F.lit(0)
    rem = suffix
    for shift in (32, 16, 8, 4, 2, 1):
        cond = rem >= F.lit(1 << shift).cast("bigint")
        bl = F.when(cond, bl + shift).otherwise(bl)
        rem = F.when(cond, F.shiftrightunsigned(rem, shift)).otherwise(rem)
    bl = bl + F.when(suffix > 0, 1).otherwise(0)  # bit_length, 0 for 0
    rho = F.when(suffix == 0, F.lit(width + 1)).otherwise(F.lit(width + 1) - bl)
    return (
        df.select(idx.alias("idx"), rho.cast("int").alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, p: int = 12) -> DataFrame:
    """Cardinality estimate from an HLL register table: the classic
    bias-corrected harmonic mean with the small-range (linear
    counting) correction. Returns one row ``(estimate double)``.
    Absent register rows are empty registers (rho = 0). The whole
    computation is one aggregate over ≤ 2^p rows; relative standard
    error ≈ 1.04/√2^p (~1.6% at p=12), pinned against exact distinct
    counts in tests/test_scale.py::test_hll_*."""
    m = 1 << p
    if m <= 0:
        raise ValueError("hll_estimate: bad p")
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    agg = registers.agg(
        # coalesce: sum over ZERO rows is NULL, which would poison the
        # harmonic sum and both CASE branches — an empty sketch must
        # estimate 0 (via linear counting with m empty registers)
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))), F.lit(0.0)
        ).alias("s"),
        F.count(F.lit(1)).alias("nz"),
    )
    # empty registers contribute 2^0 = 1 each to the harmonic sum
    s = F.col("s") + (F.lit(m) - F.col("nz"))
    raw = F.lit(alpha * m * m) / s
    zeros = F.lit(m) - F.col("nz")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0), linear
    ).otherwise(raw)
    return agg.select(est.alias("estimate"))


def _hll_estimate_expr(regs: Column, p: int) -> Column:
    """HLL estimate as a pure column expression over a DENSE register
    array (length 2^p, 0 = empty register): the same bias-corrected
    harmonic mean + linear-counting math as :func:`hll_estimate`, but
    usable per-ROW — which is what makes grouped and pairwise-union
    estimates one JVM-side expression instead of one job each."""
    m = 1 << p
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    s = F.aggregate(
        regs,
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double")),
    )
    zeros = F.aggregate(
        regs, F.lit(0), lambda acc, r: acc + F.when(r == 0, 1).otherwise(0)
    )
    raw = F.lit(alpha * m * m) / s
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    return F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)


def hll_group_registers(
    df: DataFrame, group_col: str, key_col: str, p: int = 12
) -> DataFrame:
    """One DENSE HLL register array per group: (group, regs array<int>
    of length 2^p). Built by the same xxhash64 split as
    :func:`hll_build`, folded with per-(group, idx) MAX (map-side
    combined — the shuffle carries ≤ |groups|·2^p tiny rows no matter
    the corpus size), then densified into a fixed-length array via a
    map lookup over sequence(0, 2^p-1). The dense form is the
    mergeable currency: union of any two groups = element-wise max,
    a zip_with — no rescan of the data."""
    if not 4 <= p <= 14:
        raise ValueError(f"hll_group_registers: p={p} outside [4, 14]")
    h = F.xxhash64(F.col(key_col).cast("string"), F.lit(25))
    idx = F.pmod(h, F.lit(1 << p)).cast("int")
    width = 64 - p
    suffix = F.shiftrightunsigned(h, p)
    bl = F.lit(0)
    rem = suffix
    for shift in (32, 16, 8, 4, 2, 1):
        cond = rem >= F.lit(1 << shift).cast("bigint")
        bl = F.when(cond, bl + shift).otherwise(bl)
        rem = F.when(cond, F.shiftrightunsigned(rem, shift)).otherwise(rem)
    bl = bl + F.when(suffix > 0, 1).otherwise(0)
    rho = F.when(suffix == 0, F.lit(width + 1)).otherwise(F.lit(width + 1) - bl)
    sparse = (
        df.select(
            F.col(group_col).alias("group"),
            idx.alias("idx"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("group", "idx")
        .agg(F.max("rho").alias("rho"))
    )
    reg_map = F.map_from_entries(
        F.collect_list(F.struct(F.col("idx"), F.col("rho")))
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit((1 << p) - 1)),
        lambda i: F.coalesce(F.element_at(F.col("__m"), i), F.lit(0)),
    )
    return (
        sparse.groupBy("group")
        .agg(reg_map.alias("__m"))
        .select("group", dense.alias("regs"))
    )


def hll_pairwise_overlap(
    df: DataFrame, group_col: str, key_col: str, p: int = 12
) -> DataFrame:
    """Estimated DISTINCT-KEY OVERLAP between every unordered group
    pair via HLL inclusion-exclusion: |A∩B| ≈ est(A) + est(B) −
    est(A∪B), with the union sketch as element-wise max of the two
    dense register arrays (zip_with — sketches merge, data is never
    rescanned). The sketch-tier scale path of the EXACT cross-source
    overlap queries (q227's weighted Jaccard, q169's dup matrix):
    exact pairwise overlap needs a key-keyed join over the full corpus
    per pair, this needs ONE linear sketch pass plus |groups|²·2^p of
    pure column arithmetic — at 20 sources and p=12 that is ~1.6M
    integers, driver never involved. Error: each estimate carries
    RSE ≈ 1.04/√2^p; inclusion-exclusion ADDS absolute errors, so
    small overlaps between huge sets drown in noise — the documented
    contract (the covering test pins the envelope); raise p when the
    overlap of interest is small. Returns (source_a, source_b, est_a,
    est_b, est_union, est_overlap), overlap clipped at 0.

    The register table is PERSISTED (MEMORY_AND_DISK): it feeds both
    sides of the pairwise self-join, and Spark re-executes common
    subplans per consumer — unpersisted, the corpus would be scanned
    TWICE, exactly the cost the sketch tier exists to avoid (the
    plan-shape test pins one scan). It is |groups|·2^p ints — safely
    cacheable at any corpus size. The persist registers in the dedup
    cache ledger, so operators/dedup.release_caches() frees it with
    the other operator intermediates (one ledger per session, not one
    per module)."""
    from sales_data_pipeline_spark.operators.dedup import _persist

    regs = _persist(hll_group_registers(df, group_col, key_col, p))
    a = regs.select(
        F.col("group").alias("source_a"), F.col("regs").alias("ra")
    )
    b = regs.select(
        F.col("group").alias("source_b"), F.col("regs").alias("rb")
    )
    pairs = a.join(b, F.col("source_a") < F.col("source_b"))
    union = F.zip_with("ra", "rb", lambda x, y: F.greatest(x, y))
    est_a = _hll_estimate_expr(F.col("ra"), p)
    est_b = _hll_estimate_expr(F.col("rb"), p)
    est_u = _hll_estimate_expr(union, p)
    return pairs.select(
        "source_a",
        "source_b",
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_u.alias("est_union"),
        F.greatest(est_a + est_b - est_u, F.lit(0.0)).alias("est_overlap"),
    )
