"""Table profiling: the one-pass data-quality scorecard (null counts,
distinct cardinalities, value ranges per column).

The reference validates its inputs implicitly (schema contract +
quarantine on column-count mismatch, reference:
src/main/transformations/main.py's less/extra-column branches); a real
lake pipeline profiles every load and alerts on drift. This is the
Deequ/`ANALYZE TABLE`-shaped primitive, expressed as ONE aggregation
job over the table.

Scale notes: Spark plans the multiple COUNT(DISTINCT) via a single
Expand — each input row is replicated (#distinct-aggs + 1)× map-side
with a grouping id, still one pass over the data and one shuffle round,
but the expansion factor is the column count. That is the honest price
of exact cardinalities, which the catalog query needs so DuckDB can
hash-match it, and it is fine for scheduled profiling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Per-column profile in long form: (col_name, n_rows, n_null,
    n_distinct, min_val, max_val), one output row per profiled column.

    ``n_distinct`` excludes NULLs (SQL COUNT(DISTINCT) semantics);
    ``min_val``/``max_val`` are computed in the column's native type
    (so numeric order, not lexicographic) and cast to string only for
    the uniform output schema. Callers profiling float/timestamp
    columns who need engine-portable strings should pre-cast to
    decimal / second-truncated timestamps (float-to-string and
    sub-second formats differ across engines).

    Plan: ONE df.agg(...) — every metric is a partial-aggregating
    expression, so the table is scanned once; the long-form pivot is a
    map-only inline() over the single result row."""
    cols = list(cols if cols is not None else df.columns)
    if not cols:
        raise ValueError("no columns to profile")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for c in cols:
        col = F.col(c)
        aggs += [
            F.coalesce(F.sum(col.isNull().cast("bigint")), F.lit(0))
            .cast("bigint")
            .alias(f"__null_{c}"),
            F.count_distinct(col).cast("bigint").alias(f"__nd_{c}"),
            F.min(col).cast("string").alias(f"__min_{c}"),
            F.max(col).cast("string").alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_val"),
                F.col(f"__max_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return row.select(F.inline(structs))


# ---------------------------------------------------------------------------
# declarative expectations (Deequ/Great-Expectations-shaped)
# ---------------------------------------------------------------------------

# expectation tuple forms:
#   ("not_null", col)
#   ("unique", col)                       — no value occurs twice (nulls ignored)
#   ("accepted_values", col, (v1, v2,…))
#   ("range", col, lo, hi)                — lo <= col <= hi (nulls not counted)
#   ("row_count_min", n)


def check_expectations(df: DataFrame, expectations: Sequence[tuple]) -> DataFrame:
    """Evaluate declarative data-quality expectations in as few passes
    as the mix allows: every per-ROW expectation (not_null /
    accepted_values / range / row_count_min) compiles to a conditional
    counter inside ONE df.agg() — a single scan however many
    expectations are declared; each `unique` adds one keyed aggregation
    (count>1 groups) because uniqueness is inherently a grouped
    question. Output, one row per expectation:
    (expectation, column, n_violations, status 'pass'|'fail').

    This is the load-gate companion to profile_table: profiling
    OBSERVES drift, expectations ENFORCE the contract (the engine's
    analogue of the reference's file-level header checks, generalized
    to row-level rules — reference src/main/transformations/main.py
    quarantines whole files on missing columns only)."""
    if not expectations:
        raise ValueError(
            "check_expectations: no expectations given — an empty rule set "
            "would 'pass' vacuously; declare at least one rule"
        )
    row_aggs: list = [F.count(F.lit(1)).cast("bigint").alias("__n_rows")]
    row_specs: list[tuple[str, str, object]] = []  # (kind, col, agg_alias)
    uniques: list[str] = []
    for i, exp in enumerate(expectations):
        kind = exp[0]
        alias = f"__e{i}"
        if kind == "not_null":
            _, c = exp
            row_aggs.append(
                F.coalesce(F.sum(F.col(c).isNull().cast("bigint")), F.lit(0))
                .cast("bigint").alias(alias)
            )
            row_specs.append((kind, c, alias))
        elif kind == "accepted_values":
            _, c, vals = exp
            bad = (~F.col(c).isin(*vals)) & F.col(c).isNotNull()
            row_aggs.append(
                F.coalesce(F.sum(bad.cast("bigint")), F.lit(0))
                .cast("bigint").alias(alias)
            )
            row_specs.append((kind, c, alias))
        elif kind == "range":
            _, c, lo, hi = exp
            bad = ((F.col(c) < lo) | (F.col(c) > hi)) & F.col(c).isNotNull()
            row_aggs.append(
                F.coalesce(F.sum(bad.cast("bigint")), F.lit(0))
                .cast("bigint").alias(alias)
            )
            row_specs.append((kind, c, alias))
        elif kind == "row_count_min":
            _, n = exp
            row_specs.append((kind, str(n), None))
        elif kind == "unique":
            _, c = exp
            uniques.append(c)
        else:
            raise ValueError(f"unknown expectation {kind!r}")

    one = df.agg(*row_aggs)
    parts: list[DataFrame] = []
    # all per-row rules come out of the ONE aggregate row via a single
    # explode — building one SELECT per rule instead would let the
    # optimizer prune/replan the shared agg per union branch, turning
    # one scan into |rules| scans (measured: it does)
    structs = []
    for kind, c, alias in row_specs:
        if kind == "row_count_min":
            viol = (
                F.when(F.col("__n_rows") < int(c), F.lit(1))
                .otherwise(0)
                .cast("bigint")
            )
        else:
            viol = F.col(alias)
        structs.append(
            F.struct(
                F.lit(kind).alias("expectation"),
                F.lit(c).alias("column"),
                viol.alias("n_violations"),
            )
        )
    if structs:
        parts.append(
            one.select(F.explode(F.array(*structs)).alias("__r")).select("__r.*")
        )
    for c in uniques:
        dup = (
            df.filter(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
            .agg(
                F.coalesce(F.sum(F.col("__cnt")), F.lit(0))
                .cast("bigint")
                .alias("n_violations")
            )
            .select(
                F.lit("unique").alias("expectation"),
                F.lit(c).alias("column"),
                "n_violations",
            )
        )
        parts.append(dup)
    from functools import reduce

    report = reduce(DataFrame.unionByName, parts)
    return report.withColumn(
        "status",
        F.when(F.col("n_violations") == 0, F.lit("pass")).otherwise(F.lit("fail")),
    )


def table_fingerprint(
    df: DataFrame,
    key_col: str,
    cols: Sequence[str],
    n_buckets: int = 16,
) -> DataFrame:
    """Anti-entropy reconciliation checksum (q256's operator form): per
    key-range bucket ``pmod(key, n_buckets)``, an ORDER-INDEPENDENT
    ``bit_xor`` fold of 52-bit md5 row hashes over ``cols`` — two
    replicas of a 100 TB table (lake vs mart, two regions, pre/post
    migration) prove byte-equality by shipping ``n_buckets`` rows each
    and comparing; a mismatched bucket pinpoints where to drill
    (recurse with a finer pmod — a merkle descent, one scan of one
    bucket per level).

    xor is the right fold: commutative + associative (partition and
    shuffle order can't change it), self-inverse (a re-sent row pair
    cancels), and it map-side combines to one long per bucket. Hash
    only string/integer identity columns — float RENDERING diverges
    across engines (the q229 lesson applied to hashing).

    Returns (bucket, n_rows, fingerprint). Reference check:
    ``tests/test_r6_operators.py`` pins order-invariance and
    single-row sensitivity."""
    row_hash = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        df.select(
            F.pmod(F.col(key_col), F.lit(n_buckets)).alias("bucket"),
            row_hash.alias("__h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(__h)").alias("fingerprint"),
        )
    )
