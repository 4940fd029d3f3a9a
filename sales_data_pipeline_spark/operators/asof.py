"""As-of (most-recent-prior) join — an operator Spark's DataFrame API
lacks, composed from built-ins (SURVEY §2c notes the reference has no
range/as-of joins; this is the standard extension a time-series /
event-enrichment workload needs).

Semantics (matching DuckDB/kdb ASOF JOIN, strictly-prior variant
configurable): for each left row, attach the single right row with the
largest right timestamp ≤ (or <) the left timestamp, within the same
equi-key group. Null right columns when no prior right row exists
(LEFT ASOF JOIN).

Plan shape — ONE shuffle, no UDF, no per-key iteration:
  union(tagged left, tagged right)
  → window last_value(right payload) IGNORE NULLS
      over (partition by key order by ts, side rows unbounded preceding..current)
  → keep left rows.
The window sort co-sorts both sides once; cost is O(n log n) per key
group, the same as the sort-merge join Spark would run for an equality
join on (key). One hot key serializes its whole timeline through one
task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    strict: bool = False,
    suffix: str = "_asof",
) -> DataFrame:
    """LEFT ASOF join: latest right row with right_ts ≤ left_ts per key.

    ``key`` may be one column or a composite list (e.g. [symbol, venue])
    — composite keys pack into one struct internally, so the plan shape
    (one window over one shuffle key) is identical. ``strict=True``
    uses right_ts < left_ts (excludes simultaneous rows). Right payload
    columns come back as ``{col}{suffix}`` plus ``{right_ts}{suffix}``.
    Ties on right_ts resolve to the row that sorts last on the payload
    struct (deterministic)."""
    keys = [key] if isinstance(key, str) else list(key)
    pack = F.struct(*[F.col(k) for k in keys]) if len(keys) > 1 else F.col(keys[0])
    # side flag orders right rows before left rows at equal timestamps
    # for the non-strict variant (so an equal-ts right row IS visible),
    # and after them for strict (so it is NOT).
    right_rank = 0 if not strict else 2
    payload = F.struct(
        F.col(right_ts).alias("__ts"), *[F.col(c) for c in right_payload]
    )
    r = right.select(
        pack.alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(right_rank).alias("__side"),
        payload.alias("__p"),
        F.lit(None).cast("long").alias("__rowid"),
    )
    l_cols = [F.col(c) for c in left.columns]
    lf = left.select(
        pack.alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        F.monotonically_increasing_id().alias("__rowid"),
        *l_cols,
    )
    merged = r.select(
        "__k", "__t", "__side", "__p", "__rowid",
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
    ).unionByName(lf)

    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t"), F.col("__side"), F.col("__p"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = merged.withColumn("__last", F.last("__p", ignorenulls=True).over(w))

    out = matched.filter(F.col("__rowid").isNotNull()).select(
        *left.columns,
        F.col("__last.__ts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__last.{c}").alias(f"{c}{suffix}") for c in right_payload],
    )
    return out


def _negated(df: DataFrame, ts_col: str, out_col: str) -> DataFrame:
    """Project the time axis negated (timestamps → −micros, numerics →
    −value) so a BACKWARD as-of on the negated axis is a FORWARD as-of
    on the real one."""
    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, TimestampType):
        return df.withColumn(out_col, -F.unix_micros(F.col(ts_col)))
    return df.withColumn(out_col, -F.col(ts_col))


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    left_id: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """NEAREST as-of join (pandas merge_asof direction='nearest'
    semantics): each left row attaches the right row with the smallest
    |right_ts − left_ts| in its key group, from either side; ties
    (equidistant prior and following rows) prefer the PRIOR row —
    deterministic and matching the backward join's bias. Composed from
    two runs of the one-shuffle backward machinery: the forward pass is
    a backward as-of on the NEGATED time axis (timestamps negate as
    −micros), then the two candidates are compared per left row.

    ``left_id`` must be a unique left key — it re-aligns the two
    passes' outputs (3 keyed shuffles total: backward, forward, the
    id join).
    """
    back = asof_join(
        left, right, key, left_ts, right_ts, right_payload,
        strict=False, suffix="__b",
    )
    lneg = _negated(left, left_ts, "__lnt")
    rneg = _negated(right, right_ts, "__rnt")
    fwd = asof_join(
        lneg, rneg, key, "__lnt", "__rnt",
        [*right_payload, right_ts],
        strict=False, suffix="__f",
    ).drop("__lnt")

    dtype = left.schema[left_ts].dataType
    if isinstance(dtype, TimestampType):
        lt = F.unix_micros(F.col(left_ts))
        bt = F.unix_micros(F.col(f"{right_ts}__b"))
        ft = F.unix_micros(F.col(f"{right_ts}__f"))
    else:
        lt = F.col(left_ts)
        bt = F.col(f"{right_ts}__b")
        ft = F.col(f"{right_ts}__f")
    b_keep = [f"{right_ts}__b"] + [f"{c}__b" for c in right_payload]
    f_keep = [f"{right_ts}__f"] + [f"{c}__f" for c in right_payload]
    j = back.join(
        fwd.select(left_id, *f_keep), left_id, "left"
    )
    back_dist = lt - bt
    fwd_dist = ft - lt
    use_back = F.col(f"{right_ts}__b").isNotNull() & (
        F.col(f"{right_ts}__f").isNull() | (back_dist <= fwd_dist)
    )
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(
        F.when(use_back, F.col(f"{right_ts}__b"))
        .otherwise(F.col(f"{right_ts}__f"))
        .alias(f"{right_ts}{suffix}")
    )
    for c in right_payload:
        out_cols.append(
            F.when(use_back, F.col(f"{c}__b"))
            .otherwise(F.col(f"{c}__f"))
            .alias(f"{c}{suffix}")
        )
    return j.select(*out_cols)
