"""Dimension-maintenance merges — the MERGE/upsert semantics the
reference lacks (its JDBC sink is full-table idempotent overwrite:
/root/reference/src/main/write/database_write.py:8-17 truncate+rewrite).
At 100 TB you cannot rewrite the world per batch; you apply a small
change-batch against a big base.

``scd2_merge`` and ``apply_cdc_log`` are each built around ONE
broadcast join: a CDC/change batch is small by definition, so the base
table — the 100 TB side — is never shuffled.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _marker(changes: DataFrame, keys: Sequence[str]) -> DataFrame:
    return F.broadcast(
        changes.select(*keys).distinct().withColumn("__matched", F.lit(1))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Keyed diff of two snapshots of the same table — the CDC census
    that answers "what changed between yesterday's and today's load":
    every key classified as ``added`` / ``removed`` / ``changed`` /
    ``unchanged``, with the exact list of differing columns (NULL-safe
    comparison, so NULL→value and value→NULL both count as changes).

    Output: keys, ``status``, ``changed_cols`` (comma-joined in
    ``compare_cols`` order), and ``{c}_old`` / ``{c}_new`` for every
    compared column (the CDC payload downstream appliers need).

    Plan: ONE full-outer shuffle join on the key — unavoidable, since
    adds and removes both require the unmatched sides. At 100 TB the
    two snapshots are successive loads of the same table: store them
    bucketed by the key and the exchange disappears entirely
    (operators/scale.py bucketed-join pattern); the classification
    itself is pure post-join expression work."""
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys and c in old.columns]
    o = old.select(
        *keys,
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *keys,
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    j = o.join(n, list(keys), "full_outer")
    diffs = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")), F.lit(c)
                )
                for c in compare_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.size(diffs) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        *keys,
        status.alias("status"),
        F.when(status == "changed", F.concat_ws(",", diffs))
        .otherwise(F.lit(""))
        .alias("changed_cols"),
        *[F.col(f"__o_{c}").alias(f"{c}_old") for c in compare_cols],
        *[F.col(f"__n_{c}").alias(f"{c}_new") for c in compare_cols],
    )
    return out if include_unchanged else out.filter(F.col("status") != "unchanged")


def scd2_merge(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    version_col: str = "version",
    current_col: str = "is_current",
    base_version: int = 0,
    batch_version: int = 1,
) -> DataFrame:
    """History-keeping (SCD type-2) MERGE: every base row is retained —
    rows superseded by the change batch are closed out
    (``is_current=false``), untouched rows stay current, and every
    change row (update or insert) lands as the current
    ``batch_version``. Deterministic version numbers instead of wall-
    clock validity timestamps keep the result bit-reproducible (the
    caller maps versions to batch timestamps in its own audit table —
    same design as pipeline/state.py's append-only log).

    Plan: one broadcast left join (marker) + union; the 100 TB base is
    read once and never shuffled."""
    tagged = (
        base.join(_marker(changes, keys), list(keys), "left")
        .withColumn(version_col, F.lit(base_version).cast("int"))
        .withColumn(current_col, F.col("__matched").isNull())
        .drop("__matched")
    )
    incoming = changes.withColumn(
        version_col, F.lit(batch_version).cast("int")
    ).withColumn(current_col, F.lit(True))
    return tagged.unionByName(incoming)


def apply_cdc_log(
    base: DataFrame,
    log: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    version_cols: Sequence[str] = ("version",),
) -> DataFrame:
    """Apply an ordered change-data-capture log (op ∈ {I,U,D}) onto a
    base snapshot: per key, the HIGHEST-version log row wins — I/U
    upsert the row's payload, D deletes the key; keys absent from the
    log pass through untouched. This is the replication-consumer half
    of the CDC story (snapshot_diff PRODUCES such a log; scd2_merge
    keeps history instead of collapsing it).

    Semantics pinned deliberately:
    - version_cols must form a TOTAL order per key (ts alone is not —
      pass (ts, change_id)); max_by over a version struct picks the
      winner in one aggregation, no window sort;
    - a D followed by a later I resurrects the key (only the FINAL op
      matters — intermediate history collapses, which is exactly what
      "apply the log" means for a snapshot consumer);
    - payload columns of ``log`` must match ``base`` by name (D rows
      may carry nulls — the payload is never read for deletes).

    Plan: the log collapses to one row per touched key via a keyed
    max_by aggregation (map-side combinable); the collapsed set —
    small relative to base in any realistic CDC batch — broadcasts
    into one anti join (evict touched keys from base) + one union of
    the surviving upserts. Base itself never shuffles."""
    payload = [c for c in base.columns]
    # Column-API max_by (never SQL-text interpolation of names: a
    # payload column like `order value` or `from` would break or
    # misparse an F.expr string)
    value_struct = F.struct(
        *[F.col(op_col)],
        *[F.col(c) for c in payload if c not in keys],
    )
    ver_struct = F.struct(*[F.col(c) for c in version_cols])
    collapsed = (
        log.groupBy(*keys)
        .agg(F.max_by(value_struct, ver_struct).alias("__win"))
        .select(*keys, "__win.*")
    )
    finals = collapsed.filter(F.col(op_col) != "D").select(*payload)
    touched = collapsed.select(*keys)
    keep = base.join(F.broadcast(touched), list(keys), "left_anti")
    return keep.unionByName(finals)
