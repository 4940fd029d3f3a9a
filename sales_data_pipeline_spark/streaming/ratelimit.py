"""Per-key debounce / rate limit — the alert-suppression primitive
(emit at most one event per key per cooldown window).

Semantics (the classic monitoring debounce): events for a key are
processed in (ts, event_id) order; an event is EMITTED iff its event
time is at least ``cooldown_seconds`` after the last *emitted* event's
time for that key, and every emitted event resets the clock. Suppressed
events are counted, not forwarded — the operator turns an event storm
into a bounded notification stream (pager dedup, abuse throttling,
change-notification coalescing). The fold is greedy earliest-first
selection — the unique maximal cooldown-spaced subsequence.

``debounce_codegen`` (q286) runs the fold as one JVM ``aggregate``;
``debounce_batch`` runs the same fold in pandas through ``_fold`` and
is the reference the codegen form is tested against.

Reference scope: the reference repo has no streaming (SURVEY §2i).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)

__all__ = ["debounce_batch", "debounce_codegen"]


def _fold(
    pdf: pd.DataFrame,
    last_us: int | None,
    suppressed: int,
    cooldown_us: int,
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("ts", "event_id"),
):
    """Greedy debounce fold over one key's rows in ``order_cols``
    order (must be a total order for determinism). Emits each
    surviving row's values IN THE INPUT COLUMN ORDER plus the
    suppressed-since-last count — column names come from the caller's
    frame, nothing hardcoded (ADVICE r8). Returns (emitted rows, new
    last_us, pending suppressed count); passing the returned state
    into the next call folds a history in pieces."""
    out = []
    pdf = pdf.sort_values(list(order_cols), kind="mergesort")
    ts_idx = list(pdf.columns).index(ts_col)
    for tup in pdf.itertuples(index=False, name=None):
        ts_us = int(pd.Timestamp(tup[ts_idx]).value // 1000)
        if last_us is None or ts_us - last_us >= cooldown_us:
            out.append(tup + (suppressed,))
            last_us = ts_us
            suppressed = 0
        else:
            suppressed += 1
    return out, last_us, suppressed


def _resolve_debounce_cols(
    df: DataFrame,
    cooldown_seconds: int,
    key_cols: Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] | None,
) -> tuple[list, tuple]:
    """Shared validation for the two batch forms: every named column
    must exist, ``order_cols`` must lead with ``ts_col`` (the greedy
    semantics are time-ordered; the tail is the determinism
    tiebreak). Defaults to (ts_col, 'event_id') when the frame has an
    event_id, else (ts_col,)."""
    if cooldown_seconds <= 0:
        raise ValueError(
            f"cooldown_seconds must be > 0, got {cooldown_seconds}"
        )
    cols = list(df.columns)
    if order_cols is None:
        order_cols = (
            (ts_col, "event_id") if "event_id" in cols else (ts_col,)
        )
    order_cols = tuple(order_cols)
    missing = [
        c for c in (*key_cols, ts_col, *order_cols) if c not in cols
    ]
    if missing:
        raise ValueError(
            f"debounce: columns {missing} not in input frame {cols}"
        )
    if order_cols[0] != ts_col:
        raise ValueError(
            f"debounce: order_cols must lead with ts_col {ts_col!r}, "
            f"got {order_cols}"
        )
    return cols, order_cols


def debounce_batch(
    df: DataFrame,
    cooldown_seconds: int = 300,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Pandas reference for the greedy fold (one applyInPandas over
    the key, Arrow-batched). Generic over the input schema (ADVICE r8):
    works for ANY key_cols/ts_col, and the output is every input
    column plus ``n_suppressed_since_last``. ``order_cols`` must be a
    total order (default (ts, event_id)) or ties fall to the engine's
    partition order. The hot path is ``debounce_codegen`` — this
    Arrow form is kept as its reference."""
    cols, order_cols = _resolve_debounce_cols(
        df, cooldown_seconds, key_cols, ts_col, order_cols
    )
    cooldown_us = int(cooldown_seconds) * 1_000_000
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("n_suppressed_since_last", LongType())]
    )
    out_cols = cols + ["n_suppressed_since_last"]

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        out, _, _ = _fold(
            pdf[cols], None, 0, cooldown_us, ts_col, order_cols
        )
        return pd.DataFrame(out, columns=out_cols)

    return df.groupBy(*key_cols).applyInPandas(_apply, out_schema)


def debounce_codegen(
    df: DataFrame,
    cooldown_seconds: int = 300,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Whole-stage-codegen twin of ``debounce_batch`` — the q111/q190
    fold pattern: collect each key's rows into one chronologically
    sorted array (array_sort on a struct that leads with
    ``order_cols``, so both forms walk identical sequences for any
    total order) and run the greedy cooldown fold as a single JVM
    ``aggregate`` — zero Python, no Arrow round-trip, no per-key
    Python-worker dispatch (which is where debounce_batch's ~8.6s
    sf0.1 constant went). Bitwise-equal to debounce_batch (pinned by
    tests). Bounded-group contract: per-key histories must fit in an
    array — the same contract q111/q190 document."""
    cols, order_cols = _resolve_debounce_cols(
        df, cooldown_seconds, key_cols, ts_col, order_cols
    )
    cooldown_us = int(cooldown_seconds) * 1_000_000
    ev_cols = list(order_cols) + [c for c in cols if c not in order_cols]
    ev_struct = F.struct(*[F.col(c) for c in ev_cols])
    ev_type = df.select(ev_struct.alias("e")).schema["e"].dataType
    elem_ddl = ArrayType(
        StructType(
            list(ev_type.fields)
            + [StructField("n_suppressed_since_last", LongType())]
        )
    ).simpleString()
    pairs = ", ".join(f"'{c}', x.`{c}`" for c in ev_cols)
    # epoch-micros expression matching the pandas fold's naive
    # Timestamp.value // 1000: timestampdiff from the NTZ epoch is pure
    # wall-clock arithmetic (timezone-independent); LTZ uses
    # unix_micros (identical under the UTC session this engine pins)
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        us = (
            f"timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', x.`{ts_col}`)"
        )
    else:
        us = f"unix_micros(x.`{ts_col}`)"
    fold = f"""
    aggregate(
      evs,
      struct(CAST(NULL AS BIGINT) AS last, CAST(0 AS BIGINT) AS sup,
             CAST(array() AS {elem_ddl}) AS out),
      (acc, x) -> IF(
        acc.last IS NULL
          OR {us} - acc.last >= {cooldown_us}L,
        struct({us} AS last,
               CAST(0 AS BIGINT) AS sup,
               concat(acc.out, array(named_struct(
                 {pairs}, 'n_suppressed_since_last', acc.sup))) AS out),
        struct(acc.last AS last, acc.sup + CAST(1 AS BIGINT) AS sup,
               acc.out AS out)),
      acc -> acc.out
    )
    """
    grouped = df.groupBy(*key_cols).agg(
        F.array_sort(F.collect_list(ev_struct)).alias("evs")
    )
    return grouped.select(F.explode(F.expr(fold)).alias("e")).select(
        *[F.col(f"e.`{c}`").alias(c) for c in cols],
        F.col("e.n_suppressed_since_last").alias("n_suppressed_since_last"),
    )
