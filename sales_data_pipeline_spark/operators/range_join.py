"""Point-in-interval range join via time-bin bucketing.

Spark plans a plain ``l.key = r.key AND r.start <= l.ts AND l.ts <
r.end`` join as a per-key nested loop (BroadcastNestedLoop or a
sort-merge on key with a quadratic inner scan per key group) — fine for
small intervals tables, catastrophic when both sides are large. The
bucketed form turns it into a pure equi-join:

- each interval explodes to the fixed-width time bins it overlaps
  (bounded fanout: ceil(interval_len / bin_width) + 1 rows);
- each point maps to exactly ONE bin — so every matching (point,
  interval) pair meets in exactly one bucket and needs no dedup;
- the equi-join on (key, bin) shuffles both sides once; the exact
  containment predicate filters in the join itself.

Pick ``bin_width_seconds`` near the typical interval length: shuffle
volume is points + intervals·(len/width), probe fanout is the number of
intervals sharing a (key, bin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_US = 1_000_000


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bin_width_seconds: int = 600,
) -> DataFrame:
    """Join each point row to every interval row (same ``key``) with
    start_ts ≤ point_ts < end_ts. Output = point columns + the
    interval's columns (callers pre-alias overlapping names)."""
    w_us = bin_width_seconds * _US
    i_bins = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_ts)) / w_us),
                # end is exclusive, but a point in the same bin as end
                # can still precede it — include end's bin
                F.floor(F.unix_micros(F.col(end_ts)) / w_us),
            )
        ),
    )
    p_bins = points.withColumn(
        "__bin", F.floor(F.unix_micros(F.col(point_ts)) / w_us)
    )
    cond = (
        (p_bins[key] == i_bins[key])
        & (p_bins["__bin"] == i_bins["__bin"])
        & (i_bins[start_ts] <= p_bins[point_ts])
        & (p_bins[point_ts] < i_bins[end_ts])
    )
    return (
        p_bins.join(i_bins, cond, "inner")
        .drop(i_bins[key])
        .drop(i_bins["__bin"])
        .drop(p_bins["__bin"])
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bin_width_seconds: int = 600,
) -> DataFrame:
    """INTERVAL × INTERVAL overlap join: all same-``key`` row pairs
    whose half-open intervals [left_start, left_end) and
    [right_start, right_end) intersect — the generalization of
    ``range_join`` both of whose sides are intervals (meeting/conflict
    detection, co-occurring sessions, downtime attribution).

    Same bucketization, plus the standard EXACTLY-ONCE trick that a
    point-side join doesn't need: two overlapping intervals share
    every bin their intersection covers, so the join would emit the
    pair once per shared bin. Instead of a distinct over the output
    (a full extra shuffle of the result), each pair is claimed by ONE
    responsible bin — the bin containing max(start_l, start_r), i.e.
    where the intersection begins — via a cheap predicate inside the
    join. Output = left columns + right columns (callers pre-alias
    collisions); shuffles: one (key, bin) exchange per side, fanout
    bounded by ceil(len/width)+1 bins per interval."""
    w_us = bin_width_seconds * _US

    def _bins(df: DataFrame, s: str, e: str) -> DataFrame:
        # drop EMPTY/inverted intervals (end ≤ start) up front: a
        # half-open [s, e) with e ≤ s contains nothing and must match
        # nothing — and an inverted pair would otherwise make
        # F.sequence generate a DESCENDING bin range that could still
        # satisfy the responsible-bin predicate and emit bogus pairs.
        return df.filter(F.col(e) > F.col(s)).withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(F.unix_micros(F.col(s)) / w_us),
                    F.floor(F.unix_micros(F.col(e)) / w_us),
                )
            ),
        )

    lb = _bins(left, left_start, left_end)
    rb = _bins(right, right_start, right_end)
    inter_start = F.greatest(lb[left_start], rb[right_start])
    cond = (
        (lb[key] == rb[key])
        & (lb["__bin"] == rb["__bin"])
        # overlap of half-open intervals
        & (lb[left_start] < rb[right_end])
        & (rb[right_start] < lb[left_end])
        # exactly-once: only the bin where the intersection begins emits
        & (lb["__bin"] == F.floor(F.unix_micros(inter_start) / w_us))
    )
    return (
        lb.join(rb, cond, "inner")
        .drop(rb[key])
        .drop(lb["__bin"])
        .drop(rb["__bin"])
    )
