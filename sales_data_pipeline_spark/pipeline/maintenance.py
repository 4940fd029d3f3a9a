"""Table maintenance: small-file compaction for partitioned parquet.

Repeated batch appends accumulate many small files per partition; at 100 TB the
resulting footer reads and task-per-file scheduling dominate scan cost
long before data volume does. This compactor rewrites ONLY fragmented
partitions, in place, using dynamic partition overwrite — untouched
partitions keep their bytes and their mtimes (verified in tests), so a
nightly compaction touches exactly the partitions the day's ingestion
fragmented.

Heuristic: a partition needs compaction when it holds more than
``max_files`` data files or its mean file size is below 8 MiB. The
rewrite coalesces to ⌈bytes/target⌉ files.

Scope note: compaction is per LEAF partition — it never merges rows
across partition values. In a nested ``ingest_batch=N/sales_month=M``
layout a fragmented leaf consolidates, but many one-file batch dirs for
the same month do NOT merge: collapsing partition values is a
table-format (Delta/Iceberg rewrite + snapshot) job, deliberately out
of scope here.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_spark.pipeline.fs import _fs


@dataclass(frozen=True)
class PartitionStats:
    partition: str  # relative dir, e.g. "sales_month=2023-03"
    n_files: int
    total_bytes: int

    @property
    def mean_bytes(self) -> float:
        return self.total_bytes / self.n_files if self.n_files else 0.0


def partition_file_stats(spark: SparkSession, root: str) -> list[PartitionStats]:
    """Per-leaf-partition file counts/sizes via the Hadoop FS API (works
    for local/hdfs/s3a alike; one listing pass, no data read)."""
    fs, root_p = _fs(spark, root)
    stats: dict[str, list[int]] = {}
    it = fs.listFiles(root_p, True)  # recursive
    root_uri = fs.makeQualified(root_p).toString().rstrip("/")
    while it.hasNext():
        f = it.next()
        path = f.getPath().toString()
        name = f.getPath().getName()
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        rel = path[len(root_uri) + 1 :]
        part = rel.rsplit("/", 1)[0] if "/" in rel else ""
        stats.setdefault(part, []).append(int(f.getLen()))
    return [
        PartitionStats(part, len(sizes), sum(sizes))
        for part, sizes in sorted(stats.items())
    ]


def fragmented_partitions(
    stats: list[PartitionStats],
    max_files: int = 8,
) -> list[PartitionStats]:
    return [
        s
        for s in stats
        if s.n_files > max_files or (s.n_files > 1 and s.mean_bytes < 8 * 1024 * 1024)
    ]


def compact_partitions(
    spark: SparkSession,
    root: str,
    partition_cols: list[str],
    max_files: int = 8,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> list[str]:
    """Rewrite fragmented partitions of a partitioned parquet table to
    ⌈bytes/target⌉ files each; returns the partition dirs rewritten.

    The rewrite reads ONLY the fragmented partitions (partition-pruned
    scan via the partition-column filter) and swaps them in with
    dynamic partition overwrite — an idempotent, partition-local
    operation: untouched partitions are never read or re-written.

    File-count control: repartitioning by partition columns alone sends
    each partition's rows to ONE task (one file — right for small
    partitions, a straggler for big ones), so rows get a deterministic
    content-hash salt in [0, k) with per-partition k = ⌈bytes/target⌉,
    and the shuffle keys on (partition cols, salt)."""
    frag = fragmented_partitions(partition_file_stats(spark, root), max_files)
    if not frag:
        return []
    # partition dir "a=1/b=2" -> tuple of values aligned with partition_cols
    def _values(part: str) -> list[str]:
        return [kv.split("=", 1)[1] for kv in part.split("/")]

    df = spark.read.option("basePath", root).parquet(root)
    data_cols = [c for c in df.columns if c not in partition_cols]
    cond = None
    salt_k = None
    for s in frag:
        this = None
        for col, val in zip(partition_cols, _values(s.partition)):
            c = F.col(col).cast("string") == val
            this = c if this is None else (this & c)
        cond = this if cond is None else (cond | this)
        k = max(1, math.ceil(s.total_bytes / target_file_bytes))
        salt_k = F.when(this, F.lit(k)) if salt_k is None else salt_k.when(this, F.lit(k))
    salt = F.pmod(F.xxhash64(*data_cols), salt_k.otherwise(F.lit(1)))
    total_out = sum(
        max(1, math.ceil(s.total_bytes / target_file_bytes)) for s in frag
    )
    (
        df.filter(cond)
        .withColumn("__salt", salt)
        .repartition(total_out, *partition_cols, "__salt")
        .drop("__salt")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(root)
    )
    return [s.partition for s in frag]


def expire_partitions(
    spark: SparkSession,
    root: str,
    partition_col: str,
    cutoff: str,
    dry_run: bool = False,
) -> list[str]:
    """Retention: drop every leaf partition whose ``partition_col``
    value sorts strictly BELOW ``cutoff`` (string order — correct for
    the zero-padded date/month partition values this repo writes,
    e.g. sales_month=2023-03). The lifecycle counterpart to
    compaction: ingestion grows the table, compaction consolidates it,
    retention bounds it — without retention a 100 TB fact store only
    ever grows, and full scans pay for data no query may legally read
    (cf. the right-to-be-forgotten report q130, which targets rows;
    this targets whole partitions, the only form that also reclaims
    storage without a rewrite).

    Directory-level deletes through the Hadoop FS API — no data read,
    no rewrite of surviving partitions (their files and mtimes are
    untouched, same guarantee compaction gives). Partition values are
    taken from directory names, so the operation is metadata-only.
    Returns the deleted (or, with ``dry_run``, would-be-deleted)
    partition directory names, sorted."""
    fs, root_p = _fs(spark, root)
    if not fs.exists(root_p):
        return []
    prefix = f"{partition_col}="
    doomed = {}
    for status in fs.listStatus(root_p):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            if name[len(prefix):] < cutoff:
                doomed[name] = status.getPath()
    for name in sorted(doomed):
        if not dry_run:
            fs.delete(doomed[name], True)
    return sorted(doomed)


def backfill_partitions(
    spark: SparkSession,
    build: "object",
    root: str,
    partition_col: str,
    values: list[str],
) -> dict[str, int]:
    """Partition-ranged backfill: recompute ONLY the named partitions
    of a partitioned parquet dataset and swap them in atomically
    per-partition via dynamic partition overwrite — the surgical
    re-run a pipeline needs after an upstream fix lands for a date
    range (reprocess days X..Y), without touching any other partition
    and without the delete-then-rewrite gap a static overwrite leaves.

    ``build(spark, values) -> DataFrame`` recomputes the replacement
    rows; the frame MUST contain ``partition_col`` and only values in
    ``values`` (asserted with one aggregation BEFORE any write — a
    build that leaks rows into other partitions would silently expand
    the blast radius; we refuse instead). Dynamic overwrite then
    replaces exactly the partitions present in the frame. Returns
    {partition_value: row_count} for the audit log.

    Scale: the recompute is bounded by the backfilled range, the write
    touches |values| directories, the guard is one groupBy over the
    replacement frame (batch-sized). The reference's ETL has no
    backfill story (failed days land in an error folder and stay
    there, src/main/move/move_files.py:26-62); this plus
    replay_quarantine is the recovery toolkit it was missing."""
    df = build(spark, values)
    if partition_col not in df.columns:
        raise ValueError(f"build() result lacks partition column {partition_col!r}")
    present = {
        r[partition_col]: r["n"]
        for r in df.groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stray = sorted(set(map(str, present)) - set(map(str, values)))
    if stray:
        raise ValueError(
            f"backfill build produced rows outside the requested partitions: "
            f"{stray} (requested {sorted(map(str, values))}) — refusing to "
            f"expand the blast radius"
        )
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(root)
    )
    return {str(k): int(v) for k, v in present.items()}
