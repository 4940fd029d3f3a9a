"""SparkSession factory with scale-aware defaults.

The reference pins an ad-hoc ``local[*]`` session with a MySQL jar
(reference: src/main/utility/spark_session.py:10-16). Here the session
is a configurable factory whose defaults are chosen for a large cluster
and merely *parameterized down* for local testing:

- AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  broadcast demotion) — free insurance at 100 TB.
- Arrow on (vectorized Python <-> JVM transfer for the few pandas UDFs).
- UTC session timezone (deterministic date bucketing across machines).
- shuffle partitions sized from the environment, not hard-coded: tests
  pass a small number; a real cluster submit overrides via --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults appropriate for the local[...] harness; every one of these is
# an explicit --conf override away from its cluster value.
_BASE_CONF: dict[str, str] = {
    # Adaptive Query Execution: coalesce post-shuffle partitions, split
    # skewed partitions, demote broadcast joins that blow the budget.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Measured lesson (SKEW.md §2c): AQE refuses to split a skewed join
    # whose output feeds an aggregation — the split inserts an extra
    # shuffle, and the cost model vetoes it — so skewJoin.enabled alone
    # silently did nothing for the q118-shaped join (24× skew cost,
    # 0 splits). Forcing accepts the extra shuffle: on the zipf corpus
    # that traded 11.6s plain-SMJ for 2.0s split-SMJ. The trade is only
    # wrong when the join output is tiny AND perfectly balanced, where
    # the extra shuffle buys nothing but costs little — accept it.
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    # Arrow-batched transfer for pandas UDFs / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic time semantics regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Dims in this workload are small; keep broadcast generous. AQE will
    # demote if a runtime size estimate disagrees.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan parallelism: 128 MiB splits is the right default for parquet
    # at scale; harmless locally.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    # Some producers write TIMESTAMP(NANOS) parquet (the events table
    # does); Spark has no nanos timestamp — read as long and convert in
    # the catalog (ns → us truncation, matching DuckDB/Arrow semantics).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # local-mode memory headroom for window sorts / shuffle buffers
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Shuffle files / localCheckpoint blocks from FINISHED stages are
    # only deleted when the driver's ContextCleaner collects their weak
    # references — i.e. when the driver JVM happens to GC. A long-lived
    # session with a large heap may not GC for hours, so a multi-query
    # campaign accumulates every dead stage's shuffle spill on local
    # disk until it fills (measured: the r10 sf10 graph-family run at
    # 48 GiB heap filled ~60 GiB of /tmp with unreferenced shuffle
    # files inside three warmup queries and died on ENOSPC — the disk
    # twin of the r8 checkpoint-block heap OOM). Spark's default
    # periodic-GC backstop is 30min; 60s bounds the dead-file
    # high-water to roughly one query's working set at negligible GC
    # cost. Same insurance on a real cluster: executor shuffle files
    # are freed by the same driver-GC-driven cleaner.
    "spark.cleaner.periodicGC.interval": "60s",
}


def default_master() -> str:
    """local[$SPARK_GRAFT_CPUS] if set, else local[*]."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(
    app_name: str = "sales_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to 32 locally; on a real cluster this
    should be ~2-3x total executor cores (or left to AQE's coalescing
    with a high initial value).
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or default_master())
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions
        if shuffle_partitions is not None
        else int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
