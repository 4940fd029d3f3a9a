"""Small-file compaction: fragmented partitions get rewritten, healthy
partitions keep their exact bytes, data survives bit-identical."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from sales_data_pipeline_spark.pipeline.maintenance import (
    compact_partitions,
    fragmented_partitions,
    partition_file_stats,
)


def _files(root, part):
    return sorted(glob.glob(f"{root}/{part}/*.parquet"))


def _build_table(spark, root):
    """month=A fragmented (16 files), month=B healthy (1 file)."""
    a = spark.range(0, 4000).select(
        F.col("id"), F.lit("A").alias("month"), (F.col("id") * 2).alias("v")
    )
    a.repartition(16).write.partitionBy("month").mode("overwrite").parquet(root)
    b = spark.range(4000, 8000).select(
        F.col("id"), F.lit("B").alias("month"), (F.col("id") * 2).alias("v")
    )
    b.coalesce(1).write.partitionBy("month").mode("append").parquet(root)


def test_stats_and_fragmentation_detection(spark, tmp_path):
    root = str(tmp_path / "t")
    _build_table(spark, root)
    stats = {s.partition: s for s in partition_file_stats(spark, root)}
    assert stats["month=A"].n_files == 16
    assert stats["month=B"].n_files == 1
    frag = fragmented_partitions(list(stats.values()), max_files=8)
    assert [s.partition for s in frag] == ["month=A"]


def test_compact_rewrites_only_fragmented_and_preserves_data(spark, tmp_path):
    root = str(tmp_path / "t")
    _build_table(spark, root)
    before = spark.read.parquet(root)
    want = sorted(map(tuple, before.collect()))
    b_files_before = {(f, os.path.getmtime(f)) for f in _files(root, "month=B")}

    rewritten = compact_partitions(
        spark, root, ["month"], max_files=8, target_file_bytes=1 << 30
    )
    assert rewritten == ["month=A"]
    assert len(_files(root, "month=A")) == 1  # 16 -> ceil(bytes/1GB) = 1
    # healthy partition untouched: same files, same mtimes
    assert {(f, os.path.getmtime(f)) for f in _files(root, "month=B")} == b_files_before
    got = sorted(map(tuple, spark.read.parquet(root).collect()))
    assert got == want
    # second run is a no-op (idempotent)
    assert compact_partitions(spark, root, ["month"], max_files=8) == []


def test_compact_streaming_fact_store(spark, tmp_path):
    """The nested (ingest_batch, sales_month) layout a micro-batch
    writer leaves: one leaf holds three files, the others one each.
    Compaction rewrites only the multi-file leaf and changes no row."""
    root = str(tmp_path / "fact")
    fact = spark.range(0, 600).select(
        F.col("id").alias("sales_id"),
        (F.col("id") % 3 == 0).cast("int").alias("ingest_batch"),
        F.when(F.col("id") % 2 == 0, "2023-05").otherwise("2023-06").alias("sales_month"),
        (F.col("id") * 7 % 101).cast("decimal(10,2)").alias("total_cost"),
    )
    frag = (F.col("ingest_batch") == 0) & (F.col("sales_month") == "2023-05")
    parts = ["ingest_batch", "sales_month"]
    fact.filter(frag).repartition(3).write.partitionBy(*parts).parquet(root)
    fact.filter(~frag).coalesce(1).write.partitionBy(*parts).mode("append").parquet(root)
    leaf = "ingest_batch=0/sales_month=2023-05"
    assert len(_files(root, leaf)) == 3

    before = sorted(map(tuple, spark.read.option("basePath", root).parquet(root).collect()))
    rewritten = compact_partitions(spark, root, parts, max_files=1)
    assert rewritten == [leaf]
    assert len(_files(root, leaf)) == 1
    after_df = spark.read.option("basePath", root).parquet(root)
    assert sorted(map(tuple, after_df.collect())) == before


def test_compact_splits_large_partition_to_target(spark, tmp_path):
    """target_file_bytes smaller than the partition → k > 1 output files."""
    root = str(tmp_path / "t2")
    df = spark.range(0, 20000).select(
        F.col("id"), F.lit("A").alias("month"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    df.repartition(20).write.partitionBy("month").mode("overwrite").parquet(root)
    stats = partition_file_stats(spark, root)
    total = stats[0].total_bytes
    target = total // 3  # expect ceil(total/target) in {3, 4}
    rewritten = compact_partitions(
        spark, root, ["month"], max_files=8, target_file_bytes=target
    )
    assert rewritten == ["month=A"]
    n = len(_files(root, "month=A"))
    assert 2 <= n <= 5, n
    assert spark.read.parquet(root).count() == 20000


def test_expire_partitions_drops_old_keeps_new(spark, tmp_path):
    """Retention deletes exactly the partitions below the cutoff;
    surviving partitions keep their bytes (files untouched, data
    identical) and reads keep working."""
    from sales_data_pipeline_spark.pipeline.maintenance import expire_partitions

    root = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [(i, f"2023-{1 + i % 4:02d}", float(i)) for i in range(40)],
        "id long, sales_month string, v double",
    )
    df.write.partitionBy("sales_month").parquet(root)
    before = {
        r.sales_month: r.cnt
        for r in spark.read.parquet(root).groupBy("sales_month")
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # dry run: reports but deletes nothing
    would = expire_partitions(spark, root, "sales_month", "2023-03", dry_run=True)
    assert would == ["sales_month=2023-01", "sales_month=2023-02"]
    assert spark.read.parquet(root).count() == 40

    gone = expire_partitions(spark, root, "sales_month", "2023-03")
    assert gone == would
    left = spark.read.parquet(root)
    months = {r.sales_month for r in left.select("sales_month").distinct().collect()}
    assert months == {"2023-03", "2023-04"}
    after = {
        r.sales_month: r.cnt
        for r in left.groupBy("sales_month").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert after == {m: c for m, c in before.items() if m >= "2023-03"}
    # idempotent: nothing left below the cutoff
    assert expire_partitions(spark, root, "sales_month", "2023-03") == []


# ---------------------------------------------------------------------------
# partition-ranged backfill (pipeline/maintenance.backfill_partitions)
# ---------------------------------------------------------------------------


def _day_rows(spark, day_to_vals: dict):
    # partition values deliberately NOT date-shaped: Spark's partition
    # type inference would read day=2024-01-01 back as DATE, changing
    # the column type under the reader (a real gotcha, but not the one
    # under test here)
    rows = [
        (d, i, v) for d, vals in day_to_vals.items() for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "day string, i bigint, v double")


def test_backfill_replaces_only_requested_partitions(spark, tmp_path):
    from sales_data_pipeline_spark.pipeline.maintenance import backfill_partitions

    root = str(tmp_path / "mart")
    _day_rows(
        spark, {"d0101": [1.0, 2.0], "d0102": [3.0], "d0103": [4.0]}
    ).write.partitionBy("day").parquet(root)

    def build(s, values):
        # the corrected day-02 data: one extra row, new values
        return _day_rows(s, {"d0102": [30.0, 31.0]})

    counts = backfill_partitions(spark, build, root, "day", ["d0102"])
    assert counts == {"d0102": 2}
    back = spark.read.parquet(root)
    by_day = {
        r.day: sorted(x.v for x in back.filter(back.day == r.day).collect())
        for r in back.select("day").distinct().collect()
    }
    assert by_day["d0101"] == [1.0, 2.0]      # untouched
    assert by_day["d0102"] == [30.0, 31.0]    # replaced wholesale
    assert by_day["d0103"] == [4.0]           # untouched


def test_backfill_refuses_blast_radius_expansion(spark, tmp_path):
    import pytest as _pytest

    from sales_data_pipeline_spark.pipeline.maintenance import backfill_partitions

    root = str(tmp_path / "mart")
    _day_rows(spark, {"d0101": [1.0]}).write.partitionBy("day").parquet(root)

    def leaky_build(s, values):
        return _day_rows(s, {"d0102": [9.0], "d0105": [6.66]})

    with _pytest.raises(ValueError, match="blast radius"):
        backfill_partitions(spark, leaky_build, root, "day", ["d0102"])
    # and the refusal happened BEFORE any write: day-05 must not exist
    days = {r.day for r in spark.read.parquet(root).select("day").distinct().collect()}
    assert days == {"d0101"}


def test_backfill_requires_partition_column(spark, tmp_path):
    import pytest as _pytest

    from sales_data_pipeline_spark.pipeline.maintenance import backfill_partitions

    root = str(tmp_path / "mart")
    _day_rows(spark, {"d0101": [1.0]}).write.partitionBy("day").parquet(root)
    with _pytest.raises(ValueError, match="partition column"):
        backfill_partitions(
            spark, lambda s, v: s.range(3), root, "day", ["d0101"]
        )
