"""catalog.table: each table's schema is inferred once per SparkContext
and table version; every read is still a fresh relation."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sales_data_pipeline_spark.catalog import table
from sales_data_pipeline_spark.plans import QUERIES


def _jobs_started(spark, group: str, fn) -> list[int]:
    """Spark job ids ``fn`` starts, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_a_table_starts_no_spark_job(spark, sf_dir):
    first = table(spark, sf_dir, "orders")
    jobs = _jobs_started(spark, "catalog-second-read",
                         lambda: table(spark, sf_dir, "orders"))
    assert jobs == []
    assert table(spark, sf_dir, "orders").schema == first.schema


def test_building_a_query_after_its_tables_were_read_starts_no_spark_job(spark, sf_dir):
    """q04 reads seven tables; once each was read, building it again
    runs nothing."""
    q = QUERIES["q04_star_enrichment"].fn
    q(spark, sf_dir)
    assert _jobs_started(spark, "catalog-q04-build", lambda: q(spark, sf_dir)) == []


def test_table_rewritten_with_another_schema_is_read_with_the_new_schema(spark, tmp_path):
    d = str(tmp_path)
    spark.createDataFrame([(1, "a")], "r_regionkey int, r_name string") \
        .write.parquet(f"{d}/region.parquet")
    assert table(spark, d, "region").columns == ["r_regionkey", "r_name"]
    spark.createDataFrame([(1, "a", "c")], "r_regionkey long, r_name string, r_comment string") \
        .write.mode("overwrite").parquet(f"{d}/region.parquet")
    df = table(spark, d, "region")
    assert df.dtypes == [("r_regionkey", "bigint"), ("r_name", "string"),
                         ("r_comment", "string")]
    assert [tuple(r) for r in df.collect()] == [(1, "a", "c")]


def test_two_reads_of_one_table_self_join(spark, sf_dir):
    a, b = table(spark, sf_dir, "nation"), table(spark, sf_dir, "nation")
    got = a.alias("a").join(b.alias("b"), F.col("a.n_regionkey") == F.col("b.n_regionkey")).count()
    sizes = [r["count"] for r in a.groupBy("n_regionkey").count().collect()]
    assert got == sum(n * n for n in sizes) > len(sizes)


def test_nanosecond_events_keep_their_timestamps_on_a_memoised_read(spark, tmp_path):
    """The memoised schema carries the nanos-as-long type; a read through
    it still normalizes ts to the same TIMESTAMP values."""
    ns = 1_700_000_000_123_456_789
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([ns], pa.timestamp("ns")),
                  "user_id": [7]}),
        f"{tmp_path}/events.parquet",
    )
    first = table(spark, str(tmp_path), "events").collect()
    again = table(spark, str(tmp_path), "events")
    assert again.schema["ts"].dataType.typeName() == "timestamp"
    assert again.collect() == first
    assert first[0].ts.microsecond == 123456
