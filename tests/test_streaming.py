"""Structured Streaming: exactly-once incremental ETL, stream-safe
corpus operators, and the per-key debounce."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from sales_data_pipeline_spark.streaming.incremental import (
    IncrementalConfig,
    run_incremental,
)
from tests.fixtures import dim_frames, write_sales_csv


def _mk_cfg(tmp_path) -> IncrementalConfig:
    return IncrementalConfig(
        input_dir=str(tmp_path / "in"),
        fact_dir=str(tmp_path / "fact"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )


def test_incremental_exactly_once_and_mart_parity(spark, tmp_path):
    cfg = _mk_cfg(tmp_path)
    (tmp_path / "in").mkdir()
    customer, store, sales_team = dim_frames(spark)

    write_sales_csv(tmp_path / "in" / "day1.csv", n=200, seed=1, date=dt.date(2023, 3, 10))
    write_sales_csv(tmp_path / "in" / "day2.csv", n=200, seed=2, date=dt.date(2023, 4, 2))
    run_incremental(spark, cfg, customer, store, sales_team)

    fact = spark.read.option("basePath", cfg.fact_dir).parquet(cfg.fact_dir)
    assert fact.count() == 400

    # late arrival → second run must process ONLY the new file
    write_sales_csv(tmp_path / "in" / "day3.csv", n=100, seed=3, date=dt.date(2023, 4, 9))
    run_incremental(spark, cfg, customer, store, sales_team)
    fact = spark.read.option("basePath", cfg.fact_dir).parquet(cfg.fact_dir)
    assert fact.count() == 500  # 600 would mean day1/day2 reprocessed

    # mart parity with a from-scratch batch computation over all files
    from sales_data_pipeline_spark.operators.enrich import sales_enrichment
    from sales_data_pipeline_spark.operators.marts import customer_monthly_mart

    batch_fact = fact.drop("ingest_batch", "sales_month")
    want = (
        customer_monthly_mart(sales_enrichment(batch_fact, customer, store, sales_team))
        .withColumnRenamed("sales_date_month", "sales_month")
    )
    cols = ["customer_id", "full_name", "address", "phone_number", "sales_month", "total_sales"]
    got = spark.read.parquet(f"{cfg.output_dir}/customers_data_mart").select(*cols)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.select(*cols).collect()))
    # incremental recompute touched only affected months; totals conserve
    total = got.agg(F.sum("total_sales")).collect()[0][0]
    want_total = batch_fact.agg(F.sum("total_cost")).collect()[0][0]
    assert total == want_total


def test_incremental_extra_column_file_does_not_corrupt(spark, tmp_path):
    """A 9-column file (trailing payment_mode) on the stream path: the
    fixed contract schema drops the extra column positionally — values
    of the 8 contract columns must come through byte-identical, not
    shifted (the documented stream-path policy in read_sales_stream)."""
    cfg = _mk_cfg(tmp_path)
    (tmp_path / "in").mkdir()
    customer, store, sales_team = dim_frames(spark)

    write_sales_csv(tmp_path / "in" / "clean.csv", n=50, seed=11, date=dt.date(2023, 5, 4))
    write_sales_csv(
        tmp_path / "in" / "extra.csv", n=50, seed=11, date=dt.date(2023, 5, 4),
        extra_payment_mode=True,
    )
    run_incremental(spark, cfg, customer, store, sales_team)

    fact = spark.read.option("basePath", cfg.fact_dir).parquet(cfg.fact_dir)
    rows = fact.collect()
    assert len(rows) == 100
    # generator invariants hold for EVERY row — any positional shift from
    # the 9th column (e.g. payment_mode landing in total_cost) breaks them
    from tests.fixtures import PRODUCTS, STORE_ROSTER

    for r in rows:
        assert r.total_cost is not None and r.price is not None
        assert float(r.total_cost) == pytest.approx(float(r.price) * r.quantity)
        assert float(r.price) == pytest.approx(PRODUCTS[r.product_name])
        assert r.sales_person_id in STORE_ROSTER[r.store_id]
        assert r.sales_date == dt.date(2023, 5, 4)


_EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


def _write_events_with_ids(spark, path: str, rows: list[tuple]) -> None:
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, et, v)
         for i, s, u, et, v in rows],
        _EVENT_SCHEMA,
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def test_corpus_map_operators_run_on_streams(spark, tmp_path):
    """token_chunks / quality_score / weighted_sample are pure
    expressions, so the SAME operator code runs under Structured
    Streaming with no changes — the batch/stream unification that makes
    the curation pipeline incremental. Stream results must equal the
    batch run over the same files."""
    from sales_data_pipeline_spark.operators.quality import weighted_sample
    from sales_data_pipeline_spark.operators.text import quality_score, token_chunks

    src = tmp_path / "docs"
    src.mkdir()
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(30))) for i in range(40)],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.parquet(str(src / "batch1"))

    def curate(df):
        scored = df.select(
            "doc_id",
            F.inline(token_chunks("text", size=8)),
            quality_score("text").alias("quality"),
        )
        return weighted_sample(scored, weight_col="quality")

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src / "*")
    )
    q = (
        curate(stream)
        .writeStream.format("memory")
        .queryName("curated_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.chunk_id): r.chunk
        for r in spark.sql("SELECT * FROM curated_stream").collect()
    }
    want = {
        (r.doc_id, r.chunk_id): r.chunk
        for r in curate(spark.read.parquet(str(src / "*"))).collect()
    }
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# per-key debounce / rate limit (streaming/ratelimit.py —
# applyInPandasWithState; Spark 4's transformWithStateInPandas would
# express the identical fold but needs google.protobuf, absent here —
# see the ratelimit.py module docstring)
# ---------------------------------------------------------------------------


def _rocksdb_or_skip(spark) -> str:
    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(provider)
    except Exception:
        pytest.skip("RocksDB state store provider not in this build")
    return provider


def test_debounce_batch_greedy_fold_and_ties(spark):
    """Greedy earliest-first selection with (ts, event_id) tie order:
    the unique maximal cooldown-spaced subsequence per key."""
    from sales_data_pipeline_spark.streaming.ratelimit import debounce_batch

    rows = [
        # user 1: 0 emit; 100/200 suppressed; 300 emit (cooldown 300);
        # 300-tie by event_id: id 4 emits, id 5 suppressed
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 1, "alert", 1.0),
        (2, dt.datetime(2024, 1, 1, 0, 1, 40), 1, "alert", 1.0),
        (3, dt.datetime(2024, 1, 1, 0, 3, 20), 1, "alert", 1.0),
        (4, dt.datetime(2024, 1, 1, 0, 5, 0), 1, "alert", 1.0),
        (5, dt.datetime(2024, 1, 1, 0, 5, 0), 1, "alert", 1.0),
        # user 2: a single event always emits
        (6, dt.datetime(2024, 1, 1, 0, 0, 30), 2, "alert", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r.event_id: r.n_suppressed_since_last
        for r in debounce_batch(df, cooldown_seconds=300).collect()
    }
    assert got == {1: 0, 4: 2, 6: 0}

    with pytest.raises(ValueError, match="cooldown_seconds"):
        debounce_batch(df, cooldown_seconds=0)


def test_debounce_codegen_bitwise_equals_arrow_fold(spark):
    """The r8 JVM-aggregate fold (debounce_codegen, the q286 hot path)
    is bitwise-equal to the Arrow applyInPandas reference on the real
    events table — every column including the suppressed counts, at a
    cooldown that exercises both emission and suppression."""
    from sales_data_pipeline_spark.streaming.ratelimit import (
        debounce_batch,
        debounce_codegen,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("event_type") == "click")
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    a = debounce_batch(ev, cooldown_seconds=86400)
    b = debounce_codegen(ev, cooldown_seconds=86400)
    assert a.schema == b.schema
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_debounce_generic_key_and_schema(spark):
    """ADVICE r8: key_cols is no longer a lie — both batch forms work
    on an arbitrary frame (composite key, renamed timestamp, no
    event_id), emitting every input column + n_suppressed_since_last."""
    from sales_data_pipeline_spark.streaming.ratelimit import (
        debounce_batch,
        debounce_codegen,
    )

    rows = [
        ("eu", "disk", dt.datetime(2024, 1, 1, 0, 0, 0), 1),
        ("eu", "disk", dt.datetime(2024, 1, 1, 0, 2, 0), 2),   # suppressed
        ("eu", "disk", dt.datetime(2024, 1, 1, 0, 10, 0), 3),  # emit
        ("eu", "cpu", dt.datetime(2024, 1, 1, 0, 1, 0), 4),    # own key
        ("us", "disk", dt.datetime(2024, 1, 1, 0, 1, 0), 5),   # own key
    ]
    df = spark.createDataFrame(
        rows, "region string, metric string, fired_at timestamp, n int"
    )
    for fn in (debounce_batch, debounce_codegen):
        out = fn(
            df,
            cooldown_seconds=300,
            key_cols=("region", "metric"),
            ts_col="fired_at",
            order_cols=("fired_at", "n"),
        )
        assert out.columns == [
            "region", "metric", "fired_at", "n", "n_suppressed_since_last"
        ]
        got = {r.n: r.n_suppressed_since_last for r in out.collect()}
        assert got == {1: 0, 3: 1, 4: 0, 5: 0}
    with pytest.raises(ValueError, match="not in input frame"):
        debounce_batch(df, key_cols=("region",), ts_col="ts")
    with pytest.raises(ValueError, match="lead with ts_col"):
        debounce_codegen(
            df, key_cols=("region",), ts_col="fired_at",
            order_cols=("n", "fired_at"),
        )


def test_debounce_stateful_matches_batch_across_boundary(spark, tmp_path):
    """Stream (transformWithStateInPandas, RocksDB store) vs the batch
    fold over the same in-order events, with user 1's cooldown window
    AND a tail-of-batch suppression straddling the micro-batch boundary
    — the pending-suppressed counter must survive in state."""
    from sales_data_pipeline_spark.streaming.ratelimit import (
        debounce_batch,
        debounce_stateful,
    )

    provider = _rocksdb_or_skip(spark)
    batch1 = [
        (1, 0, 1, "alert", 1.0),     # emit
        (2, 100, 1, "alert", 1.0),   # suppressed
        (3, 200, 1, "alert", 1.0),   # suppressed (tail of batch 1)
        (4, 0, 2, "alert", 2.0),     # emit
    ]
    batch2 = [
        (5, 250, 1, "alert", 1.0),   # suppressed
        (6, 400, 1, "alert", 1.0),   # emit: 3 suppressed since event 1
        (7, 650, 1, "alert", 1.0),   # suppressed
        (8, 800, 1, "alert", 1.0),   # emit: 1 suppressed
        (9, 600, 2, "alert", 2.0),   # emit
    ]
    src = tmp_path / "ev_debounce"
    _write_events_with_ids(spark, str(src / "f1"), batch1)
    time.sleep(1.1)
    _write_events_with_ids(spark, str(src / "f2"), batch2)

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        stream = (
            spark.readStream.schema(_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            debounce_stateful(stream, cooldown_seconds=300)
            .writeStream.format("memory")
            .queryName("debounced")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_debounce"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)

    got = {
        r.event_id: r.n_suppressed_since_last
        for r in spark.sql("SELECT * FROM debounced").collect()
    }
    assert got == {1: 0, 4: 0, 6: 3, 8: 1, 9: 0}

    # exact parity with the batch fold over the full history
    all_rows = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, et, v)
         for i, s, u, et, v in batch1 + batch2],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    want = {
        r.event_id: r.n_suppressed_since_last
        for r in debounce_batch(all_rows, cooldown_seconds=300).collect()
    }
    assert got == want
