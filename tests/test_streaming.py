"""Stream-safe corpus operators and the per-key debounce."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


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
# per-key debounce / rate limit (streaming/ratelimit.py)
# ---------------------------------------------------------------------------


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
