"""Training-shard exporter — the last mile of a training-data pipeline.

Takes a curated corpus (the output of the q33/q65/q67 family) and
publishes it as N deterministic shards plus a verifiable manifest:

- **Deterministic shard assignment**: shard = xxhash64(id) mod N — the
  same row lands in the same shard on every run and every cluster
  layout (no ``spark_partition_id``, no RNG). A training job can
  re-export after an upstream fix and diff manifests shard-by-shard.
- **One shuffle**: ``repartition(n_shards, shard)`` co-locates each
  shard into exactly one task, so each shard directory holds one file
  per shard (plus Spark's _SUCCESS bookkeeping), sized by the data —
  the writer never re-reads or post-merges.
- **Verifiable manifest**: per shard rows + an order-independent
  bit_xor fingerprint over xxhash64 of the exported columns (the same
  anti-entropy recipe as q256), computed FROM THE STAGED PARQUET after
  the write — the manifest describes the bytes that will be published,
  even for a nondeterministic input or a source that changed between
  jobs — so a reader can re-derive both from the parquet and detect
  truncation or corruption without any external state.
- **Atomic publish**: everything is written to ``<dir>.staging`` and
  moved into place with ONE filesystem rename after the manifest is
  sealed — readers never observe a half-written export (the
  staging-swap pattern shared with sources/jdbc.py
  write_jdbc_atomic). A crashed export leaves only
  debris in ``.staging``, which the next run clears.

At 100 TB: assignment and fingerprinting are map-side expressions; the
one shuffle moves each row once; the manifest is |shards| rows of
driver state. Reference scope note: the reference repo ships data to a
MySQL mart and S3 folders (src/main/write via boto3); this exporter is
the training-pipeline counterpart the brief's extension scope asks for,
built on the same Hadoop-FS verbs as pipeline/fs.py.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_spark.pipeline.fs import (
    _fs,
    delete_path,
    path_exists,
    rename_path,
)

MANIFEST = "_MANIFEST.json"


def write_training_shards(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    n_shards: int,
    id_col: str = "doc_id",
    max_rows_per_file: int | None = None,
) -> dict:
    """Export ``df`` as ``n_shards`` deterministic parquet shards under
    ``out_dir`` (shard=K/ subdirectories) with a sealed manifest.
    Returns the manifest dict. Idempotent: a re-run with identical
    input produces identical shard membership and fingerprints; a
    previous half-finished staging dir is cleared first; the final
    rename is the only reader-visible step."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if id_col not in df.columns:
        raise ValueError(f"id column {id_col!r} not in {df.columns}")
    staging = out_dir.rstrip("/") + ".staging"
    if path_exists(spark, staging):
        delete_path(spark, staging, recursive=True)

    cols = df.columns
    with_shard = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    )
    writer = with_shard.repartition(n_shards, "shard").write.mode("overwrite")
    if max_rows_per_file is not None:
        if max_rows_per_file < 1:
            raise ValueError(
                f"max_rows_per_file must be >= 1, got {max_rows_per_file}"
            )
        # bounded file sizes inside each shard: at 100 TB a shard is
        # many files a trainer streams, not one monolith — Spark splits
        # the task output at this row count; membership, fingerprints
        # and the manifest are unaffected (order within a shard is not
        # part of the contract)
        writer = writer.option("maxRecordsPerFile", max_rows_per_file)
    writer.partitionBy("shard").parquet(staging)
    # Fingerprint the STAGED parquet, not the input df: re-evaluating a
    # nondeterministic df (or one whose source changed between the write
    # and fingerprint jobs) would seal a manifest describing different
    # data than the published shards. One scan of staging, the exact
    # recipe verify_export replays on the published dir.
    stats = (
        spark.read.parquet(staging)
        .select(
            F.col("shard").cast("int").alias("shard"),
            F.xxhash64(*[F.col(c) for c in cols]).alias("__h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(__h)").cast("bigint").alias("fingerprint"),
        )
        .collect()
    )
    by_shard = {int(r["shard"]): r for r in stats}
    manifest = {
        "n_shards": n_shards,
        "id_col": id_col,
        "columns": cols,
        "total_rows": int(sum(r["n_rows"] for r in stats)),
        "shards": [
            {
                "shard": s,
                "n_rows": int(by_shard[s]["n_rows"]) if s in by_shard else 0,
                "fingerprint": int(by_shard[s]["fingerprint"])
                if s in by_shard
                else 0,
            }
            for s in range(n_shards)
        ],
    }
    # seal the manifest inside staging, then one rename publishes all
    fs, man_p = _fs(spark, staging + "/" + MANIFEST)
    out = fs.create(man_p, True)
    out.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
    out.close()
    if path_exists(spark, out_dir):
        delete_path(spark, out_dir, recursive=True)
    rename_path(spark, staging, out_dir)
    return manifest


def read_manifest(spark: SparkSession, out_dir: str) -> dict:
    fs, p = _fs(spark, out_dir.rstrip("/") + "/" + MANIFEST)
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        # read JVM-side: py4j copies a Python bytearray INTO the JVM, so
        # stream.read(buf) can never fill a Python-side buffer
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
        text = baos.toString("UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def verify_export(spark: SparkSession, out_dir: str) -> DataFrame:
    """Re-derive every shard's row count and fingerprint FROM THE
    PUBLISHED PARQUET and compare to the sealed manifest. Returns one
    row per shard: (shard, n_rows, fingerprint, rows_match, fp_match)
    — the anti-entropy check a consumer runs before training. One scan
    of the export."""
    manifest = read_manifest(spark, out_dir)
    cols = manifest["columns"]
    got = (
        spark.read.parquet(out_dir.rstrip("/"))
        .select(
            F.col("shard").cast("int").alias("shard"),
            F.xxhash64(*[F.col(c) for c in cols]).alias("__h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(__h)").cast("bigint").alias("fingerprint"),
        )
    )
    want = spark.createDataFrame(
        [
            (int(s["shard"]), int(s["n_rows"]), int(s["fingerprint"]))
            for s in manifest["shards"]
        ],
        "shard int, want_rows bigint, want_fp bigint",
    )
    return (
        want.join(got, "shard", "left")
        .select(
            "shard",
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
            F.coalesce("fingerprint", F.lit(0)).alias("fingerprint"),
            (F.coalesce("n_rows", F.lit(0)) == F.col("want_rows")).alias(
                "rows_match"
            ),
            (F.coalesce("fingerprint", F.lit(0)) == F.col("want_fp")).alias(
                "fp_match"
            ),
        )
        .orderBy("shard")
    )
