"""Contract-validated JSONL (newline-delimited JSON) source/sink.

LLM corpora overwhelmingly ship as JSONL (one document object per
line, usually gzip/zstd-compressed shards). The reference has no JSON
surface at all; this extends its CSV contract pattern
(sources/csv.py) to the format a training-data pipeline actually
ingests:

- explicit contract schema, never inference (inference is a second full
  pass and type-unstable across shards);
- PERMISSIVE corrupt-record capture: a malformed line becomes a row
  with the raw line in the corrupt column, it never kills the job —
  ``split_corrupt`` then routes bad lines to quarantine, mirroring the
  file-level quarantine verbs of the sales pipeline at row level;
- extra keys are silently ignored by Spark's JSON reader (schema
  projection), missing keys surface as nulls — the same
  superset-tolerated / subset-visible policy as the CSV contract;
- compression is transparent on read (.gz/.zst per-file codecs). Scale
  note: gzip shards are NOT splittable — one 10 GB .gz file is one
  task; prefer many ~100 MB shards (the layout ``write_jsonl``
  produces) or a splittable codec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from sales_data_pipeline_spark.schemas import CORRUPT_RECORD_COLUMN


def read_jsonl(
    spark: SparkSession,
    path: str | list[str],
    contract: StructType,
) -> DataFrame:
    """One-pass JSONL read with the contract schema + corrupt capture.

    The corrupt column must be part of the read schema for PERMISSIVE
    capture to retain the raw line (Spark drops it otherwise)."""
    schema = StructType(list(contract.fields)).add(CORRUPT_RECORD_COLUMN, StringType())
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_RECORD_COLUMN)
        .json(path)
    )


def split_corrupt(df: DataFrame, persist: bool = True) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the corrupt column, corrupt raw lines only).

    Spark's PERMISSIVE JSON reader leaves every contract column null on
    a corrupt line, so the corrupt column is the discriminator.

    ``persist`` caches the parsed frame first — Spark refuses queries
    that reference ONLY the corrupt column of a raw JSON scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN); caching the parse is the
    documented route, and both halves share the one materialization
    anyway. Caller owns the cache (unpersist / clearCache when done)."""
    if persist:
        df = df.cache()
    corrupt = F.col(CORRUPT_RECORD_COLUMN)
    clean = df.filter(corrupt.isNull()).drop(CORRUPT_RECORD_COLUMN)
    bad = df.filter(corrupt.isNotNull()).select(corrupt.alias("raw_line"))
    return clean, bad


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    shards: int | None = None,
) -> None:
    """JSONL sink: one object per line, optionally compressed, sharded.

    ``shards`` repartitions before write to control output file count /
    size (the many-modest-shards layout that keeps compressed reads
    parallel)."""
    out = df.repartition(shards) if shards else df
    writer = out.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
