"""Table catalog over the parquet star schema.

The reference hand-rolls its inputs (boto3 list/download + per-file CSV
reads, reference: src/main/read/aws_read.py:7-23); here the catalog is a
thin typed registry: one ``spark.read.parquet`` relation per table, all
registered as temp views so both the DataFrame and ``spark.sql`` surfaces
see the same names. Scans stay lazy — Catalyst prunes columns and pushes
predicates into the parquet reader per-query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Driver-provided TPC-H-ish star schema + events stream table +
# LLM-data-pipeline tables (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet relation for one table (types normalized)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # must hold even on a caller-built session (the driver makes its
        # own); runtime-settable SQL conf, so set it at read time too
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-tz TIMESTAMP.

    The driver has shipped ``events.ts`` in three parquet encodings
    across rounds: TIMESTAMP(NANOS) (surfaced as long nanos via the
    nanosAsLong conf), TIMESTAMP_NTZ (isAdjustedToUTC=false micros),
    and plain TIMESTAMP. All three collapse to session-tz TIMESTAMP
    (session tz is UTC, session.py) so downstream epoch math
    (unix_micros) sees the same instants DuckDB does when it treats
    the naive value as UTC."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # long nanos → truncate to micros (what DuckDB/Arrow do).
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif isinstance(dt, TimestampNTZType):
        # NTZ → LTZ: interpret the naive value in the session tz (UTC),
        # matching the oracle's epoch() semantics.
        df = df.withColumn(col, F.col(col).cast(TimestampType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All tables as a dict, each also registered as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
