"""Table catalog over the parquet star schema.

The reference hand-rolls its inputs (boto3 list/download + per-file CSV
reads, reference: src/main/read/aws_read.py:7-23); here the catalog is a
thin typed registry: one ``spark.read.parquet`` relation per table, all
registered as temp views so both the DataFrame and ``spark.sql`` surfaces
see the same names. Scans stay lazy — Catalyst prunes columns and pushes
predicates into the parquet reader per-query.

Schema memo: ``spark.read.parquet(p)`` starts a Spark job to infer the
schema from the file footers, and a catalog query may read several
tables (q04 reads seven). ``table`` therefore infers each table's
schema once per SparkContext and reads every later call with
``spark.read.schema(s).parquet(p)``, which starts no job. The memo is
keyed by (path, modification time); the time is one ``getFileStatus``
through the cached FileSystem handle, so a table rewritten at the same
path (a regenerated testdata set) is inferred again. The assumption is
that the catalog's inputs are read-only between rewrites: a file
replaced in place under an unchanged modification time would be read
with the schema it had before. Only the schema is memoised, never the
DataFrame: every call still returns a fresh relation with its own
attribute ids, so a self-join of two reads of one table resolves.
"""

from __future__ import annotations

import weakref

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from sales_data_pipeline_spark.pipeline.fs import _fs

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

# per SparkContext: {(path, modification time): inferred StructType}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet relation for one table (types normalized)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # must hold even on a caller-built session (the driver makes its
        # own); runtime-settable SQL conf, so set it at read time too
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema memoised per
    (path, modification time): only the first read of a table version
    starts the schema-inference job."""
    fs, p = _fs(spark, path)
    try:
        key = (path, fs.getFileStatus(p).getModificationTime())
    except Py4JJavaError:
        # a missing path: let the reader raise its own error
        return spark.read.parquet(path)
    schemas = _SCHEMAS.setdefault(spark.sparkContext, {})
    schema = schemas.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schemas[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


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
