"""Contract-validated CSV source.

Reference behavior being reproduced (and improved):
- header-only contract check, file-level accept/reject
  (reference: main.py:145-158): files missing any mandatory column are
  quarantined, never partially read; extra columns are tolerated.
- the accepted files were then re-read per file with inferSchema
  (main.py:249-252) — two extra passes. Here accepted files are read
  ONCE, grouped by identical header so N files become a handful of scan
  relations (one per distinct schema), each with the explicit contract
  schema (no inference pass) and PERMISSIVE corrupt-record capture.
"""

from __future__ import annotations

import csv as _csv
import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from sales_data_pipeline_spark.schemas import CORRUPT_RECORD_COLUMN


def csv_header(spark: SparkSession, path: str) -> list[str]:
    """Column names of one CSV file, reading only its first line.

    Uses the Hadoop FS API via the JVM so the same code path works for
    local paths and distributed stores (s3a/hdfs) — no boto3 download
    hop like the reference's S3FileDownloader (aws_file_download.py:12-25).
    """
    # imported here: pipeline's package init imports this module
    from sales_data_pipeline_spark.pipeline.fs import _fs

    fs, p = _fs(spark, path)
    stream = fs.open(p)
    try:
        # read a bounded prefix (64 KiB) in 256-byte Py4J round trips:
        # one covers a typical header, where reading the whole bound at
        # once would ship a small file's every byte back to Python
        prefix = b""
        while b"\n" not in prefix and len(prefix) < 64 * 1024:
            chunk = bytes(stream.readNBytes(256))
            prefix += chunk
            if len(chunk) < 256:  # EOF
                break
    finally:
        stream.close()
    # utf-8-sig drops a leading byte-order mark, which would otherwise
    # glue itself to the first column name and fail the contract check
    line = prefix.split(b"\n", 1)[0].decode("utf-8-sig", errors="replace").rstrip("\r")
    # an empty file has no header: [] routes it to quarantine with every
    # mandatory column missing instead of aborting the run
    return next(_csv.reader(io.StringIO(line)), [])


def group_files_by_header(
    spark: SparkSession, paths: list[str]
) -> dict[tuple[str, ...], list[str]]:
    """Group files by their exact header tuple.

    All files sharing a header become ONE Spark scan relation — at scale
    this turns thousands of per-file plans into a handful (one per
    distinct schema generation)."""
    groups: dict[tuple[str, ...], list[str]] = {}
    for p in paths:
        groups.setdefault(tuple(csv_header(spark, p)), []).append(p)
    return groups


def read_csv_with_contract(
    spark: SparkSession,
    paths: list[str],
    header: tuple[str, ...],
    contract: StructType,
) -> DataFrame:
    """Read CSVs (all sharing ``header``) with contract types, one pass.

    Columns in the contract get their contract type; extra columns come
    in as strings; malformed rows land in the corrupt-record column
    instead of failing the load (PERMISSIVE)."""
    by_name = {f.name: f for f in contract.fields}
    fields = [
        StructField(c, by_name[c].dataType, True) if c in by_name
        else StructField(c, StringType(), True)
        for c in header
    ]
    fields.append(StructField(CORRUPT_RECORD_COLUMN, StringType(), True))
    return (
        spark.read.schema(StructType(fields))
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_RECORD_COLUMN)
        .csv(paths)
    )
