"""Run-state / idempotency manager: the A→I audit state machine.

The reference keeps this in a MySQL staging table driven by f-string SQL
over mysql.connector (reference: main.py:51-75 probe, 196-225 insert
status 'A', 429-448 flip to 'I'; conn at my_sql_session.py:3-10 — an
SQLi-prone pattern deliberately not replicated, SURVEY §2a S14).

Here it is an append-only parquet log with a latest-wins read view:
- appends are atomic enough for a single-driver batch pipeline and
  avoid read-modify-write races on object stores (no file rewrite);
- the current status of a file = its most recent log record;
- a failed previous run is visible as files whose latest status is 'A'
  (activated but never flipped to inactive) — same probe semantics as
  the reference (main.py:56-73).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATUS_ACTIVE = "A"
STATUS_INACTIVE = "I"

_SCHEMA = StructType(
    [
        StructField("file_name", StringType(), False),
        StructField("file_location", StringType(), True),
        StructField("status", StringType(), False),
        StructField("updated_date", TimestampType(), False),
        StructField("seq", LongType(), False),  # monotonic tie-break within a run
    ]
)


class AuditState:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        self._seq = 0

    # -- write side ---------------------------------------------------------

    def _append(self, files: list[str], status: str) -> None:
        if not files:
            return
        self._seq += 1
        rows = [(f.rsplit("/", 1)[-1], f, status) for f in files]
        # one partition, so one file per append: every probe re-reads the
        # whole log. (coalesce(1) would also give one file, but runs the
        # Python-side partitions of a local list one after another.)
        df = (
            self.spark.createDataFrame(
                self.spark.sparkContext.parallelize(rows, 1),
                "file_name string, file_location string, status string",
            )
            .withColumn("updated_date", F.current_timestamp())
            .withColumn("seq", F.lit(self._seq).cast("long"))
        )
        df.write.mode("append").parquet(self.state_dir)

    def mark_active(self, files: list[str]) -> None:
        """Record files as in-flight (status 'A') before processing."""
        self._append(files, STATUS_ACTIVE)

    def mark_inactive(self, files: list[str]) -> None:
        """Flip files to 'I' after both marts commit (reference flips only
        post-commit, main.py:429-448 — ordering preserved)."""
        self._append(files, STATUS_INACTIVE)

    # -- read side ----------------------------------------------------------

    def _log(self) -> DataFrame:
        """Append-only log, or an empty frame ONLY when no log exists yet
        (first run). A corrupt/unreadable state dir must propagate — an
        empty answer there would skip the failed-run probe and re-process
        quarantined work as if the audit trail were clean."""
        from sales_data_pipeline_spark.pipeline.fs import path_exists

        if not path_exists(self.spark, self.state_dir):
            return self.spark.createDataFrame([], _SCHEMA)
        return self.spark.read.schema(_SCHEMA).parquet(self.state_dir)

    def current(self) -> DataFrame:
        """Latest-wins view: one row per file_name with its newest status."""
        w = Window.partitionBy("file_name").orderBy(
            F.col("updated_date").desc(), F.col("seq").desc()
        )
        return (
            self._log()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "seq")
        )

    def stale_active_files(self) -> list[str]:
        """Files a previous run activated but never completed — the
        reference's failed-run probe (SELECT DISTINCT file_name WHERE
        status='A', main.py:59-63)."""
        rows = (
            self.current()
            .filter(F.col("status") == STATUS_ACTIVE)
            .select("file_location")
            .collect()
        )
        return [r.file_location for r in rows]
