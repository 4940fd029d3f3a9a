"""Run-state / idempotency manager: the A→I audit state machine.

The reference keeps this in a MySQL staging table driven by f-string SQL
over mysql.connector (reference: main.py:51-75 probe, 196-225 insert
status 'A', 429-448 flip to 'I'; conn at my_sql_session.py:3-10 — an
SQLi-prone pattern deliberately not replicated, SURVEY §2a S14).

Here it is an append-only parquet log with a latest-wins read view, kept
off Spark jobs (it is a few rows of metadata with a single writer):
- each append is one parquet file, built in memory with pyarrow and
  written through the Hadoop FS API under a hidden temporary name, then
  moved into place with a checked rename — a crash leaves the whole
  file or a hidden leftover no reader lists, never a truncated log file;
  no file is ever rewritten, so there is no read-modify-write race;
- the current status of a file = its log record with the greatest
  (updated_date, seq), resolved in Python over every ``*.parquet`` file;
- a failed previous run is visible as files whose latest status is 'A'
  (activated but never flipped to inactive) — same probe semantics as
  the reference (main.py:56-73).

The layout is the one the log had when Spark wrote it: ``_SCHEMA``, one
file per append. Logs Spark wrote still read here, and
``spark.read.schema(_SCHEMA).parquet(state_dir)`` reads these files.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sales_data_pipeline_spark.pipeline.fs import _fs, _rename, list_files

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
_ARROW_SCHEMA = to_arrow_schema(_SCHEMA)


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
        n = len(files)
        table = pa.Table.from_pydict(
            {
                "file_name": [f.rsplit("/", 1)[-1] for f in files],
                "file_location": list(files),
                "status": [status] * n,
                "updated_date": [datetime.now(timezone.utc)] * n,
                "seq": [self._seq] * n,
            },
            schema=_ARROW_SCHEMA,
        )
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        name = f"part-{uuid.uuid4().hex}.parquet"
        fs, tmp = _fs(self.spark, f"{self.state_dir}/.{name}.tmp")
        out = fs.create(tmp, False)
        try:
            out.write(bytearray(buf.getvalue().to_pybytes()))
        finally:
            out.close()
        _rename(fs, tmp, _fs(self.spark, f"{self.state_dir}/{name}")[1])

    def mark_active(self, files: list[str]) -> None:
        """Record files as in-flight (status 'A') before processing."""
        self._append(files, STATUS_ACTIVE)

    def mark_inactive(self, files: list[str]) -> None:
        """Flip files to 'I' after both marts commit (reference flips only
        post-commit, main.py:429-448 — ordering preserved)."""
        self._append(files, STATUS_INACTIVE)

    # -- read side ----------------------------------------------------------

    def stale_active_files(self) -> list[str]:
        """Files a previous run activated but never completed — the
        reference's failed-run probe (SELECT DISTINCT file_name WHERE
        status='A', main.py:59-63). A missing state dir is the first run
        and reads as empty; an unreadable log file raises, because an
        empty answer there would skip the probe and re-process work as
        if the audit trail were clean."""
        latest: dict[str, tuple] = {}
        for path in list_files(self.spark, self.state_dir, suffix=".parquet"):
            fs, p = _fs(self.spark, path)
            stream = fs.open(p)
            try:
                data = bytes(stream.readAllBytes())
            finally:
                stream.close()
            t = pq.read_table(pa.BufferReader(data), coerce_int96_timestamp_unit="us")
            # Spark wrote naive INT96 timestamps (UTC), _append writes
            # UTC-adjusted ones: epoch microseconds order both
            ts = t["updated_date"].cast(pa.timestamp("us")).cast(pa.int64())
            for name, loc, status, us, seq in zip(
                t["file_name"].to_pylist(), t["file_location"].to_pylist(),
                t["status"].to_pylist(), ts.to_pylist(), t["seq"].to_pylist(),
            ):
                rec = (us, seq, status, loc)
                latest[name] = max(rec, latest.get(name, rec))
        return sorted(loc for _, _, status, loc in latest.values() if status == STATUS_ACTIVE)
