"""JDBC source/sink.

The reader pulls a table through one ``spark.read.jdbc`` partition, as
the reference does (reference: src/main/read/database_read.py:6-10) —
the dims it reads are tens of rows. The writer defaults to idempotent
modes instead of the reference's blind append (database_write.py:13,
SURVEY §2j.7).

Exercised live against embedded Derby (ships in Spark's jars) in
tests/test_jdbc.py: write→read round-trip and idempotent-overwrite
re-run — the full S3/S7 surface without needing a network database.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, DataFrameReader, SparkSession

# Identifiers we are willing to interpolate into DDL (write_jdbc_atomic).
# JDBC DDL cannot be parameterized, so the guard is a strict whitelist:
# a plain SQL identifier — letters/digits/underscore, not digit-leading.
# Schema-qualified or quoted names are deliberately rejected; the atomic
# publish targets simple mart table names (SURVEY §2a S14's own
# never-f-string-interpolate lesson applied to ourselves).
_IDENTIFIER_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _require_plain_identifier(name: str, what: str) -> None:
    if not _IDENTIFIER_RE.match(name):
        raise ValueError(
            f"{what} {name!r} is not a plain SQL identifier "
            "([A-Za-z_][A-Za-z0-9_]*); refusing to interpolate it into DDL"
        )


def _rename_ddl(url: str, staging: str, table: str) -> str:
    """Dialect-keyed rename statement, selected off the JDBC subprotocol.

    ``RENAME TABLE a TO b`` is Derby/MySQL syntax; Postgres (and most
    ANSI catalogs) spell it ``ALTER TABLE a RENAME TO b``. Unknown
    subprotocols raise loudly rather than ship DDL that may parse as
    something else entirely.
    """
    m = re.match(r"^jdbc:([a-zA-Z0-9]+):", url)
    subprotocol = m.group(1).lower() if m else ""
    if subprotocol in ("derby", "mysql", "mariadb"):
        return f"RENAME TABLE {staging} TO {table}"
    if subprotocol in ("postgresql", "h2", "sqlite", "oracle"):
        return f"ALTER TABLE {staging} RENAME TO {table}"
    raise ValueError(
        f"write_jdbc_atomic: unknown JDBC subprotocol {subprotocol!r} in "
        f"{url!r}; supported dialects: derby/mysql/mariadb (RENAME TABLE), "
        "postgresql/h2/sqlite/oracle (ALTER TABLE ... RENAME TO)"
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Single-partition JDBC scan of ``table``."""
    reader: DataFrameReader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    batch_size: int = 10_000,
) -> None:
    """JDBC sink; default overwrite (idempotent re-runs), batched inserts."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def _jdbc_connection(spark: SparkSession, url: str, properties: dict[str, str] | None):
    """Driver-side JDBC connection via the JVM DriverManager (used only
    for tiny DDL statements — data always moves through executors)."""
    jvm = spark.sparkContext._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    if "driver" in (properties or {}):
        jvm.java.lang.Class.forName(properties["driver"])
    return jvm.java.sql.DriverManager.getConnection(url, props)


def _table_exists(conn, table: str) -> bool:
    """Case-folding differs per catalog: Derby/Oracle store unquoted
    identifiers UPPER, MySQL as-written, Postgres lower — probe all
    three spellings through DatabaseMetaData."""
    meta = conn.getMetaData()
    for candidate in dict.fromkeys((table, table.upper(), table.lower())):
        rs = meta.getTables(None, None, candidate, None)
        try:
            if rs.next():
                return True
        finally:
            rs.close()
    return False


def write_jdbc_atomic(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    batch_size: int = 10_000,
) -> None:
    """Publish ``df`` to ``table`` WITHOUT a reader-visible gap.

    ``mode="overwrite"`` (plain :func:`write_jdbc`) drops the target
    table and then reloads it — for the marts' real deployment
    (dashboards querying the DB, reference main.py:390-398) that is a
    window, as long as the whole reload, where readers see a missing
    or half-loaded table, and a crash mid-write leaves it that way.
    Staging-swap protocol instead:

      1. load the FULL data into ``<table>__staging`` (drop any stale
         staging leftover first — a previous crash's debris);
      2. swap names in DDL: drop old, RENAME staging → live.

    Readers see the old table until the swap, then the new one; the
    swap itself is two sub-second DDL statements instead of the whole
    reload. A crash before step 2 leaves the LIVE table untouched
    (the rerun rebuilds staging from scratch — the pipeline's
    republish-from-lake recipe); a crash between the drop and the
    rename narrows the gap to the DDL pair, the best a database
    without transactional DDL-over-rename (Derby) can do — engines
    with atomic rename-swap (MySQL ``RENAME TABLE a TO b, c TO a``)
    plug into the same protocol with a true zero-gap swap. Data moves
    through executors exactly as in write_jdbc; only the tiny DDL runs
    on the driver connection.

    Identifier/dialect contract: ``table`` must be a plain identifier
    (whitelist-validated before any DDL interpolation — JDBC DDL can't
    be parameterized, so names never pass through unchecked), and the
    rename statement is keyed off the JDBC subprotocol (see
    :func:`_rename_ddl` for the supported-dialect matrix; unknown
    dialects raise instead of guessing)."""
    _require_plain_identifier(table, "table")
    staging = f"{table}__staging"
    _require_plain_identifier(staging, "staging table")
    rename_sql = _rename_ddl(url, staging, table)  # validate dialect up front
    conn = _jdbc_connection(spark, url, properties)
    try:
        stmt = conn.createStatement()
        if _table_exists(conn, staging):
            stmt.executeUpdate(f"DROP TABLE {staging}")
        stmt.close()
    finally:
        conn.close()
    write_jdbc(df, url, staging, mode="overwrite",
               properties=properties, batch_size=batch_size)
    conn = _jdbc_connection(spark, url, properties)
    try:
        stmt = conn.createStatement()
        if _table_exists(conn, table):
            stmt.executeUpdate(f"DROP TABLE {table}")
        stmt.executeUpdate(rename_sql)
        stmt.close()
    finally:
        conn.close()
