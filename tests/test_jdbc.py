"""Live JDBC round-trip against embedded Derby (ships in Spark's jars —
no network, no external DB). Exercises the S3/S7 surface the reference
drives against MySQL (reference: src/main/read/database_read.py:6-10,
src/main/write/database_write.py:8-17): write a mart table, read it
back, and prove overwrite mode is re-run idempotent.
"""

from __future__ import annotations

from decimal import Decimal

import pytest

from sales_data_pipeline_spark.sources.jdbc import read_jdbc, write_jdbc

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "martdb"
    return f"jdbc:derby:{db};create=true"


@pytest.fixture(scope="module")
def mart_df(spark):
    rows = [
        (i, f"customer {i}", f"2024-{1 + i % 12:02d}", Decimal(100 + i).quantize(Decimal("0.01")))
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows,
        "customer_id bigint, full_name string, sales_month string, total_sales decimal(10,2)",
    )


def test_derby_write_read_roundtrip(spark, derby_url, mart_df):
    write_jdbc(mart_df, derby_url, "customer_mart", mode="overwrite", properties=DERBY_PROPS)
    back = read_jdbc(spark, derby_url, "customer_mart", properties=DERBY_PROPS)
    # JDBC read-side schema carries driver metadata (precision/nullability
    # hints) — parity contract is name + type
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in mart_df.schema.fields
    ]
    assert sorted(back.collect()) == sorted(mart_df.collect())


def test_derby_overwrite_is_rerun_idempotent(spark, derby_url, mart_df):
    """Two identical writes leave exactly one copy (the reference's blind
    append doubled the mart on re-run — the failure mode this default
    exists to prevent)."""
    write_jdbc(mart_df, derby_url, "customer_mart", mode="overwrite", properties=DERBY_PROPS)
    write_jdbc(mart_df, derby_url, "customer_mart", mode="overwrite", properties=DERBY_PROPS)
    back = read_jdbc(spark, derby_url, "customer_mart", properties=DERBY_PROPS)
    assert back.count() == mart_df.count()


def test_pipeline_jdbc_topology_end_to_end(spark, tmp_path):
    """The reference's real deployment shape, live against Derby: dims
    read FROM JDBC tables, pipeline runs, and both marts are published
    back TO JDBC (after the parquet commit). Verifies the JDBC mart
    equals the parquet mart row-for-row and that a re-run with no new
    files leaves the published marts untouched."""
    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.pipeline import (
        JdbcTopology,
        PipelineConfig,
        run_pipeline_jdbc,
    )
    from tests.fixtures import dim_frames, write_sales_csv

    url = f"jdbc:derby:{tmp_path / 'etldb'};create=true"
    topo = JdbcTopology(url=url, properties=DERBY_PROPS)
    customer, store, team = dim_frames(spark)
    for df, t in ((customer, topo.customer_table), (store, topo.store_table),
                  (team, topo.sales_team_table)):
        write_jdbc(df, url, t, mode="overwrite", properties=DERBY_PROPS)

    (tmp_path / "in").mkdir()
    write_sales_csv(tmp_path / "in" / "sales1.csv", n=300, seed=11)
    cfg = PipelineConfig(
        input_dir=str(tmp_path / "in"),
        quarantine_dir=str(tmp_path / "err"),
        processed_dir=str(tmp_path / "done"),
        output_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
    )
    res = run_pipeline_jdbc(spark, cfg, topo)
    assert res.n_fact_rows == 300

    pq_cust = spark.read.parquet(res.customer_mart_path)
    db_cust = read_jdbc(spark, url, topo.customer_mart_table, properties=DERBY_PROPS)
    assert sorted(map(tuple, pq_cust.collect())) == sorted(map(tuple, db_cust.collect()))
    pq_team = spark.read.parquet(res.sales_team_mart_path)
    db_team = read_jdbc(spark, url, topo.sales_team_mart_table, properties=DERBY_PROPS)
    assert db_team.count() == pq_team.count()
    total_pq = pq_team.agg(F.sum("total_sales")).collect()[0][0]
    total_db = db_team.agg(F.sum("total_sales")).collect()[0][0]
    assert total_pq == total_db

    # re-run with no new input: nothing accepted, published marts intact
    res2 = run_pipeline_jdbc(spark, cfg, topo)
    assert res2.accepted_files == []
    assert read_jdbc(spark, url, topo.customer_mart_table,
                     properties=DERBY_PROPS).count() == pq_cust.count()


def test_chaos_crash_window_jdbc_topology_resumes_without_duplicates(
    spark, tmp_path, monkeypatch
):
    """The crash window (marts committed, archive + 'I' flip never ran)
    under the JDBC deployment shape: the rerun must resume exactly the
    stale-active files and republish both marts to the database WITHOUT
    duplicating rows (idempotent overwrite, not the reference's blind
    append)."""
    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.pipeline import (
        JdbcTopology,
        PipelineConfig,
        run_pipeline_jdbc,
    )
    from sales_data_pipeline_spark.pipeline import sales_pipeline as sp
    from sales_data_pipeline_spark.pipeline.state import AuditState
    from tests.fixtures import dim_frames, write_sales_csv

    url = f"jdbc:derby:{tmp_path / 'chaosdb'};create=true"
    topo = JdbcTopology(url=url, properties=DERBY_PROPS)
    customer, store, team = dim_frames(spark)
    for df, t in ((customer, topo.customer_table), (store, topo.store_table),
                  (team, topo.sales_team_table)):
        write_jdbc(df, url, t, mode="overwrite", properties=DERBY_PROPS)

    (tmp_path / "in").mkdir()
    write_sales_csv(tmp_path / "in" / "sales1.csv", n=250, seed=31)
    cfg = PipelineConfig(
        input_dir=str(tmp_path / "in"),
        quarantine_dir=str(tmp_path / "err"),
        processed_dir=str(tmp_path / "done"),
        output_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
    )

    real_move = sp.fs.move_file

    def crash_on_archive(spark_, src, dst_dir):
        if dst_dir == cfg.processed_dir:
            raise RuntimeError("chaos: killed before archive/flip")
        return real_move(spark_, src, dst_dir)

    monkeypatch.setattr(sp.fs, "move_file", crash_on_archive)
    with pytest.raises(RuntimeError, match="chaos"):
        run_pipeline_jdbc(spark, cfg, topo)
    monkeypatch.setattr(sp.fs, "move_file", real_move)

    # crash state: parquet marts committed; JDBC marts never published
    # (the publish sits after archive/flip); state shows 'A'
    state = AuditState(spark, cfg.state_dir)
    assert [p.rsplit("/", 1)[-1] for p in state.stale_active_files()] == [
        "sales1.csv"
    ]
    pq_total = (
        spark.read.parquet(f"{cfg.output_dir}/customers_data_mart")
        .agg(F.sum("total_sales"))
        .collect()[0][0]
    )

    res = run_pipeline_jdbc(spark, cfg, topo)
    assert [p.rsplit("/", 1)[-1] for p in res.resumed_files] == ["sales1.csv"]
    assert res.n_fact_rows == 250
    assert state.stale_active_files() == []
    db_cust = read_jdbc(spark, url, topo.customer_mart_table, properties=DERBY_PROPS)
    pq_cust = spark.read.parquet(res.customer_mart_path)
    assert db_cust.count() == pq_cust.count()  # no append-duplication
    assert db_cust.agg(F.sum("total_sales")).collect()[0][0] == pq_total
    db_team = read_jdbc(spark, url, topo.sales_team_mart_table, properties=DERBY_PROPS)
    assert db_team.count() == spark.read.parquet(res.sales_team_mart_path).count()


def test_write_jdbc_atomic_swap_and_crash_safety(spark, derby_url, mart_df):
    """Staging-swap publish: the live table is replaced only AFTER the
    full reload lands in staging — a failure during the (simulated)
    staging load leaves the previous live table fully readable, stale
    staging debris is cleaned up on the next publish, and a successful
    publish leaves exactly the new rows under the live name."""
    from sales_data_pipeline_spark.sources.jdbc import write_jdbc_atomic

    t = "atomic_mart"
    v1 = mart_df
    write_jdbc_atomic(spark, v1, derby_url, t, properties=DERBY_PROPS)
    assert read_jdbc(spark, derby_url, t, properties=DERBY_PROPS).count() == v1.count()

    # simulate a crash mid-staging-load: write staging debris directly,
    # never swap — the live table must be untouched
    write_jdbc(v1.limit(1), derby_url, f"{t}__staging", mode="overwrite",
               properties=DERBY_PROPS)
    assert read_jdbc(spark, derby_url, t, properties=DERBY_PROPS).count() == v1.count()

    # next publish must clean the debris and swap in the new version
    v2 = v1.limit(2)
    write_jdbc_atomic(spark, v2, derby_url, t, properties=DERBY_PROPS)
    assert read_jdbc(spark, derby_url, t, properties=DERBY_PROPS).count() == 2
    # staging name must not linger as a readable table
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_jdbc(spark, derby_url, f"{t}__staging", properties=DERBY_PROPS).count()


def test_write_jdbc_atomic_rejects_injection_shaped_names(spark, derby_url, mart_df):
    """Identifier whitelist: table names are interpolated into DDL (JDBC
    DDL cannot be parameterized), so anything beyond a plain SQL
    identifier must be rejected BEFORE any statement runs — including
    before the staging load (no partial work on a bad name)."""
    from sales_data_pipeline_spark.sources.jdbc import write_jdbc_atomic

    for bad in ("mart; DROP TABLE users", 'mart"x', "mart-2024", "1mart", "a.b"):
        with pytest.raises(ValueError, match="plain SQL identifier"):
            write_jdbc_atomic(spark, mart_df, derby_url, bad, properties=DERBY_PROPS)


def test_write_jdbc_atomic_dialect_matrix():
    """The rename DDL is keyed off the JDBC subprotocol: RENAME TABLE
    for Derby/MySQL/MariaDB, ALTER TABLE ... RENAME TO for
    Postgres-family catalogs, and a loud ValueError (naming the
    supported set) for anything unrecognized."""
    from sales_data_pipeline_spark.sources.jdbc import _rename_ddl

    assert _rename_ddl("jdbc:derby:/tmp/db", "s", "t") == "RENAME TABLE s TO t"
    assert _rename_ddl("jdbc:mysql://h/db", "s", "t") == "RENAME TABLE s TO t"
    assert (
        _rename_ddl("jdbc:postgresql://h/db", "s", "t")
        == "ALTER TABLE s RENAME TO t"
    )
    with pytest.raises(ValueError, match="supported dialects"):
        _rename_ddl("jdbc:exoticdb://h/db", "s", "t")
