"""End-to-end tests for the sales ETL pipeline over FIXTURES.md shapes:
happy path (8-col), extra-column acceptance (9-col), missing-column
quarantine (7-col), multi-file union, re-run idempotency, failed-run
resume probe, and the mart invariants (F5)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from sales_data_pipeline_spark.pipeline import PipelineConfig, run_pipeline
from sales_data_pipeline_spark.pipeline.state import AuditState
from tests.fixtures import dim_frames, write_sales_csv


@pytest.fixture()
def cfg(tmp_path):
    (tmp_path / "in").mkdir()
    return PipelineConfig(
        input_dir=str(tmp_path / "in"),
        quarantine_dir=str(tmp_path / "err"),
        processed_dir=str(tmp_path / "done"),
        output_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
    )


def _in(cfg):
    from pathlib import Path

    return Path(cfg.input_dir)


def test_end_to_end(spark, cfg):
    p1 = write_sales_csv(_in(cfg) / "sales1.csv", n=400, seed=1)
    p2 = write_sales_csv(_in(cfg) / "sales2.csv", n=300, seed=2, extra_payment_mode=True)
    p3 = write_sales_csv(_in(cfg) / "bad.csv", n=50, seed=3, drop_store_id=True)
    customer, store, team = dim_frames(spark)

    res = run_pipeline(spark, cfg, customer, store, team)

    # quarantine: 7-col file rejected whole, moved to error dir
    assert [k.rsplit("/", 1)[-1] for k in res.quarantined_files] == ["bad.csv"]
    # keys are FS URIs (file:/... locally, s3a://... on object stores)
    (missing,) = [v for k, v in res.quarantined_files.items() if k.endswith("bad.csv")]
    assert missing == ["store_id"]
    assert (_in(cfg).parent / "err" / "bad.csv").exists()

    # union across ALL accepted files (the reference's loop bug, fixed by intent)
    assert res.n_fact_rows == 700
    assert sorted(f.rsplit("/", 1)[-1] for f in res.accepted_files) == [
        "sales1.csv", "sales2.csv"]
    # accepted files archived post-commit
    assert (_in(cfg).parent / "done" / "sales1.csv").exists()
    assert not (_in(cfg) / "sales1.csv").exists()

    cust_mart = spark.read.parquet(res.customer_mart_path)
    team_mart = spark.read.parquet(res.sales_team_mart_path)

    # F5.1: conservation — Σ mart.total_sales == Σ accepted fact total_cost
    # (all fixture keys exist in dims, so inner joins drop nothing)
    mart_total = cust_mart.agg(F.sum("total_sales")).collect()[0][0]
    team_total = team_mart.agg(F.sum("total_sales")).collect()[0][0]
    assert mart_total == team_total

    # F5.2: incentive rows — ≥1 rank-1 row per (store, month); 1% payout
    inc = team_mart.filter(F.col("incentive") > 0)
    per_group = inc.groupBy("store_id", "sales_month").count().collect()
    all_groups = team_mart.select("store_id", "sales_month").distinct().count()
    assert len(per_group) == all_groups
    row = inc.orderBy("store_id", "sales_month", "sales_person_id").first()
    assert row.incentive == (row.total_sales * Decimal("0.01")).quantize(Decimal("0.01"))

    # schema: mart money is DECIMAL(10,2), not float (SURVEY §2j.8)
    assert dict(cust_mart.dtypes)["total_sales"] == "decimal(10,2)"

    # extras folded to queryable JSON
    assert "payment_mode" not in cust_mart.columns


def test_extra_column_folding(spark, cfg):
    write_sales_csv(_in(cfg) / "extra.csv", n=50, seed=4, extra_payment_mode=True)
    # extras whose names hold a dot or a backtick are columns, not paths
    promo = write_sales_csv(_in(cfg) / "promo.csv", n=20, seed=6)
    head, *rows = promo.read_text().splitlines()
    promo.write_text(
        "\n".join([head + ",promo.code,odd`name"] + [r + ",SPRING,x" for r in rows]) + "\n"
    )
    from sales_data_pipeline_spark.operators.normalize import (
        read_validated_union,
        validate_headers,
    )
    from sales_data_pipeline_spark.pipeline import fs
    from sales_data_pipeline_spark.schemas import MANDATORY_COLUMNS, SALES_CONTRACT

    report = validate_headers(
        spark, fs.list_files(spark, cfg.input_dir), MANDATORY_COLUMNS
    )
    df = read_validated_union(spark, report, SALES_CONTRACT)
    assert df.columns[-1] == "additional_column"
    modes = {
        r[0]
        for r in df.select(
            F.get_json_object("additional_column", "$.payment_mode")
        ).distinct().collect()
    }
    assert modes == {"cash", "UPI", None}
    promo_rows = df.filter(F.col("additional_column").contains("promo")).select(
        F.get_json_object("additional_column", "$['promo.code']").alias("code"),
        F.get_json_object("additional_column", "$['odd`name']").alias("odd"),
    )
    assert [tuple(r) for r in promo_rows.distinct().collect()] == [("SPRING", "x")]
    assert promo_rows.count() == 20


def test_bom_prefixed_file_is_accepted(spark, cfg):
    """A UTF-8 byte-order mark before the header must not glue itself
    to the first column name and quarantine a valid file."""
    bom = write_sales_csv(_in(cfg) / "bom.csv", n=60, seed=8)
    bom.write_bytes(b"\xef\xbb\xbf" + bom.read_bytes())
    write_sales_csv(_in(cfg) / "plain.csv", n=40, seed=9)
    customer, store, team = dim_frames(spark)

    res = run_pipeline(spark, cfg, customer, store, team)

    assert res.quarantined_files == {}
    assert sorted(f.rsplit("/", 1)[-1] for f in res.accepted_files) == [
        "bom.csv", "plain.csv"]
    assert res.n_fact_rows == 100


def test_rerun_is_idempotent(spark, cfg):
    write_sales_csv(_in(cfg) / "day1.csv", n=200, seed=5)
    customer, store, team = dim_frames(spark)
    res1 = run_pipeline(spark, cfg, customer, store, team)
    total1 = spark.read.parquet(res1.customer_mart_path).agg(F.sum("total_sales")).collect()[0][0]

    # second run with no new files: nothing to do, marts untouched
    res2 = run_pipeline(spark, cfg, customer, store, team)
    assert res2.accepted_files == []
    total2 = spark.read.parquet(res1.customer_mart_path).agg(F.sum("total_sales")).collect()[0][0]
    assert total1 == total2


def test_team_mart_keeps_earlier_months_on_a_static_overwrite_session(spark, cfg):
    """The team-mart writer asks for dynamic partition overwrite itself,
    so a session whose default is static (a plain SparkSession.builder)
    does not lose the months an earlier run published."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        customer, store, team = dim_frames(spark)
        write_sales_csv(_in(cfg) / "march.csv", n=100, seed=21, date=dt.date(2023, 3, 10))
        run_pipeline(spark, cfg, customer, store, team)
        write_sales_csv(_in(cfg) / "april.csv", n=100, seed=22, date=dt.date(2023, 4, 10))
        res = run_pipeline(spark, cfg, customer, store, team)
    finally:
        spark.conf.set(key, before)
    team_mart = spark.read.parquet(res.sales_team_mart_path)
    assert {r[0] for r in team_mart.select("sales_month").distinct().collect()} == {
        "2023-03", "2023-04"}


def test_failed_run_probe(spark, cfg):
    """Files marked 'A' but never flipped (crashed run) surface on the
    next run — reference main.py:56-73 semantics."""
    state = AuditState(spark, cfg.state_dir)
    state.mark_active([f"{cfg.input_dir}/ghost.csv"])
    assert state.stale_active_files() == [f"{cfg.input_dir}/ghost.csv"]

    state.mark_inactive([f"{cfg.input_dir}/ghost.csv"])
    assert state.stale_active_files() == []
    # one parquet file per append, however many cores built the rows
    from pathlib import Path

    assert len(list(Path(cfg.state_dir).glob("*.parquet"))) == 2


def test_state_missing_dir_is_empty_but_corrupt_dir_raises(spark, tmp_path):
    """'No state yet' reads as empty; an UNREADABLE state dir must
    propagate — an empty answer there would silently skip the
    failed-run probe."""
    import pytest

    fresh = AuditState(spark, str(tmp_path / "never_written"))
    assert fresh.stale_active_files() == []

    corrupt_dir = tmp_path / "corrupt_state"
    corrupt_dir.mkdir()
    (corrupt_dir / "part-00000.parquet").write_bytes(b"this is not parquet")
    broken = AuditState(spark, str(corrupt_dir))
    with pytest.raises(Exception, match="[Pp]arquet|magic|footer|FAILED_READ"):
        broken.stale_active_files()


def test_audit_log_starts_no_spark_job(spark, cfg):
    """Appends and the probe are metadata I/O through the FS API: no
    Spark job runs for them."""
    sc = spark.sparkContext
    state = AuditState(spark, cfg.state_dir)
    files = [f"{cfg.input_dir}/a.csv", f"{cfg.input_dir}/b.csv"]
    sc.setJobGroup("audit-log", "audit log I/O")
    try:
        state.mark_active(files)
        assert state.stale_active_files() == files
        state.mark_inactive(files[:1])
        assert state.stale_active_files() == files[1:]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("audit-log")) == []


def test_audit_log_mixes_spark_written_appends_latest_wins(spark, cfg):
    """A state dir holding an append Spark wrote (the log's earlier
    writer) and appends from AuditState resolves latest-wins on
    (updated_date, seq) across both, and Spark reads the whole dir."""
    from sales_data_pipeline_spark.pipeline.state import _SCHEMA

    now = dt.datetime.now()
    hour = dt.timedelta(hours=1)
    loc = {n: f"{cfg.input_dir}/{n}.csv" for n in "abcd"}
    spark.createDataFrame(
        [
            ("a.csv", loc["a"], "A", now - hour, 1),
            ("b.csv", loc["b"], "A", now - hour, 1),
            ("c.csv", loc["c"], "I", now - hour, 1),
            ("d.csv", loc["d"], "I", now + hour, 1),  # newer than the appends below
        ],
        _SCHEMA,
    ).coalesce(1).write.mode("append").parquet(cfg.state_dir)

    state = AuditState(spark, cfg.state_dir)
    state.mark_inactive([loc["a"]])
    state.mark_active([loc["c"], loc["d"]])
    assert state.stale_active_files() == [loc["b"], loc["c"]]

    from pathlib import Path

    assert len(list(Path(cfg.state_dir).glob("*.parquet"))) == 3
    log = spark.read.schema(_SCHEMA).parquet(cfg.state_dir)
    got = sorted((r.file_name, r.status, r.seq) for r in log.collect())
    assert got == [
        ("a.csv", "A", 1), ("a.csv", "I", 1), ("b.csv", "A", 1), ("c.csv", "A", 2),
        ("c.csv", "I", 1), ("d.csv", "A", 2), ("d.csv", "I", 1),
    ]
    assert log.filter(F.col("updated_date") > F.lit(now)).count() == 4


def test_datewise_multifile_union(spark, cfg):
    """Datewise arrival (FIXTURES.md F2): one file per date; month
    bucketing spans files."""
    for i, d in enumerate([dt.date(2023, 3, 5), dt.date(2023, 3, 20), dt.date(2023, 4, 2)]):
        write_sales_csv(_in(cfg) / f"d{i}.csv", n=100, seed=10 + i, date=d)
    customer, store, team = dim_frames(spark)
    res = run_pipeline(spark, cfg, customer, store, team)
    assert res.n_fact_rows == 300
    months = {
        r[0]
        for r in spark.read.parquet(res.customer_mart_path)
        .select("sales_date_month").distinct().collect()
    }
    assert months == {"2023-03", "2023-04"}


def _window_distinct_marts(enriched):
    """The reference's literal window-sum + distinct formulation of both
    marts (customer_mart_sql_tranform_write.py:10-27,
    sales_mart_sql_transformation_file.py:11-39): the local oracle for
    the engine's groupBy rewrite."""
    import decimal

    from pyspark.sql import Window

    from sales_data_pipeline_spark.functions.scalars import (
        full_name,
        money,
        month_bucket,
    )

    out = "decimal(10,2)"
    cust = (
        enriched.select(
            "customer_id",
            full_name("first_name", "last_name"),
            "address",
            "phone_number",
            month_bucket("sales_date", "sales_date_month"),
            money("total_cost").alias("_cost"),
        )
        .withColumn(
            "total_sales",
            F.sum("_cost")
            .over(Window.partitionBy("customer_id", "sales_date_month"))
            .cast(out),
        )
        .drop("_cost")
        .distinct()
    )
    totals = (
        enriched.select(
            "store_id",
            "sales_person_id",
            full_name("sales_person_first_name", "sales_person_last_name"),
            month_bucket("sales_date", "sales_month"),
            money("total_cost").alias("_cost"),
        )
        .withColumn(
            "total_sales",
            F.sum("_cost")
            .over(Window.partitionBy("store_id", "sales_person_id", "sales_month"))
            .cast(out),
        )
        .drop("_cost")
        .distinct()
    )
    rank_w = Window.partitionBy("store_id", "sales_month").orderBy(
        F.col("total_sales").desc()
    )
    team = totals.withColumn(
        "incentive",
        F.when(
            F.rank().over(rank_w) == 1,
            (F.col("total_sales") * F.lit(decimal.Decimal("0.01"))).cast(out),
        ).otherwise(F.lit(0).cast(out)),
    )
    return cust, team


def test_strict_compat_marts_match_default(spark, cfg):
    """window+distinct (reference literal) == groupBy rewrite on data
    where non-key columns are functionally dependent on keys (SURVEY §7)."""
    write_sales_csv(_in(cfg) / "s.csv", n=300, seed=6)
    customer, store, team = dim_frames(spark)
    from sales_data_pipeline_spark.operators.enrich import sales_enrichment
    from sales_data_pipeline_spark.operators.marts import (
        customer_monthly_mart,
        sales_team_mart,
    )
    from sales_data_pipeline_spark.operators.normalize import (
        read_validated_union,
        validate_headers,
    )
    from sales_data_pipeline_spark.pipeline import fs as _fs
    from sales_data_pipeline_spark.schemas import MANDATORY_COLUMNS, SALES_CONTRACT

    report = validate_headers(spark, _fs.list_files(spark, cfg.input_dir), MANDATORY_COLUMNS)
    enriched = sales_enrichment(
        read_validated_union(spark, report, SALES_CONTRACT), customer, store, team
    )
    oracles = _window_distinct_marts(enriched)
    for fn, oracle in zip((customer_monthly_mart, sales_team_mart), oracles):
        a = fn(enriched).toPandas()
        b = oracle.toPandas()
        assert sorted(a.columns) == sorted(b.columns), fn.__name__
        cols = sorted(a.columns)
        a = a[cols].sort_values(cols).reset_index(drop=True)
        b = b[cols].sort_values(cols).reset_index(drop=True)
        assert len(a) > 0 and a.equals(b), fn.__name__


def test_delete_path_idempotent(spark, tmp_path):
    from sales_data_pipeline_spark.pipeline.fs import delete_path, list_files

    f = tmp_path / "landing" / "a.csv"
    f.parent.mkdir()
    f.write_text("x,y\n1,2\n")
    assert delete_path(spark, str(f)) is True
    assert list_files(spark, str(tmp_path / "landing")) == []
    assert delete_path(spark, str(f)) is False  # second delete: no error
    assert delete_path(spark, str(tmp_path / "landing"), recursive=True) is True


@pytest.mark.parametrize("rename", ["local", "refusing", "raising"])
def test_move_file_creates_directory_and_replaces_destination(
    spark, tmp_path, monkeypatch, rename
):
    """A move into a missing directory creates it; a move onto an
    existing file replaces it. ``refusing`` emulates a filesystem whose
    rename returns False for both (as HDFS does), ``raising`` one whose
    rename throws (FileAlreadyExistsException / IOException, as the
    Hadoop FS spec allows), so the move's fallback runs."""
    from py4j.protocol import Py4JJavaError

    from sales_data_pipeline_spark.pipeline.fs import move_file
    from tests.fixtures import patch_fs_rename

    jvm = spark.sparkContext._jvm

    def strict_rename(fs, src, dst):
        if fs.exists(dst):
            refusal = jvm.org.apache.hadoop.fs.FileAlreadyExistsException(dst.toString())
        elif not fs.exists(dst.getParent()):
            refusal = jvm.java.io.IOException(dst.getParent().toString())
        else:
            return fs.rename(src, dst)
        if rename == "raising":
            raise Py4JJavaError("rename refused", refusal)
        return False

    if rename != "local":
        patch_fs_rename(monkeypatch, strict_rename)
    src = tmp_path / "in" / "a.csv"
    src.parent.mkdir()
    dst_dir = tmp_path / "archive" / "2023"
    for body in ("first", "second"):
        src.write_text(body)
        out = move_file(spark, str(src), str(dst_dir))
        assert out.endswith("/archive/2023/a.csv")
        assert not src.exists()
        assert (dst_dir / "a.csv").read_text() == body


def test_pipeline_observe_metrics_match_fact(spark, tmp_path):
    """df.observe() scorecard rides the ingest action: metrics must
    equal an independent aggregation of the landed fact, with the nulls
    and money sum agreeing exactly."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.pipeline.sales_pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from tests.fixtures import dim_frames, write_sales_csv

    for d in ("in", "quar", "done", "out", "state"):
        (tmp_path / d).mkdir()
    write_sales_csv(tmp_path / "in" / "a.csv", n=120, seed=5, date=dt.date(2023, 6, 1))
    cfg = PipelineConfig(
        input_dir=str(tmp_path / "in"),
        quarantine_dir=str(tmp_path / "quar"),
        processed_dir=str(tmp_path / "done"),
        output_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
    )
    customer, store, sales_team = dim_frames(spark)
    res = run_pipeline(spark, cfg, customer, store, sales_team)
    m = res.ingest_metrics
    assert m["n_rows"] == res.n_fact_rows == 120
    assert m["n_null_cost"] == 0
    # the observed money sum equals the mart total (conservation)
    mart = spark.read.parquet(res.customer_mart_path)
    assert mart.agg(F.sum("total_sales")).collect()[0][0] == m["sum_cost"]


def test_chaos_crash_between_mart_commit_and_state_flip(spark, cfg, monkeypatch):
    """The reference's failure window (main.py:403-448): both marts
    committed, then the run dies BEFORE archive + mark_inactive. The
    rerun must (a) surface exactly the stale-active files in
    resumed_files, (b) re-process them (they still sit in input_dir),
    (c) leave the marts without duplicated rows (overwrite semantics),
    and (d) complete the archive + 'I' flip."""
    from sales_data_pipeline_spark.pipeline import sales_pipeline as sp

    p1 = write_sales_csv(_in(cfg) / "day1.csv", n=200, seed=21)
    p2 = write_sales_csv(_in(cfg) / "day2.csv", n=100, seed=22)
    customer, store, team = dim_frames(spark)

    real_move = sp.fs.move_file

    def crash_on_archive(spark_, src, dst_dir):
        if dst_dir == cfg.processed_dir:
            raise RuntimeError("chaos: killed between mart commit and flip")
        return real_move(spark_, src, dst_dir)

    monkeypatch.setattr(sp.fs, "move_file", crash_on_archive)
    with pytest.raises(RuntimeError, match="chaos"):
        run_pipeline(spark, cfg, customer, store, team)
    monkeypatch.setattr(sp.fs, "move_file", real_move)

    # crashed state: marts ARE committed, inputs NOT archived, state 'A'
    cust_total_1 = (
        spark.read.parquet(f"{cfg.output_dir}/customers_data_mart")
        .agg(F.sum("total_sales"))
        .collect()[0][0]
    )
    team_rows_1 = spark.read.parquet(
        f"{cfg.output_dir}/sales_team_data_mart"
    ).count()
    assert sorted(p.name for p in _in(cfg).iterdir()) == ["day1.csv", "day2.csv"]
    state = AuditState(spark, cfg.state_dir)

    def names(paths):
        return sorted(p.rsplit("/", 1)[-1] for p in paths)

    assert names(state.stale_active_files()) == ["day1.csv", "day2.csv"]

    # rerun: resumes exactly the stale files, no mart duplication
    res = run_pipeline(spark, cfg, customer, store, team)
    assert names(res.resumed_files) == ["day1.csv", "day2.csv"]
    assert names(res.accepted_files) == ["day1.csv", "day2.csv"]
    assert res.n_fact_rows == 300
    cust_total_2 = (
        spark.read.parquet(res.customer_mart_path)
        .agg(F.sum("total_sales"))
        .collect()[0][0]
    )
    assert cust_total_2 == cust_total_1  # re-run rewrote, never appended
    assert spark.read.parquet(res.sales_team_mart_path).count() == team_rows_1
    assert state.stale_active_files() == []
    assert list(_in(cfg).iterdir()) == []  # archived this time
    from pathlib import Path

    assert sorted(p.name for p in Path(cfg.processed_dir).iterdir()) == [
        "day1.csv",
        "day2.csv",
    ]


class _Crash(RuntimeError):
    pass


def _count_fs_state_calls(monkeypatch, calls: list[str], crash_at: int | None) -> None:
    """Record every fs/state call run_pipeline makes in ``calls``; the
    call with index ``crash_at`` raises _Crash instead of running."""
    from sales_data_pipeline_spark.pipeline import sales_pipeline as sp

    for owner, name in (
        (sp.fs, "list_files"), (sp.fs, "move_file"), (AuditState, "stale_active_files"),
        (AuditState, "mark_active"), (AuditState, "mark_inactive"),
    ):
        def call(*a, _real=getattr(owner, name), _name=name, **kw):
            if len(calls) == crash_at:
                raise _Crash(f"crash at call {crash_at} ({_name})")
            calls.append(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(owner, name, call)


def _lake_outcome(spark, cfg) -> dict:
    """Both marts' rows, where each input ended up, and the stale files."""
    from pathlib import Path

    def rows(mart):
        df = spark.read.parquet(f"{cfg.output_dir}/{mart}")
        return sorted((tuple(r) for r in df.select(sorted(df.columns)).collect()), key=repr)

    def names(d):
        return sorted(p.name for p in Path(d).glob("*.csv")) if Path(d).exists() else []

    return {
        "customers_data_mart": rows("customers_data_mart"),
        "sales_team_data_mart": rows("sales_team_data_mart"),
        "input": names(cfg.input_dir),
        "processed": names(cfg.processed_dir),
        "quarantine": names(cfg.quarantine_dir),
        "stale": AuditState(spark, cfg.state_dir).stale_active_files(),
    }


def test_crash_at_any_fs_or_state_call_then_rerun_matches_uninterrupted(
    spark, tmp_path, monkeypatch
):
    """Differential recovery: for each fs/state call index k of an
    uninterrupted run, crash at k, rerun, and compare with the
    uninterrupted run's lake. Both marts must be equal, every input must
    end in exactly one of processed/ and quarantine/, and no file may
    stay 'A' — in particular when the crash lands between two archive
    moves or before the flip to 'I', where some stale files already sit
    in processed/."""
    customer, store, team = dim_frames(spark)

    def lake(name):
        root = tmp_path / name
        (root / "in").mkdir(parents=True)
        write_sales_csv(root / "in" / "day1.csv", n=60, seed=31)
        write_sales_csv(root / "in" / "day2.csv", n=40, seed=32)
        write_sales_csv(root / "in" / "bad.csv", n=10, seed=33, drop_store_id=True)
        return PipelineConfig(
            input_dir=str(root / "in"), quarantine_dir=str(root / "err"),
            processed_dir=str(root / "done"), output_dir=str(root / "out"),
            state_dir=str(root / "state"),
        )

    base_cfg, calls = lake("base"), []
    with monkeypatch.context() as m:
        _count_fs_state_calls(m, calls, crash_at=None)
        run_pipeline(spark, base_cfg, customer, store, team)
    want = _lake_outcome(spark, base_cfg)
    assert want["input"] == [] and want["stale"] == []
    assert want["processed"] == ["day1.csv", "day2.csv"] and want["quarantine"] == ["bad.csv"]
    assert "mark_inactive" in calls and calls.count("move_file") == 3

    for k, name in enumerate(calls):
        cfg = lake(f"crash{k}")
        with monkeypatch.context() as m:
            _count_fs_state_calls(m, [], crash_at=k)
            with pytest.raises(_Crash):
                run_pipeline(spark, cfg, customer, store, team)
        run_pipeline(spark, cfg, customer, store, team)
        assert _lake_outcome(spark, cfg) == want, f"crash at call {k} ({name})"


def test_failed_archive_rename_raises_and_keeps_file_active(spark, cfg, monkeypatch):
    """Hadoop reports a refused rename as False. The archive move must
    raise instead of flipping the file to 'I' while it still sits in
    input_dir, so the next run resumes it."""
    from tests.fixtures import patch_fs_rename

    write_sales_csv(_in(cfg) / "day1.csv", n=50, seed=23)
    customer, store, team = dim_frames(spark)

    def refuse_archive(fs, src, dst):
        if dst.getParent().getName() == "done":
            return False
        return fs.rename(src, dst)

    patch_fs_rename(monkeypatch, refuse_archive)
    with pytest.raises(RuntimeError, match="rename failed: .*day1.csv -> .*done"):
        run_pipeline(spark, cfg, customer, store, team)
    monkeypatch.undo()

    assert [p.name for p in _in(cfg).iterdir()] == ["day1.csv"]
    stale = AuditState(spark, cfg.state_dir).stale_active_files()
    assert [p.rsplit("/", 1)[-1] for p in stale] == ["day1.csv"]


# ---------------------------------------------------------------------------
# logging wiring (pipeline/logutil.py): library silence by default,
# opt-in run configuration, idempotent reconfiguration, stage logs
# ---------------------------------------------------------------------------

import logging


def test_get_logger_is_silent_by_default(capsys):
    from sales_data_pipeline_spark.pipeline.logutil import get_logger

    get_logger("some.module").info("should go nowhere")
    captured = capsys.readouterr()
    assert "should go nowhere" not in captured.err + captured.out


def test_configure_is_idempotent_and_writes_file(tmp_path):
    from sales_data_pipeline_spark.pipeline.logutil import (
        configure_pipeline_logging,
        get_logger,
    )

    logf = tmp_path / "run.log"
    try:
        configure_pipeline_logging(log_file=str(logf))
        configure_pipeline_logging(log_file=str(logf))  # no duplicate handlers
        get_logger("t").info("one line only")
        text = logf.read_text()
        assert text.count("one line only") == 1
    finally:
        root = logging.getLogger("sales_data_pipeline_spark")
        for h in list(root.handlers):
            if not isinstance(h, logging.NullHandler):
                root.removeHandler(h)
                h.close()
        root.propagate = True  # restore library default for other tests


def test_configure_disables_propagation_no_double_emit(tmp_path):
    """An application that ALSO configured the Python root logger (e.g.
    logging.basicConfig in a driver script) must not see every pipeline
    line twice: once run handlers are attached, the package logger stops
    propagating — our handlers are the single output path."""
    import io

    from sales_data_pipeline_spark.pipeline.logutil import (
        configure_pipeline_logging,
        get_logger,
    )

    app_stream = io.StringIO()
    app_handler = logging.StreamHandler(app_stream)
    logging.getLogger().addHandler(app_handler)  # simulate basicConfig
    logf = tmp_path / "run.log"
    try:
        root = configure_pipeline_logging(log_file=str(logf))
        assert root.propagate is False
        get_logger("t").info("exactly once")
        assert logf.read_text().count("exactly once") == 1
        assert "exactly once" not in app_stream.getvalue()  # not doubled via root
    finally:
        logging.getLogger().removeHandler(app_handler)
        root = logging.getLogger("sales_data_pipeline_spark")
        for h in list(root.handlers):
            if not isinstance(h, logging.NullHandler):
                root.removeHandler(h)
                h.close()
        root.propagate = True


def test_run_pipeline_emits_stage_logs(spark, cfg, caplog):
    from tests.fixtures import dim_frames, write_sales_csv

    write_sales_csv(_in(cfg) / "day1.csv", n=50, seed=41)
    customer, store, team = dim_frames(spark)
    with caplog.at_level(logging.INFO, logger="sales_data_pipeline_spark"):
        run_pipeline(spark, cfg, customer, store, team)
    text = caplog.text
    assert "discovered 1 input file" in text
    assert "accepted 1 file" in text
    assert "ingested 50 fact rows" in text
    assert "marts committed" in text
    assert "state flipped to inactive" in text


# ---------------------------------------------------------------------------
# property test: header-contract validation over random column sets
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sales_data_pipeline_spark.operators.normalize import validate_headers
from sales_data_pipeline_spark.schemas import MANDATORY_COLUMNS
from tests.fixtures import HEADER8


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    drop=st.lists(st.sampled_from(sorted(MANDATORY_COLUMNS)), max_size=3, unique=True),
    extras=st.lists(
        st.sampled_from(["payment_mode", "coupon", "channel"]), max_size=2, unique=True
    ),
    seed=st.integers(0, 10_000),
)
def test_validate_headers_contract_over_random_column_sets(
    spark, tmp_path_factory, drop, extras, seed
):
    """For ANY header built by dropping mandatory columns and/or adding
    extras: a file missing ANY mandatory column is quarantined with
    exactly the missing set reported; extra columns alone never
    quarantine — the reference's accept/reject rule (main.py:142-188)
    generalized beyond its two golden cases."""
    import csv as _csv

    header = [c for c in HEADER8 if c not in drop] + list(extras)
    tmp = tmp_path_factory.mktemp("hdrfuzz")
    path = tmp / "f.csv"
    with open(path, "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(header)
        w.writerow(["1"] * len(header))
    report = validate_headers(spark, [str(path)], MANDATORY_COLUMNS)
    if drop:
        assert report.valid_paths == []
        missing = set(next(iter(report.quarantined.values())))
        assert missing == set(drop)
    else:
        assert len(report.valid_paths) == 1
        assert report.quarantined == {}


def test_replay_quarantine_requeues_fixed_files(spark, cfg):
    """A quarantined file fixed in place is re-validated and moved back
    to the input dir, where the next pipeline run ingests it through
    the normal audit path; unfixed files stay quarantined."""
    from pathlib import Path

    from sales_data_pipeline_spark.pipeline.sales_pipeline import (
        replay_quarantine,
    )

    write_sales_csv(_in(cfg) / "good.csv", n=50, seed=61)
    write_sales_csv(_in(cfg) / "bad1.csv", n=20, seed=62, drop_store_id=True)
    write_sales_csv(_in(cfg) / "bad2.csv", n=20, seed=63, drop_store_id=True)
    customer, store, team = dim_frames(spark)
    res1 = run_pipeline(spark, cfg, customer, store, team)
    assert len(res1.quarantined_files) == 2 and res1.n_fact_rows == 50

    # producer fixes bad1 IN PLACE (full header now); bad2 stays broken
    write_sales_csv(Path(cfg.quarantine_dir) / "bad1.csv", n=20, seed=64)
    replay = replay_quarantine(spark, cfg)
    assert replay == {"requeued": ["bad1.csv"], "still_bad": ["bad2.csv"]}
    assert sorted(p.name for p in Path(cfg.quarantine_dir).iterdir()) == ["bad2.csv"]

    res2 = run_pipeline(spark, cfg, customer, store, team)
    assert [p.rsplit("/", 1)[-1] for p in res2.accepted_files] == ["bad1.csv"]
    assert res2.n_fact_rows == 20
    # replayed file completed the full audit cycle
    state = AuditState(spark, cfg.state_dir)
    assert state.stale_active_files() == []
    # empty quarantine: replay is a no-op
    write_sales_csv(Path(cfg.quarantine_dir) / "bad2.csv", n=1, seed=65, drop_store_id=True)
    assert replay_quarantine(spark, cfg)["requeued"] == []


def test_strict_lint_blocks_cartesian_mart_before_any_publish(
    spark, cfg, monkeypatch
):
    """The publish-path lint turns the CI plan checklist into a runtime
    guard: a mart whose plan contains a CartesianProduct (error
    severity) must raise BEFORE either mart is written — zero marts
    published, inputs NOT archived, state still 'A' (the failed-run
    probe will resume them). The stock marts pass the lint (second
    run)."""
    from pathlib import Path

    from sales_data_pipeline_spark.pipeline import sales_pipeline as sp

    write_sales_csv(_in(cfg) / "sales1.csv", n=60, seed=9)
    customer, store, team = dim_frames(spark)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()

    real_mart = sp.customer_monthly_mart

    def cartesian_mart(enriched):
        good = real_mart(enriched)
        # a deliberate scale-killer: all-pairs self cross join
        return good.crossJoin(good.select(F.col("sales_date_month").alias("m2")))

    monkeypatch.setattr(sp, "customer_monthly_mart", cartesian_mart)
    with pytest.raises(RuntimeError, match="cartesian"):
        run_pipeline(spark, cfg, customer, store, team)
    out = Path(cfg.output_dir)
    assert not (out / "customers_data_mart").exists()
    assert not (out / "sales_team_data_mart").exists()
    # the refused publish released what it cached in the session
    assert cache.isEmpty()
    # pre-commit failure: file not archived, audit row still active
    assert (_in(cfg) / "sales1.csv").exists()
    assert AuditState(spark, cfg.state_dir).stale_active_files()

    # the real marts pass the lint end-to-end (and the resumed file is
    # picked up by the probe)
    monkeypatch.setattr(sp, "customer_monthly_mart", real_mart)
    res = run_pipeline(spark, cfg, customer, store, team)
    assert res.n_fact_rows == 60
    assert (out / "customers_data_mart").exists()



def test_empty_csv_is_quarantined_not_fatal(spark, cfg):
    """A 0-byte CSV has no header: it is quarantined with every
    mandatory column missing while the good file still publishes."""
    from pathlib import Path

    from sales_data_pipeline_spark.schemas import MANDATORY_COLUMNS

    write_sales_csv(_in(cfg) / "good.csv", n=40, seed=71)
    (_in(cfg) / "empty.csv").write_bytes(b"")
    customer, store, team = dim_frames(spark)
    res = run_pipeline(spark, cfg, customer, store, team)
    assert [p.rsplit("/", 1)[-1] for p in res.accepted_files] == ["good.csv"]
    assert res.n_fact_rows == 40
    (missing,) = res.quarantined_files.values()
    assert missing == list(MANDATORY_COLUMNS)
    assert sorted(p.name for p in Path(cfg.quarantine_dir).iterdir()) == ["empty.csv"]
    assert Path(res.customer_mart_path).exists()


def test_n_fact_rows_counts_fact_rows_before_the_dimension_joins(spark, cfg):
    """A fact row whose customer_id is not in the customer dimension is
    ingested (n_fact_rows, ingest_metrics) but dropped from the marts by
    the inner join. The counts hold also when the joins drop every row
    and when the only file is header-only: the cached enriched frame is
    then empty."""
    p = write_sales_csv(_in(cfg) / "s.csv", n=30, seed=81)
    head, *rows = p.read_text().splitlines()
    stray = "999" + rows[0][rows[0].index(","):]
    stray_cost = Decimal(stray.rsplit(",", 1)[1])
    p.write_text("\n".join([head, *rows, stray]) + "\n")
    customer, store, team = dim_frames(spark)

    res = run_pipeline(spark, cfg, customer, store, team)
    assert res.n_fact_rows == res.ingest_metrics["n_rows"] == 31
    mart = spark.read.parquet(res.customer_mart_path)
    assert mart.filter(F.col("customer_id") == 999).count() == 0
    mart_total = mart.agg(F.sum("total_sales")).collect()[0][0]
    assert mart_total == res.ingest_metrics["sum_cost"] - stray_cost

    (_in(cfg) / "strays.csv").write_text("\n".join([head] + [stray] * 5) + "\n")
    res = run_pipeline(spark, cfg, customer, store, team)
    assert res.n_fact_rows == 5
    assert res.ingest_metrics["sum_cost"] == 5 * stray_cost

    (_in(cfg) / "header_only.csv").write_text(head + "\n")
    res = run_pipeline(spark, cfg, customer, store, team)
    assert [p.rsplit("/", 1)[-1] for p in res.accepted_files] == ["header_only.csv"]
    assert res.n_fact_rows == 0
    assert res.ingest_metrics == {"n_rows": 0, "n_null_cost": None, "sum_cost": None}
